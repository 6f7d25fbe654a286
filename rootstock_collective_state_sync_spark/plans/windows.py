"""Event-time window conformance queries over the ``events`` table.

The reference has no event-time windows (block numbers are monotone,
SURVEY §2.10); these cover event-time windows in batch form with
Spark's ``window()`` / ``session_window()`` expressions. Oracles
reconstruct Spark's window semantics (epoch-aligned starts; session
end = last event + gap) in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rootstock_collective_state_sync_spark.plans.tables import load_table


def _dec(col: str, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows: count + decimal sum per (window, type)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


Q_WINDOW_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS win_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2 ORDER BY win_start, event_type
"""


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in
    exactly two windows; starts aligned to the epoch like Spark's
    ``window(ts, size, slide)``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "sum_value")
        .orderBy("win_start")
    )


Q_WINDOW_SLIDING_ORACLE = """
WITH slid AS (
  SELECT make_timestamp((((epoch_ms(ts) // 1000) // 1800 - k.k) * 1800) * 1000000)
           AS win_start,
         value
  FROM events, (VALUES (0), (1)) k(k)
)
SELECT win_start, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM slid GROUP BY 1 ORDER BY win_start
"""


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap.
    Session end = last event + gap (Spark ``session_window`` contract);
    the oracle rebuilds sessions with gaps-and-islands SQL."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


Q_WINDOW_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL
                OR ts - prev_ts > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
islands AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 10 MINUTE AS session_end,
       count(*) AS n_events
FROM islands
GROUP BY user_id, island
ORDER BY user_id, session_start
"""


def q_first_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic streaming-dedup analog: keep the earliest event
    per (user, type) — what ``dropDuplicatesWithinWatermark`` does
    under streaming, expressed as a rank so the kept row is defined."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("user_id", "event_type")
    )


Q_FIRST_EVENT_ORACLE = """
SELECT user_id, event_type, event_id, ts FROM (
  SELECT user_id, event_type, event_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY user_id, event_type
"""
