"""Event-log analytics conformance queries: semi-structured (JSON)
extraction, running windows, exact order statistics.

These extend the engine's analytics surface over the ``events``
stream table beyond the event-time windows in :mod:`.windows` — the
shapes a consumer points at the synced tables (SURVEY §6 "serving"
note). All outputs are type-canonical (BIGINT counts/sums, element-
exact order stats) so the driver hash matches DuckDB bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rootstock_collective_state_sync_spark.plans.tables import load_table


def _dec(col: str, scale: int = 2):
    return F.col(col).cast(f"decimal(18,{scale})")


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation: ``props`` is an opaque
    JSON string; ``get_json_object`` stays JVM-side (no UDF). Sums are
    of BIGINTs, so both engines are exact."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(k).alias("n_with_k"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# DuckDB: regexp keeps the oracle independent of the json extension;
# TRY_CAST mirrors Spark's null-on-miss cast.
Q_EVENTS_JSON_ORACLE = r"""
WITH k AS (
  SELECT event_type,
         TRY_CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k,
       max(k) AS max_k
FROM k GROUP BY 1 ORDER BY 1
"""


def q_running_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total over event time — the batch form of a
    stateful streaming accumulator. Decimal sum keeps the prefix sums
    exact; one shuffle on ``user_id``, sort within partitions only."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.sum(_dec("value")).over(w).cast("double").alias("running_value"),
        )
        .orderBy("user_id", "event_id")
    )


Q_RUNNING_USER_VALUE_ORACLE = """
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
              OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM events ORDER BY user_id, event_id
"""


def q_median_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower-median per event type — picks a concrete element
    (row_number vs count), no interpolation arithmetic, so the result
    is a raw stored double identical on any engine."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        ev.select(
            "event_type",
            F.col("value"),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
        )
        .filter(F.col("rn") == F.floor((F.col("n") + 1) / 2))
        .select("event_type", F.col("value").alias("median_lo"))
        .orderBy("event_type")
    )


Q_MEDIAN_ORACLE = """
SELECT event_type, value AS median_lo FROM (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
) WHERE rn = (n + 1) // 2 ORDER BY event_type
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operator Spark lacks natively,
    :func:`..operators.temporal.asof_join`): each click event picks up
    the latest hourly checkpoint balance at-or-before its timestamp.
    Oracle = DuckDB's native ASOF LEFT JOIN — a true cross-engine
    check of the union+window formulation."""
    from rootstock_collective_state_sync_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    checkpoints = (
        ev.groupBy(
            "user_id",
            (F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        )
        .agg(F.sum(cents).alias("ckpt_cents"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    return (
        asof_join(clicks, checkpoints, key="user_id", value_cols=["ckpt_cents"])
        .select("user_id", "event_id", "asof_ckpt_cents")
        .orderBy("event_id")
    )


Q_ASOF_JOIN_ORACLE = """
WITH ck AS (
  SELECT user_id, date_trunc('hour', ts) + INTERVAL 1 HOUR AS ts,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS ckpt_cents
  FROM events GROUP BY 1, 2
),
cl AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
)
SELECT cl.user_id, cl.event_id, ck.ckpt_cents AS asof_ckpt_cents
FROM cl ASOF LEFT JOIN ck
  ON cl.user_id = ck.user_id AND cl.ts >= ck.ts
ORDER BY cl.event_id
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × point range join via time bucketization
    (:func:`..operators.temporal.range_join`): synthetic 20-minute
    maintenance windows (one per distinct hour), counting the events
    each contains — equi-join on the bucket, exact range filter, no
    cartesian."""
    from rootstock_collective_state_sync_spark.operators.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(F.date_trunc("hour", F.col("ts")).alias("h")).distinct()
    intervals = hours.select(
        (F.col("h") + F.expr("INTERVAL 5 MINUTES")).alias("start"),
        (F.col("h") + F.expr("INTERVAL 25 MINUTES")).alias("end"),
    ).withColumn("interval_id", F.unix_timestamp("start"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        range_join(ev.withColumn("cents", cents), intervals)
        .groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("interval_id")
    )


Q_RANGE_JOIN_ORACLE = """
WITH iv AS (
  SELECT DISTINCT date_trunc('hour', ts) + INTERVAL 5 MINUTE AS s,
                  date_trunc('hour', ts) + INTERVAL 25 MINUTE AS e
  FROM events
)
SELECT CAST(epoch(s) AS BIGINT) AS interval_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events ev JOIN iv ON iv.s <= ev.ts AND ev.ts < iv.e
GROUP BY 1 ORDER BY 1
"""


def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long unpivot (``stack``): per-returnflag totals of three
    measures become (flag, measure, total) rows — decimal-exact sums,
    one double cast at the edge."""
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("price"),
        F.sum(_dec("l_discount")).cast("double").alias("disc"),
    )
    return (
        wide.selectExpr(
            "l_returnflag",
            "stack(3, 'qty', qty, 'price', price, 'disc', disc) AS (measure, total)",
        )
        .orderBy("l_returnflag", "measure")
    )


Q_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity      AS DECIMAL(18,2))) AS DOUBLE) AS qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price,
         CAST(sum(CAST(l_discount     AS DECIMAL(18,2))) AS DOUBLE) AS disc
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, measure, total FROM (
  SELECT l_returnflag, 'qty' AS measure, qty AS total FROM wide
  UNION ALL SELECT l_returnflag, 'price', price FROM wide
  UNION ALL SELECT l_returnflag, 'disc', disc FROM wide
)
ORDER BY l_returnflag, measure
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than cube/rollup): per-status,
    per-priority, and grand-total counts in one pass."""
    from rootstock_collective_state_sync_spark.plans.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus, o_orderpriority, n
        """
    )


Q_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus, o_orderpriority, n
"""


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles per event type (Greenwald-Khanna sketch,
    mergeable across partitions — the 100 TB path for percentiles).
    No SQL oracle: the sketch's answer is accuracy-bounded, not
    value-deterministic across engines; the exact-median companion
    (``median_value_per_type``) is the value-checked counterpart."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("q"),
        )
        .select(
            "event_type",
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p90"),
            F.col("q")[2].alias("p99"),
        )
        .orderBy("event_type")
    )


def q_approx_quantiles_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout-invariant deterministic twin of `approx_quantiles`
    (r10 verdict item 6): approximate per-type percentiles via a
    DETERMINISTIC uniform sample — each type's 512 smallest
    md5(event_id) rows (the same salted-hash schedule that made
    `kmv_distinct_tokens` / `count_min_tokens` value-checkable) —
    then exact nearest-rank quantiles on the sample. Hash-ordered
    sampling IS uniform sampling with a replayable RNG: the estimate
    carries the standard sample-quantile error bound yet every byte
    is reproducible across engines and partitionings, so the driver
    hash-checks the SKETCH itself, not just its error band. The
    native Greenwald-Khanna `approx_quantiles` stays the production
    alias (mergeable, one pass); this twin is the audit.

    Scale shape: one window per type over md5 ranks prunes the corpus
    to 512 rows/type before any quantile work; values snap to integer
    cents so both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    w_samp = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), F.col("event_id")
    )
    samp = (
        ev.select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("vc"),
            F.row_number().over(w_samp).alias("srn"),
        )
        .filter(F.col("srn") <= 512)
    )
    w_rank = Window.partitionBy("event_type").orderBy("vc", "event_id")
    w_all = Window.partitionBy("event_type")
    ranked = samp.select(
        "event_type",
        "vc",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )

    def at(p: float):
        return F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * F.lit(p)), F.col("vc"))
        ).cast("long")

    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_sample"),
            at(0.5).alias("p50_c"),
            at(0.9).alias("p90_c"),
            at(0.99).alias("p99_c"),
        )
        .orderBy("event_type")
    )


Q_APPROX_QUANTILES_SAMPLED_ORACLE = """
WITH s AS (
  SELECT event_type, event_id, round(value * 100)::BIGINT AS vc,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(event_id::VARCHAR), event_id) AS srn
  FROM events
),
samp AS (SELECT event_type, event_id, vc FROM s WHERE srn <= 512),
r AS (
  SELECT event_type, vc,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY vc, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM samp
)
SELECT event_type,
       max(n)::BIGINT AS n_sample,
       max(CASE WHEN rn = ceil(n * 0.5) THEN vc END)::BIGINT AS p50_c,
       max(CASE WHEN rn = ceil(n * 0.9) THEN vc END)::BIGINT AS p90_c,
       max(CASE WHEN rn = ceil(n * 0.99) THEN vc END)::BIGINT AS p99_c
FROM r GROUP BY 1 ORDER BY event_type
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build from the event log: per-user validity
    intervals of the tracked state (event_type), consecutive
    duplicate states collapsed, last interval open. The batch twin of
    the sync engine's keyed diff-upsert — and the oracle replays the
    change detection and interval closing in SQL."""
    from rootstock_collective_state_sync_spark.operators.scd import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    return (
        scd2_intervals(
            ev, key_col="user_id", ts_col="ts",
            state_cols=["event_type"], order_col="event_id",
        )
        .orderBy("user_id", "valid_from")
    )


Q_SCD2_INTERVALS_ORACLE = """
WITH ch AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
f AS (SELECT * FROM ch WHERE chg = 1),
iv AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS valid_to
  FROM f
)
SELECT user_id, event_type, valid_from, valid_to,
       (valid_to IS NULL)::INTEGER AS is_current
FROM iv ORDER BY user_id, valid_from
"""


def q_event_type_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the hourly volume series
    of every event-type pair — the time-series co-movement scan a
    monitoring pipeline runs over synced event tables. The hour x
    type matrix is densified (missing cells are true zeros, and
    leaving them out would silently drop anti-correlated hours)
    before the pair self-join; both the densify and the correlation
    replay exactly in SQL.

    Scale shape: the raw scan aggregates down to (hours x types) rows
    — tiny — before any join; the pair join and corr run on the
    aggregate, never on raw events."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    hours = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("hr")
    ).distinct()
    types = ev.select("event_type").distinct()
    dense = (
        hours.crossJoin(types)
        .join(h, ["hr", "event_type"], "left")
        .select("hr", "event_type", F.coalesce("n", F.lit(0.0)).alias("n"))
    )
    a = dense.select(
        "hr", F.col("event_type").alias("type_a"), F.col("n").alias("na")
    )
    b = dense.select(
        "hr", F.col("event_type").alias("type_b"), F.col("n").alias("nb")
    )
    return (
        a.join(b, "hr")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.round(F.corr("na", "nb"), 6).alias("r"))
        .orderBy("type_a", "type_b")
    )


Q_EVENT_TYPE_CORRELATION_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, count(*)::DOUBLE AS n
  FROM events GROUP BY 1, 2
),
hours AS (SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events),
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT hours.hr, types.event_type, coalesce(h.n, 0) AS n
  FROM hours CROSS JOIN types
  LEFT JOIN h ON h.hr = hours.hr AND h.event_type = types.event_type
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       round(corr(a.n, b.n), 6) AS r
FROM dense a JOIN dense b ON a.hr = b.hr AND a.event_type < b.event_type
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by first-seen
    day, and for each (cohort_day, day_offset) the count and fraction
    of the cohort active that day. Two linear aggregations and one
    user-keyed join — the fact stream is never self-joined row-wise
    (activity is reduced to distinct (user, day) first).

    100 TB shape: the (user, day) distinct is the only event-volume
    shuffle (map-side combined); cohorts (one row per user) broadcast
    back onto it; the final matrix is days x offsets — control-plane
    sized."""
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohort_sizes = cohorts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("n_cohort")
    )
    joined = activity.join(F.broadcast(cohorts), "user_id").select(
        "cohort_day",
        F.datediff("day", "cohort_day").alias("day_offset"),
        "user_id",
    )
    return (
        joined.groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .join(F.broadcast(cohort_sizes), "cohort_day")
        .select(
            # ISO string, not DateType: pandas-side compare harnesses
            # widen DATE to midnight timestamps inconsistently between
            # engines; a string is representation-stable everywhere
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("int").alias("day_offset"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n_cohort").cast("bigint").alias("n_cohort"),
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


Q_RETENTION_COHORTS_ORACLE = """
WITH activity AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events
),
cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
),
sizes AS (
  SELECT cohort_day, count(*)::BIGINT AS n_cohort
  FROM cohorts GROUP BY cohort_day
),
m AS (
  SELECT c.cohort_day, (a.day - c.cohort_day)::INTEGER AS day_offset,
         count(DISTINCT a.user_id)::BIGINT AS n_active
  FROM activity a JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
)
SELECT strftime(m.cohort_day, '%Y-%m-%d') AS cohort_day,
       m.day_offset, m.n_active, s.n_cohort,
       round(m.n_active::DOUBLE / s.n_cohort, 6) AS retention
FROM m JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, day_offset
"""


def q_time_decayed_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user engagement score at every event
    (decay 9/10, lookback 8). Exact integer arithmetic end to end —
    the oracle replays the window frame, the e6 snap, and the
    truncating fixed-point division."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        time_decayed_score,
    )

    ev = load_table(spark, sf_dir, "events")
    return time_decayed_score(ev).select(
        "event_id", "user_id", "score_e6", "score"
    ).orderBy("event_id")


Q_TIME_DECAYED_SCORE_ORACLE = """
WITH v AS (
  SELECT event_id, user_id,
         list(round(value * 1e6, 0)::BIGINT)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS vals
  FROM events
),
s AS (
  SELECT event_id, user_id,
         list_sum(list_transform(range(len(vals)), i ->
             vals[i + 1]
             * ([1,9,81,729,6561,59049,531441,4782969])[len(vals) - i]
             // ([1,10,100,1000,10000,100000,1000000,10000000])[len(vals) - i]
         ))::BIGINT AS score_e6
  FROM v
)
SELECT event_id, user_id, score_e6,
       round(score_e6::DOUBLE / 1e6, 6) AS score
FROM s ORDER BY event_id
"""


def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly scan: z-score of each (event_type, hour) count
    against that type's own hourly distribution, over the same
    densified hour x type matrix as `event_type_correlation` (missing
    cells are true zeros). Moments come from exact integer sums
    (n, Σx, Σx²), so mean/std/z are bit-determined doubles on both
    engines; |z| > 3 flags the anomaly.

    Scale shape: raw events reduce to (hours x types) rows before
    anything else; per-type moments are a second aggregation of that
    tiny frame; no window over raw data, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    hours = ev.select(F.date_trunc("hour", F.col("ts")).alias("hr")).distinct()
    types = ev.select("event_type").distinct()
    dense = (
        hours.crossJoin(types)
        .join(h, ["hr", "event_type"], "left")
        .select("hr", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )
    mom = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("n").alias("sx"),
        F.sum(F.col("n") * F.col("n")).alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("cnt")
    var = (
        F.col("cnt").cast("double") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) / (F.col("cnt").cast("double") * (F.col("cnt") - 1))
    z = F.when(
        F.col("var_") > 0,
        (F.col("n") - F.col("mean_")) / F.sqrt("var_"),
    ).otherwise(F.lit(0.0))
    return (
        dense.join(
            F.broadcast(
                mom.select(
                    "event_type", mean.alias("mean_"), var.alias("var_")
                )
            ),
            "event_type",
        )
        .select(
            "event_type",
            "hr",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("mean_"), 6).alias("mean_n"),
            F.round(z, 6).alias("z"),
            (F.abs(z) > 3).cast("int").alias("is_anomaly"),
        )
        .orderBy("event_type", "hr")
    )


Q_HOURLY_ANOMALIES_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hr, event_type, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
hours AS (SELECT DISTINCT date_trunc('hour', ts) AS hr FROM events),
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT hours.hr, types.event_type, coalesce(h.n, 0) AS n
  FROM hours CROSS JOIN types
  LEFT JOIN h ON h.hr = hours.hr AND h.event_type = types.event_type
),
mom AS (
  SELECT event_type, count(*)::BIGINT AS cnt,
         sum(n)::BIGINT AS sx, sum(n * n)::BIGINT AS sxx
  FROM dense GROUP BY event_type
),
j AS (
  SELECT d.event_type, d.hr, d.n,
         sx::DOUBLE / cnt AS mean_,
         (cnt::DOUBLE * sxx - sx::DOUBLE * sx)
           / (cnt::DOUBLE * (cnt - 1)) AS var_
  FROM dense d JOIN mom USING (event_type)
)
SELECT event_type, hr, n,
       round(mean_, 6) AS mean_n,
       round(CASE WHEN var_ > 0 THEN (n - mean_) / sqrt(var_)
                  ELSE 0.0 END, 6) AS z,
       (abs(CASE WHEN var_ > 0 THEN (n - mean_) / sqrt(var_)
                 ELSE 0.0 END) > 3)::INTEGER AS is_anomaly
FROM j ORDER BY event_type, hr
"""


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: per column, row/null
    counts, exact distinct count, canonicalized min/max. The oracle
    replays the per-type canonicalization (decimal(38,6) for
    fractional numerics) column by column."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        profile_table,
    )

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders).orderBy("col_name")


def _profile_oracle(cols: list[tuple[str, bool]]) -> str:
    parts = []
    for c, fractional in cols:
        # aggregate on the NATIVE type, canonicalize the result —
        # min/max over canonicalized strings would compare
        # lexicographically ('2.5' > '10')
        lo = f"(min({c})::DECIMAL(38,6))::VARCHAR" if fractional else f"min({c})::VARCHAR"
        hi = f"(max({c})::DECIMAL(38,6))::VARCHAR" if fractional else f"max({c})::VARCHAR"
        parts.append(f"""
SELECT '{c}' AS col_name,
       count(*)::BIGINT AS n_rows,
       (count(*) - count({c}))::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       {lo} AS min_val,
       {hi} AS max_val
FROM orders""")
    return (
        "SELECT * FROM ("
        + "\nUNION ALL\n".join(parts)
        + ") ORDER BY col_name"
    )


Q_PROFILE_ORDERS_ORACLE = _profile_oracle(
    [
        ("o_orderkey", False),
        ("o_custkey", False),
        ("o_orderstatus", False),
        ("o_totalprice", True),
        ("o_orderdate", False),
        ("o_orderpriority", False),
    ]
)


def q_winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p5/p95 winsorization of event values — exact
    nearest-rank bounds (integer ceil-rank, no interpolation), clamp
    + clip audit flags, replayed rank-for-rank in SQL."""
    from rootstock_collective_state_sync_spark.operators.sampling import (
        winsorize,
    )

    ev = load_table(spark, sf_dir, "events")
    return winsorize(ev).orderBy("event_id")


Q_WINSORIZE_VALUES_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type, min(value) AS lo, max(value) AS hi
  FROM ranked
  WHERE rn = (n * 5 + 99) // 100 OR rn = (n * 95 + 99) // 100
  GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, b.lo), b.hi) AS value_wins,
       (e.value < b.lo)::INTEGER AS clipped_lo,
       (e.value > b.hi)::INTEGER AS clipped_hi
FROM events e JOIN bounds b USING (event_type)
ORDER BY e.event_id
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 heaviest join keys on orders.o_custkey with row share
    and skew factor — the pre-shuffle diagnostic for key choice.
    Exact-rational rounding replayed in SQL."""
    from rootstock_collective_state_sync_spark.operators.skew import (
        skew_report,
    )

    orders = load_table(spark, sf_dir, "orders")
    return skew_report(orders, "o_custkey", top_k=10).orderBy("rk")


Q_SKEW_REPORT_ORACLE = """
WITH counts AS (
  SELECT o_custkey::VARCHAR AS key, count(*)::BIGINT AS n_rows
  FROM orders GROUP BY 1
),
totals AS (
  SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS keys FROM counts
),
ranked AS (
  SELECT key, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, key ASC)::BIGINT AS rk
  FROM counts
)
SELECT r.key, r.n_rows,
       round(r.n_rows::DOUBLE / t.total, 6) AS row_share,
       round(r.n_rows::DOUBLE * t.keys / t.total, 6) AS skew_factor,
       r.rk
FROM ranked r CROSS JOIN totals t
WHERE r.rk <= 10 ORDER BY r.rk
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    timeline: for every (prev_type, next_type) pair, the transition
    count and row-normalized probability. The behavioral-sequence
    summary recommendation/abuse pipelines start from.

    Scale shape: ONE window pass per user timeline (key-partitioned
    sort — same exchange the sessionizer uses) feeding a
    types²-sized aggregate; probabilities come from exact integer
    counts. No self-join of the event stream."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("n_out"))
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("n_out"), 6).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


Q_EVENT_TRANSITIONS_ORACLE = """
WITH steps AS (
  SELECT user_id,
         event_type AS next_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
counts AS (
  SELECT prev_type, next_type, count(*)::BIGINT AS n
  FROM steps WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (SELECT prev_type, sum(n)::BIGINT AS n_out FROM counts GROUP BY 1)
SELECT c.prev_type, c.next_type, c.n,
       round(c.n::DOUBLE / t.n_out, 6) AS p
FROM counts c JOIN totals t USING (prev_type)
ORDER BY c.prev_type, c.next_type
"""


def q_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of daily event volume: least-squares
    slope of count-per-day against day index, plus direction flag.
    Every moment (n, Σx, Σy, Σxy, Σx²) is an exact integer sum —
    counts and day indexes are integers — so the slope double is
    bit-determined on any engine or partition order.

    Scale shape: events reduce to (type, day) counts first; the
    regression runs on that tiny frame."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    base = daily.agg(F.min("day").alias("d0")).first()["d0"]
    d = daily.withColumn("x", F.datediff("day", F.lit(base)).cast("bigint"))
    mom = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        denom != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / denom.cast("double"),
    ).otherwise(F.lit(0.0))
    return mom.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("sy").cast("bigint").alias("n_events"),
        F.round(slope, 6).alias("slope_per_day"),
        F.when(F.round(slope, 6) > 0, F.lit(1))
        .when(F.round(slope, 6) < 0, F.lit(-1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("direction"),
    ).orderBy("event_type")


Q_TREND_SLOPES_ORACLE = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2
),
base AS (SELECT min(day) AS d0 FROM daily),
d AS (
  SELECT event_type, (day - d0)::BIGINT AS x, y
  FROM daily CROSS JOIN base
),
mom AS (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
         sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
  FROM d GROUP BY event_type
)
SELECT event_type, n AS n_days, sy AS n_events,
       round(CASE WHEN n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)
                  ELSE 0.0 END, 6) AS slope_per_day,
       CASE WHEN round(CASE WHEN n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)
                  ELSE 0.0 END, 6) > 0 THEN 1
            WHEN round(CASE WHEN n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)
                  ELSE 0.0 END, 6) < 0 THEN -1
            ELSE 0 END::INTEGER AS direction
FROM mom ORDER BY event_type
"""


def q_chi_square_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit between event_type and
    day-of-week: per contingency cell, observed vs expected count,
    the cell's chi² contribution, and an over-representation flag.
    The seasonality/bias scan a mixture pipeline runs before trusting
    a time-sliced sample. Expected counts and contributions are exact
    rationals over integer marginals — bit-determined doubles.

    Scale shape: the event stream reduces to a (types × 7) cell table
    first; marginals and the flag math run on that tiny frame
    (broadcast joins)."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    row_m = cells.groupBy("event_type").agg(F.sum("o").alias("row_n"))
    col_m = cells.groupBy("dow").agg(F.sum("o").alias("col_n"))
    total = cells.agg(F.sum("o").alias("n"))
    e = (
        F.col("row_n").cast("double")
        * F.col("col_n").cast("double")
        / F.col("n").cast("double")
    )
    contrib = (F.col("o") - e) * (F.col("o") - e) / e
    return (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "dow",
            F.col("o").cast("bigint").alias("o"),
            F.round(e, 6).alias("e"),
            F.round(contrib, 6).alias("chi2_contrib"),
            (F.col("o") > e).cast("int").alias("over"),
        )
        .orderBy("event_type", "dow")
    )


Q_CHI_SQUARE_CELLS_ORACLE = """
WITH cells AS (
  SELECT event_type, dayofweek(ts)::INTEGER AS dow, count(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
),
row_m AS (SELECT event_type, sum(o)::BIGINT AS row_n FROM cells GROUP BY 1),
col_m AS (SELECT dow, sum(o)::BIGINT AS col_n FROM cells GROUP BY 1),
total AS (SELECT sum(o)::BIGINT AS n FROM cells)
SELECT c.event_type, c.dow, c.o,
       round(r.row_n::DOUBLE * m.col_n::DOUBLE / t.n::DOUBLE, 6) AS e,
       round((c.o - r.row_n::DOUBLE * m.col_n::DOUBLE / t.n::DOUBLE)
             * (c.o - r.row_n::DOUBLE * m.col_n::DOUBLE / t.n::DOUBLE)
             / (r.row_n::DOUBLE * m.col_n::DOUBLE / t.n::DOUBLE), 6)
         AS chi2_contrib,
       (c.o > r.row_n::DOUBLE * m.col_n::DOUBLE / t.n::DOUBLE)::INTEGER
         AS over
FROM cells c
JOIN row_m r USING (event_type)
JOIN col_m m USING (dow)
CROSS JOIN total t
ORDER BY c.event_type, c.dow
"""


def q_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of order totals, empty bins
    included — the profiler's distribution companion, bin-for-bin
    replayed in SQL."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        histogram,
    )

    orders = load_table(spark, sf_dir, "orders")
    return histogram(orders, "o_totalprice", bins=20)


Q_HISTOGRAM_TOTALPRICE_ORACLE = """
WITH b AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
p AS (
  SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 20 ELSE 1.0 END AS width
  FROM b
),
assigned AS (
  SELECT least(floor((o.o_totalprice - p.lo) / p.width)::INTEGER, 19) AS bin
  FROM orders o CROSS JOIN p WHERE o.o_totalprice IS NOT NULL
),
counts AS (SELECT bin, count(*)::BIGINT AS n FROM assigned GROUP BY bin),
spine AS (SELECT unnest(range(20))::INTEGER AS bin)
SELECT s.bin,
       round(p.lo + s.bin * p.width, 6) AS lo,
       round(p.lo + (s.bin + 1) * p.width, 6) AS hi,
       coalesce(c.n, 0) AS n,
       (SELECT count(*) - count(o_totalprice) FROM orders)::BIGINT AS n_null
FROM spine s CROSS JOIN p LEFT JOIN counts c USING (bin)
ORDER BY s.bin
"""


def q_session_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket analysis over sessions: for every event-type
    pair, how many sessions contain both, plus support and lift
    (exact integer counts; lift from exact rationals). Sessions are
    the same 10-minute-gap windows as `window_session`; the pair join
    runs on the DISTINCT (session, type) reduction — types²-bounded,
    never the raw stream.

    100 TB shape: sessionize (one keyed window), reduce to distinct
    (session, type) — at most |sessions|·|types| rows — self-join
    THAT, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(F.collect_set("event_type").alias("types"))
    # deterministic session key (user, window start) — never a
    # monotonically_increasing_id, which can differ between the two
    # recomputations feeding the self-join
    st = sess.select(
        F.concat_ws(
            "/", F.col("user_id"), F.col("w.start").cast("string")
        ).alias("sid"),
        F.explode("types").alias("t"),
    )
    n_sessions = sess.count()
    singles = st.groupBy("t").agg(F.count(F.lit(1)).alias("n_t"))
    a = st.select("sid", F.col("t").alias("type_a"))
    b = st.select("sid", F.col("t").alias("type_b"))
    pairs = (
        a.join(b, "sid")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("t").alias("type_a"), F.col("n_t").alias("na"))
    sb = singles.select(F.col("t").alias("type_b"), F.col("n_t").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.round(F.col("n_both") / F.lit(n_sessions), 6).alias("support"),
            F.round(
                F.col("n_both") * F.lit(n_sessions)
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


Q_SESSION_COOCCURRENCE_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, ts, event_type,
         CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts > INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sess AS (
  SELECT user_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS snum
  FROM marked
),
st AS (
  SELECT DISTINCT user_id, snum, event_type AS t FROM sess
),
n_sess AS (
  SELECT count(*)::BIGINT AS n FROM (SELECT DISTINCT user_id, snum FROM st)
),
singles AS (SELECT t, count(*)::BIGINT AS n_t FROM st GROUP BY t),
pairs AS (
  SELECT a.t AS type_a, b.t AS type_b, count(*)::BIGINT AS n_both
  FROM st a
  JOIN st b ON a.user_id = b.user_id AND a.snum = b.snum AND a.t < b.t
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both,
       round(p.n_both::DOUBLE / n_sess.n, 6) AS support,
       round(p.n_both::DOUBLE * n_sess.n / (sa.n_t * sb.n_t), 6) AS lift
FROM pairs p
JOIN singles sa ON sa.t = p.type_a
JOIN singles sb ON sb.t = p.type_b
CROSS JOIN n_sess
ORDER BY p.type_a, p.type_b
"""


# ---------------------------------------------------------------------------
# per-group robust (median/MAD) normalization
# ---------------------------------------------------------------------------


def q_mad_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-scores for event values per event type —
    exact nearest-rank order statistics, integer e6 fixed point. The
    oracle replays both rank passes and the fixed-point ratio."""
    from rootstock_collective_state_sync_spark.operators.sampling import (
        mad_normalize,
    )

    ev = load_table(spark, sf_dir, "events")
    return mad_normalize(
        ev, value_col="value", group_col="event_type", id_col="event_id"
    ).orderBy("event_id")


Q_MAD_NORMALIZE_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value ASC, event_id ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
med AS (
  SELECT event_type, min(value) AS med
  FROM ranked WHERE rn = (n + 1) // 2 GROUP BY event_type
),
dev_ranked AS (
  SELECT e.event_type, abs(e.value - m.med) AS dev,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY abs(e.value - m.med) ASC,
                                     e.event_id ASC) AS rn,
         count(*) OVER (PARTITION BY e.event_type) AS n
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, min(dev) AS mad
  FROM dev_ranked WHERE rn = (n + 1) // 2 GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value,
       m.med AS group_median, d.mad AS group_mad,
       CASE WHEN d.mad > 0
            THEN round((e.value - m.med) / d.mad * 1e6, 0)::BIGINT
            END AS robust_z_e6
FROM events e
JOIN med m USING (event_type)
JOIN mad d USING (event_type)
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# first/last-touch attribution
# ---------------------------------------------------------------------------


def q_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First- and last-click attribution for every purchase — one
    keyed window over the interleaved touch stream, O(T+C) per user.
    The oracle replays the running min/max struct walk with the same
    (ts, id) total order."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        attribution_touch,
    )

    ev = load_table(spark, sf_dir, "events")
    return attribution_touch(ev).orderBy("conversion_id")


Q_ATTRIBUTION_TOUCH_ORACLE = """
WITH tagged AS (
  SELECT user_id, event_id, ts, event_type = 'click' AS is_touch
  FROM events WHERE event_type IN ('click', 'purchase')
),
walked AS (
  SELECT user_id, event_id, ts, is_touch,
         min(CASE WHEN is_touch THEN struct_pack(ts := ts, eid := event_id) END)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f,
         max(CASE WHEN is_touch THEN struct_pack(ts := ts, eid := event_id) END)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
  FROM tagged
)
SELECT user_id, event_id AS conversion_id,
       f.eid AS first_touch_id, l.eid AS last_touch_id,
       (epoch_us(ts) - epoch_us(f.ts))::BIGINT AS first_touch_lag_us,
       (epoch_us(ts) - epoch_us(l.ts))::BIGINT AS last_touch_lag_us
FROM walked WHERE NOT is_touch ORDER BY conversion_id
"""


# ---------------------------------------------------------------------------
# top session paths (event-type trigram sequences within sessions)
# ---------------------------------------------------------------------------


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step event-type journeys within 10-minute-gap
    sessions — the path-mining companion of `session_cooccurrence`
    (which ignores order). Deterministic ordering: (ts, event_id)
    within user; trigrams never cross a session border. Output is
    types³-bounded; the raw stream shuffles twice (user, then
    user×session) and never self-joins."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    secs = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    gap = secs - F.lag(secs).over(wu)
    new_s = F.when(
        F.lag("ts").over(wu).isNull() | (gap > 600), 1
    ).otherwise(0)
    sess = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(new_s)
        .over(wu.rowsBetween(Window.unboundedPreceding, 0))
        .alias("snum"),
    )
    ws = Window.partitionBy("user_id", "snum").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tri = sess.select(
        "user_id",
        "snum",
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(ws),
            F.lead("event_type", 2).over(ws),
        ).alias("path"),
        F.lead("event_type", 2).over(ws).alias("_third"),
    ).filter(F.col("_third").isNotNull())
    return (
        tri.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.count_distinct("user_id", "snum")
            .cast("long")
            .alias("n_sessions"),
        )
        .orderBy("path")
    )


Q_SESSION_PATHS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts ASC, event_id ASC) AS prev_ts
  FROM events
),
marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts)::BIGINT - epoch(prev_ts)::BIGINT > 600
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sess AS (
  SELECT user_id, event_id, ts, event_type,
         sum(new_s) OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC
                          ROWS UNBOUNDED PRECEDING) AS snum
  FROM marked
),
tri AS (
  SELECT user_id, snum,
         event_type || '>' ||
         lead(event_type, 1) OVER w || '>' ||
         lead(event_type, 2) OVER w AS path,
         lead(event_type, 2) OVER w AS third
  FROM sess
  WINDOW w AS (PARTITION BY user_id, snum ORDER BY ts ASC, event_id ASC)
)
SELECT path,
       count(*)::BIGINT AS n_occurrences,
       count(DISTINCT (user_id, snum))::BIGINT AS n_sessions
FROM tri WHERE third IS NOT NULL
GROUP BY path ORDER BY path
"""


# ---------------------------------------------------------------------------
# k-anonymity / l-diversity governance census
# ---------------------------------------------------------------------------


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy governance census over ``orders``: quasi-identifier =
    (status, priority, order month), sensitive = customer key. One
    QI-keyed shuffle then a single-row reduction — see
    :func:`..operators.profile.k_anonymity_census`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        k_anonymity_census,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.trunc("o_orderdate", "month")
    )
    return k_anonymity_census(
        orders,
        qi_cols=["o_orderstatus", "o_orderpriority", "o_month"],
        sensitive_col="o_custkey",
        k_risk=5,
    )


Q_K_ANONYMITY_ORACLE = """
WITH grp AS (
  SELECT o_orderstatus, o_orderpriority, date_trunc('month', o_orderdate) AS o_month,
         count(*)::BIGINT AS k,
         count(DISTINCT o_custkey)::BIGINT AS l
  FROM orders
  GROUP BY 1, 2, 3
)
SELECT sum(k)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_groups,
       min(k)::BIGINT AS min_k,
       max(k)::BIGINT AS max_k,
       (sum(k) // count(*))::BIGINT AS mean_k,
       sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
       sum(CASE WHEN k < 5 THEN k ELSE 0 END)::BIGINT AS rows_below_k,
       min(l)::BIGINT AS min_l,
       sum(CASE WHEN l = 1 THEN 1 ELSE 0 END)::BIGINT AS n_l1_groups
FROM grp
"""


# ---------------------------------------------------------------------------
# exact weighted median per group
# ---------------------------------------------------------------------------


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median extended price per return flag
    (integer cents, so the RANGE-frame cumulative weights are exact on
    both engines — no floating-point summation-order hazard). See
    :func:`..operators.profile.weighted_median`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        weighted_median,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round("l_quantity", 0).cast("long").alias("qty"),
    )
    return (
        weighted_median(li, ["l_returnflag"], "price_c", "qty")
        .select(
            "l_returnflag",
            F.col("wmedian").alias("wmedian_price_c"),
            F.col("total_weight").cast("long").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


Q_WEIGHTED_MEDIAN_PRICE_ORACLE = """
WITH r AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(round(l_quantity) AS BIGINT) AS w
  FROM lineitem
),
c AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM r
)
SELECT l_returnflag,
       min(v)::BIGINT AS wmedian_price_c,
       max(tw)::BIGINT AS total_qty
FROM c WHERE cw * 2 >= tw
GROUP BY 1 ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# irregular-timeseries serving rollups: TWAP + OHLC bars
# ---------------------------------------------------------------------------


def q_twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-user time-weighted average event value (integer
    cents x microsecond gaps, DECIMAL(38,0) accumulation). See
    :func:`..operators.temporal.time_weighted_mean`."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        time_weighted_mean,
    )

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_mean(
        ev, "user_id", "ts", "value", "event_id"
    ).orderBy("user_id")


Q_TWAP_USER_VALUE_ORACLE = """
WITH b AS (
  SELECT user_id, event_id,
         epoch_us(ts)::BIGINT AS t,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
seg AS (
  SELECT user_id, vc,
         lead(t) OVER (PARTITION BY user_id
                       ORDER BY t ASC, event_id ASC) - t AS dt
  FROM b
)
SELECT user_id,
       count(*)::BIGINT AS n_segments,
       sum(dt)::BIGINT AS span_us,
       (sum(vc::HUGEINT * dt::HUGEINT) // sum(dt))::BIGINT AS twap_c
FROM seg WHERE dt IS NOT NULL
GROUP BY 1 ORDER BY user_id
"""


def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC/volume bars per event type with deterministic
    (ts, event_id) open/close picks. See
    :func:`..operators.temporal.ohlc_bars`."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        ohlc_bars,
    )

    ev = load_table(spark, sf_dir, "events")
    return ohlc_bars(
        ev, "event_type", "ts", "value", "event_id", bar="hour"
    ).orderBy("event_type", "bar_ts")


Q_OHLC_HOURLY_ORACLE = """
WITH b AS (
  SELECT event_type, event_id, ts,
         date_trunc('hour', ts) AS bar_ts,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
m AS (
  SELECT event_type, bar_ts, vc,
         row_number() OVER (PARTITION BY event_type, bar_ts
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bar_ts
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type, bar_ts,
       max(CASE WHEN rn_a = 1 THEN vc END)::BIGINT AS open_c,
       max(vc)::BIGINT AS high_c,
       min(vc)::BIGINT AS low_c,
       max(CASE WHEN rn_d = 1 THEN vc END)::BIGINT AS close_c,
       count(*)::BIGINT AS n_events,
       sum(vc)::BIGINT AS volume_c
FROM m GROUP BY 1, 2 ORDER BY event_type, bar_ts
"""


def q_ohlc_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution bar maintenance, value-checked END-TO-END:
    hourly OHLC partials are re-keyed to their day and MERGED
    (struct-min/max open/close picks, min/max/sum elsewhere) — the
    oracle computes the daily bars DIRECTLY from raw events, so the
    driver hash verifies the merge law itself (bars of merged partials
    == bars over the union), the property any rollup hierarchy
    relies on. One extra control-plane aggregation over
    the keys x hours partial table."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        ohlc_merge,
        ohlc_partial,
        ohlc_render,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = ohlc_partial(ev, "event_type", "ts", "value", "event_id", "hour")
    daily = ohlc_merge(
        hourly.withColumn("bar_ts", F.date_trunc("day", "bar_ts")),
        "event_type",
    )
    return ohlc_render(daily).orderBy("event_type", "bar_ts")


Q_OHLC_DAILY_ROLLUP_ORACLE = """
WITH b AS (
  SELECT event_type, event_id, ts,
         date_trunc('day', ts)::TIMESTAMP AS bar_ts,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
m AS (
  SELECT event_type, bar_ts, vc,
         row_number() OVER (PARTITION BY event_type, bar_ts
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY event_type, bar_ts
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type, bar_ts,
       max(CASE WHEN rn_a = 1 THEN vc END)::BIGINT AS open_c,
       max(vc)::BIGINT AS high_c,
       min(vc)::BIGINT AS low_c,
       max(CASE WHEN rn_d = 1 THEN vc END)::BIGINT AS close_c,
       count(*)::BIGINT AS n_events,
       sum(vc)::BIGINT AS volume_c
FROM m GROUP BY 1, 2 ORDER BY event_type, bar_ts
"""


def q_k_anonymity_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The governance loop closed: suppress every equivalence class
    with k < 5 (the census's suppression candidates), then re-census —
    the output row PROVES min_k >= 5 post-suppression, alongside how
    much data the suppression cost. One extra class-keyed semi-join
    over the `k_anonymity` machinery."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        k_anonymity_census,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.trunc("o_orderdate", "month")
    )
    qi = ["o_orderstatus", "o_orderpriority", "o_month"]
    big = (
        orders.groupBy(*qi)
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") >= 5)
        .drop("_k")
    )
    kept = orders.join(big, qi, "left_semi")
    return k_anonymity_census(kept, qi_cols=qi, sensitive_col="o_custkey", k_risk=5)


Q_K_ANONYMITY_ENFORCE_ORACLE = """
WITH o AS (
  SELECT o_orderstatus, o_orderpriority,
         date_trunc('month', o_orderdate) AS o_month, o_custkey
  FROM orders
),
big AS (
  SELECT o_orderstatus, o_orderpriority, o_month
  FROM o GROUP BY 1, 2, 3 HAVING count(*) >= 5
),
kept AS (
  SELECT o.* FROM o SEMI JOIN big USING (o_orderstatus, o_orderpriority, o_month)
),
grp AS (
  SELECT o_orderstatus, o_orderpriority, o_month,
         count(*)::BIGINT AS k,
         count(DISTINCT o_custkey)::BIGINT AS l
  FROM kept GROUP BY 1, 2, 3
)
SELECT sum(k)::BIGINT AS n_rows,
       count(*)::BIGINT AS n_groups,
       min(k)::BIGINT AS min_k,
       max(k)::BIGINT AS max_k,
       (sum(k) // count(*))::BIGINT AS mean_k,
       sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
       sum(CASE WHEN k < 5 THEN k ELSE 0 END)::BIGINT AS rows_below_k,
       min(l)::BIGINT AS min_l,
       sum(CASE WHEN l = 1 THEN 1 ELSE 0 END)::BIGINT AS n_l1_groups
FROM grp
"""


def q_k_anonymity_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweeney's generalization ladder before suppression (r10 verdict
    item 10): rows whose (status, priority, DAY) class is below k=5
    first coarsen the date to MONTH; only classes still small after
    the ladder are suppressed. The output row proves min_k >= 5 AND
    n_suppressed < n_suppressed_suppression_only — generalization
    buys back rows suppression-only would have destroyed (at sf0.01:
    ~15k of them; day-level QI re-identifies almost everyone). See
    :func:`..operators.profile.k_anonymity_generalize_census`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        k_anonymity_generalize_census,
    )

    orders = (
        load_table(spark, sf_dir, "orders")
        .withColumn("o_day", F.col("o_orderdate"))
        .withColumn("o_month", F.trunc("o_orderdate", "month"))
    )
    return k_anonymity_generalize_census(
        orders,
        qi_cols=["o_orderstatus", "o_orderpriority", "o_day"],
        fine_col="o_day",
        coarse_col="o_month",
        sensitive_col="o_custkey",
        k=5,
    )


Q_K_ANONYMITY_GENERALIZE_ORACLE = """
WITH o AS (
  SELECT o_orderstatus, o_orderpriority,
         o_orderdate AS o_day,
         date_trunc('month', o_orderdate) AS o_month,
         o_custkey
  FROM orders
),
lvl0 AS (
  SELECT o_orderstatus, o_orderpriority, o_day,
         count(*)::BIGINT AS k0,
         count(DISTINCT o_custkey)::BIGINT AS l0
  FROM o GROUP BY 1, 2, 3
),
keep0 AS (SELECT * FROM lvl0 WHERE k0 >= 5),
fail0_rows AS (
  SELECT o.* FROM o
  SEMI JOIN (SELECT o_orderstatus, o_orderpriority, o_day
             FROM lvl0 WHERE k0 < 5) f
  USING (o_orderstatus, o_orderpriority, o_day)
),
lvl1 AS (
  SELECT o_orderstatus, o_orderpriority, o_month,
         count(*)::BIGINT AS k1,
         count(DISTINCT o_custkey)::BIGINT AS l1
  FROM fail0_rows GROUP BY 1, 2, 3
),
keep1 AS (SELECT * FROM lvl1 WHERE k1 >= 5),
s0 AS (
  SELECT coalesce(sum(k0), 0)::BIGINT AS n_level0,
         count(*)::BIGINT AS g0,
         min(k0)::BIGINT AS mk0, min(l0)::BIGINT AS ml0
  FROM keep0
),
s1 AS (
  SELECT coalesce(sum(k1), 0)::BIGINT AS n_generalized,
         count(*)::BIGINT AS g1,
         min(k1)::BIGINT AS mk1, min(l1)::BIGINT AS ml1
  FROM keep1
),
tot AS (SELECT count(*)::BIGINT AS n_rows FROM o),
fl AS (SELECT count(*)::BIGINT AS n_fail FROM fail0_rows)
SELECT n_rows,
       n_level0,
       n_generalized,
       (n_fail - n_generalized)::BIGINT AS n_suppressed,
       n_fail AS n_suppressed_suppression_only,
       (g0 + g1)::BIGINT AS n_groups,
       coalesce(CASE WHEN g0 = 0 THEN mk1 WHEN g1 = 0 THEN mk0
                     ELSE least(mk0, mk1) END, 0)::BIGINT AS min_k,
       coalesce(CASE WHEN g0 = 0 THEN ml1 WHEN g1 = 0 THEN ml0
                     ELSE least(ml0, ml1) END, 0)::BIGINT AS min_l
FROM tot, s0, s1, fl
"""


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection (Page 1954) over daily
    event volumes per type — exact and WINDOW-expressible via the
    running-min identity: the recursive ``C_t = max(0, C_{t-1} +
    x_t)`` fold equals ``S_t − min(S_0..S_t)`` for the prefix sums
    ``S`` of the drift-adjusted deviations, so no fold/UDF is needed
    on either engine. Deviations are e6 integers around the type's
    own mean daily volume with drift k = mean/4; a day flags when the
    CUSUM exceeds h = 2×mean. Returns the TOP-3 CUSUM days per type
    with the flag as a column — ``(event_type, day, n, cusum_e6,
    flagged)`` — so the running-min identity is value-checked on real
    values even on stationary corpora where nothing flags (the driver
    testdata's volumes are stationary by construction; a
    flagged-rows-only result would be vacuously empty there).

    Scale shape: daily counts (one map-combined shuffle to #days ×
    #types rows), a broadcast per-type mean, then windows over the
    DAYS SPINE only — raw events never enter a window.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """:func:`q_cusum_changepoints` from the per-(type, day) count
    table — the mergeable-summary form (daily counts over disjoint
    row sets add exactly)."""
    means = daily.groupBy("event_type").agg(
        F.expr("sum(n) * 1000000 div count(1)").cast("long").alias("mean_e6")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = daily.join(F.broadcast(means), "event_type").withColumn(
        "x_e6",
        (F.col("n") * 1_000_000 - F.col("mean_e6"))
        - F.expr("mean_e6 div 4"),
    )
    s = x.withColumn("s_e6", F.sum("x_e6").over(w_cum)).withColumn(
        "cusum_e6",
        F.col("s_e6")
        - F.least(F.min("s_e6").over(w_cum), F.lit(0).cast("long")),
    )
    w_top = Window.partitionBy("event_type").orderBy(
        F.col("cusum_e6").desc(), F.col("day").asc()
    )
    return (
        s.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 3)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.col("cusum_e6").cast("long").alias("cusum_e6"),
            (F.col("cusum_e6") > 2 * F.col("mean_e6"))
            .cast("int")
            .alias("flagged"),
        )
        .orderBy("event_type", "day")
    )


Q_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, (sum(n) * 1000000 // count(*))::BIGINT AS mean_e6
  FROM daily GROUP BY 1
),
x AS (
  SELECT d.event_type, d.day, d.n, m.mean_e6,
         (d.n * 1000000 - m.mean_e6) - (m.mean_e6 // 4) AS x_e6
  FROM daily d JOIN m USING (event_type)
),
s AS (
  SELECT *, sum(x_e6) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS s_e6
  FROM x
),
c AS (
  SELECT *, s_e6 - least(min(s_e6) OVER (PARTITION BY event_type
                                          ORDER BY day
                                          ROWS UNBOUNDED PRECEDING),
                         0) AS cusum_e6
  FROM s
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       cusum_e6::BIGINT AS cusum_e6,
       (cusum_e6 > 2 * mean_e6)::INT AS flagged
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY cusum_e6 DESC, day ASC) AS rn
  FROM c
) WHERE rn <= 3
ORDER BY event_type, day
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford census of order totals — the fabricated-
    numbers screen; exact digit extraction from integer cent strings,
    pinned e6 expected shares (no float log in either engine). See
    :func:`..operators.profile.benford_audit`."""
    from rootstock_collective_state_sync_spark.operators.profile import benford_audit

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice").orderBy("digit")


Q_BENFORD_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS vc FROM orders
  WHERE round(o_totalprice * 100) > 0
),
d AS (SELECT CAST(substr(vc::VARCHAR, 1, 1) AS INT) AS digit FROM v),
per AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1),
tot AS (SELECT sum(n)::BIGINT AS t FROM per),
spine AS (
  SELECT unnest(range(1, 10))::INT AS digit,
         unnest([301030, 176091, 124939, 96910, 79181, 66947, 57992,
                 51153, 45757])::BIGINT AS benford_e6
)
SELECT s.digit, coalesce(p.n, 0)::BIGINT AS n,
       (coalesce(p.n, 0) * 1000000 // t)::BIGINT AS freq_e6,
       s.benford_e6,
       abs((coalesce(p.n, 0) * 1000000 // t) - s.benford_e6)::BIGINT
         AS dev_e6
FROM spine s LEFT JOIN per p USING (digit), tot
ORDER BY digit
"""


def q_gini_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration of order value per priority segment
    (e6 integer, tie-invariant rank formulation) — the inequality
    census; for corpora the same operator measures how concentrated a
    source's token budget is. See
    :func:`..operators.profile.gini_index`."""
    from rootstock_collective_state_sync_spark.operators.profile import gini_index

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return gini_index(
        orders, ["o_orderpriority"], "vc", "o_orderkey"
    ).orderBy("o_orderpriority")


Q_GINI_ORACLE = """
WITH r AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY round(o_totalprice * 100), o_orderkey)
           AS rn
  FROM orders
)
SELECT o_orderpriority,
       count(*)::BIGINT AS n,
       sum(v)::BIGINT AS total,
       ((2 * sum(rn::HUGEINT * v) - (count(*) + 1) * sum(v::HUGEINT))
        * 1000000 // (count(*) * sum(v::HUGEINT)))::BIGINT AS gini_e6
FROM r GROUP BY 1 ORDER BY o_orderpriority
"""


def q_equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-bucket equi-depth histogram of order totals (integer
    cents) — optimizer-stats boundaries, SQL-standard ntile over the
    deterministic (value, key) total order on both engines. See
    :func:`..operators.profile.equidepth_histogram`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        equidepth_histogram,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return (
        equidepth_histogram(orders, "vc", "o_orderkey", buckets=8)
        .select(
            "bucket",
            "n",
            F.col("lo").cast("long").alias("lo_c"),
            F.col("hi").cast("long").alias("hi_c"),
        )
        .orderBy("bucket")
    )


Q_EQUIDEPTH_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         ntile(8) OVER (ORDER BY round(o_totalprice * 100), o_orderkey)
           AS bucket
  FROM orders
)
SELECT bucket, count(*)::BIGINT AS n,
       min(v)::BIGINT AS lo_c, max(v)::BIGINT AS hi_c
FROM r GROUP BY 1 ORDER BY bucket
"""


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival burstiness census: exact integer
    microsecond gaps, CV² as an e6 integer (Poisson ≈ 1e6) — the
    arrival-process profile a stream-capacity plan reads. See
    :func:`..operators.temporal.interarrival_stats`."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        interarrival_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    return interarrival_stats(ev, "event_type", "ts", "event_id").orderBy(
        "event_type"
    )


Q_INTERARRIVAL_ORACLE = """
WITH b AS (
  SELECT event_type, event_id, epoch_us(ts::TIMESTAMP) AS t FROM events
),
s AS (
  SELECT event_type,
         lead(t) OVER (PARTITION BY event_type ORDER BY t, event_id) - t
           AS d
  FROM b
)
SELECT event_type,
       count(*)::BIGINT AS n_gaps,
       min(d)::BIGINT AS min_gap_us,
       max(d)::BIGINT AS max_gap_us,
       (sum(d::HUGEINT) // count(*))::BIGINT AS mean_gap_us,
       ((count(*) * sum(d::HUGEINT * d) - sum(d::HUGEINT) * sum(d::HUGEINT))
        * 1000000 // (sum(d::HUGEINT) * sum(d::HUGEINT)))::BIGINT AS cv2_e6
FROM s WHERE d IS NOT NULL
GROUP BY 1 ORDER BY event_type
"""


def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week volume profile per event type (ISO weekday 1-7,
    share e6) — the seasonality baseline an anomaly screen divides
    out. One map-side-combined aggregate + a per-type window."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("int").alias("isodow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("event_type")
    return (
        per.withColumn("_t", F.sum("n").over(w))
        .select(
            "event_type",
            "isodow",
            "n",
            F.expr("n * 1000000 div _t").cast("long").alias("share_e6"),
        )
        .orderBy("event_type", "isodow")
    )


Q_DOW_ORACLE = """
WITH per AS (
  SELECT event_type, isodow(ts::TIMESTAMP)::INT AS isodow,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, isodow, n,
       (n * 1000000 // sum(n) OVER (PARTITION BY event_type))::BIGINT
         AS share_e6
FROM per ORDER BY event_type, isodow
"""


# ---------------------------------------------------------------------------
# Market-basket association rules (apriori-pruned support/confidence/lift)
# ---------------------------------------------------------------------------

_AR_MIN_SUP_E6 = 25_000  # 2.5% of baskets
_AR_MIN_CONF_E6 = 150_000  # 15%


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand->brand association rules mined from order baskets
    (Agrawal & Srikant 1994, apriori-pruned): for every ordered brand
    pair co-occurring in >= 2.5% of orders, emit integer-e6 support,
    confidence and lift. Apriori monotonicity is applied BEFORE the
    pair explode — a brand below min-support cannot appear in any
    frequent pair, so infrequent items are semi-join-pruned from the
    baskets first.

    Scale shape: the basket table shuffles ONCE on the basket key;
    pair generation is a per-basket self-join (co-located, pairs per
    basket bounded by the squared basket width); item and pair counts
    are map-side-combined aggregations; the frequent-item filter and
    the item-count table that prices confidence/lift are tiny
    (#brands) and broadcast. No global sort, no cartesian — at 100 TB
    the only corpus-sized shuffle is the initial basket keying.
    All arithmetic is integer-e6 (``div``), so the driver hash
    matches DuckDB bit-for-bit."""
    from rootstock_collective_state_sync_spark.operators.basket import (
        assoc_rules_from_counts,
        basket_item_counts,
        basket_pair_counts,
    )

    from rootstock_collective_state_sync_spark.caching import tracked_persist

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # persisted: the basket table feeds the total count, the item
    # counts, and BOTH sides of the pair self-join — without the
    # persist the lineitem-part join + distinct re-runs four times
    # (the r08 semantic_dedup lesson; released by the registry wrapper)
    # eager=False (r17 site audit, SCALING.md): the very next line's
    # count() is the first consumer and fills the cache in one pass —
    # an eager count here would scan the basket table twice.
    # repartition(bk) BEFORE the dedupe (r17): hash-partitioning on bk
    # satisfies the clustered distribution of every downstream
    # consumer — dropDuplicates([bk, item]) (bk ⊆ the grouping key),
    # the distinct-bk total, and BOTH pair-self-join sides — so the
    # cached table is shuffled ONCE on the basket key and the n-count
    # exchange plus the pair-join exchange disappear from the plan
    # (guide §2.1: partition once to serve every keyed consumer).
    baskets = tracked_persist(
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select(F.col("l_orderkey").alias("bk"), F.col("p_brand").alias("item"))
        .repartition("bk")
        .dropDuplicates(["bk", "item"]),
        eager=False,
    )
    n = baskets.select("bk").distinct().count()  # control-plane scalar
    min_sup_abs = (_AR_MIN_SUP_E6 * n) // 1_000_000
    item_cnt = basket_item_counts(baskets)
    frequent = item_cnt.filter(F.col("cnt") >= min_sup_abs)
    pair_cnt = basket_pair_counts(baskets, frequent=frequent)
    return assoc_rules_from_counts(
        n, item_cnt, pair_cnt, _AR_MIN_SUP_E6, _AR_MIN_CONF_E6
    )


Q_ASSOC_RULES_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
nb AS (SELECT count(DISTINCT bk) AS n FROM baskets),
minsup AS (SELECT ({_AR_MIN_SUP_E6}::BIGINT * n) // 1000000 AS s FROM nb),
item_cnt AS (
  SELECT item, count(*)::BIGINT AS cnt FROM baskets GROUP BY 1
),
pruned AS (
  SELECT b.* FROM baskets b
  WHERE b.item IN (SELECT item FROM item_cnt, minsup WHERE cnt >= s)
),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*)::BIGINT AS pair_cnt
  FROM pruned a JOIN pruned b ON a.bk = b.bk AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= (SELECT s FROM minsup)
),
rules AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_cnt FROM pairs
  UNION ALL
  SELECT item_b, item_a, pair_cnt FROM pairs
)
SELECT r.antecedent, r.consequent, r.pair_cnt,
       (r.pair_cnt * 1000000 // (SELECT n FROM nb))::BIGINT AS support_e6,
       (r.pair_cnt * 1000000 // ca.cnt)::BIGINT AS confidence_e6,
       (r.pair_cnt::HUGEINT * (SELECT n FROM nb) * 1000000
        // (ca.cnt * cb.cnt))::BIGINT AS lift_e6
FROM rules r
JOIN item_cnt ca ON ca.item = r.antecedent
JOIN item_cnt cb ON cb.item = r.consequent
WHERE (r.pair_cnt * 1000000 // ca.cnt) >= {_AR_MIN_CONF_E6}
ORDER BY antecedent, consequent
"""


# ---------------------------------------------------------------------------
# Funnel time-to-convert: exact nearest-rank latency percentiles
# ---------------------------------------------------------------------------

_TTC_STARTS = ("click", "signup", "view")


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per entry-event funnel latency census: for each start type, the
    time from a user's FIRST start event to their first purchase at or
    after it — conversion rate plus exact nearest-rank p50/p90/p99 of
    the microsecond delay (rank = ceil(p*n/100) picked under (delay, user_id)
    order — the `winsorize` no-interpolation policy, so every column
    is an integer and bit-identical across engines).

    Scale shape: two event-type-pruned scans aggregated to per-user
    firsts (map-side-combined), one user-keyed join to pick the first
    purchase at-or-after the start (conversions-per-user bounded), one
    window over the per-(start_type, user) DELAY table — users-sized,
    not events-sized — and a 3-row final aggregate. No self-join over
    raw events."""
    ev = load_table(spark, sf_dir, "events")
    starts = (
        ev.filter(F.col("event_type").isin(*_TTC_STARTS))
        .groupBy(F.col("user_id"), F.col("event_type").alias("start_type"))
        .agg(F.min("ts").alias("t0"))
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("tp")
    )
    conv = (
        starts.join(buys, "user_id")
        .filter(F.col("tp") >= F.col("t0"))
        .groupBy("user_id", "start_type", "t0")
        .agg(F.min("tp").alias("tp"))
        .select(
            "start_type",
            "user_id",
            F.expr(
                "unix_micros(cast(tp as timestamp))"
                " - unix_micros(cast(t0 as timestamp))"
            )
            .cast("long")
            .alias("delay_us"),
        )
    )
    w = Window.partitionBy("start_type").orderBy(
        F.col("delay_us").asc(), F.col("user_id").asc()
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("start_type"))
    ranked = conv.select(
        "start_type",
        "delay_us",
        F.row_number().over(w).alias("_rn"),
        n.alias("_n"),
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(
            F.col("_rn") == F.floor((F.col("_n") * p + 99) / 100),
            F.col("delay_us"),
        )
    )
    per = ranked.groupBy("start_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.sum("delay_us").cast("long").alias("_sum"),
        pick(50).cast("long").alias("p50_us"),
        pick(90).cast("long").alias("p90_us"),
        pick(99).cast("long").alias("p99_us"),
    )
    started = starts.groupBy("start_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_started")
    )
    return (
        started.join(per, "start_type")
        .select(
            "start_type",
            "n_started",
            "n_converted",
            F.expr("n_converted * 1000000 div n_started")
            .cast("long")
            .alias("conv_rate_e6"),
            F.expr("_sum div n_converted").cast("long").alias("mean_us"),
            "p50_us",
            "p90_us",
            "p99_us",
        )
        .orderBy("start_type")
    )


Q_TIME_TO_CONVERT_ORACLE = f"""
WITH starts AS (
  SELECT user_id, event_type AS start_type, min(ts) AS t0
  FROM events WHERE event_type IN {str(tuple(_TTC_STARTS))}
  GROUP BY 1, 2
),
conv AS (
  SELECT s.start_type, s.user_id,
         (epoch_us(min(b.ts)) - epoch_us(s.t0))::BIGINT AS delay_us
  FROM starts s
  JOIN events b ON b.user_id = s.user_id
   AND b.event_type = 'purchase' AND b.ts >= s.t0
  GROUP BY s.start_type, s.user_id, s.t0
),
ranked AS (
  SELECT start_type, delay_us,
         row_number() OVER (PARTITION BY start_type
                            ORDER BY delay_us, user_id) AS rn,
         count(*) OVER (PARTITION BY start_type) AS n
  FROM conv
),
per AS (
  SELECT start_type,
         count(*)::BIGINT AS n_converted,
         sum(delay_us)::BIGINT AS s,
         max(CASE WHEN rn = (n * 50 + 99) // 100 THEN delay_us END)::BIGINT AS p50_us,
         max(CASE WHEN rn = (n * 90 + 99) // 100 THEN delay_us END)::BIGINT AS p90_us,
         max(CASE WHEN rn = (n * 99 + 99) // 100 THEN delay_us END)::BIGINT AS p99_us
  FROM ranked GROUP BY 1
),
st AS (
  SELECT start_type, count(*)::BIGINT AS n_started FROM starts GROUP BY 1
)
SELECT st.start_type, st.n_started, per.n_converted,
       (per.n_converted * 1000000 // st.n_started)::BIGINT AS conv_rate_e6,
       (per.s // per.n_converted)::BIGINT AS mean_us,
       per.p50_us, per.p90_us, per.p99_us
FROM st JOIN per USING (start_type)
ORDER BY start_type
"""


# ---------------------------------------------------------------------------
# Daily active / new / cumulative users
# ---------------------------------------------------------------------------


def q_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day audience census over the event stream: distinct active
    users, first-ever-seen (new) users, and the cumulative user count
    — the canonical serving dashboard for a synced event table. All
    exact: DAU is one (day,user)-distinct + day count; new users come
    from the per-user min(day) table (map-side-combined); the running
    total is a window over the DAYS spine only (#days rows,
    control-plane) — raw events are never windowed. Days render as
    'yyyy-MM-dd' strings so both engines hash identically."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id"), F.to_date("ts").alias("day")
    )
    dau = (
        ev.distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        dau.join(new_users, "day", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)).cast("long"))
        .withColumn("cum_users", F.sum("n_new").over(w).cast("long"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_active",
            "n_new",
            "cum_users",
        )
        .orderBy("day")
    )


Q_NEW_USERS_DAILY_ORACLE = """
WITH e AS (SELECT user_id, ts::DATE AS day FROM events),
dau AS (
  SELECT day, count(*)::BIGINT AS n_active
  FROM (SELECT DISTINCT day, user_id FROM e) GROUP BY 1
),
fs AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
nu AS (SELECT day, count(*)::BIGINT AS n_new FROM fs GROUP BY 1)
SELECT strftime(dau.day, '%Y-%m-%d') AS day,
       dau.n_active,
       coalesce(nu.n_new, 0)::BIGINT AS n_new,
       sum(coalesce(nu.n_new, 0)) OVER (ORDER BY dau.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         AS cum_users
FROM dau LEFT JOIN nu ON dau.day = nu.day
ORDER BY day
"""


def q_equidepth_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP equi-depth histogram (4 buckets of order totals per
    order priority) — the per-partition optimizer-stats shape. All
    windows carry the group key; the offset stage is the per-group
    distributed prefix sum (no single-partition window even when a
    handful of groups each hold a corpus share). See
    :func:`..operators.profile.equidepth_histogram`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        equidepth_histogram,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return (
        equidepth_histogram(
            orders,
            "vc",
            "o_orderkey",
            buckets=4,
            group_cols=["o_orderpriority"],
        )
        .select(
            "o_orderpriority",
            "bucket",
            "n",
            F.col("lo").cast("long").alias("lo_c"),
            F.col("hi").cast("long").alias("hi_c"),
        )
        .orderBy("o_orderpriority", "bucket")
    )


Q_EQUIDEPTH_BY_PRIORITY_ORACLE = """
WITH r AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY round(o_totalprice * 100), o_orderkey)
           AS bucket
  FROM orders
)
SELECT o_orderpriority, bucket,
       count(*)::BIGINT AS n,
       min(v)::BIGINT AS lo_c,
       max(v)::BIGINT AS hi_c
FROM r GROUP BY 1, 2 ORDER BY o_orderpriority, bucket
"""


def q_woe_iv_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value screen of order total
    (deciles) against the fulfilled-order flag — the credit-scoring
    binning report. See :func:`..operators.profile.woe_iv`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        woe_iv,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        (F.col("o_orderstatus") == "F").cast("int").alias("tgt"),
    )
    return woe_iv(orders, "vc", "o_orderkey", "tgt", bins=10)


Q_WOE_IV_ORACLE = """
WITH r AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderstatus = 'F')::BIGINT AS tgt
  FROM orders
),
b AS (
  SELECT *, ntile(10) OVER (ORDER BY v, o_orderkey) AS bucket FROM r
),
pb AS (
  SELECT bucket, count(*)::BIGINT AS n, sum(tgt)::BIGINT AS n_pos
  FROM b GROUP BY 1
),
p2 AS (SELECT bucket, n, n_pos, (n - n_pos)::BIGINT AS n_neg FROM pb),
t AS (
  SELECT sum(n_pos)::BIGINT AS tp, sum(n_neg)::BIGINT AS tn FROM p2
)
SELECT bucket, n, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(ln((n_pos::DOUBLE * tn) / (n_neg::DOUBLE * tp))
                       * 1e9)::BIGINT END AS woe_e9,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round((n_pos::DOUBLE / tp - n_neg::DOUBLE / tn)
                       * ln((n_pos::DOUBLE * tn) / (n_neg::DOUBLE * tp))
                       * 1e9)::BIGINT END AS iv_e9
FROM p2, t ORDER BY bucket
"""


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-lifetime survival curve over the events
    stream (deaths = users quiet >= 7 days before the observation
    edge; the rest right-censored), in integer log-space. See
    :func:`..operators.temporal.kaplan_meier`."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        kaplan_meier,
    )

    ev = load_table(spark, sf_dir, "events")
    return kaplan_meier(ev, "user_id", "ts", horizon_days=7)


Q_KAPLAN_MEIER_ORACLE = """
WITH mx AS (SELECT max(ts) AS m FROM events),
per AS (
  SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
),
d AS (
  SELECT date_diff('day', f::DATE, l::DATE)::BIGINT AS t_days,
         (l < (SELECT m FROM mx) - INTERVAL 7 DAY)::BIGINT AS event
  FROM per
),
tbl AS (
  SELECT t_days, count(*)::BIGINT AS n_total,
         sum(event)::BIGINT AS n_deaths
  FROM d GROUP BY 1
),
risk AS (
  SELECT t_days, n_deaths,
         (n_total - n_deaths)::BIGINT AS n_censored,
         ((SELECT sum(n_total) FROM tbl)
          - coalesce(sum(n_total) OVER (ORDER BY t_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0))::BIGINT AS n_at_risk
  FROM tbl
),
scored AS (
  SELECT *,
         (n_deaths > 0 AND n_at_risk = n_deaths)::BIGINT AS z,
         CASE WHEN n_deaths > 0 AND n_at_risk > n_deaths
              THEN round(ln((n_at_risk - n_deaths)::DOUBLE
                            / n_at_risk) * 1e9)::BIGINT
              ELSE 0 END AS term_e9
  FROM risk
)
SELECT t_days, n_at_risk, n_deaths, n_censored, term_e9,
       sum(term_e9) OVER (ORDER BY t_days
                          ROWS UNBOUNDED PRECEDING)::BIGINT
         AS log_surv_e9,
       (sum(z) OVER (ORDER BY t_days ROWS UNBOUNDED PRECEDING)
        > 0)::INT AS hits_zero
FROM scored ORDER BY t_days
"""


def q_theil_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of order totals with the exact
    between/within decomposition per order priority. See
    :func:`..operators.profile.theil_decomposition`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        theil_decomposition,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return theil_decomposition(orders, "o_orderpriority", "vc")


Q_THEIL_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
),
pg AS (
  SELECT g, sum(x)::BIGINT AS sg, count(*)::BIGINT AS ng FROM o GROUP BY 1
),
t AS (SELECT sum(sg)::BIGINT AS s, sum(ng)::BIGINT AS n FROM pg),
terms AS (
  SELECT o.g,
         round((o.x::DOUBLE * pg.ng / pg.sg)
               * ln(o.x::DOUBLE * pg.ng / pg.sg) * 1e9)::BIGINT AS t_e9
  FROM o JOIN pg USING (g)
),
wn AS (
  -- truncate-toward-zero division (Spark's `div`), not DuckDB's
  -- flooring `//`: snapped within-group sums can be epsilon-negative
  SELECT g,
         (CASE WHEN sum(t_e9) >= 0 THEN sum(t_e9) // count(*)
               ELSE -((-sum(t_e9)) // count(*)) END)::BIGINT
           AS theil_g_e9
  FROM terms GROUP BY 1
)
SELECT pg.g AS o_orderpriority,
       pg.ng AS n_rows,
       (pg.sg::HUGEINT * 1000000 // t.s)::BIGINT AS share_e6,
       wn.theil_g_e9,
       round((pg.sg::DOUBLE / t.s)
             * ln((pg.sg::DOUBLE * t.n) / (t.s::DOUBLE * pg.ng))
             * 1e9)::BIGINT AS between_term_e9,
       round((pg.sg::DOUBLE / t.s) * wn.theil_g_e9)::BIGINT
         AS within_term_e9
FROM pg JOIN wn USING (g), t
ORDER BY o_orderpriority
"""


def q_theil_sen_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST trend per event type (Theil 1950 / Sen 1968):
    the median of all pairwise slopes of daily volume against day
    index — the breakdown-point-29% companion to `trend_slopes`' OLS
    (one wild day drags least squares; it is one vote here). Slopes
    are e6-snapped doubles of exact integer rationals; the median is
    the LOWER nearest-rank element (no averaging — integer-exact,
    engine-portable). Returns ``(event_type, n_days, n_pairs,
    slope_e6)``.

    Scale shape: events reduce to the (type, day) count table first
    (map-side combined); the pair explode is a per-type self-join of
    that DAYS-SPINE-sized frame (n_days² pairs per type — bounded by
    the calendar, never by event volume); rank selection is a
    per-type window."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    base = daily.agg(F.min("day").alias("d0")).first()["d0"]
    d = daily.select(
        "event_type",
        F.datediff("day", F.lit(base)).cast("long").alias("x"),
        "y",
    )
    a = d.select("event_type", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select("event_type", F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, "event_type").filter(F.col("xa") < F.col("xb"))
    slopes = pairs.select(
        "event_type",
        F.round(
            (F.col("yb") - F.col("ya")).cast("double")
            * 1e6
            / (F.col("xb") - F.col("xa")).cast("double"),
            0,
        )
        .cast("long")
        .alias("s_e6"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("s_e6").asc())
    cnt = Window.partitionBy("event_type")
    med = (
        slopes.withColumn("rn", F.row_number().over(w))
        .withColumn("np", F.count(F.lit(1)).over(cnt))
        .filter(F.col("rn") == F.expr("(np + 1) div 2"))
    )
    ndays = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        med.join(F.broadcast(ndays), "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("np").cast("long").alias("n_pairs"),
            F.col("s_e6").alias("slope_e6"),
        )
        .orderBy("event_type")
    )


Q_THEIL_SEN_ORACLE = """
WITH daily AS (
  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS y
  FROM events GROUP BY 1, 2
),
d0 AS (SELECT min(day) AS d FROM daily),
d AS (
  SELECT event_type,
         date_diff('day', (SELECT d FROM d0), day)::BIGINT AS x, y
  FROM daily
),
pairs AS (
  SELECT a.event_type,
         round((b.y - a.y)::DOUBLE * 1e6 / (b.x - a.x))::BIGINT AS s_e6
  FROM d a JOIN d b ON a.event_type = b.event_type AND a.x < b.x
),
rk AS (
  SELECT event_type, s_e6,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY s_e6 ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS np
  FROM pairs
),
nd AS (SELECT event_type, count(*)::BIGINT AS n_days FROM d GROUP BY 1)
SELECT rk.event_type, nd.n_days, rk.np::BIGINT AS n_pairs,
       rk.s_e6 AS slope_e6
FROM rk JOIN nd USING (event_type)
WHERE rk.rn = (rk.np + 1) // 2
ORDER BY rk.event_type
"""


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve points of order totals (the cumulative-share curve
    the Gini index integrates — X-A26's visual/audit companion):
    decile buckets via the decomposed exact ntile, per-decile
    row/value shares and CUMULATIVE shares in exact integer e6. The
    cumulative sums run over the 10-row decile table (bounded window,
    like the equi-depth base offsets)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        ntile_assign,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    assigned = ntile_assign(orders, "vc", "o_orderkey", 10)
    per = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("_n"),
        F.sum("sv").cast("long").alias("_s"),
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cn", F.sum("n").over(w))
        .withColumn("cs", F.sum("sv").over(w))
        .select(
            "bucket",
            "n",
            F.expr("sv * 1000000 div _s").cast("long").alias("share_e6"),
            F.expr("cn * 1000000 div _n").cast("long").alias(
                "cum_pop_e6"
            ),
            F.expr("cs * 1000000 div _s").cast("long").alias(
                "cum_value_e6"
            ),
        )
        .orderBy("bucket")
    )


Q_LORENZ_ORACLE = """
WITH r AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         ntile(10) OVER (ORDER BY round(o_totalprice * 100), o_orderkey)
           AS bucket
  FROM orders
),
per AS (
  SELECT bucket, count(*)::BIGINT AS n, sum(v)::BIGINT AS sv
  FROM r GROUP BY 1
),
tot AS (SELECT sum(n)::BIGINT AS tn, sum(sv)::BIGINT AS ts FROM per)
SELECT bucket, n,
       (sv * 1000000 // ts)::BIGINT AS share_e6,
       (sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        * 1000000 // tn)::BIGINT AS cum_pop_e6,
       (sum(sv) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        * 1000000 // ts)::BIGINT AS cum_value_e6
FROM per, tot ORDER BY bucket
"""


def q_mann_whitney_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U: do urgent orders (priority 1-2) carry a
    stochastically different total price than the rest? See
    :func:`..operators.profile.mann_whitney_u` (doubled-rank exact
    integers, distributed prefix sum for the joint ranking)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        mann_whitney_u,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return mann_whitney_u(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    )


Q_MANN_WHITNEY_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
pv AS (
  SELECT v, count(*)::BIGINT AS c, sum(a)::BIGINT AS ca FROM o GROUP BY 1
),
off AS (
  SELECT v, c, ca,
         coalesce(sum(c) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::BIGINT AS o
  FROM pv
),
tot AS (
  SELECT sum(ca)::BIGINT AS na, (sum(c) - sum(ca))::BIGINT AS nb,
         sum(c)::BIGINT AS n, sum(c*c*c - c)::BIGINT AS t
  FROM pv
),
r AS (SELECT sum(ca * (2*o + c + 1))::BIGINT AS r2a FROM off)
SELECT tot.na AS n_a, tot.nb AS n_b, r.r2a AS r2_a,
       (r.r2a - tot.na * (tot.na + 1))::BIGINT AS u2_a,
       tot.t AS tie_t,
       round(((r.r2a - tot.na*(tot.na + 1) - tot.na*tot.nb) / 2.0)
             / sqrt(tot.na::DOUBLE * tot.nb / 12.0
                    * ((tot.n + 1) - tot.t::DOUBLE / (tot.n * (tot.n - 1.0))))
             * 1e6)::BIGINT AS z_e6
FROM r, tot
"""


def q_cliffs_delta_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta + Vargha-Delaney CLES between urgent (priority
    1-2) and other orders' total prices — `mann_whitney_price` says
    WHETHER the distributions differ, this says by HOW MUCH (and it
    is exactly the U test's rank-biserial correlation). See
    :func:`..operators.profile.cliffs_delta` (dominance counts over
    the per-value count table, no row-level pairs, DECIMAL(38,0)
    sums, two fixed-operand-order e6 snaps)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        cliffs_delta,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return cliffs_delta(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    )


Q_CLIFFS_DELTA_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
pv AS (
  SELECT v, count(*)::BIGINT AS c, sum(a)::BIGINT AS ca,
         (count(*) - sum(a))::BIGINT AS cb
  FROM o GROUP BY 1
),
off AS (
  SELECT v, ca, cb,
         coalesce(sum(cb) OVER (ORDER BY v
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0)::BIGINT AS offb
  FROM pv
),
tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM pv),
s AS (
  SELECT sum(ca::HUGEINT * offb) AS n_gt,
         sum(ca::HUGEINT * cb) AS n_tie
  FROM off
)
SELECT tot.na AS n_a, tot.nb AS n_b,
       s.n_gt::BIGINT AS n_gt,
       (tot.na::HUGEINT * tot.nb - s.n_gt - s.n_tie)::BIGINT AS n_lt,
       s.n_tie::BIGINT AS n_tie,
       CASE WHEN tot.na > 0 AND tot.nb > 0 THEN
         round((s.n_gt - (tot.na::HUGEINT * tot.nb - s.n_gt - s.n_tie))::DOUBLE
               / (tot.na::DOUBLE * tot.nb::DOUBLE) * 1e6)::BIGINT
       END AS delta_e6,
       CASE WHEN tot.na > 0 AND tot.nb > 0 THEN
         round((2 * s.n_gt + s.n_tie)::DOUBLE
               / (2.0 * (tot.na::DOUBLE * tot.nb::DOUBLE)) * 1e6)::BIGINT
       END AS cles_e6
FROM s, tot
"""


def q_ks_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS distance between urgent and non-urgent orders'
    total-price distributions. See
    :func:`..operators.profile.ks_two_sample` (exact integer gap
    comparison, one e9-snap of the max)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        ks_two_sample,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return ks_two_sample(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    )


Q_KS_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
pv AS (
  SELECT v, count(*)::BIGINT AS c, sum(a)::BIGINT AS ca,
         (count(*) - sum(a))::BIGINT AS cb
  FROM o GROUP BY 1
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cuma,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cumb
  FROM pv
),
tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM pv),
gaps AS (
  SELECT v, abs(cuma * tot.nb - cumb * tot.na)::BIGINT AS gap,
         tot.na, tot.nb
  FROM cum, tot
)
SELECT na AS n_a, nb AS n_b,
       round(gap * 1e9 / (na::DOUBLE * nb))::BIGINT AS d_e9,
       v AS at_v
FROM gaps ORDER BY gap DESC, v ASC LIMIT 1
"""


def q_w1_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein distance between urgent and non-urgent
    orders' total-price distributions — KS's (X-A39) transport-
    magnitude companion (X-A44), same input slice, same ``(v, c, ca)``
    sufficient statistic, EXACT INTEGER end-to-end via the
    summation-by-parts form (no lead window, no value self-join).
    See :func:`..operators.profile.wasserstein_1d`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        wasserstein_1d,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return wasserstein_1d(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    )


Q_W1_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
pv AS (
  SELECT v, count(*)::BIGINT AS c, sum(a)::BIGINT AS ca,
         (count(*) - sum(a))::BIGINT AS cb
  FROM o GROUP BY 1
),
cum AS (
  SELECT v,
         coalesce(sum(ca) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS offa,
         coalesce(sum(cb) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS offb,
         ca, cb
  FROM pv
),
tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb FROM pv),
terms AS (
  SELECT (abs(offa::HUGEINT * tot.nb - offb::HUGEINT * tot.na)
          - abs((offa + ca)::HUGEINT * tot.nb
                - (offb + cb)::HUGEINT * tot.na)) * v AS term,
         tot.na, tot.nb
  FROM cum, tot
)
SELECT na AS n_a, nb AS n_b,
       CASE WHEN na > 0 AND nb > 0
            THEN (sum(term) * 1000000 // (na::HUGEINT * nb))::BIGINT
       END AS w1_e6
FROM terms GROUP BY na, nb
"""


def q_pettitt_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt changepoint test (1979) over daily event volumes per
    type — the rank-based single-changepoint locator beside
    `cusum_changepoints`' mean-shift monitor: nonparametric (any
    monotone transform of the volumes gives the same answer), so a
    heavy-tailed day cannot fake a change the way it can in a CUSUM
    of raw deviations.

    EXACT INTEGERS end-to-end via the antisymmetry identity: ``U_t =
    Σ_{i≤t, j>t} sign(x_i − x_j)`` collapses to the cumulative sum of
    per-day GLOBAL sign-sums ``S_i = #{x_j < x_i} − #{x_j > x_i}``
    (the within-prefix pair terms cancel pairwise), and the ``S_i``
    decompose over per-value counts — so no day-pair ever forms. The
    changepoint is the smallest t maximizing |U_t| (deterministic
    under ties); the classic significance approximation ``p ≈ min(1,
    2·exp(−6K²/(T³+T²)))`` is the one double expression, e9-snapped.

    Scale shape: events reduce to the DAYS-SPINE-sized (type, day, n)
    table first; every window is over that bounded spine (the
    cusum/acf calendar contract) — raw events never enter a window.
    Returns ``(event_type, n_days, t_star, k_stat, p_e9)``."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return pettitt_from_daily(daily)


def pettitt_from_daily(daily: DataFrame) -> DataFrame:
    """:func:`q_pettitt_daily_volume` from the per-(type, day) count
    table — the mergeable-summary form shared with
    :func:`cusum_from_daily`."""
    base = daily.groupBy("event_type").agg(F.min("day").alias("d0"))
    x = daily.join(F.broadcast(base), "event_type").select(
        "event_type",
        F.datediff("day", "d0").cast("long").alias("t"),
        F.col("n").alias("v"),
    )
    pv = x.groupBy("event_type", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_v = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    less = pv.withColumn(
        "less", F.coalesce(F.sum("c").over(w_v), F.lit(0)).cast("long")
    )
    tot = pv.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_days")
    )
    sgn = less.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "v",
        "n_days",
        (F.lit(2) * F.col("less") + F.col("c") - F.col("n_days"))
        .cast("long")
        .alias("s"),
    )
    w_t = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = (
        x.join(sgn, ["event_type", "v"])
        .select("event_type", "t", "s", "n_days")
        .withColumn("u", F.sum("s").over(w_t).cast("long"))
    )
    tmax = u.groupBy("event_type").agg(F.max("t").alias("tmax"))
    cand = u.join(F.broadcast(tmax), "event_type").filter(
        F.col("t") < F.col("tmax")
    )
    best = cand.groupBy("event_type", "n_days").agg(
        F.max(
            F.struct(
                F.abs(F.col("u")).alias("k"), (-F.col("t")).alias("negt")
            )
        ).alias("b")
    )
    kd = F.col("b.k").cast("double")
    ndd = F.col("n_days").cast("double")
    p = F.lit(2.0) * F.exp(
        F.lit(-6.0)
        * kd
        * kd
        / (
            ndd * F.col("n_days") * F.col("n_days")
            + ndd * F.col("n_days")
        )
    )
    return (
        best.select(
            "event_type",
            "n_days",
            (-F.col("b.negt")).cast("long").alias("t_star"),
            F.col("b.k").cast("long").alias("k_stat"),
            F.round(F.least(F.lit(1.0), p) * 1e9, 0)
            .cast("long")
            .alias("p_e9"),
        )
        .orderBy("event_type")
    )


Q_PETTITT_ORACLE = """
WITH daily AS (
  SELECT event_type AS g, date_trunc('day', ts) AS day,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
base AS (SELECT g, min(day) AS d0 FROM daily GROUP BY 1),
x AS (
  SELECT d.g, datediff('day', b.d0, d.day)::BIGINT AS t, d.n AS v
  FROM daily d JOIN base b USING (g)
),
pv AS (SELECT g, v, count(*)::BIGINT AS c FROM x GROUP BY 1, 2),
off AS (
  SELECT g, v, c,
         coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::BIGINT AS less
  FROM pv
),
tot AS (SELECT g, sum(c)::BIGINT AS nd FROM pv GROUP BY 1),
sgn AS (
  SELECT o.g, o.v, (2*o.less + o.c - t.nd)::BIGINT AS s
  FROM off o JOIN tot t USING (g)
),
u AS (
  SELECT x.g, x.t,
         sum(s.s) OVER (PARTITION BY x.g ORDER BY x.t
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS u
  FROM x JOIN sgn s ON x.g = s.g AND x.v = s.v
),
mx AS (SELECT g, max(t) AS tmax FROM u GROUP BY 1),
best AS (
  SELECT g, k, t FROM (
    SELECT u.g, abs(u.u)::BIGINT AS k, u.t,
           row_number() OVER (PARTITION BY u.g
                              ORDER BY abs(u.u) DESC, u.t ASC) AS rn
    FROM u JOIN mx ON u.g = mx.g AND u.t < mx.tmax
  ) WHERE rn = 1
)
SELECT b.g AS event_type, tot.nd AS n_days, b.t AS t_star, b.k AS k_stat,
       round(least(1.0, 2.0 * exp(-6.0 * b.k::DOUBLE * b.k::DOUBLE
             / (tot.nd::DOUBLE * tot.nd * tot.nd
                + tot.nd::DOUBLE * tot.nd))) * 1e9)::BIGINT AS p_e9
FROM best b JOIN tot ON b.g = tot.g
ORDER BY event_type
"""


def q_acf_daily_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..3 autocorrelation of daily event volumes per type — the
    seasonality/momentum screen beside `dow_seasonality`'s weekday
    profile. The mean enters as an exact rational (terms are ``T·x_t
    − S``, integers), so the one double division per (type, lag) is
    the e6 snap. Missing days simply don't pair (calendar join on
    ``t + k``).

    Scale shape: events reduce to the DAYS-SPINE-sized (type, t, d)
    table first; the lag join is an equi-join on (type, t+k) over
    that spine (3 exploded lags) — raw events never self-join."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    base = daily.groupBy("event_type").agg(F.min("day").alias("d0"))
    x = daily.join(F.broadcast(base), "event_type").select(
        "event_type",
        F.datediff("day", "d0").cast("long").alias("t"),
        "n",
    )
    tt = x.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("tc"),
    )
    c = x.join(F.broadcast(tt), "event_type").select(
        "event_type",
        "t",
        (F.col("tc") * F.col("n") - F.col("s")).cast("long").alias("d"),
    )
    # d = tc·n − s grows as (#days × daily volume), so d² wraps long
    # silently under non-ANSI at larger SFs — accumulate the products
    # in DECIMAL(38,0) (the spearman_rho policy); the e6 snap below
    # divides the decimals in double
    den = c.groupBy("event_type").agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("den")
    )
    a = c.withColumn("lag", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))))
    b = c.select(
        "event_type", F.col("t").alias("t2"), F.col("d").alias("d2")
    )
    p = (
        a.join(
            b,
            (a["event_type"] == b["event_type"])
            & (b["t2"] == a["t"] + a["lag"]),
        )
        .drop(b["event_type"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d2")).alias(
                "num"
            ),
        )
    )
    return (
        p.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.round(
                F.col("num").cast("double") * 1e6 / F.col("den").cast("double"),
                0,
            )
            .cast("long")
            .alias("acf_e6"),
        )
        .orderBy("event_type", "lag")
    )


Q_ACF_ORACLE = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
b AS (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1),
x AS (
  SELECT d.event_type, date_diff('day', b.d0, d.day)::BIGINT AS t, d.n
  FROM daily d JOIN b USING (event_type)
),
tt AS (
  SELECT event_type, sum(n)::BIGINT AS s, count(*)::BIGINT AS tc
  FROM x GROUP BY 1
),
c AS (
  SELECT x.event_type, x.t, (tt.tc * x.n - tt.s)::BIGINT AS d
  FROM x JOIN tt USING (event_type)
),
den AS (SELECT event_type, sum(d*d)::BIGINT AS den FROM c GROUP BY 1),
k AS (SELECT unnest([1, 2, 3]) AS lag),
p AS (
  SELECT a.event_type, k.lag, count(*)::BIGINT AS n_pairs,
         sum(a.d * b2.d)::BIGINT AS num
  FROM c a
  CROSS JOIN k
  JOIN c b2 ON b2.event_type = a.event_type AND b2.t = a.t + k.lag
  GROUP BY 1, 2
)
SELECT p.event_type, p.lag::INT AS lag, p.n_pairs,
       round(p.num * 1e6 / den.den)::BIGINT AS acf_e6
FROM p JOIN den USING (event_type)
ORDER BY event_type, lag
"""


def q_spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag. See :func:`..operators.profile.spearman_rho`
    (doubled average-tie ranks, decimal(38,0) product sums, the pair
    decomposition that keeps row-level rank products off the plan)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        spearman_rho,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("pc"),
    )
    return spearman_rho(li, "q", "pc", group_cols=["l_returnflag"])


Q_SPEARMAN_ORACLE = """
WITH li AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
px AS (SELECT g, x, count(*)::BIGINT AS c FROM li GROUP BY 1, 2),
py AS (SELECT g, y, count(*)::BIGINT AS c FROM li GROUP BY 1, 2),
rx AS (
  SELECT g, x,
         (2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1)::BIGINT AS r2x
  FROM px
),
ry AS (
  SELECT g, y,
         (2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1)::BIGINT AS r2y
  FROM py
),
pairs AS (SELECT g, x, y, count(*)::BIGINT AS n_xy FROM li GROUP BY 1, 2, 3),
sums AS (
  SELECT p.g, sum(p.n_xy)::BIGINT AS n_rows,
         sum(p.n_xy::HUGEINT * rx.r2x) AS sx,
         sum(p.n_xy::HUGEINT * ry.r2y) AS sy,
         sum(p.n_xy::HUGEINT * rx.r2x * rx.r2x) AS sxx,
         sum(p.n_xy::HUGEINT * ry.r2y * ry.r2y) AS syy,
         sum(p.n_xy::HUGEINT * rx.r2x * ry.r2y) AS sxy
  FROM pairs p
  JOIN rx ON rx.g = p.g AND rx.x = p.x
  JOIN ry ON ry.g = p.g AND ry.y = p.y
  GROUP BY 1
)
SELECT g AS l_returnflag, n_rows,
       CASE WHEN (n_rows::DOUBLE * sxx - sx::DOUBLE * sx) > 0
             AND (n_rows::DOUBLE * syy - sy::DOUBLE * sy) > 0
            THEN round((n_rows::DOUBLE * sxy - sx::DOUBLE * sy)
                       / sqrt((n_rows::DOUBLE * sxx - sx::DOUBLE * sx)
                              * (n_rows::DOUBLE * syy - sy::DOUBLE * sy))
                       * 1e6)::BIGINT
       END AS rho_e6
FROM sums ORDER BY l_returnflag
"""


def q_anderson_darling_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-sample Anderson-Darling A² across the five order priorities'
    total-price distributions — the tail-weighted companion to
    `kruskal_priority` (location) and `ks_price_drift` (max gap) on
    the same slice. See
    :func:`..operators.profile.anderson_darling_k` (doubled-count
    integral cumulatives over a dense k×L grid, per-(group, value)
    terms e9-snapped, exact long reduction)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        anderson_darling_k,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return anderson_darling_k(orders, "vc", "o_orderpriority")


Q_ANDERSON_DARLING_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
pv AS (SELECT g, v, count(*)::BIGINT AS f FROM o GROUP BY 1, 2),
vals AS (SELECT v, sum(f)::BIGINT AS l FROM pv GROUP BY 1),
grps AS (SELECT g, sum(f)::BIGINT AS ni FROM pv GROUP BY 1),
dense AS (
  SELECT gr.g, va.v, gr.ni, coalesce(pv.f, 0)::BIGINT AS f
  FROM vals va CROSS JOIN grps gr
  LEFT JOIN pv ON pv.g = gr.g AND pv.v = va.v
),
cums AS (
  SELECT g, v, ni, f,
         coalesce(sum(f) OVER (PARTITION BY g ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::BIGINT AS off
  FROM dense
),
vcum AS (
  SELECT v, l,
         coalesce(sum(l) OVER (ORDER BY v
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0)::BIGINT AS offl
  FROM vals
),
tot AS (SELECT sum(l)::BIGINT AS n, count(*)::BIGINT AS n_vals FROM vals),
kk AS (SELECT count(*)::BIGINT AS k FROM grps),
terms AS (
  SELECT (tot.n::HUGEINT * (2*c.off + c.f)
          - c.ni::HUGEINT * (2*w.offl + w.l)) AS num,
         (2::HUGEINT * tot.n * (2*w.offl + w.l)
          - (2*w.offl + w.l)::HUGEINT * (2*w.offl + w.l)
          - tot.n::HUGEINT * w.l) AS den,
         w.l, c.ni, tot.n
  FROM cums c JOIN vcum w USING (v), tot
),
s AS (
  SELECT sum(CASE WHEN den > 0 THEN
           round(l::DOUBLE * (num::DOUBLE * num::DOUBLE)
                 / (den::DOUBLE * (ni::DOUBLE * n::DOUBLE))
                 * 1e9)::BIGINT
         ELSE 0 END)::BIGINT AS s_e9
  FROM terms
)
SELECT tot.n, kk.k, tot.n_vals,
       CASE WHEN kk.k > 1 AND tot.n_vals > 1 THEN
         round((tot.n - 1)::DOUBLE / tot.n::DOUBLE
               * (s.s_e9::DOUBLE / 1e9) * 1e6)::BIGINT
       END AS a2_e6
FROM s, tot, kk
"""


def q_kruskal_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities' total-price
    distributions. See :func:`..operators.profile.kruskal_wallis`
    (doubled joint ranks on the distributed prefix sum,
    decimal(38,0) rank-sum squares)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        kruskal_wallis,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return kruskal_wallis(orders, "vc", "o_orderpriority")


Q_KRUSKAL_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
),
gv AS (SELECT g, v, count(*)::BIGINT AS ngv FROM o GROUP BY 1, 2),
pv AS (SELECT v, sum(ngv)::BIGINT AS c FROM gv GROUP BY 1),
r2 AS (
  SELECT v,
         (2 * coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          + c + 1)::BIGINT AS r2
  FROM pv
),
pg AS (
  SELECT gv.g, sum(gv.ngv)::BIGINT AS ng,
         sum(gv.ngv::HUGEINT * r2.r2) AS r2g
  FROM gv JOIN r2 USING (v) GROUP BY 1
),
tot AS (
  SELECT sum(c)::BIGINT AS n, sum(c*c*c - c)::BIGINT AS tie_t FROM pv
),
s AS (
  SELECT count(*)::BIGINT AS n_groups,
         sum(r2g::DOUBLE * r2g::DOUBLE / ng) AS s
  FROM pg
)
SELECT tot.n, s.n_groups, tot.tie_t,
       round((3.0 * s.s / (tot.n::DOUBLE * (tot.n + 1))
              - 3.0 * (tot.n + 1)) * 1e6)::BIGINT AS h_e6,
       CASE WHEN (1.0 - tot.tie_t::DOUBLE
                  / (tot.n::DOUBLE ^ 3 - tot.n)) > 0
            THEN round((3.0 * s.s / (tot.n::DOUBLE * (tot.n + 1))
                        - 3.0 * (tot.n + 1))
                       / (1.0 - tot.tie_t::DOUBLE
                          / (tot.n::DOUBLE ^ 3 - tot.n)) * 1e6)::BIGINT
       END AS h_tied_e6
FROM s, tot
"""


def q_kendall_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and discount tick per return
    flag — X-A41's concordance companion (X-A43): are bigger line
    items systematically more (or less) discounted? Both columns are
    BOUNDED ordinals (50 quantities × 11 discount ticks → ≤550 cells
    per group), the input contract that keeps the cell self-join
    control-plane-sized. See :func:`..operators.profile.kendall_tau`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        kendall_tau,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
    )
    return kendall_tau(li, "q", "disc", group_cols=["l_returnflag"])


Q_KENDALL_ORACLE = """
WITH li AS (
  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_discount * 100) AS BIGINT) AS y
  FROM lineitem
),
cells AS (SELECT g, x, y, count(*)::BIGINT AS c FROM li GROUP BY 1, 2, 3),
t1 AS (
  SELECT g, sum(cx::HUGEINT * (cx - 1)) AS t1 FROM (
    SELECT g, x, sum(c)::BIGINT AS cx FROM cells GROUP BY 1, 2
  ) GROUP BY 1
),
t2 AS (
  SELECT g, sum(cy::HUGEINT * (cy - 1)) AS t2 FROM (
    SELECT g, y, sum(c)::BIGINT AS cy FROM cells GROUP BY 1, 2
  ) GROUP BY 1
),
tot AS (SELECT g, sum(c)::BIGINT AS n_rows FROM cells GROUP BY 1),
pairsum AS (
  SELECT a.g,
         sum(CASE WHEN a.y < b.y THEN a.c::HUGEINT * b.c ELSE 0 END) AS nc,
         sum(CASE WHEN a.y > b.y THEN a.c::HUGEINT * b.c ELSE 0 END) AS nd
  FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x
  GROUP BY 1
)
SELECT tot.g AS l_returnflag, tot.n_rows,
       coalesce(p.nc, 0)::BIGINT AS n_concordant,
       coalesce(p.nd, 0)::BIGINT AS n_discordant,
       CASE WHEN (tot.n_rows::HUGEINT * (tot.n_rows - 1) - t1.t1) > 0
             AND (tot.n_rows::HUGEINT * (tot.n_rows - 1) - t2.t2) > 0
            THEN round((coalesce(p.nc, 0) - coalesce(p.nd, 0))::DOUBLE * 2e6
                       / sqrt((tot.n_rows::HUGEINT * (tot.n_rows - 1)
                               - t1.t1)::DOUBLE
                              * (tot.n_rows::HUGEINT * (tot.n_rows - 1)
                                 - t2.t2)::DOUBLE))::BIGINT
       END AS tau_b_e6
FROM tot
JOIN t1 USING (g) JOIN t2 USING (g)
LEFT JOIN pairsum p USING (g)
ORDER BY l_returnflag
"""


def q_anova_price_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F of total price (cents) across the five order
    priorities — the parametric companion to `kruskal_priority` (same
    question, variance- vs rank-based; disagreement between the two
    flags heavy tails). See :func:`..operators.profile.anova_oneway`
    (exact decimal moments, the one double reduction e6-snapped)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        anova_oneway,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return anova_oneway(orders, "vc", "o_orderpriority")


Q_ANOVA_ORACLE = """
WITH o AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
m AS (
  SELECT g, count(*)::BIGINT AS n, sum(v)::HUGEINT AS s,
         sum(v::HUGEINT * v) AS q
  FROM o GROUP BY 1
),
agg AS (
  -- the one double reduction is ORDERED BY g, mirroring the Spark
  -- operator's fixed-order left fold over the g-sorted term array:
  -- identical IEEE additions in identical order on both engines
  -- (r14 advisor item — an unordered float sum could flip the e6
  -- snap by 1 between runs)
  SELECT sum(n)::BIGINT AS n, count(*)::BIGINT AS k,
         sum(s) AS ss, sum(q) AS qq,
         sum(s::DOUBLE * s::DOUBLE / n::DOUBLE ORDER BY g) AS s2n
  FROM m
)
SELECT n, k,
       CASE WHEN k > 1 AND n > k
             AND (qq::DOUBLE - s2n) > 0
            THEN round(((s2n - ss::DOUBLE * ss::DOUBLE / n::DOUBLE)
                        / (k - 1)::DOUBLE)
                       / ((qq::DOUBLE - s2n) / (n - k)::DOUBLE)
                       * 1e6)::BIGINT
       END AS f_e6,
       CASE WHEN (qq::DOUBLE - ss::DOUBLE * ss::DOUBLE / n::DOUBLE) > 0
            THEN round((s2n - ss::DOUBLE * ss::DOUBLE / n::DOUBLE)
                       / (qq::DOUBLE - ss::DOUBLE * ss::DOUBLE / n::DOUBLE)
                       * 1e6)::BIGINT
       END AS eta2_e6
FROM agg
"""


def q_welch_price_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between urgent (priority 1-2) and
    other orders' total prices — the parametric twin of
    `mann_whitney_price` on the same slice. See
    :func:`..operators.profile.welch_t` (exact decimal moments; every
    double expression has fixed operand order, so the statistic is
    bit-determined)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        welch_t,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return welch_t(
        orders, "vc", "o_orderpriority", ["1-URGENT", "2-HIGH"]
    )


Q_WELCH_ORACLE = """
WITH o AS (
  SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS a,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
sides AS (
  SELECT coalesce(sum(CASE WHEN a THEN 1 END), 0)::BIGINT AS n_a,
         coalesce(sum(CASE WHEN a THEN v::HUGEINT END), 0) AS s_a,
         coalesce(sum(CASE WHEN a THEN v::HUGEINT * v END), 0) AS q_a,
         coalesce(sum(CASE WHEN NOT a THEN 1 END), 0)::BIGINT AS n_b,
         coalesce(sum(CASE WHEN NOT a THEN v::HUGEINT END), 0) AS s_b,
         coalesce(sum(CASE WHEN NOT a THEN v::HUGEINT * v END), 0) AS q_b
  FROM o
),
d AS (
  SELECT n_a, n_b,
         ((q_a::DOUBLE - s_a::DOUBLE * s_a::DOUBLE / n_a::DOUBLE)
          / (n_a - 1)::DOUBLE) / n_a::DOUBLE AS va_n,
         ((q_b::DOUBLE - s_b::DOUBLE * s_b::DOUBLE / n_b::DOUBLE)
          / (n_b - 1)::DOUBLE) / n_b::DOUBLE AS vb_n,
         s_a::DOUBLE / n_a::DOUBLE AS m_a,
         s_b::DOUBLE / n_b::DOUBLE AS m_b
  FROM sides
)
SELECT n_a, n_b,
       CASE WHEN n_a > 1 AND n_b > 1 AND (va_n + vb_n) > 0
            THEN round((m_a - m_b) / sqrt(va_n + vb_n) * 1e6)::BIGINT
       END AS t_e6,
       CASE WHEN n_a > 1 AND n_b > 1 AND (va_n + vb_n) > 0
            THEN round((va_n + vb_n) * (va_n + vb_n)
                       / (va_n * va_n / (n_a - 1)::DOUBLE
                          + vb_n * vb_n / (n_b - 1)::DOUBLE)
                       * 1e6)::BIGINT
       END AS df_e6
FROM d
"""


def q_effect_size_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d + Hedges' g between urgent (priority 1-2) and other
    orders' total prices — the standardized-magnitude companion to
    `welch_price_urgent` on the same slice (the t says whether, d
    says by how many pooled SDs, and unlike t it does not grow with
    n). See :func:`..operators.profile.effect_size_from_moments`
    (exact decimal moments, fixed-operand-order doubles)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        effect_size,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    return effect_size(
        orders, "vc", "o_orderpriority", ["1-URGENT", "2-HIGH"]
    )


Q_EFFECT_SIZE_ORACLE = """
WITH o AS (
  SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS a,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL
),
sides AS (
  SELECT coalesce(sum(CASE WHEN a THEN 1 END), 0)::BIGINT AS n_a,
         coalesce(sum(CASE WHEN a THEN v::HUGEINT END), 0) AS s_a,
         coalesce(sum(CASE WHEN a THEN v::HUGEINT * v END), 0) AS q_a,
         coalesce(sum(CASE WHEN NOT a THEN 1 END), 0)::BIGINT AS n_b,
         coalesce(sum(CASE WHEN NOT a THEN v::HUGEINT END), 0) AS s_b,
         coalesce(sum(CASE WHEN NOT a THEN v::HUGEINT * v END), 0) AS q_b
  FROM o
),
d AS (
  SELECT n_a, n_b,
         ((q_a::DOUBLE - s_a::DOUBLE * s_a::DOUBLE / n_a::DOUBLE)
          + (q_b::DOUBLE - s_b::DOUBLE * s_b::DOUBLE / n_b::DOUBLE))
         / (n_a + n_b - 2)::DOUBLE AS sp2,
         s_a::DOUBLE / n_a::DOUBLE AS m_a,
         s_b::DOUBLE / n_b::DOUBLE AS m_b
  FROM sides
)
SELECT n_a, n_b,
       CASE WHEN n_a > 1 AND n_b > 1 AND sp2 > 0
            THEN round((m_a - m_b) / sqrt(sp2) * 1e6)::BIGINT
       END AS d_e6,
       CASE WHEN n_a > 1 AND n_b > 1 AND sp2 > 0
            THEN round((m_a - m_b) / sqrt(sp2)
                       * (1.0 - 3.0 / (4.0 * (n_a + n_b)::DOUBLE - 9.0))
                       * 1e6)::BIGINT
       END AS g_e6
FROM d
"""


def q_cramers_v_event_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the event-type × day-of-week
    contingency (X-A46) — `chi_square_cells`'s (X-A8) single-number
    companion: how STRONG is the association the per-cell audit
    flags? Exact integer end-to-end until one final sqrt: each cell's
    chi² contribution is the exact rational ``(o·n − rn·cn)² /
    (rn·cn·n)``, floor-snapped to e9 PER CELL (the `kaplan_meier`
    per-term snap — integer sums are order-free, so no float
    summation exists), then ``V = √(χ² / (n·(min(r,c)−1)))`` with the
    e6 snap. One row: ``(n, n_rows_dim, n_cols_dim, chi2_e9,
    v_e6)``.

    Scale shape: the event stream reduces to the (types × 7) cell
    table first; marginals broadcast; the reduction is cell-table-
    sized."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    row_m = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("rn")
    )
    col_m = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("cn"))
    total = cells.agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("rdim"),
        F.countDistinct("dow").cast("long").alias("cdim"),
    )
    term_e9 = F.expr(
        "CAST((CAST(o AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * cn)"
        " * (CAST(o AS DECIMAL(38,0)) * n - CAST(rn AS DECIMAL(38,0)) * cn)"
        " * 1000000000 div (CAST(rn AS DECIMAL(38,0)) * cn * n) AS DECIMAL(38,0))"
    )
    summed = (
        cells.join(F.broadcast(row_m), "event_type")
        .join(F.broadcast(col_m), "dow")
        .crossJoin(F.broadcast(total))
        .select(term_e9.alias("t"), "n", "rdim", "cdim")
        .groupBy("n", "rdim", "cdim")
        .agg(F.sum("t").alias("chi2_e9"))
    )
    minrc = F.least(F.col("rdim"), F.col("cdim")) - 1
    return summed.select(
        "n",
        F.col("rdim").alias("n_rows_dim"),
        F.col("cdim").alias("n_cols_dim"),
        F.col("chi2_e9").try_cast("long").alias("chi2_e9"),
        F.when(
            (minrc > 0) & (F.col("n") > 0),
            F.round(
                F.sqrt(
                    F.col("chi2_e9").cast("double")
                    / 1e9
                    / (F.col("n").cast("double") * minrc.cast("double"))
                )
                * 1e6,
                0,
            ).cast("long"),
        ).alias("v_e6"),
    )


Q_CRAMERS_V_ORACLE = """
WITH cells AS (
  SELECT event_type, (dayofweek(ts))::INTEGER AS dow, count(*)::BIGINT AS o
  FROM events GROUP BY 1, 2
),
rm AS (SELECT event_type, sum(o)::BIGINT AS rn FROM cells GROUP BY 1),
cm AS (SELECT dow, sum(o)::BIGINT AS cn FROM cells GROUP BY 1),
tot AS (
  SELECT sum(o)::BIGINT AS n,
         count(DISTINCT event_type)::BIGINT AS rdim,
         count(DISTINCT dow)::BIGINT AS cdim
  FROM cells
),
terms AS (
  SELECT ((o::HUGEINT * tot.n - rn::HUGEINT * cn)
          * (o::HUGEINT * tot.n - rn::HUGEINT * cn)
          * 1000000000) // (rn::HUGEINT * cn * tot.n) AS t,
         tot.n, tot.rdim, tot.cdim
  FROM cells JOIN rm USING (event_type) JOIN cm USING (dow), tot
)
SELECT n, rdim AS n_rows_dim, cdim AS n_cols_dim,
       sum(t)::BIGINT AS chi2_e9,
       CASE WHEN least(rdim, cdim) > 1 AND n > 0
            THEN round(sqrt((sum(t)::DOUBLE / 1e9)
                            / (n::DOUBLE * (least(rdim, cdim) - 1)))
                       * 1e6)::BIGINT
       END AS v_e6
FROM terms GROUP BY n, rdim, cdim
"""


def q_energy_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact energy distance between urgent and non-urgent orders'
    total-price distributions — the third drift statistic on the same
    slice (KS = worst point, W1 = transport mass, energy =
    shape-sensitive quadratic), all three rendered from one (v, c,
    ca) sufficient statistic. See
    :func:`..operators.profile.energy_distance`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        energy_distance,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return energy_distance(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    )


Q_ENERGY_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
pv AS (
  SELECT v, count(*)::BIGINT AS c, sum(a)::BIGINT AS ca,
         (count(*) - sum(a))::BIGINT AS cb
  FROM o GROUP BY 1
),
cum AS (
  SELECT v, ca, cb,
         coalesce(sum(ca) OVER w, 0)::BIGINT AS cum_ca,
         coalesce(sum(cb) OVER w, 0)::BIGINT AS cum_cb,
         coalesce(sum(ca * v) OVER w, 0)::BIGINT AS cum_sa,
         coalesce(sum(cb * v) OVER w, 0)::BIGINT AS cum_sb
  FROM pv
  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sums AS (
  SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
         sum(ca::HUGEINT * (v::HUGEINT * cum_ca - cum_sa)) AS m_aa,
         sum(cb::HUGEINT * (v::HUGEINT * cum_cb - cum_sb)) AS m_bb,
         sum(ca::HUGEINT * (v::HUGEINT * cum_cb - cum_sb)
             + cb::HUGEINT * (v::HUGEINT * cum_ca - cum_sa)) AS m_ab
  FROM cum
)
SELECT n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN (2 * ((m_ab * 1000000000) // (n_a::HUGEINT * n_b))
                  - 2 * ((m_aa * 1000000000) // (n_a::HUGEINT * n_a))
                  - 2 * ((m_bb * 1000000000) // (n_b::HUGEINT * n_b)))::BIGINT
       END AS e_e9
FROM sums
"""


def q_psi_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of total price, urgent orders as
    the reference population vs the rest — the fourth drift statistic
    on the same slice (KS = worst point, W1 = transport mass,
    energy = quadratic shape, PSI = the binned ML-ops standard with
    per-bucket attribution). See
    :func:`..operators.profile.population_stability`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        population_stability,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return population_stability(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')", buckets=10
    )


Q_PSI_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
refb AS (
  SELECT v, ntile(10) OVER (ORDER BY v) AS bucket
  FROM o WHERE a = 1
),
hib AS (SELECT bucket, max(v) AS hi FROM refb GROUP BY 1),
edges AS (
  SELECT hi FROM hib WHERE bucket < (SELECT max(bucket) FROM hib)
),
assigned AS (
  SELECT o.v, o.a,
         1 + (SELECT count(*) FROM edges e WHERE o.v > e.hi) AS bucket
  FROM o
),
per_b AS (
  SELECT bucket, min(v) AS lo, max(v) AS hi,
         sum(a)::BIGINT AS n_a, (count(*) - sum(a))::BIGINT AS n_b
  FROM assigned GROUP BY 1
),
tot AS (
  SELECT sum(a)::BIGINT AS ta, (count(*) - sum(a))::BIGINT AS tb FROM o
)
SELECT bucket, lo, hi, n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0 AND ta > 0 AND tb > 0
            THEN round(((n_a::HUGEINT * tb - n_b::HUGEINT * ta)::DOUBLE
                        / (ta::DOUBLE * tb::DOUBLE))
                       * ln((n_a::DOUBLE * tb::DOUBLE)
                            / (n_b::DOUBLE * ta::DOUBLE))
                       * 1e9)::BIGINT
       END AS term_e9
FROM per_b, tot ORDER BY bucket
"""


def q_hellinger_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between urgent and non-urgent orders' total
    prices over the urgent side's decile buckets — the bounded [0,1]
    drift metric beside `psi_price_drift`'s per-bucket attribution on
    the same slice. See
    :func:`..operators.profile.hellinger_distance` (per-bucket
    Bhattacharyya terms e9-snapped, exact long sum, one final √)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        hellinger_distance,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
        "o_orderpriority",
    )
    return hellinger_distance(
        orders, "vc", "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    )


Q_HELLINGER_ORACLE = """
WITH o AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         (o_orderpriority IN ('1-URGENT', '2-HIGH'))::INT AS a
  FROM orders
),
refb AS (
  SELECT v, ntile(10) OVER (ORDER BY v) AS bucket
  FROM o WHERE a = 1
),
hib AS (SELECT bucket, max(v) AS hi FROM refb GROUP BY 1),
edges AS (
  SELECT hi FROM hib WHERE bucket < (SELECT max(bucket) FROM hib)
),
assigned AS (
  SELECT o.v, o.a,
         1 + (SELECT count(*) FROM edges e WHERE o.v > e.hi) AS bucket
  FROM o
),
per_b AS (
  SELECT bucket, sum(a)::BIGINT AS n_a,
         (count(*) - sum(a))::BIGINT AS n_b
  FROM assigned GROUP BY 1
),
tot AS (
  SELECT sum(a)::BIGINT AS ta, (count(*) - sum(a))::BIGINT AS tb FROM o
),
terms AS (
  SELECT CASE WHEN ta > 0 AND tb > 0 THEN
           round(sqrt((n_a::DOUBLE / ta::DOUBLE)
                      * (n_b::DOUBLE / tb::DOUBLE)) * 1e9)::BIGINT
         END AS t9,
         ta, tb
  FROM per_b, tot
)
SELECT ta AS n_a, tb AS n_b, count(*)::BIGINT AS n_buckets,
       CASE WHEN ta > 0 AND tb > 0 THEN sum(t9)::BIGINT END AS bc_e9,
       CASE WHEN ta > 0 AND tb > 0 THEN
         round(sqrt(greatest(0.0, 1.0 - sum(t9)::DOUBLE / 1e9))
               * 1e6)::BIGINT
       END AS h_e6
FROM terms GROUP BY ta, tb
"""


def q_pearson_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's four
    measures (quantity, price cents, discount ticks, tax ticks) —
    the linear screen beside `spearman_qty_price` / `kendall_*`'s
    monotone ones. One pass, exact decimal cross-moments. See
    :func:`..operators.profile.pearson_matrix`."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        pearson_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_t"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax_t"),
    )
    return pearson_matrix(li, ["qty", "price_c", "disc_t", "tax_t"])


def _pearson_oracle() -> str:
    cols = ["qty", "price_c", "disc_t", "tax_t"]
    arms = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            arms.append(f"""
SELECT '{a}' AS col_a, '{b}' AS col_b, n AS n_rows,
       CASE WHEN (n::DOUBLE * q_{a}_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE) > 0
             AND (n::DOUBLE * q_{b}_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE) > 0
            THEN round((n::DOUBLE * q_{a}_{b}::DOUBLE - s_{a}::DOUBLE * s_{b}::DOUBLE)
                       / sqrt((n::DOUBLE * q_{a}_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE)
                              * (n::DOUBLE * q_{b}_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE))
                       * 1e6)::BIGINT
       END AS r_e6
FROM m""")
    sums = ["count(*)::BIGINT AS n"]
    for c in cols:
        sums.append(f"sum({c}::HUGEINT) AS s_{c}")
        sums.append(f"sum({c}::HUGEINT * {c}) AS q_{c}_{c}")
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(f"sum({a}::HUGEINT * {b}) AS q_{a}_{b}")
    return f"""
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_t,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_t
  FROM lineitem
),
m AS (SELECT {", ".join(sums)} FROM li)
SELECT * FROM ({" UNION ALL ".join(arms)}) ORDER BY col_a, col_b
"""


Q_PEARSON_ORACLE = _pearson_oracle()
