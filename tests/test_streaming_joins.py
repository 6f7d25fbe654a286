"""Stream-stream interval join under REAL Structured Streaming (file
source, watermarks on both sides, availableNow), cross-checked
against the identical batch join on the same data — batch == stream
for rows inside the watermark horizon, and a planted funnel validates
the interval semantics exactly."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.streaming import joins as sj

from tests.conftest import SF_SMOKE

EV_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def run_stream(spark, df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT * FROM {name}")


def stream_events_parquet(spark, sf_dir: str):
    """Stream the events table through the file source (one
    micro-batch per trigger; the downstream plan is what a Kafka or
    blockstream reader would feed).

    ``ts`` encoding is probed from the file rather than assumed: a
    TIMESTAMP(NANOS) file surfaces as LongType under ``nanosAsLong``
    and gets the same floor-to-micros conversion as the batch path
    (``plans/tables.py``); a TIMESTAMP(MICROS) file streams as a
    native timestamp untouched."""
    # probe under nanosAsLong, then restore the session conf so the
    # setting doesn't leak to unrelated reads on a shared session —
    # UNLESS the file really is TIMESTAMP(NANOS): then the streaming
    # scans themselves need the legacy conf for the lifetime of the
    # query, so it must stay set (it already is in get_spark sessions).
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prior = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    raw_schema = None
    try:
        raw_schema = (
            spark.read.option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
            .schema
        )
    finally:
        if raw_schema is None or not isinstance(
            raw_schema["ts"].dataType, T.LongType
        ):
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(raw_schema["ts"].dataType, T.LongType):
        # integral `div`, not `/`: nanos exceed 2^53 (see load_table)
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(raw_schema["ts"].dataType, T.TimestampNTZType):
        # withWatermark requires TIMESTAMP (ltz); session tz is pinned
        # to UTC in get_spark, so the cast is value-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _t(mm: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, 1, 12, 0) + datetime.timedelta(minutes=mm)


def test_planted_funnel_interval_semantics(spark, tmp_path):
    rows = [
        (1, _t(0), 7, "signup", 0.0),
        (2, _t(30), 7, "purchase", 9.0),   # inside (0, 60]
        (3, _t(60), 7, "purchase", 5.0),   # boundary: exactly +60 -> inside
        (4, _t(61), 7, "purchase", 1.0),   # outside
        (5, _t(0), 8, "purchase", 2.0),    # no prior signup
        (6, _t(10), 9, "signup", 0.0),
        (7, _t(5), 9, "purchase", 3.0),    # BEFORE signup -> excluded
        # late sentinel advances the watermark far enough to emit all
        (8, _t(600), 99, "other", 0.0),
    ]
    d = tmp_path / "ev"
    spark.createDataFrame(rows, EV_SCHEMA).coalesce(1).write.parquet(str(d))
    stream = spark.readStream.schema(EV_SCHEMA).parquet(str(d))
    out = run_stream(
        spark, sj.followup_events(stream), "t_funnel_planted"
    ).collect()
    got = {(r["user_id"], r["l_event_id"], r["r_event_id"]) for r in out}
    assert got == {(7, 1, 2), (7, 1, 3)}


def test_stream_join_equals_batch(spark):
    from rootstock_collective_state_sync_spark.plans.tables import load_table

    ev_stream = stream_events_parquet(spark, SF_SMOKE)
    got = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in run_stream(
            spark, sj.followup_events(ev_stream), "t_funnel_sf"
        ).collect()
    }
    ev_batch = load_table(spark, SF_SMOKE, "events")
    want = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in sj.followup_events(ev_batch).collect()
    }
    # stream-stream inner join: every emitted row is correct, and
    # every batch row whose BOTH sides are safely inside the final
    # watermark horizon must have been emitted. Rows near the end of
    # the stream may legitimately still sit in state; the horizon
    # check below uses the batch side to bound what must appear.
    assert got <= want
    max_ts = ev_batch.agg(F.max("ts").alias("m")).collect()[0].m
    horizon = max_ts - datetime.timedelta(hours=3)
    must = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in sj.followup_events(ev_batch)
        .filter(F.col("r_ts") < F.lit(horizon))
        .collect()
    }
    missing = must - got
    assert not missing, f"joined rows past the horizon not emitted: {sorted(missing)[:3]}"
