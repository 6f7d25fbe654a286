"""Incremental rollup: folding N increments must equal a full
recompute, in batch and through the streaming foreachBatch wiring, and
a fold reads the current rows on the driver."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.operators.rollup import (
    Measure,
    merge_rollup,
    stream_into_rollup,
)
from rootstock_collective_state_sync_spark.sinks import VersionedTable
from tests.test_upsert_paths import jobs_started

DIMS = ["hour", "event_type"]
MEASURES = [
    Measure("n", "count"),
    Measure("sum_cents", "sum", "cents"),
    Measure("min_cents", "min", "cents"),
    Measure("max_cents", "max", "cents"),
]

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("hour", T.TimestampType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("sum_cents", T.LongType(), True),
        T.StructField("min_cents", T.LongType(), True),
        T.StructField("max_cents", T.LongType(), True),
    ]
)


def _t(hh: int, mm: int = 0) -> datetime.datetime:
    return datetime.datetime(2026, 2, 1, hh, mm)


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, "ts timestamp, event_type string, cents bigint"
    )
    return df.withColumn("hour", F.date_trunc("hour", F.col("ts")))


@pytest.fixture()
def rollup_table(spark, tmp_path):
    t = VersionedTable(spark, tmp_path / "rollup")
    t.create(ROLLUP_SCHEMA, merge_keys=DIMS, num_buckets=4)
    return t


BATCHES = [
    [(_t(9, 5), "click", 100), (_t(9, 40), "view", 50)],
    [(_t(9, 50), "click", 30), (_t(10, 10), "click", 700)],
    [(_t(9, 59), "click", 1), (_t(10, 30), "view", 20), (_t(11, 0), "error", 5)],
]


def _full_recompute(spark):
    all_rows = [r for b in BATCHES for r in b]
    return {
        (r.hour, r.event_type): (r.n, r.sum_cents, r.min_cents, r.max_cents)
        for r in _events(spark, all_rows)
        .groupBy(*DIMS)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").alias("sum_cents"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .collect()
    }


def _table_state(table):
    return {
        (r.hour, r.event_type): (r.n, r.sum_cents, r.min_cents, r.max_cents)
        for r in table.read().collect()
    }


def test_incremental_fold_equals_full_recompute(spark, rollup_table):
    for batch in BATCHES:
        merge_rollup(rollup_table, _events(spark, batch), DIMS, MEASURES)
    assert _table_state(rollup_table) == _full_recompute(spark)


def test_increment_touches_only_its_keys(spark, rollup_table):
    merge_rollup(rollup_table, _events(spark, BATCHES[0]), DIMS, MEASURES)
    v1 = _table_state(rollup_table)
    # an increment for one key must leave every other key's row as-is
    merge_rollup(
        rollup_table, _events(spark, [(_t(9, 30), "click", 9)]), DIMS, MEASURES
    )
    v2 = _table_state(rollup_table)
    assert v2[(_t(9), "view")] == v1[(_t(9), "view")]
    assert v2[(_t(9), "click")] == (2, 109, 9, 100)


def test_fold_into_deltas_reads_on_the_driver(spark, rollup_table, monkeypatch):
    """Past the first merge the table holds deltas; the next fold starts
    only the increment's aggregate (its map stage and its collect) and
    reads the current rows on the driver, never through a Spark scan."""
    for batch in BATCHES[:2]:
        merge_rollup(rollup_table, _events(spark, batch), DIMS, MEASURES)
    assert rollup_table.manifest().deltas
    increment = _events(spark, BATCHES[2])
    with monkeypatch.context() as m:
        m.setattr(VersionedTable, "read", lambda *a, **k: pytest.fail("Spark read of the rollup"))
        before = jobs_started(spark)
        merge_rollup(rollup_table, increment, DIMS, MEASURES)
        assert jobs_started(spark) - before <= 2
    assert _table_state(rollup_table) == _full_recompute(spark)


def test_dims_must_be_the_merge_keys(spark, rollup_table):
    v0 = rollup_table.current_version()
    with pytest.raises(ValueError, match="merge keys"):
        merge_rollup(rollup_table, _events(spark, BATCHES[0]), ["event_type", "hour"], MEASURES)
    assert rollup_table.current_version() == v0


def test_streaming_fold_equals_batch(spark, rollup_table, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i, batch in enumerate(BATCHES):
        _events(spark, batch).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema(_events(spark, BATCHES[0]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_into_rollup(
        stream,
        rollup_table,
        DIMS,
        MEASURES,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert _table_state(rollup_table) == _full_recompute(spark)
