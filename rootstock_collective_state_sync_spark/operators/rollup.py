"""Incremental rollup maintenance — a hypertable-style continuous
aggregate over the versioned table store.

A rollup table holds pre-aggregated measures per dimension key (e.g.
hourly counts/sums per event type). :func:`merge_rollup` folds an
*increment* (the new rows of one micro-batch / sync step) into it
WITHOUT re-reading the fact table: partial-aggregate the increment in
Spark, collect it, re-aggregate it on the driver together with the
current rollup rows of the touched keys, and MERGE those keys back.
The fact table is never re-read, but the current rows come from the
touched buckets, which the driver reads whole (base files and deltas):
work and driver memory grow with the total size of the touched
buckets, and an increment of a few dozen keys spread over 16 buckets
touches nearly all of them. So the rollup table, not the fact table,
must fit in driver memory.

Only decomposable measures are supported (count/sum/min/max — the
algebra that folds). AVG should be stored as (sum, count) and divided
at read time. Measures assume append-only facts (the engine's event
tables, T5); retractions require the reorg path: restore the rollup
to a pre-fork version and replay (same protocol as every other table
in the store, ``streaming/reorg.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from rootstock_collective_state_sync_spark.sinks import VersionedTable, merge_upsert
from rootstock_collective_state_sync_spark.sinks.table import arrow_schema, bucket_ids, key_in

# the pyarrow aggregate that folds partials of each op
_FOLD = {
    "sum": "sum",
    "count": "sum",  # counts fold by summing partial counts
    "min": "min",
    "max": "max",
}


@dataclass(frozen=True)
class Measure:
    name: str
    op: str  # sum | count | min | max
    col: str | None = None  # source column (None for count)

    def partial(self) -> Column:
        if self.op == "count":
            return F.count(F.lit(1)).cast("bigint").alias(self.name)
        if self.op not in _FOLD:
            raise ValueError(f"non-decomposable measure op {self.op!r}")
        return getattr(F, self.op)(F.col(self.col)).alias(self.name)


def rollup_increment(increment: DataFrame, dims: list[str], measures: list[Measure]) -> DataFrame:
    """Partial aggregate of one increment (map-side combinable)."""
    return increment.groupBy(*dims).agg(*[m.partial() for m in measures])


def merge_rollup(
    table: VersionedTable,
    increment: DataFrame,
    dims: list[str],
    measures: list[Measure],
    meta: dict | None = None,
) -> int:
    """Fold ``increment`` into the rollup table, whose merge keys must
    be ``dims``. The increment is partial-aggregated in Spark and
    collected. The buckets its keys hash to are read whole on the
    driver; the rows of its keys are folded with it by pyarrow and
    merged. Returns the new table version."""
    dims = list(dims)
    m = table.manifest()
    if m.merge_keys != dims:
        raise ValueError(f"rollup dims {dims} differ from the table's merge keys {m.merge_keys}")
    names = dims + [x.name for x in measures]
    table_schema = m.schema
    schema = pa.schema([arrow_schema(table_schema).field(n) for n in names])
    delta = rollup_increment(increment, dims, measures).toArrow()
    delta = delta.select(names).cast(schema)
    if not delta.num_rows:
        return m.version
    types = [table_schema[k].dataType for k in dims]
    buckets = np.unique(bucket_ids(delta, dims, types, m.num_buckets)).tolist()
    current = table.read_arrow(buckets=buckets).select(names)
    current = current.filter(key_in(current, delta, dims))
    folded = (
        pa.concat_tables([current, delta])
        .group_by(dims, use_threads=False)
        .aggregate([(x.name, _FOLD[x.op]) for x in measures])
    )
    folded = pa.table(
        {n: folded[n] for n in dims} | {x.name: folded[f"{x.name}_{_FOLD[x.op]}"] for x in measures}
    )
    return merge_upsert(table, folded, meta=meta)


def stream_into_rollup(
    events: DataFrame,
    table: VersionedTable,
    dims: list[str],
    measures: list[Measure],
    checkpoint_dir: str,
    **stream_opts,
):
    """Continuous-aggregate wiring: every micro-batch folds into the
    rollup via :func:`merge_rollup` (foreachBatch — the merge is
    idempotent per batch only through the reorg/restore protocol, so
    exactly-once here relies on the checkpoint as usual)."""

    def fold_batch(batch: DataFrame, _epoch: int) -> None:
        merge_rollup(table, batch, dims, measures)

    return (
        events.writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(stream_opts or {"availableNow": True}))
        .start()
    )
