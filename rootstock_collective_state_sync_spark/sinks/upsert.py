"""Keyed idempotent upsert (MERGE) into a :class:`VersionedTable`.

Semantics (parity with the reference's ``executeUpsert``,
``src/handlers/dbUpsert.ts:50-85``):

- match on the entity's declared primary key (``dbUpsert.ts:78-79``);
- matched rows are fully updated, unmatched inserted (``ON CONFLICT …
  DO UPDATE`` with every non-key column in the update set);
- within one batch, the **last** occurrence of a key wins (Postgres
  applies multi-row inserts in order);
- undeclared keys are dropped and nested FK objects ``{id: …}`` are
  flattened to their id before writing (``filterReferenceFields``,
  ``dbUpsert.ts:13-21``);
- re-applying the same batch is a no-op on table content (idempotent);
- commit races retry with exponential backoff (``dbUpsert.ts:25-48``).

One entry point and one merge routine. Rows held on the driver (an
Arrow table: what the sync loop builds from GraphQL pages, bounded by
its ``merge_chunk_rows``; or a list of tuples in the table's column
order, which :func:`prepare_rows` turns into one) merge with pyarrow
and start no Spark job. The work is columnar: Arrow casts the batch
and checks NOT NULL, :func:`..table.last_rows` keeps each key's last
row, and :func:`..table.bucket_ids` hashes the keys into the buckets
:func:`bucket_expr` gives them. The batch, sorted by bucket, is then
appended to the table as one delta file, and no base file is read or
written, so the merge costs what the batch costs (the reference's
``ON CONFLICT`` upsert costs the same at any table size). A merge
*folds* instead when the table has no base rows, already holds
``FOLD_DELTAS`` deltas, or its delta rows and the batch pass
``FOLD_SHARE`` of its base rows: it reads each delta file once and the
base files of every bucket the deltas or the batch touch, lays the
deltas, then the batch, over the base rows key by key, rewrites those
buckets one file each and clears the delta list. Deltas therefore stay
a bounded share of the table, and each row is rewritten O(1) times
amortised, as in an LSM tree's merge.

A DataFrame (a rollup increment, a bulk hydration) is projected onto
the schema in Spark and collected once with ``toArrow()`` into that
same merge, so its callers send only batches that fit on the driver.
Into a table with no files it is written instead, through one shuffle
and without leaving Spark: the partition-parallel DataSource's bulk
hydration lands there.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import (
    BUCKET_COL,
    SEQ_COL,
    CommitConflict,
    Manifest,
    VersionedTable,
    arrow_schema,
    bucket_expr,
    bucket_ids,
    last_per_key,
    last_rows,
    overlay,
    with_retry,
)

_NOT_NULL = "NOT NULL violation in batch for one of"

#: A driver merge folds once the table holds this many deltas, which
#: bounds the files a reader opens per table.
FOLD_DELTAS = 8
#: ... or once its delta rows and the batch would pass this share of its
#: base rows, which bounds the rows a reader resolves.
FOLD_SHARE = 1.0


def _project(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project a DataFrame batch onto the declared schema: undeclared
    columns are dropped (``dbUpsert.ts:7-11``), nested FK structs
    ``{id: …}`` become the id (``dbUpsert.ts:13-21``), and columns are
    cast to the declared types (overflow raises: uint256 policy). A
    missing NOT NULL column raises; a null in one is the merge's
    check."""
    in_fields = {f.name: f for f in df.schema.fields}
    cols = []
    for f in schema.fields:
        if f.name not in in_fields:
            if not f.nullable:
                raise ValueError(f"batch missing NOT NULL column {f.name!r}")
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        src = in_fields[f.name]
        c = F.col(f.name)
        if isinstance(src.dataType, T.StructType) and "id" in src.dataType.names:
            c = c.getField("id")  # FK object -> scalar id
        cols.append(c.cast(f.dataType).alias(f.name))
    return df.select(*cols)


def prepare_rows(rows: list[tuple], schema: T.StructType) -> pa.Table:
    """Rows held on the driver as tuples in the schema's column order,
    as an Arrow table of the schema's types. Nested FK objects
    ``{id: …}`` are flattened to the id, and a value out of range (such
    as a decimal above 10^38-1) raises. The NOT NULL check is the
    merge's."""
    names = schema.names
    for r in rows:
        if len(r) != len(names):
            raise ValueError(f"row has {len(r)} values, schema has {len(names)} columns")
    cols = [
        [v.get("id") if isinstance(v, dict) else v for v in col]
        for col in zip(*rows)
    ] or [[] for _ in names]
    target = arrow_schema(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(cols, target.types)], schema=target
    )


def _conform(src: pa.Table, schema: T.StructType) -> pa.Table:
    """An Arrow batch projected onto ``schema``: its columns in its
    order, cast to its types (a value out of range raises); a null in a
    NOT NULL column raises."""
    out = src.select(schema.names).cast(arrow_schema(schema))
    required = [f.name for f in schema.fields if not f.nullable]
    if any(out[c].null_count for c in required):
        raise ValueError(f"{_NOT_NULL} {required}")
    return out


def merge_upsert(
    table: VersionedTable,
    batch: DataFrame | pa.Table | list[tuple],
    meta: dict[str, Any] | None = None,
) -> int:
    """MERGE ``batch`` INTO ``table`` ON its merge keys; returns the new
    table version (or the current one for an empty batch).

    ``batch`` is rows held on the driver, merged there with no Spark
    job (an Arrow table with the table's column names, or a list of
    tuples in its column order), or a DataFrame: written in Spark into
    a table with no files, else collected into the same driver merge.
    """
    if isinstance(batch, DataFrame):
        m0 = table.manifest()
        if not m0.buckets and not m0.deltas:
            try:
                return _write_into_empty(table, batch, m0, meta)
            except CommitConflict:
                pass  # another writer filled the table first: merge into it
        batch = _project(batch, m0.schema).toArrow()
    return _merge_arrow(table, batch, meta)


def _write_into_empty(table: VersionedTable, batch: DataFrame, m0, meta) -> int:
    """Merge into a table with no files: a plain write through one
    shuffle. NOT NULL is checked in the same pass, and the last row per
    key is kept."""
    schema = m0.schema
    required = [f.name for f in schema.fields if not f.nullable]
    msg = f"{_NOT_NULL} {required}"
    src = _project(batch, schema).select(
        *[
            F.coalesce(F.col(f.name), F.raise_error(F.lit(msg)).cast(f.dataType)).alias(f.name)
            if not f.nullable
            else F.col(f.name)
            for f in schema.fields
        ]
    )
    try:
        new_files = table.write_bucketed(_last_per_key_bucketed(src, m0.merge_keys, m0.num_buckets))
    except Exception as exc:
        if _NOT_NULL in str(exc):
            raise ValueError(msg) from None
        raise
    if not new_files:
        return m0.version
    return table.commit_buckets(new_files, m0.version, meta=meta, rows=table.counted(new_files))


def _last_per_key_bucketed(src: DataFrame, keys: list[str], num_buckets: int) -> DataFrame:
    """Each key's last row of ``src`` with its ``__bucket``, partitioned
    by bucket through one shuffle: the bucket is a function of the key,
    so the window over ``(__bucket, keys)`` runs inside the partitions
    the write needs."""
    # tag arrival order before the shuffle moves rows around
    src = src.withColumn(SEQ_COL, F.monotonically_increasing_id())
    src = src.withColumn(BUCKET_COL, bucket_expr(keys, num_buckets)).repartition(F.col(BUCKET_COL))
    return last_per_key(src, [BUCKET_COL] + keys).drop(SEQ_COL)


def _merge_arrow(
    table: VersionedTable, src: pa.Table | list[tuple], meta: dict[str, Any] | None
) -> int:
    """The driver-side merge: a delta append or a fold, pyarrow reads
    and writes, no Spark job."""
    m0 = table.manifest()
    schema, keys, nb = m0.schema, m0.merge_keys, m0.num_buckets
    if not isinstance(src, pa.Table):
        src = prepare_rows(src, schema)
    src = _conform(src, schema)
    if not src.num_rows:
        return m0.version
    src = src.take(last_rows(src, keys))
    ids = bucket_ids(src, keys, [schema[k].dataType for k in keys], nb)
    src = src.append_column(BUCKET_COL, pa.array(ids, pa.int32()))
    src = src.take(np.argsort(ids, kind="stable"))

    def attempt() -> int:
        prev = table.manifest()
        if _folds(table, prev, src.num_rows):
            return _fold(table, prev, src, meta)
        return table.commit_buckets({}, prev.version, meta=meta, delta=table.write_delta(src))

    return with_retry(attempt)


def _folds(table: VersionedTable, m: Manifest, batch_rows: int) -> bool:
    """Whether a driver merge of ``batch_rows`` rows into ``m`` folds.
    Every count comes from the manifest."""
    base = table.base_rows(m)
    pending = sum(d["rows"] for d in m.deltas) + batch_rows
    return not base or len(m.deltas) >= FOLD_DELTAS or pending > FOLD_SHARE * base


def _fold(table: VersionedTable, m: Manifest, src: pa.Table, meta) -> int:
    """Rewrite the buckets that ``m``'s deltas and ``src`` (the batch,
    with its ``__bucket`` column) touch, with the deltas and then the
    batch laid over their base rows, and clear the delta list. Each
    delta file and each touched bucket's base files are read once."""
    keys = m.merge_keys
    if m.deltas:
        src = pa.concat_tables([table.read_deltas(m, arrow_schema(m.schema)), src])
        src = src.take(last_rows(src, keys))
        src = src.take(np.argsort(src[BUCKET_COL].to_numpy(), kind="stable"))
    ids = src[BUCKET_COL].to_numpy()
    starts = np.flatnonzero(np.diff(ids, prepend=-1))
    ends = np.append(starts[1:], len(ids))
    out = {}
    for a, z in zip(starts, ends):
        b, part = int(ids[a]), src.slice(a, z - a).drop_columns([BUCKET_COL])
        out[b] = overlay(table.read_files(m.files([b]), part.schema), part, keys)
    rows = {str(b): part.num_rows for b, part in out.items()}
    return table.commit_buckets(table.write_buckets(out), m.version, meta=meta, rows=rows)
