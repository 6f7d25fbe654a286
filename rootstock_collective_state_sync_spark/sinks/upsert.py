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

One entry point, two physical paths, chosen by the batch's type:

- **rows held on the driver** (an Arrow table: what the sync loop
  builds from GraphQL pages, bounded by its ``merge_chunk_rows``; or a
  list of tuples in the table's column order, which
  :func:`prepare_rows` turns into one) merge with pyarrow and start no
  Spark job. The work is columnar: Arrow casts the batch and checks
  NOT NULL, a group-by over the row index keeps each key's last row
  (skipped when a single-column key does not repeat),
  :func:`..table.bucket_ids` hashes the keys into the buckets
  :func:`bucket_expr` gives them, and a sort by bucket id splits the
  rows. Only the affected buckets' files are read, and each affected
  bucket is rewritten as one file. For a block of tens of rows, the
  fixed cost of a Spark action is most of the work, so this is what
  makes a block visible in milliseconds;
- **DataFrames** (bulk hydration, rollups) merge in Spark: the batch
  is hashed into the table's fixed buckets, only the affected buckets
  are read back, merged latest-wins with a window, and rewritten. Into
  a table with no files the merge is a plain write in one job.

Both paths write the same layout and commit through
:meth:`VersionedTable.commit_buckets` with the same retry, so a table
takes merges from either path in any order. A merge rewrites every
bucket its keys hash into, so the bytes it writes scale with the rows
per touched bucket (table size over bucket count), not with the batch.
"""

from __future__ import annotations

from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import (
    BUCKET_COL,
    CommitConflict,
    VersionedTable,
    arrow_schema,
    bucket_expr,
    bucket_ids,
    with_retry,
)

_SEQ = "__seq"
_NOT_NULL = "NOT NULL violation in batch for one of"


def prepare_batch(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project an incoming batch onto the declared schema.

    - drops undeclared columns (``dbUpsert.ts:7-11``);
    - flattens nested FK structs ``{id: …}`` to the id value
      (``dbUpsert.ts:13-21``);
    - casts to declared types (overflow raises — uint256 policy);
    - raises when a declared NOT NULL column is missing or null
      (Spark does not enforce nullability on write; the reference
      delegated this to Postgres constraints).
    """
    out = _project(df, schema)
    required = [f.name for f in schema.fields if not f.nullable]
    if required:
        # engine-side NOT NULL enforcement, one distributed pass
        bad = out.filter(
            " OR ".join(f"`{c}` IS NULL" for c in required)
        ).limit(1).count()
        if bad:
            raise ValueError(f"{_NOT_NULL} {required}")
    return out


def _project(df: DataFrame, schema: T.StructType) -> DataFrame:
    """:func:`prepare_batch` without its NOT NULL probe."""
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
    """:func:`prepare_batch` for an Arrow table: the schema's columns in
    its order, cast to its types (a value out of range raises); a null
    in a NOT NULL column raises."""
    out = src.select(schema.names).cast(arrow_schema(schema))
    required = [f.name for f in schema.fields if not f.nullable]
    if any(out[c].null_count for c in required):
        raise ValueError(f"{_NOT_NULL} {required}")
    return out


def merge_upsert(
    table: VersionedTable,
    batch: DataFrame | pa.Table | list[tuple],
    meta: dict[str, Any] | None = None,
    max_retries: int = 3,
    initial_delay: float = 0.1,
) -> int:
    """MERGE ``batch`` INTO ``table`` ON its merge keys; returns the new
    table version (or the current one for an empty batch).

    ``batch`` is a DataFrame (merged in Spark) or rows held on the
    driver, merged there with no Spark job: an Arrow table with the
    table's column names, or a list of tuples in its column order.
    """
    if isinstance(batch, (pa.Table, list, tuple)):
        return _merge_arrow(table, batch, meta, max_retries, initial_delay)
    m0 = table.manifest()
    schema, keys, nb = m0.schema, m0.merge_keys, m0.num_buckets
    if not m0.buckets:
        try:
            return _write_into_empty(table, batch, m0, meta)
        except CommitConflict:
            pass  # another writer filled the table first: merge into it
    src = prepare_batch(batch, schema)
    if not src.take(1):
        return m0.version

    # last occurrence of a key in the batch wins: tag arrival order
    # BEFORE any shuffle moves rows around.
    src = src.withColumn(_SEQ, F.monotonically_increasing_id())
    src = src.withColumn(BUCKET_COL, bucket_expr(keys, nb)).cache()
    try:
        affected = [r[0] for r in src.select(BUCKET_COL).distinct().collect()]

        def attempt() -> int:
            prev = table.manifest()
            tgt = (
                table.read(buckets=affected)
                .withColumn(_SEQ, F.lit(-1).cast("long"))
                .withColumn(BUCKET_COL, bucket_expr(keys, nb))
            )
            merged = _last_per_key(tgt.unionByName(src), keys).select(*schema.names)
            # merged covers exactly the affected buckets (src and tgt
            # were both restricted to them); empty list drops a bucket.
            new_files = table._write_tx(merged, nb, keys)
            replaced = {str(b): new_files.get(str(b), []) for b in affected}
            return table.commit_buckets(replaced, prev.version, meta=meta)

        return with_retry(attempt, max_retries=max_retries, initial_delay=initial_delay)
    finally:
        src.unpersist()


def _last_per_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keep each key's last row; ``_SEQ`` orders the rows."""
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(F.col(_SEQ).desc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)


def _write_into_empty(table: VersionedTable, batch: DataFrame, m0, meta) -> int:
    """Merge into a table with no files: a plain write in one job.
    NOT NULL is checked in the same pass, and the last row per key is
    kept."""
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
    # tag arrival order before the shuffle moves rows around
    src = src.withColumn(_SEQ, F.monotonically_increasing_id())
    merged = _last_per_key(src, m0.merge_keys).select(*schema.names)
    try:
        new_files = table._write_tx(merged, m0.num_buckets, m0.merge_keys)
    except Exception as exc:
        if _NOT_NULL in str(exc):
            raise ValueError(msg) from None
        raise
    if not new_files:
        return m0.version
    return table.commit_buckets(new_files, m0.version, meta=meta)


def _merge_arrow(
    table: VersionedTable,
    src: pa.Table | list[tuple],
    meta: dict[str, Any] | None,
    max_retries: int,
    initial_delay: float,
) -> int:
    """The driver-side merge: pyarrow reads and writes, no Spark job."""
    m0 = table.manifest()
    schema, keys, nb = m0.schema, m0.merge_keys, m0.num_buckets
    if not isinstance(src, pa.Table):
        src = prepare_rows(src, schema)
    src = _conform(src, schema)
    if not src.num_rows:
        return m0.version
    keep = np.arange(src.num_rows)
    if len(keys) > 1 or pc.count_distinct(src[keys[0]], mode="all").as_py() < len(keep):
        # last occurrence of a key wins: the highest row index per key
        seq = pa.Table.from_arrays([src[k] for k in keys] + [pa.array(keep)], names=keys + [_SEQ])
        last = seq.group_by(keys, use_threads=False).aggregate([(_SEQ, "max")])
        keep = np.sort(last[_SEQ + "_max"].to_numpy())
    # split into buckets: sort the kept rows by bucket id
    buckets = bucket_ids(src, keys, [schema[k].dataType for k in keys], nb)[keep]
    order = np.argsort(buckets, kind="stable")
    src, buckets = src.take(keep[order]), buckets[order]
    starts = np.flatnonzero(np.diff(buckets, prepend=-1))
    ends = np.append(starts[1:], len(buckets))
    parts = {int(buckets[a]): src.slice(a, b - a) for a, b in zip(starts, ends)}

    def attempt() -> int:
        prev = table.manifest()
        out = {}
        for b, part in parts.items():
            tgt = table.read_files(prev.files([b]), part.schema)
            if tgt.num_rows:
                tgt = tgt.filter(pc.invert(_key_in(tgt, part, keys)))
                part = pa.concat_tables([tgt, part])
            out[b] = part
        return table.commit_buckets(table.write_buckets(out), prev.version, meta=meta)

    return with_retry(attempt, max_retries=max_retries, initial_delay=initial_delay)


def _key_in(tgt: pa.Table, src: pa.Table, keys: list[str]):
    """Mask of the ``tgt`` rows whose key occurs in ``src`` (a null
    key part matches a null, as in the Spark path's window)."""
    if len(keys) == 1:
        return pc.is_in(tgt[keys[0]], value_set=src[keys[0]].combine_chunks())
    return pc.is_in(_key_bytes(tgt, keys), value_set=_key_bytes(src, keys).combine_chunks())


def _key_bytes(tbl: pa.Table, keys: list[str]) -> pa.ChunkedArray:
    """Each row's composite key as one binary value: per part, its
    byte length (``N`` for null), ``:`` and its bytes. The length
    prefix keeps the encoding unambiguous."""
    pieces = []
    for k in keys:
        col = tbl[k]
        if not (pa.types.is_binary(col.type) or pa.types.is_string(col.type)):
            col = col.cast(pa.string())
        col = col.cast(pa.binary())
        size = pc.fill_null(pc.binary_length(col).cast(pa.string()), "N")
        pieces += [size.cast(pa.binary()), pc.fill_null(col, b"")]
    return pc.binary_join_element_wise(*pieces, b":")
