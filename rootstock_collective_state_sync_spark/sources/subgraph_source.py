"""Spark Data Source for GraphQL subgraphs (Spark 4 Python Data
Source API).

Usage::

    spark.dataSource.register(SubgraphDataSource)
    df = (spark.read.format("subgraph")
          .option("url", "https://gateway.thegraph.com/api/.../id/...")
          .option("config_path", "config/default.yml")
          .option("entity", "VoteCast")
          .option("page_size", 1000)
          .option("num_partitions", 8)
          .load())

Scale design (replaces the reference's serial driver loop,
``subgraphSyncer.ts:88-133``):

- **Partition-parallel keyset pagination (X7)**: the id space (The
  Graph ids are lowercase ``0x…`` hex, compared as strings) is split
  into ``num_partitions`` ranges; every executor walks its own
  ``id_gt`` cursor within ``[lower, upper)`` bounds concurrently. The
  split comes from the observed id range (two probe requests); the
  uniform first-byte split is its fallback.
- Each page is converted by :func:`records_to_arrow`, the converter
  the driver-side sync uses, and reaches Spark as Arrow record
  batches: ``0x…`` hex -> bytes, numeric strings -> Decimal(38,0),
  nested FK objects ``{ id }`` -> scalar ids. A BigInt above
  Decimal(38,0) raises.

Filters, ordering and limits are Spark's: the reader fetches every row
of the entity. The engine's filtered reads go through
:func:`..graphql.create_entity_query` instead.

The HTTP transport is importable-by-path (``transport`` option =
``"module:callable"``) so tests inject canned responses without
monkeypatching across the executor process boundary.
"""

from __future__ import annotations

import binascii
import importlib
from decimal import Decimal
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.config import (
    SchemaContext,
    compile_entity,
    load_entities,
)
from rootstock_collective_state_sync_spark.config.types import Column, Entity
from rootstock_collective_state_sync_spark.sinks.table import arrow_schema
from rootstock_collective_state_sync_spark.sources.graphql import (
    QueryOptions,
    SubgraphClient,
    create_entity_query,
    http_transport,
)


def _hex_to_bytes(v: str | None) -> bytes | None:
    if v is None:
        return None
    s = v[2:] if v.startswith("0x") else v
    if len(s) % 2:
        s = "0" + s
    return bytes.fromhex(s)


def _convert_scalar(value: Any, ref_type: str) -> Any:
    if value is None:
        return None
    if ref_type == "Bytes":
        return _hex_to_bytes(value)
    if ref_type == "BigInt":
        return Decimal(str(value))
    if ref_type == "Integer":
        return int(value)
    if ref_type == "Boolean":
        return bool(value)
    return str(value)


def _convert_column(record: dict, col: Column, ctx: SchemaContext) -> Any:
    value = record.get(col.name)
    if ctx.is_reference(col):
        # nested {id: …} (wire form) or already-flat scalar
        if isinstance(value, dict):
            value = value.get("id")
        ref_pk = ctx[col.type].column(ctx[col.type].primary_key[0])
        return _convert_scalar(value, ref_pk.type)
    if col.is_array:
        if value is None:
            return None
        return [_convert_scalar(v, col.type) for v in value]
    return _convert_scalar(value, col.type)


def records_to_rows(ctx: SchemaContext, entity: Entity, records: list[dict]) -> list[tuple]:
    """GraphQL JSON records -> tuples matching the compiled schema,
    converted cell by cell: the row-at-a-time reference that
    :func:`records_to_arrow` is checked against."""
    return [tuple(_convert_column(r, col, ctx) for col in entity.columns) for r in records]


def _strings(values: list) -> pa.Array:
    """Wire values as one string column (non-strings through ``str``)."""
    try:
        return pa.array(values, pa.string())
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return pa.array([None if v is None else str(v) for v in values], pa.string())


def _hex_column(values: list) -> pa.Array:
    """``0x…`` hex strings -> binary, the whole column decoded by one
    ``unhexlify`` of its concatenated digits (an odd-length value gets
    a leading zero, as :func:`_hex_to_bytes` gives it)."""
    raw = _strings(values)
    s = pc.replace_substring_regex(raw, pattern="^0x", replacement="")
    odd = pc.equal(pc.bit_wise_and(pc.binary_length(s), 1), 1)
    s = pc.fill_null(pc.if_else(odd, pc.binary_join_element_wise("0", s, ""), s), "")
    offsets = np.frombuffer(s.buffers()[1], np.int32)[s.offset : s.offset + len(s) + 1]
    digits = s.buffers()[2]
    data = binascii.unhexlify(memoryview(digits)[offsets[0] : offsets[-1]] if digits else b"")
    return pa.Array.from_buffers(
        pa.binary(),
        len(raw),
        [raw.buffers()[0], pa.py_buffer((offsets - offsets[0]) // 2), pa.py_buffer(data)],
        null_count=raw.null_count,
    )


def _primitive_column(values: list, ref_type: str) -> pa.Array:
    """Wire values of one primitive type as one Arrow column of the
    type :func:`compile_entity` gives it."""
    if ref_type == "Bytes":
        return _hex_column(values)
    if ref_type == "String":
        return _strings(values)
    if ref_type == "BigInt":
        return _strings(values).cast(pa.decimal128(38, 0))  # overflow raises
    if ref_type == "Integer":
        try:
            arr = pa.array(values)  # ints, or numeric strings
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            arr = pa.array([None if v is None else int(v) for v in values])
        return arr.cast(pa.int32())
    try:
        return pa.array(values, pa.bool_())
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        return pa.array([None if v is None else bool(v) for v in values], pa.bool_())


def records_to_arrow(ctx: SchemaContext, entity: Entity, records: list[dict]) -> pa.Table:
    """GraphQL JSON records -> an Arrow table of the compiled schema's
    types, built column by column: what the driver merges and what the
    DataSource reader yields. Gives the table
    ``prepare_rows(records_to_rows(...))`` gives, without a per-cell
    conversion. A BigInt above Decimal(38,0) raises."""
    target = arrow_schema(compile_entity(ctx, entity))
    cols = []
    for col, t in zip(entity.columns, target.types):
        values = [r.get(col.name) for r in records]
        if ctx.is_reference(col):
            ref = ctx[col.type]
            if len(ref.primary_key) != 1:
                raise ValueError(f"{entity.name}.{col.name}: composite foreign keys arrive as one id")
            values = [v.get("id") if isinstance(v, dict) else v for v in values]
            arr = _primitive_column(values, ref.column(ref.primary_key[0]).type)
        elif col.is_array:
            lengths = [0 if v is None else len(v) for v in values]
            flat = [x for v in values if v is not None for x in v]
            arr = pa.ListArray.from_arrays(
                pa.array(np.concatenate([[0], np.cumsum(lengths, dtype=np.int32)]), pa.int32()),
                _primitive_column(flat, col.type),
                mask=pa.array([v is None for v in values], pa.bool_()),
            )
        else:
            arr = _primitive_column(values, col.type)
        cols.append(arr.cast(t))
    return pa.Table.from_arrays(cols, schema=target)


def _id_range_bounds(num_partitions: int) -> list[tuple[str, str | None]]:
    """Split the 0x-hex id space by first byte into N (lower, upper)
    string ranges; upper=None for the last (unbounded) range. The
    STATIC split — uniform over first bytes, degenerate when every id
    shares one prefix (the reference seeds ``id_gt: '0x00'``,
    subgraphSyncer.ts:39-42, and e.g. an all-0x00-prefixed tenant
    lands every row in partition 0). The reader uses it only when
    :func:`_adaptive_id_bounds` finds no split in the observed id
    range."""
    bounds: list[tuple[str, str | None]] = []
    for i in range(num_partitions):
        lo = int(i * 256 / num_partitions)
        hi = int((i + 1) * 256 / num_partitions)
        lower = "0x00" if i == 0 else f"0x{lo:02x}"
        upper = None if i == num_partitions - 1 else f"0x{hi:02x}"
        bounds.append((lower, upper))
    return bounds


def _adaptive_id_bounds(
    min_id: str, max_id: str, num_partitions: int
) -> "list[tuple[str, str | None]] | None":
    """Split the OBSERVED [min_id, max_id] id range into N ranges on
    the hex window after the ids' common prefix — the skew remedy for
    single-prefix id spaces where the static first-byte split
    collapses to one occupied partition.

    Boundary strings are kept strictly shorter than the probed ids
    (window capped at ``len(id) - len(prefix) - 1`` hex chars) AND
    terminated with ``'/'`` — the ASCII character just below ``'0'``,
    so a boundary sorts after its bare prefix and before any hex
    continuation of it — meaning a boundary can never equal ANY id
    (even a mixed-length tenant's shorter id) and every id compares
    strictly against it lexicographically, keeping the strict
    ``id_gt lower AND id_lt upper`` range union complete and
    disjoint. First range opens at the reference's ``'0x00'`` seed
    and the last is unbounded, so the union also covers ids outside
    the probed window (late writes between probe and scan).

    Returns None (caller falls back to the static split) when the ids
    do not expose a usable window: non-0x, mixed lengths, a single
    distinct id, or no room for a shorter-than-id boundary."""
    mn, mx = str(min_id), str(max_id)
    if not (mn.startswith("0x") and mx.startswith("0x")):
        return None
    a, b = mn[2:].lower(), mx[2:].lower()
    if len(a) != len(b) or not a or a > b:
        return None
    i = 0
    while i < len(a) and a[i] == b[i]:
        i += 1
    w = min(4, len(a) - i - 1)
    if i >= len(a) or w <= 0:
        return None
    prefix = a[:i]
    lo16 = int((a[i : i + w]), 16)
    hi16 = int((b[i : i + w]), 16)
    span = hi16 - lo16 + 1
    if span < num_partitions:
        return None
    bounds: list[tuple[str, str | None]] = []
    for k in range(num_partitions):
        lower = (
            "0x00"
            if k == 0
            else f"0x{prefix}{lo16 + k * span // num_partitions:0{w}x}/"
        )
        upper = (
            None
            if k == num_partitions - 1
            else f"0x{prefix}{lo16 + (k + 1) * span // num_partitions:0{w}x}/"
        )
        bounds.append((lower, upper))
    return bounds


class IdRangePartition(InputPartition):
    def __init__(self, lower: str, upper: str | None):
        self.lower = lower
        self.upper = upper


class SubgraphReader(DataSourceReader):
    def __init__(self, options: dict):
        self.url = options["url"]
        self.config_path = options["config_path"]
        self.entity_name = options["entity"]
        self.page_size = int(options.get("page_size", 1000))
        self.num_partitions = int(options.get("num_partitions", 1))
        self.transport_path = options.get("transport")

    def partitions(self) -> list[InputPartition]:
        bounds = self._probe_adaptive_bounds() if self.num_partitions > 1 else None
        return [
            IdRangePartition(lo, hi)
            for lo, hi in bounds or _id_range_bounds(self.num_partitions)
        ]

    def _probe_adaptive_bounds(
        self,
    ) -> "list[tuple[str, str | None]] | None":
        """Driver-side planning probe (the JDBC-source min/max
        pattern): two ``first: 1`` ordered reads fetch the extreme
        ids, and the split derives from the observed range
        (:func:`_adaptive_id_bounds`). Any probe failure — transport
        error, empty entity, unusable id shapes — falls back to the
        static first-byte split, never fails the scan."""
        try:
            ctx = load_entities(self.config_path)
            client = self._client()

            def extreme(direction: str) -> "str | None":
                req = create_entity_query(
                    ctx,
                    self.entity_name,
                    QueryOptions(first=1, order_by="id", order_direction=direction),
                )
                data, _ = client.execute([req])
                recs = data.get(self.entity_name, [])
                return str(recs[0]["id"]) if recs else None

            mn, mx = extreme("asc"), extreme("desc")
            if mn is None or mx is None:
                return None
            return _adaptive_id_bounds(mn, mx, self.num_partitions)
        except Exception:
            return None

    def _client(self) -> SubgraphClient:
        transport = http_transport
        if self.transport_path:
            mod, name = self.transport_path.split(":")
            transport = getattr(importlib.import_module(mod), name)
        return SubgraphClient(url=self.url, transport=transport)

    def read(self, partition: IdRangePartition) -> Iterator[pa.RecordBatch]:
        ctx = load_entities(self.config_path)
        entity = ctx[self.entity_name]
        for page in self._client().paginate(
            ctx,
            self.entity_name,
            page_size=self.page_size,
            start_cursor=partition.lower,
            id_upper_bound=partition.upper,
        ):
            yield from records_to_arrow(ctx, entity, page).to_batches()


class SubgraphDataSource(DataSource):
    """format("subgraph") — see module docstring for options."""

    @classmethod
    def name(cls) -> str:
        return "subgraph"

    def schema(self) -> T.StructType:
        ctx = load_entities(self.options["config_path"])
        return compile_entity(ctx, ctx[self.options["entity"]])

    def reader(self, schema: T.StructType) -> SubgraphReader:
        return SubgraphReader(self.options)
