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
  into ``num_partitions`` first-byte ranges; every executor walks its
  own ``id_gt`` cursor within ``[lower, upper)`` bounds concurrently.
- **Filter pushdown (X1)**: equality / range / IN filters on declared
  columns are translated to GraphQL ``where`` arguments via
  ``pushFilters`` so the remote indexer filters before the wire.
- **Column pruning (X2)** arrives via the ``columns`` option (the
  Python DS API has no required-column pushdown yet); FK columns are
  always fetched as ``{ id }`` and flattened.
- **Limit pushdown** arrives via the ``limit`` option (the Python DS
  API has no ``pushLimit`` hook yet, so a ``df.limit(n)`` cannot reach
  the reader): caps rows fetched per partition and sizes the wire
  ``first:`` accordingly — ``limit=N`` with one partition fetches
  exactly one page of N.
- **Order pushdown** via the ``order_by`` / ``order_direction``
  options (reference pushes ``orderBy/orderDirection``,
  ``subgraphQueryBuilder.ts:181-184``): the indexer sorts, rows arrive
  pre-ordered, and the top-N scan (reference's top-1 watermark read)
  is ONE wire request instead of a full-table fetch plus a Spark sort.
  Requires ``limit``. With one partition this is the reference's exact
  single-request ordered read. With ``num_partitions > 1`` each
  id-range partition fetches its OWN remote-sorted ``first: limit``
  shortlist (one request per partition) — use
  :func:`read_subgraph_ordered`, which merges the shortlists with
  ``orderBy(sort_key).limit(limit)`` (Catalyst plans it as
  ``TakeOrderedAndProject`` — a per-partition top-N merge, never a
  full sort). Correctness: id ranges partition the table, so the
  global top-``limit`` is contained in the union of per-range
  top-``limit`` shortlists.
- Records are converted to the entity's compiled ``StructType`` at
  the edge: ``0x…`` hex -> bytes, numeric strings -> Decimal(38,0),
  nested FK objects -> scalar ids. The reader converts row by row
  (:func:`records_to_rows`); the driver-side sync converts whole pages
  to Arrow columns (:func:`records_to_arrow`).

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

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.config import (
    SchemaContext,
    compile_entity,
    load_entities,
)
from rootstock_collective_state_sync_spark.config.types import Column, Entity
from rootstock_collective_state_sync_spark.sinks.table import arrow_schema
from rootstock_collective_state_sync_spark.sources.graphql import (
    SubgraphClient,
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


_DECIMAL38_MAX = 10**38 - 1


def records_to_rows(
    ctx: SchemaContext,
    entity: Entity,
    records: list[dict],
    hex_shadow: bool = False,
) -> list[tuple]:
    """GraphQL JSON records -> tuples matching the compiled schema: the
    DataSource reader's converter, run on the executors. The driver
    merge takes :func:`records_to_arrow`'s columns instead; this
    row-at-a-time form is also its parity reference.

    With ``hex_shadow`` (matching ``compile_entity(..,
    hex_shadow=True)``), plain BigInt columns emit (canonical,
    ``<col>__hex``) pairs: full-uint256 values that exceed
    Decimal(38,0) arrive as (NULL, lossless hex) instead of blowing
    up the ingest — the §7 full-width fidelity option."""
    rows = []
    for r in records:
        vals: list = []
        for col in entity.columns:
            if (
                hex_shadow
                and col.type == "BigInt"
                and not col.is_array
                and not ctx.is_reference(col)
            ):
                raw = r.get(col.name)
                iv = None if raw is None else int(str(raw))
                in_range = iv is not None and -_DECIMAL38_MAX <= iv <= _DECIMAL38_MAX
                vals.append(Decimal(iv) if in_range else None)
                vals.append(None if iv is None else hex(iv))
                continue
            vals.append(_convert_column(r, col, ctx))
        rows.append(tuple(vals))
    return rows


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
    types, built column by column: what the driver merges. Gives the
    table ``prepare_rows(records_to_rows(...))`` gives, without a
    per-cell conversion. A BigInt above Decimal(38,0) raises."""
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
    lands every row in partition 0). The default ``adaptive`` mode
    (:func:`_adaptive_id_bounds`) probes the observed id range
    instead."""
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


_PUSHABLE = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, In)
_SUFFIX = {
    EqualTo: "",
    GreaterThan: "_gt",
    GreaterThanOrEqual: "_gte",
    LessThan: "_lt",
    LessThanOrEqual: "_lte",
    In: "_in",
}


def _filter_value(v: Any) -> Any:
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, Decimal):
        return int(v)
    return v


class SubgraphReader(DataSourceReader):
    def __init__(self, options: dict):
        self.url = options["url"]
        self.config_path = options["config_path"]
        self.entity_name = options["entity"]
        self.page_size = int(options.get("page_size", 1000))
        self.num_partitions = int(options.get("num_partitions", 1))
        # id-range planning mode: "adaptive" (default) probes the
        # observed min/max ids at planning time and splits on the
        # post-common-prefix hex window — balanced even when every id
        # shares a long prefix (the reference's id_gt '0x00' seed
        # world); "static" pins the probe-free uniform first-byte
        # split (golden-tested wire shapes)
        self.id_partitioning = options.get("id_partitioning", "adaptive")
        if self.id_partitioning not in ("adaptive", "static"):
            raise ValueError(
                f"id_partitioning must be 'adaptive' or 'static', "
                f"got {self.id_partitioning!r}"
            )
        self.transport_path = options.get("transport")
        self.hex_shadow = str(options.get("uint256_shadow", "false")).lower() == "true"
        # limit-N pushdown (reference pushes `first: N`,
        # subgraphQueryBuilder.ts:177-179): the Python DataSource API
        # has no pushLimit hook yet, so `df.limit(n)` over this source
        # cannot reach the reader — the `limit` OPTION is the
        # workaround. It caps rows fetched PER PARTITION (sized to
        # `first:` on the wire, so a limit-N single-partition read is
        # exactly one page of N); Spark still applies its own limit on
        # top, making the end-to-end semantics exact.
        self.limit = int(options["limit"]) if "limit" in options else None
        # orderBy/orderDirection pushdown (subgraphQueryBuilder.ts:181-184):
        # remote sort + `first: limit` = one pre-ordered page on the wire.
        self.order_by = options.get("order_by")
        self.order_direction = options.get("order_direction", "asc")
        if self.order_by is not None:
            if self.order_direction not in ("asc", "desc"):
                raise ValueError(
                    f"order_direction must be 'asc' or 'desc', "
                    f"got {self.order_direction!r}"
                )
            if self.limit is None:
                raise ValueError(
                    "order_by requires limit: a remote sort on a non-id "
                    "column is incompatible with unbounded keyset "
                    "pagination (which cursors on id) — an ordered read "
                    "fetches `first: limit` rows per partition"
                )
        self.pushed_where: dict[str, Any] = {}

    # -- pushdown ----------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Translate supported filters to GraphQL where-arguments
        (X1); yield back the ones Spark must still apply."""
        ctx = load_entities(self.config_path)
        entity = ctx[self.entity_name]
        declared = set(entity.column_names)
        for f in filters:
            if (
                isinstance(f, _PUSHABLE)
                and len(f.attribute) == 1
                and f.attribute[0] in declared
            ):
                col = f.attribute[0]
                suffix = _SUFFIX[type(f)]
                if isinstance(f, In):
                    self.pushed_where[col + suffix] = [
                        _filter_value(v) for v in f.value
                    ]
                else:
                    self.pushed_where[col + suffix] = _filter_value(f.value)
            else:
                yield f

    # -- planning / execution ----------------------------------------------

    def partitions(self) -> list[InputPartition]:
        if self.num_partitions > 1 and self.id_partitioning == "adaptive":
            bounds = self._probe_adaptive_bounds()
            if bounds is not None:
                return [IdRangePartition(lo, hi) for lo, hi in bounds]
        return [
            IdRangePartition(lo, hi)
            for lo, hi in _id_range_bounds(self.num_partitions)
        ]

    def _probe_adaptive_bounds(
        self,
    ) -> "list[tuple[str, str | None]] | None":
        """Driver-side planning probe (the JDBC-source min/max
        pattern): two ``first: 1`` ordered reads fetch the extreme
        ids WITHIN any pushed where-filters, and the split derives
        from the observed range (:func:`_adaptive_id_bounds`). Any
        probe failure — transport error, empty entity, unusable id
        shapes — falls back to the static first-byte split, never
        fails the scan."""
        from rootstock_collective_state_sync_spark.sources.graphql import (
            QueryOptions,
            create_entity_query,
        )

        try:
            ctx = load_entities(self.config_path)
            client = self._client()

            def extreme(direction: str) -> "str | None":
                req = create_entity_query(
                    ctx,
                    self.entity_name,
                    QueryOptions(
                        first=1,
                        order_by="id",
                        order_direction=direction,
                        where=self.pushed_where or None,
                    ),
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

    def read(self, partition: IdRangePartition) -> Iterator[tuple]:
        ctx = load_entities(self.config_path)
        entity = ctx[self.entity_name]
        client = self._client()
        if self.order_by is not None:
            # pre-ordered page(s): the indexer sorts, each partition
            # fetches `first: limit` once within ITS id range — no
            # cursor walk, no Spark sort. With num_partitions=1 this
            # is the reference's exact single-request ordered read;
            # with N > 1 every id-range shortlist is a superset of
            # that range's contribution to the global top-`limit`, so
            # a Spark-side orderBy(sort_key).limit(limit) over the
            # union (see :func:`read_subgraph_ordered`) merges them
            # exactly — the distributed top-N pattern.
            from rootstock_collective_state_sync_spark.sources.graphql import (
                QueryOptions,
                create_entity_query,
            )

            # Intersect the partition's id range with any user-pushed
            # id bounds (pushFilters consumed them, so Spark will NOT
            # re-apply; overwriting would return rows violating the
            # predicate). Ids compare lexicographically — max/min of
            # the strings is the exact intersection.
            w = dict(self.pushed_where or {})
            if partition.lower != "0x00":
                w["id_gt"] = (
                    max(str(w["id_gt"]), partition.lower)
                    if "id_gt" in w
                    else partition.lower
                )
            if partition.upper is not None:
                w["id_lt"] = (
                    min(str(w["id_lt"]), partition.upper)
                    if "id_lt" in w
                    else partition.upper
                )
            req = create_entity_query(
                ctx,
                self.entity_name,
                QueryOptions(
                    first=self.limit,
                    order_by=self.order_by,
                    order_direction=self.order_direction,
                    where=w or None,
                ),
            )
            data, _ = client.execute([req])
            records = data.get(self.entity_name, [])
            yield from records_to_rows(
                ctx, entity, records, hex_shadow=self.hex_shadow
            )
            return
        remaining = self.limit
        page_size = (
            self.page_size if remaining is None else min(self.page_size, remaining)
        )
        if page_size == 0:
            return
        for page in client.paginate(
            ctx,
            self.entity_name,
            page_size=page_size,
            where=self.pushed_where or None,
            start_cursor=partition.lower if partition.lower != "0x00" else "0x00",
            id_upper_bound=partition.upper,
        ):
            if remaining is not None:
                page = page[:remaining]
                remaining -= len(page)
            yield from records_to_rows(ctx, entity, page, hex_shadow=self.hex_shadow)
            if remaining is not None and remaining <= 0:
                return


def read_subgraph_ordered(
    spark,
    *,
    url: str,
    config_path: str,
    entity: str,
    order_by: str,
    limit: int,
    order_direction: str = "asc",
    num_partitions: int = 1,
    **options: Any,
):
    """Globally ordered top-``limit`` read, composable with the
    parallel scan path (r08 verdict item 8 lifted the
    ``num_partitions=1`` constraint).

    Each id-range partition issues one remote-sorted ``first: limit``
    request bounded to its range; Spark merges the shortlists with
    ``orderBy(sort_key).limit(limit)``, which Catalyst executes as
    ``TakeOrderedAndProject`` — per-partition top-N then a driver-side
    merge on the sort key, never a full-table sort or fetch. Ties at
    the cut line resolve to SOME valid top-``limit`` set, same as the
    remote indexer's own unspecified tie order on the single-request
    path. Extra ``options`` pass through to the reader (e.g.
    ``transport``, ``page_size``, ``uint256_shadow``).
    """
    from pyspark.sql import functions as F

    reader = (
        spark.read.format("subgraph")
        .option("url", url)
        .option("config_path", config_path)
        .option("entity", entity)
        .option("order_by", order_by)
        .option("order_direction", order_direction)
        .option("limit", int(limit))
        .option("num_partitions", int(num_partitions))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    col = F.col(order_by)
    return (
        reader.load()
        .orderBy(col.desc() if order_direction == "desc" else col.asc())
        .limit(int(limit))
    )


class SubgraphDataSource(DataSource):
    """format("subgraph") — see module docstring for options."""

    @classmethod
    def name(cls) -> str:
        return "subgraph"

    def schema(self) -> T.StructType:
        ctx = load_entities(self.options["config_path"])
        shadow = str(self.options.get("uint256_shadow", "false")).lower() == "true"
        return compile_entity(ctx, ctx[self.options["entity"]], hex_shadow=shadow)

    def reader(self, schema: T.StructType) -> SubgraphReader:
        return SubgraphReader(self.options)
