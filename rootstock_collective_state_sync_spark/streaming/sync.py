"""Block-driven incremental sync engine.

The engine analog of the reference's lifecycle (SURVEY §3):

- :meth:`SyncEngine.bootstrap` — entry point 1 (``main.ts:9-36``):
  compile schemas -> create tables -> full hydration of every entity.
- :meth:`SyncEngine.run_block` — entry point 2
  (``blockWatcher.ts:42-49,118-133``): one block's ordered steps, each
  isolated so one failure never starves the others, each skipping
  blocks below its interval (T2). Each walk's filter is fixed once, at
  the start of the block, before any step merges; its first page and
  every later one are fetched under it. The steps, in order:

  1. change-log-driven selective sync (``changelog``, T4,
     ``blockChangeLogStrategy.ts:14-116``): read the CDC feed past the
     stored watermark, re-sync only the entities it names, advance the
     ``LastProcessedBlock`` singleton (K3);
  2. append-only event sync (``append:<name>``, T5,
     ``blockVaultHistoryStrategy.ts:54-78``): fetch only rows with
     ``blockNumber`` above the table's ``max(blockNumber)`` and merge
     (idempotent by PK, so overlap is harmless);
  3. look-back-window sync (``lookback:<name>``, F3,
     ``blockProposalStrategy.ts:20,51-53,88-93``): re-fetch the
     entities with ``createdAtBlock`` inside the trailing window;
  4. the caller's ``extra_steps``, such as the proposal-state refresh
     (S6, :func:`..sources.rpc.refresh_proposal_states`).

Unlike the reference — which buffers every page in driver memory
before any write (``subgraphSyncer.ts:124-127``, SURVEY §3.1 note) —
pages are flushed to the merge sink every ``merge_chunk_rows`` rows,
bounding driver memory. Each page becomes an Arrow table as it
arrives (:func:`..sources.subgraph_source.records_to_arrow`, column by
column), and a chunk is the concatenation of its pages. Those chunks,
the change log and the watermark are rows already on the driver, so
``merge_upsert`` merges them with pyarrow, and the watermark and
append-only high-water marks are read from parquet files and footers:
a clean block starts no Spark job and no per-row Python.

The bootstrap is the same driver walk: the first pages of every entity
come in one routed document and each walk commits every
``merge_chunk_rows`` rows. The partition-parallel DataSource
(``spark.read.format("subgraph")`` -> one Spark write into an empty
table) stays as :meth:`SyncEngine.hydrate_entity_bulk`; the bootstrap
does not call it, because at every size measured so far (10^3-10^5
rows of one entity) the driver walk was faster, or even with it at
10^5 rows and 0.2 s per request.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import SparkSession

from rootstock_collective_state_sync_spark.config import (
    SchemaContext,
    compile_entity,
    merge_key_columns,
)
from rootstock_collective_state_sync_spark.sinks import TableCatalog, merge_upsert
from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient, first_page_request
from rootstock_collective_state_sync_spark.sources.subgraph_source import (
    SubgraphDataSource,
    _hex_to_bytes,
    records_to_arrow,
)
from rootstock_collective_state_sync_spark.streaming.chain import Block

log = logging.getLogger(__name__)

WATERMARK_ENTITY = "LastProcessedBlock"
CHANGELOG_ENTITY = "BlockChangeLog"


@dataclass
class SyncEngine:
    spark: SparkSession
    schema: SchemaContext
    catalog: TableCatalog
    client: SubgraphClient
    page_size: int = 1000
    merge_chunk_rows: int = 50_000
    block_interval_threshold: int = 1
    num_buckets: int = 16
    # F3 look-back horizon (reference blockProposalStrategy.ts:20)
    lookback_window: int = 25_000
    # DataSource knobs for :meth:`hydrate_entity_bulk`: executors walk
    # disjoint id ranges, nothing is buffered on the driver.
    # ``transport_path`` ("module:callable") reaches executor workers
    # by import, unlike ``client.transport``.
    config_path: str | None = None
    transport_path: str | None = None
    bulk_num_partitions: int = 8
    # per-strategy last-run block (T2). In-memory driver state: it
    # resets on restart, so the first block after one runs every
    # strategy; nothing persists or rebuilds it.
    _last_run: dict[str, int] = field(default_factory=dict)
    # whether :meth:`hydrate_entity_bulk` has registered the DataSource
    # with ``spark``: registering it again replaces it and logs so
    _source_registered: bool = field(default=False, init=False, repr=False)

    # ---- DDL / bootstrap ---------------------------------------------------

    def create_tables(self) -> list[str]:
        schemas = {n: compile_entity(self.schema, e) for n, e in self.schema.entities.items()}
        keys = {n: merge_key_columns(self.schema, e) for n, e in self.schema.entities.items()}
        return self.catalog.create_all(schemas, keys, num_buckets=self.num_buckets)

    def bootstrap(self, at_block: int | None = None) -> dict[str, int]:
        """DDL + full hydration (reference ``main.ts:9-36``; the
        ``LastProcessedBlock`` singleton is engine state, never synced
        from the subgraph — parity with the ``main.ts:23`` filter).
        Returns the rows hydrated per entity.

        ``at_block`` stamps the hydration versions with the chain
        height they represent, so a later reorg restore knows whether
        the bootstrap state is at-or-below the fork point.

        Every entity is walked on the driver by :meth:`sync_entities`:
        one routed document for all first pages (T7), then a commit
        every ``merge_chunk_rows`` rows."""
        self.create_tables()
        meta = {"blockNumber": at_block} if at_block is not None else None
        return self.sync_entities(list(self.schema.entities), meta=meta)

    def hydrate_entity_bulk(self, name: str, meta: dict[str, Any] | None = None) -> int:
        """Full hydration of one entity through the partition-parallel
        DataSource (X7): ``bulk_num_partitions`` executors each walk
        their own keyset cursor over a disjoint id range; rows stream
        from the wire straight into the table's write — the driver
        never materializes a page. :meth:`bootstrap` does not call it:
        up to 10^5 rows of one entity, the most measured, the driver
        walk was faster or even (``tools/hydrate_probe.py``). Returns
        the rows in the table afterwards, from its files' footers."""
        if not self._source_registered:
            self.spark.dataSource.register(SubgraphDataSource)
            self._source_registered = True
        reader = (
            self.spark.read.format("subgraph")
            .option("url", self.client.url)
            .option("config_path", str(self.config_path))
            .option("entity", name)
            .option("page_size", self.page_size)
            .option("num_partitions", self.bulk_num_partitions)
        )
        if self.transport_path:
            reader = reader.option("transport", self.transport_path)
        table = self.catalog.table(name)
        merge_upsert(table, reader.load(), meta=meta)
        return table.num_rows()

    # ---- entity sync (pagination -> merge) ---------------------------------

    def _pages(
        self,
        name: str,
        where: dict[str, Any] | None,
        first_page: list[dict] | None,
    ):
        """Page stream for one entity; if a coalesced ``run_block``
        batch already fetched page 1 (T7), yield it and continue the
        keyset walk from its last id — only entities with more than
        ``page_size`` new rows in a block cost extra round-trips."""
        if first_page is None:
            yield from self.client.paginate(
                self.schema, name, page_size=self.page_size, where=where
            )
            return
        if first_page:
            yield first_page
        if len(first_page) >= self.page_size:
            yield from self.client.paginate(
                self.schema,
                name,
                page_size=self.page_size,
                where=where,
                start_cursor=first_page[-1]["id"],
            )

    def sync_entity(
        self,
        name: str,
        where: dict[str, Any] | None = None,
        meta: dict[str, Any] | None = None,
        first_page: list[dict] | None = None,
    ) -> int:
        """Paginate one entity from the subgraph and merge-upsert into
        its table in bounded chunks. Returns rows ingested."""
        entity = self.schema[name]
        table = self.catalog.table(name)
        buffer: list[pa.Table] = []
        buffered = total = 0

        def flush():
            nonlocal buffer, buffered
            if buffer:
                merge_upsert(table, pa.concat_tables(buffer), meta=meta)
                buffer, buffered = [], 0

        for page in self._pages(name, where, first_page):
            buffer.append(records_to_arrow(self.schema, entity, page))
            buffered += len(page)
            total += len(page)
            if buffered >= self.merge_chunk_rows:
                flush()
        flush()
        return total

    def sync_entities(
        self, names: list[str], where: dict[str, Any] | None = None,
        meta: dict[str, Any] | None = None,
    ) -> dict[str, int]:
        """Sync ``names`` under one filter, their first pages fetched
        in one routed document (T7) as :meth:`run_block` does."""
        # schema-membership guard (F7): silently drop unknown names
        names = [n for n in names if n in self.schema and n != WATERMARK_ENTITY]
        pages = self._first_pages([(n, where) for n in names])
        return {n: self.sync_entity(n, where, meta, first_page=p) for n, p in zip(names, pages)}

    def _first_pages(self, walks: list[tuple[str, dict[str, Any] | None]]) -> list[list[dict] | None]:
        """First pages of ``(entity, where)`` walks in one routed
        document (T7); if it fails, each walk paginates on its own."""
        try:
            return self.client.execute_routed(
                [first_page_request(self.schema, n, self.page_size, where=w) for n, w in walks]
            )
        except Exception:
            log.exception("coalesced first pages of %s failed", [n for n, _ in walks])
            return [None] * len(walks)

    # ---- watermark singleton (K3) -------------------------------------------

    def get_watermark(self) -> Block | None:
        table = self.catalog.table(WATERMARK_ENTITY)
        if not table.exists():
            return None
        rows = table.read_arrow().to_pylist()
        if not rows:
            return None
        r = rows[0]
        return Block(
            number=int(r["number"]),
            hash="0x" + bytes(r["hash"]).hex(),
            timestamp=int(r["timestamp"]),
        )

    def set_watermark(self, block: Block, head: Block | None = None) -> None:
        """Store ``block`` in a version stamped with ``head`` (default
        ``block``), the block the sync ran at, as its tables are."""
        row = (
            True,
            Decimal(block.number),
            Decimal(block.timestamp),
            _hex_to_bytes(block.hash),
        )
        merge_upsert(
            self.catalog.table(WATERMARK_ENTITY),
            [row],
            meta={"blockNumber": (head or block).number},
        )

    # ---- strategies ----------------------------------------------------------

    def _throttled(self, strategy: str, block_number: int) -> bool:
        """T2: skip unless block >= last_run + threshold."""
        last = self._last_run.get(strategy)
        if last is not None and block_number < last + self.block_interval_threshold:
            return True
        self._last_run[strategy] = block_number
        return False

    def _changelog_where(self, head: Block) -> dict[str, Any] | None:
        """Filter for the next changelog read, or ``None`` if the
        stored watermark already covers the head (short-circuit,
        X12)."""
        wm = self.get_watermark()
        if wm and wm.number >= head.number:
            return None
        return {"blockNumber_gt": wm.number if wm else 0}

    def sync_from_changelog(
        self,
        head: Block,
        first_page: list[dict] | None = None,
        where: dict[str, Any] | None = None,
    ) -> dict[str, int]:
        """T4: CDC-driven selective re-sync.

        Reads ``BlockChangeLog`` entries past the stored watermark from
        the subgraph, re-syncs exactly the entities they name (with a
        ``_change_block`` incremental filter, F4), ingests the change
        log itself, and advances the watermark. ``where`` is the
        :meth:`_changelog_where` filter when the caller has already
        read the watermark for it (``run_block``); without it the
        watermark is read here.
        """
        if where is None:
            where = self._changelog_where(head)
        if where is None:
            return {}  # head unchanged — short-circuit (X12)
        from_block = where["blockNumber_gt"]
        pages = self._pages(CHANGELOG_ENTITY, where, first_page)
        entries: list[dict] = [r for page in pages for r in page]
        if not entries:
            return {}

        updated: set[str] = set()
        for e in entries:
            updated.update(e.get("updatedEntities") or [])
        # never re-sync the changelog or watermark through themselves
        updated -= {CHANGELOG_ENTITY, WATERMARK_ENTITY}

        counts = self.sync_entities(
            sorted(updated),
            where={"_change_block": {"number_gte": from_block + 1}},
            meta={"blockNumber": head.number},
        )

        # ingest the changelog feed itself + advance the watermark
        merge_upsert(
            self.catalog.table(CHANGELOG_ENTITY),
            records_to_arrow(self.schema, self.schema[CHANGELOG_ENTITY], entries),
            meta={"blockNumber": head.number},
        )
        latest = max(entries, key=lambda e: int(e["blockNumber"]))
        self.set_watermark(
            Block(
                number=int(latest["blockNumber"]),
                hash=latest["id"],
                timestamp=int(latest.get("blockTimestamp", 0)),
            ),
            head,
        )
        return counts

    def _append_where(self, name: str) -> dict[str, Any]:
        """T5 filter of an append-only entity: the rows above the
        table's high-water mark, read from its parquet footers."""
        top = self.catalog.table(name).column_max("blockNumber")
        return {"blockNumber_gte": int(top) + 1 if top is not None else 0}

    def _lookback_where(self, head: Block) -> dict[str, Any]:
        """F3 filter (``blockProposalStrategy.ts:20,51-53,88-93``): the
        entities created within the trailing ``lookback_window``."""
        return {"createdAtBlock_gt": max(head.number - self.lookback_window, 0)}

    # ---- per-block pipeline (T8) ---------------------------------------------

    @staticmethod
    def _isolated(label: str, block: Block, step: Callable[..., Any], *args: Any) -> Any:
        """``step(*args)``; its exception is logged and becomes its
        result, so one failure never starves the others
        (``blockWatcher.ts:118-133``)."""
        try:
            return step(*args)
        except Exception as exc:
            log.exception("strategy %s failed at block %s", label, block.number)
            return exc

    def run_block(
        self,
        block: Block,
        append_only_entities: list[str] = (),
        lookback_entities: list[str] = (),
        extra_steps: list[tuple[str, Callable[[Block], Any]]] = (),
    ) -> dict[str, Any]:
        """One block's ordered steps, each isolated; returns each
        step's result (rows per entity, ``"throttled"`` or the
        exception it raised) by label.

        The walks come first, in this order: ``changelog`` (T4), then
        ``append:<name>`` (T5, rows above the table's
        ``max(blockNumber)``) and ``lookback:<name>`` (F3,
        ``createdAtBlock`` inside the trailing window), each stamped
        with ``block``'s height. Before any of them merges, every
        walk that its throttle (T2) lets run fixes its filter, and
        their first pages come in ONE routed GraphQL document (T7/X6,
        ``batchExecutor.ts:78-131,181-199``); a walk pages further,
        under the same filter, only if its first page was full. Then
        ``extra_steps`` run in order, each throttled under its own
        label: the proposal-state refresh (S6,
        :func:`..sources.rpc.refresh_proposal_states`) is one of them.
        """
        planned = [("changelog", CHANGELOG_ENTITY, self._changelog_where, block)]
        planned += [(f"append:{n}", n, self._append_where, n) for n in append_only_entities]
        planned += [(f"lookback:{n}", n, self._lookback_where, block) for n in lookback_entities]
        results: dict[str, Any] = {}
        walks: list[tuple[str, str, dict[str, Any]]] = []
        for label, name, where_of, arg in planned:
            if self._throttled(label, block.number):
                results[label] = "throttled"
                continue
            where = self._isolated(label, block, where_of, arg)
            if where is None:  # the watermark already covers the block (X12)
                results[label] = {}
            elif isinstance(where, Exception):
                results[label] = where
            else:
                walks.append((label, name, where))

        meta = {"blockNumber": block.number}
        pages = self._first_pages([(name, where) for _, name, where in walks])
        for (label, name, where), page in zip(walks, pages):
            if label == "changelog":
                results[label] = self._isolated(label, block, self.sync_from_changelog, block, page, where)
            else:
                results[label] = self._isolated(label, block, self.sync_entity, name, where, meta, page)

        for label, fn in extra_steps:
            if self._throttled(label, block.number):
                results[label] = "throttled"
            else:
                results[label] = self._isolated(label, block, fn, block)
        return results
