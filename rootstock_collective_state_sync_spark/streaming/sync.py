"""Block-driven incremental sync engine.

The engine analog of the reference's lifecycle (SURVEY §3):

- :meth:`SyncEngine.bootstrap` — entry point 1 (``main.ts:9-36``):
  compile schemas -> create tables -> full hydration of every entity.
- :meth:`SyncEngine.run_block` — entry point 2
  (``blockWatcher.ts:42-49,118-133``): the ordered per-block strategy
  pipeline with per-strategy error isolation; throttled strategies
  skip blocks below their interval (T2).
- change-log-driven selective sync (T4,
  ``blockChangeLogStrategy.ts:14-116``): read the CDC feed past the
  stored watermark, re-sync only the entities it names, advance the
  ``LastProcessedBlock`` singleton (K3).
- append-only event sync (T5, ``blockVaultHistoryStrategy.ts:54-78``):
  fetch only rows above the stored ``max(blockNumber)`` and merge
  (idempotent by PK, so overlap is harmless).

Unlike the reference — which buffers every page in driver memory
before any write (``subgraphSyncer.ts:124-127``, SURVEY §3.1 note) —
pages are flushed to the merge sink every ``merge_chunk_rows`` rows,
bounding driver memory. Those chunks, the change log and the
watermark are rows already on the driver, so ``merge_upsert`` merges
them with pyarrow, and the watermark and append-only high-water marks
are read from parquet files and footers: a clean block starts no
Spark job. Bulk hydration of very large entities uses the
partition-parallel DataSource path instead
(``spark.read.format("subgraph")`` -> ``merge_upsert`` in Spark).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable

from pyspark.sql import SparkSession

from rootstock_collective_state_sync_spark.config import (
    SchemaContext,
    compile_entity,
    merge_key_columns,
)
from rootstock_collective_state_sync_spark.sinks import TableCatalog, merge_upsert
from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient, first_page_request
from rootstock_collective_state_sync_spark.sources.subgraph_source import (
    records_to_rows,
)
from rootstock_collective_state_sync_spark.streaming.chain import Block

log = logging.getLogger(__name__)

WATERMARK_ENTITY = "LastProcessedBlock"
CHANGELOG_ENTITY = "BlockChangeLog"


def _hex_to_bytes(h: str) -> bytes:
    s = h[2:] if h.startswith("0x") else h
    return bytes.fromhex(s)


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
    # bulk-hydration (DataSource) knobs: when ``config_path`` is set,
    # ``bootstrap`` reads every entity through the partition-parallel
    # ``format("subgraph")`` reader instead of the driver-side
    # pagination loop — executors walk disjoint id ranges, nothing is
    # buffered on the driver. ``transport_path`` ("module:callable")
    # reaches executor workers by import, unlike ``client.transport``.
    config_path: str | None = None
    transport_path: str | None = None
    bulk_num_partitions: int = 8
    # per-strategy last-run block (T2). In-memory driver state: it
    # resets on restart, so the first block after one runs every
    # strategy; nothing persists or rebuilds it.
    _last_run: dict[str, int] = field(default_factory=dict)

    # ---- DDL / bootstrap ---------------------------------------------------

    def create_tables(self) -> list[str]:
        schemas = {n: compile_entity(self.schema, e) for n, e in self.schema.entities.items()}
        keys = {n: merge_key_columns(self.schema, e) for n, e in self.schema.entities.items()}
        return self.catalog.create_all(schemas, keys, num_buckets=self.num_buckets)

    def bootstrap(self, at_block: int | None = None) -> dict[str, int]:
        """DDL + full hydration (reference ``main.ts:9-36``; the
        ``LastProcessedBlock`` singleton is engine state, never synced
        from the subgraph — parity with the ``main.ts:23`` filter).

        ``at_block`` stamps the hydration versions with the chain
        height they represent, so a later reorg restore knows whether
        the bootstrap state is at-or-below the fork point."""
        self.create_tables()
        meta = {"blockNumber": at_block} if at_block is not None else None
        counts = {}
        for name in self.schema.entities:
            if name == WATERMARK_ENTITY:
                continue
            if self.config_path is not None:
                counts[name] = self.hydrate_entity_bulk(name, meta=meta)
            else:
                counts[name] = self.sync_entity(name, meta=meta)
        return counts

    def hydrate_entity_bulk(self, name: str, meta: dict[str, Any] | None = None) -> int:
        """Full hydration of one entity through the partition-parallel
        DataSource (X7): ``bulk_num_partitions`` executors each walk
        their own keyset cursor over a disjoint id range; rows stream
        from the wire straight into the merge shuffle — the driver
        never materializes a page. This is the 100 TB path; the
        driver-side :meth:`sync_entity` loop remains only for small
        incremental per-block batches. Returns the rows in the table
        afterwards, from its files' footers."""
        from rootstock_collective_state_sync_spark.sources.subgraph_source import (
            SubgraphDataSource,
        )

        self.spark.dataSource.register(SubgraphDataSource)
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
        buffer: list[tuple] = []
        total = 0

        def flush():
            nonlocal buffer
            if buffer:
                merge_upsert(table, buffer, meta=meta)
                buffer = []

        for page in self._pages(name, where, first_page):
            buffer.extend(records_to_rows(self.schema, entity, page))
            total += len(page)
            if len(buffer) >= self.merge_chunk_rows:
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
        try:
            pages = self.client.execute_routed(
                [first_page_request(self.schema, n, self.page_size, where=where) for n in names]
            )
        except Exception:
            log.exception("coalesced first pages of %s failed", names)
            pages = [None] * len(names)  # each entity paginates on its own
        return {n: self.sync_entity(n, where, meta, first_page=p) for n, p in zip(names, pages)}

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
        X12). Factored out so ``run_block`` can prefetch page 1 in
        the coalesced batch."""
        wm = self.get_watermark()
        if wm and wm.number >= head.number:
            return None
        return {"blockNumber_gt": wm.number if wm else 0}

    def sync_from_changelog(
        self, head: Block, first_page: list[dict] | None = None
    ) -> dict[str, int]:
        """T4: CDC-driven selective re-sync.

        Reads ``BlockChangeLog`` entries past the stored watermark from
        the subgraph, re-syncs exactly the entities they name (with a
        ``_change_block`` incremental filter, F4), ingests the change
        log itself, and advances the watermark.
        """
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
            records_to_rows(self.schema, self.schema[CHANGELOG_ENTITY], entries),
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

    def _append_where(self, name: str, block_col: str) -> dict[str, Any]:
        """High-water-mark filter for an append-only entity (T5); the
        mark comes from the table's parquet footer statistics."""
        top = self.catalog.table(name).column_max(block_col)
        from_block = int(top) + 1 if top is not None else 0
        return {f"{block_col}_gte": from_block}

    def sync_append_only(
        self,
        name: str,
        head: Block,
        block_col: str = "blockNumber",
        first_page: list[dict] | None = None,
    ) -> int:
        """T5: immutable event stream — fetch only rows above the
        stored high-water mark; merge keeps re-fetches idempotent. The
        version is stamped with ``head``'s height, so a reorg restore
        below it rolls the fetched rows back."""
        return self.sync_entity(
            name,
            where=self._append_where(name, block_col),
            meta={"blockNumber": head.number},
            first_page=first_page,
        )

    # ---- look-back window strategy (F3) --------------------------------------

    def _lookback_where(self, name: str, head: Block, block_col: str) -> dict[str, Any]:
        from_block = max(head.number - self.lookback_window, 0)
        return {f"{block_col}_gt": from_block}

    def sync_lookback(
        self,
        name: str,
        head: Block,
        block_col: str = "createdAtBlock",
        first_page: list[dict] | None = None,
        refresh_fn: Callable[[Block], Any] | None = None,
    ) -> int:
        """F3: look-back-window sync (reference
        ``blockProposalStrategy.ts:20,51-53,88-93``): re-fetch only
        entities created within the trailing window
        (``{block_col}_gt: head - 25000``) — the reference's proposal
        strategy, which bounds per-block work to the governance-active
        window regardless of total history size. ``refresh_fn`` (when
        given) runs after the merge — the hook the proposal-state
        multicall refresh (:mod:`..sources.rpc`) plugs into."""
        where = self._lookback_where(name, head, block_col)
        n = self.sync_entity(
            name,
            where=where,
            meta={"blockNumber": head.number},
            first_page=first_page,
        )
        if refresh_fn is not None:
            refresh_fn(head)
        return n

    # ---- per-block pipeline (T8) ---------------------------------------------

    def run_block(
        self,
        block: Block,
        append_only_entities: list[str] = (),
        extra_steps: list[tuple[str, Callable[[Block], Any]]] = (),
        lookback_entities: list[str] = (),
        lookback_block_col: str = "createdAtBlock",
        lookback_refresh: Callable[[Block], Any] | None = None,
    ) -> dict[str, Any]:
        """Ordered strategy pipeline for one block; each step isolated
        so one failure never starves the others
        (``blockWatcher.ts:118-133``).

        Cross-strategy request coalescing (T7/X6, reference
        ``batchExecutor.ts:78-131,181-199``): every non-throttled
        batchable step (changelog, append-only, look-back) contributes
        its first-page query to ONE aliased GraphQL document per
        block; :meth:`SubgraphClient.execute_routed` demuxes results
        back per step, which then paginates further only if its first
        page was full. N strategies -> 1 HTTP round-trip in steady
        state. ``extra_steps`` (arbitrary callables) stay unbatched.
        """
        results: dict[str, Any] = {}
        # (label, request, consume(block, first_page) -> result)
        batched: list[tuple[str, Any, Callable[[Block, list[dict] | None], Any]]] = []

        def plan(label: str, build) -> None:
            """Throttle-check a batchable step and stage its prefetch."""
            if self._throttled(label, block.number):
                results[label] = "throttled"
                return
            try:
                staged = build()
            except Exception as exc:  # isolation also for the planning read
                log.exception("strategy %s failed planning block %s", label, block.number)
                results[label] = exc
                return
            if staged is None:
                results[label] = {}
                return
            batched.append((label, staged[0], staged[1]))

        def plan_changelog():
            where = self._changelog_where(block)
            if where is None:
                return None  # short-circuit: head already processed
            req = first_page_request(
                self.schema, CHANGELOG_ENTITY, self.page_size, where=where
            )
            return req, lambda b, page: self.sync_from_changelog(b, first_page=page)

        plan("changelog", plan_changelog)

        for name in append_only_entities:

            def plan_append(n=name):
                where = self._append_where(n, "blockNumber")
                req = first_page_request(self.schema, n, self.page_size, where=where)
                return req, lambda b, page, nn=n: self.sync_append_only(
                    nn, b, first_page=page
                )

            plan(f"append:{name}", plan_append)

        for name in lookback_entities:

            def plan_lookback(n=name):
                where = self._lookback_where(n, block, lookback_block_col)
                req = first_page_request(self.schema, n, self.page_size, where=where)
                return req, lambda b, page, nn=n: self.sync_lookback(
                    nn,
                    b,
                    block_col=lookback_block_col,
                    first_page=page,
                    refresh_fn=lookback_refresh,
                )

            plan(f"lookback:{name}", plan_lookback)

        # ONE coalesced round-trip for all staged first pages
        pages: list[list[dict] | None]
        if batched:
            try:
                pages = self.client.execute_routed([req for _, req, _ in batched])
            except Exception:
                log.exception("coalesced batch failed at block %s", block.number)
                pages = [None] * len(batched)  # full per-step fallback
        else:
            pages = []
        for (label, _, consume), page in zip(batched, pages):
            try:
                results[label] = consume(block, page)
            except Exception as exc:  # per-strategy isolation (T8)
                log.exception("strategy %s failed at block %s", label, block.number)
                results[label] = exc

        for label, fn in extra_steps:
            if self._throttled(label, block.number):
                results[label] = "throttled"
                continue
            try:
                results[label] = fn(block)
            except Exception as exc:
                log.exception("strategy %s failed at block %s", label, block.number)
                results[label] = exc
        return results
