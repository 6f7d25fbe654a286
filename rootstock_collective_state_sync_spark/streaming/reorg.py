"""Reorg detection + recovery (SURVEY §3.3 / T6 — the one genuinely
custom streaming-state piece).

Detection parity (``reorgCleanupStrategy.ts:21-41``): compare the
stored watermark's block hash with the chain's header at the same
height; a mismatch means the synced state includes orphaned blocks.

Recovery goes beyond the reference's only strategy (rebuild the world
into a shadow schema and swap, ``:43-50``):

1. **restore + replay (fast path)** — every engine merge records the
   block height in the table-version metadata, so each table can be
   ``RESTORE``d to its last version at-or-below the fork point (the
   versioned-table analog of Delta ``RESTORE VERSION AS OF``), after
   which normal incremental sync replays the canonical branch. The
   fork point is found by walking the stored ``BlockChangeLog`` hashes
   backwards against the chain.
2. **shadow rebuild + atomic swap (general fallback)** — full re-sync
   into a shadow catalog directory, then an atomic directory swap
   (tmp -> live, parity with the reference's ``tmp_public`` ->
   ``public`` transactional rename, ``handlers/schema.ts:10-49``).
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from dataclasses import dataclass

from rootstock_collective_state_sync_spark.sinks import TableCatalog
from rootstock_collective_state_sync_spark.streaming.chain import ChainClient
from rootstock_collective_state_sync_spark.streaming.sync import (
    CHANGELOG_ENTITY,
    SyncEngine,
)

log = logging.getLogger(__name__)


@dataclass
class ReorgManager:
    engine: SyncEngine
    chain: ChainClient
    max_reorg_depth: int = 1000

    # ---- detection -----------------------------------------------------------

    def detect(self) -> int | None:
        """Returns the stored watermark height if its hash no longer
        matches the chain (reorg!), else None."""
        wm = self.engine.get_watermark()
        if wm is None:
            return None
        onchain = self.chain.get_block(wm.number)
        if onchain is None or onchain.hash.lower() != wm.hash.lower():
            return wm.number
        return None

    def find_common_ancestor(self) -> int:
        """Walk stored ``BlockChangeLog`` hashes from the tip
        backwards until one matches the chain; 0 = no common history
        (forces full rebuild)."""
        table = self.engine.catalog.table(CHANGELOG_ENTITY)
        if not table.exists():
            return 0
        entries = table.read_arrow()  # on the driver: the search starts no Spark job
        stored = sorted(
            (
                (int(n), h)
                for n, h in zip(entries["blockNumber"].to_pylist(), entries["id"].to_pylist())
                if n is not None
            ),
            reverse=True,
        )
        for number, h in stored[: self.max_reorg_depth]:
            onchain = self.chain.get_block(number)
            if onchain is not None and onchain.hash.lower() == "0x" + bytes(h).hex():
                return number
        return 0

    # ---- recovery: restore + replay -------------------------------------------

    def recover_restore(self, ancestor: int) -> dict[str, int]:
        """Point-in-time restore of every table to its last version
        at-or-below ``ancestor`` (versions carry ``blockNumber`` meta),
        then incremental replay of the canonical branch.

        Tables may land on versions OLDER than the ancestor (their
        last eligible commit predates it), so the replay watermark is
        the MINIMUM as-of height across restored tables — replaying
        from the ancestor itself would silently skip records that the
        oldest-restored table is missing. Versions without block
        metadata count as height 0 (forces a from-genesis replay).
        Tables the replayed change log does not name re-sync their
        own changes since their as-of height."""
        if ancestor <= 0:
            raise ValueError("no common ancestor — use recover_rebuild()")
        restored: dict[str, int] = {}
        as_of: dict[str, int] = {}
        for name in self.engine.catalog.list_tables():
            table = self.engine.catalog.table(name)
            target, target_bn = None, 0
            for h in table.history():
                bn = h["meta"].get("blockNumber")
                if bn is None or int(bn) <= ancestor:
                    target = h["version"]
                    target_bn = 0 if bn is None else int(bn)
            if target is not None:
                if target != table.current_version():
                    table.restore(target)
                    restored[name] = target
                as_of[name] = target_bn
        replay_from = min(as_of.values(), default=0)

        # align the watermark with the weakest restored table, then
        # replay the canonical branch through the normal changelog path
        from rootstock_collective_state_sync_spark.streaming.sync import (
            WATERMARK_ENTITY,
        )

        wm_table = self.engine.catalog.table(WATERMARK_ENTITY)
        if replay_from > 0 and self.chain.get_block(replay_from) is not None:
            self.engine.set_watermark(self.chain.get_block(replay_from))
        else:
            # no usable floor: clear the watermark -> full re-fetch (a
            # metadata-only commit, so the restore starts no Spark job)
            wm = wm_table.manifest()
            wm_table.commit_buckets({b: [] for b in wm.buckets}, wm.version)
        head = self.chain.head_block()
        replayed = self.engine.sync_from_changelog(head)
        # the change log names only the entities it tracks; a table kept
        # by another strategy (look-back, append-only) catches up on its
        # own changes since its as-of height, which may lie further back
        # than that strategy's next run reaches
        for name, bn in as_of.items():
            if name not in replayed and name != CHANGELOG_ENTITY:
                self.engine.sync_entities(
                    [name],
                    where={"_change_block": {"number_gte": bn + 1}},
                    meta={"blockNumber": head.number},
                )
        return restored

    # ---- recovery: shadow rebuild + swap ---------------------------------------

    def recover_rebuild(self) -> None:
        """Full re-sync into a shadow catalog, then atomic swap —
        the reference's blue/green schema dance (``schema.ts:10-49``):
        build tmp, live -> old, tmp -> live, drop old."""
        live_root = self.engine.catalog.root
        tmp_root = live_root.with_name(live_root.name + f"_tmp_{uuid.uuid4().hex[:6]}")
        shadow = SyncEngine(
            spark=self.engine.spark,
            schema=self.engine.schema,
            catalog=TableCatalog(self.engine.spark, tmp_root),
            client=self.engine.client,
            page_size=self.engine.page_size,
            merge_chunk_rows=self.engine.merge_chunk_rows,
        )
        shadow.bootstrap()
        head = self.chain.head_block()
        shadow.sync_from_changelog(head)
        if shadow.get_watermark() is None:
            shadow.set_watermark(head)

        old_root = live_root.with_name(live_root.name + f"_old_{uuid.uuid4().hex[:6]}")
        os.rename(live_root, old_root)
        try:
            os.rename(tmp_root, live_root)
        except Exception:
            os.rename(old_root, live_root)  # roll back the first rename
            raise
        shutil.rmtree(old_root, ignore_errors=True)

    # ---- orchestration -----------------------------------------------------------

    def detect_and_recover(self) -> str:
        """The per-block reorg step: detect; try restore+replay; fall
        back to shadow rebuild. Returns what happened."""
        at = self.detect()
        if at is None:
            return "clean"
        log.warning("reorg detected at block %s", at)
        ancestor = self.find_common_ancestor()
        if ancestor > 0:
            try:
                self.recover_restore(ancestor)
                return f"restored@{ancestor}"
            except Exception:
                log.exception("restore path failed; falling back to rebuild")
        self.recover_rebuild()
        return "rebuilt"
