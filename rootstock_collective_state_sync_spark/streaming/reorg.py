"""Reorg detection + recovery (SURVEY §3.3 / T6 — the one genuinely
custom streaming-state piece).

Detection parity (``reorgCleanupStrategy.ts:21-41``): compare the
stored watermark's block hash with the chain's header at the same
height; a mismatch means the synced state includes orphaned blocks.

Recovery goes beyond the reference's only strategy (rebuild the world
into a shadow schema and swap, ``:43-50``):

1. **restore + replay (fast path)** — every commit records the block
   its sync ran at in the version metadata, and the watermark versions,
   each committed after its sync's tables, are the progress log (the
   Structured Streaming commit log). Each table is ``RESTORE``d (Delta
   ``RESTORE VERSION AS OF``) to where the newest watermark version
   at-or-below the fork point left it, the watermark last; incremental
   sync then replays the canonical branch. The fork point is found by
   walking the stored ``BlockChangeLog`` hashes back against the chain.
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
from dataclasses import dataclass, replace

from rootstock_collective_state_sync_spark.sinks import TableCatalog
from rootstock_collective_state_sync_spark.sinks.table import Manifest, VersionedTable
from rootstock_collective_state_sync_spark.streaming.chain import ChainClient
from rootstock_collective_state_sync_spark.streaming.sync import (
    CHANGELOG_ENTITY,
    WATERMARK_ENTITY,
    SyncEngine,
)

log = logging.getLogger(__name__)


def _newest_at_or_below(table: VersionedTable, height: int) -> Manifest:
    """Newest version stamped at or below ``height``, read newest first;
    an unstamped one (a create, a hydration without ``at_block``)
    qualifies, and a vacuumed one raises ``FileNotFoundError``."""
    for version in range(table.current_version(), 0, -1):
        m = table.manifest(version)
        bn = m.meta.get("blockNumber")
        if bn is None or int(bn) <= height:
            return m
    raise LookupError(f"no version of {table.path.name} at or below block {height}")


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
        """Rewind every table below ``ancestor``, then replay the
        canonical branch; returns ``{table: version restored}``.

        The floor is the newest watermark version stamped at or below
        ``ancestor`` (its empty v1 replays from genesis). Every other
        table goes back to its newest version at or below the floor's
        stamp, then the watermark to the floor: a crash before that
        leaves the orphaned watermark for the next ``detect``, and the
        restore reruns. The replay re-syncs what the change log names
        past the restored watermark; every other table catches up on
        its own changes past it."""
        if ancestor <= 0:
            raise ValueError("no common ancestor — use recover_rebuild()")
        catalog = self.engine.catalog
        floor = _newest_at_or_below(catalog.table(WATERMARK_ENTITY), ancestor)
        floor_bn = int(floor.meta.get("blockNumber", 0))
        names = [n for n in catalog.list_tables() if n != WATERMARK_ENTITY]
        restored: dict[str, int] = {}
        for name in names + [WATERMARK_ENTITY]:
            table = catalog.table(name)
            target = floor if name == WATERMARK_ENTITY else _newest_at_or_below(table, floor_bn)
            if target.version != table.current_version():
                table.restore(target.version)
                restored[name] = target.version

        wm = self.engine.get_watermark()
        cursor = wm.number if wm else 0
        head = self.chain.head_block()
        replayed = self.engine.sync_from_changelog(head)
        # the change log names only the entities it tracks; a table kept
        # by another strategy (look-back, append-only) catches up on its
        # own changes past the cursor, which may lie further back than
        # that strategy's next run reaches
        self.engine.sync_entities(
            [n for n in names if n not in replayed and n != CHANGELOG_ENTITY],
            where={"_change_block": {"number_gte": cursor + 1}},
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
        # the live engine's settings (bucket count, page and chunk
        # sizes, ...) over the shadow catalog, with a fresh throttle
        shadow = replace(self.engine, catalog=TableCatalog(self.engine.spark, tmp_root), _last_run={})
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
