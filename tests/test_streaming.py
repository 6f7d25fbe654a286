"""Sync engine + reorg protocol tests (FIXTURES.md F9).

A ``World`` holds a block log and per-block entity changes; its
transport answers the engine's GraphQL queries from folded state, so
the whole lifecycle — bootstrap, changelog-driven incremental sync,
reorg restore/rebuild — runs end-to-end with no sockets. The core
property: post-recovery tables ≡ a fresh full rebuild from the
canonical branch (``reorgCleanupStrategy.ts:21-56`` semantics).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import replace
from pathlib import Path

import pytest

from rootstock_collective_state_sync_spark.config import load_entities
from rootstock_collective_state_sync_spark.sinks import TableCatalog
from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient
from rootstock_collective_state_sync_spark.streaming import (
    Block,
    ReorgManager,
    StaticChain,
    SyncEngine,
)
from rootstock_collective_state_sync_spark.streaming.chain import synthetic_blocks

from tests import fake_subgraph
from tests.test_upsert_paths import jobs_started

FIXTURE = Path(__file__).parent / "fixtures" / "entities.yml"


class World:
    """Chain + subgraph state as an event log: (block, entity, record).
    Reorg = truncate the log at the ancestor and extend with the new
    branch. State (incl. ``__changedAtBlock``) is folded on demand."""

    def __init__(self):
        self.blocks: list[Block] = []
        self.log: list[tuple[int, str, dict]] = []
        # entities whose changes the change log leaves out (as for an
        # entity only an append-only strategy follows)
        self.unlogged: set[str] = set()

    def extend(self, blocks: list[Block], changes: dict[int, dict[str, list[dict]]]):
        self.blocks.extend(blocks)
        for b in blocks:
            for entity, recs in changes.get(b.number, {}).items():
                for r in recs:
                    self.log.append((b.number, entity, r))

    def reorg(self, ancestor: int):
        self.blocks = [b for b in self.blocks if b.number <= ancestor]
        self.log = [(n, e, r) for (n, e, r) in self.log if n <= ancestor]

    def chain(self) -> StaticChain:
        return StaticChain(self.blocks)

    # -- folded state ---------------------------------------------------------

    def state(self) -> dict[str, dict[str, dict]]:
        out: dict[str, dict[str, dict]] = {}
        for n, entity, rec in self.log:
            cur = out.setdefault(entity, {})
            merged = {**cur.get(rec["id"], {}), **rec, "__changedAtBlock": n}
            cur[rec["id"]] = merged
        return out

    def changelog(self) -> list[dict]:
        by_block: dict[int, set[str]] = {}
        for n, entity, _ in self.log:
            if entity not in self.unlogged:
                by_block.setdefault(n, set()).add(entity)
        blocks = {b.number: b for b in self.blocks}
        return [
            {
                "id": blocks[n].hash,
                "blockNumber": str(n),
                "blockTimestamp": str(blocks[n].timestamp),
                "updatedEntities": sorted(names),
                "__changedAtBlock": n,
            }
            for n, names in sorted(by_block.items())
        ]

    def dump(self, path) -> str:
        """Serialize folded state for ``fake_subgraph.state_transport``
        — the bridge that lets executor workers (separate processes)
        serve this World through the real DataSource."""
        state = {
            e: sorted(recs.values(), key=lambda r: r["id"])
            for e, recs in self.state().items()
        }
        state["BlockChangeLog"] = sorted(self.changelog(), key=lambda r: r["id"])
        Path(path).write_text(json.dumps(state))
        return str(path)

    # -- transport -------------------------------------------------------------

    def transport(self, url: str, body: dict) -> dict:
        doc = body["query"]
        data = {}
        for m in fake_subgraph._QUERY_RE.finditer(doc):
            entity, idx, root, _, args = m.groups()
            parsed = fake_subgraph._parse_args(args or "")
            if entity == "BlockChangeLog":
                # The Graph's default order is id ascending — keyset
                # pagination depends on it
                recs = sorted(self.changelog(), key=lambda r: r["id"])
            else:
                recs = sorted(
                    self.state().get(entity, {}).values(), key=lambda r: r["id"]
                )
            where = parsed.get("where", {})
            cb = where.pop("_change_block", None)
            recs = [r for r in recs if fake_subgraph._matches(r, where)]
            if cb:
                recs = [
                    r for r in recs if r["__changedAtBlock"] >= int(cb["number_gte"])
                ]
            if "first" in parsed:
                recs = recs[: parsed["first"]]
            data[f"{entity}_{idx}"] = [
                {k: v for k, v in r.items() if not k.startswith("__")} for r in recs
            ]
        return {"data": data}


def vote(i: int, support: int = 0, reason: str = "r") -> dict:
    return {
        "id": f"0x{i:08x}",
        "voter": {"id": "0x" + "aa" * 20},
        "proposal": {"id": "0x" + "bb" * 32},
        "support": support,
        "weight": str(100 + i),
        "reason": reason,
        "blockNumber": "0",
    }


@pytest.fixture()
def world() -> World:
    w = World()
    blocks = synthetic_blocks(1, 5, fork_tag="a")
    w.extend(
        blocks,
        {
            1: {"Account": [{"id": "0x" + "aa" * 20}]},
            2: {"VoteCast": [vote(1), vote(2)]},
            4: {"VoteCast": [vote(3, support=1)]},
        },
    )
    return w


def make_engine(spark, tmp_path, world, name="live") -> SyncEngine:
    return SyncEngine(
        spark=spark,
        schema=load_entities(FIXTURE),
        catalog=TableCatalog(spark, tmp_path / name),
        client=SubgraphClient(url="fake://w", transport=world.transport),
        page_size=3,
        block_interval_threshold=1,
    )


def table_state(engine: SyncEngine, name: str) -> dict:
    rows = engine.catalog.table(name).read().collect()
    return {bytes(r.id).hex(): (r.support, r.reason, str(r.weight)) for r in rows}


def expected_votes(world: World) -> dict:
    return {
        r["id"][2:]: (r["support"], r["reason"], r["weight"])
        for r in world.state().get("VoteCast", {}).values()
    }


def bulk_engine(spark, tmp_path, world, name="live", **kw):
    """An engine with ``config_path`` set: executors serve ``world``
    from a dump through the DataSource, the driver from its transport.
    Returns the engine and the driver's request documents."""
    transport, calls = _counting(world)
    kw = {"page_size": 3, **kw}
    eng = SyncEngine(
        spark=spark,
        schema=load_entities(FIXTURE),
        catalog=TableCatalog(spark, tmp_path / name),
        client=SubgraphClient(
            url="fake-state://" + world.dump(tmp_path / f"{name}_state.json"),
            transport=transport,
        ),
        block_interval_threshold=1,
        config_path=str(FIXTURE),
        transport_path="tests.fake_subgraph:state_transport",
        **kw,
    )
    return eng, calls


def test_bootstrap_full_hydration(spark, tmp_path, world):
    """With ``config_path`` set the bootstrap still walks every entity
    on the driver and commits every ``merge_chunk_rows`` rows: with
    pages of 2 and a chunk of 2, ``VoteCast`` (3 rows) commits twice
    and ``Account`` (1 row) once, every version stamped with the
    bootstrap block. The driver sends one routed document for all
    first pages, then one more page for each entity whose first page
    was full; the DataSource is not used, so no Spark job starts."""
    eng, calls = bulk_engine(spark, tmp_path, world, page_size=2, merge_chunk_rows=2)
    before = jobs_started(spark)
    counts = eng.bootstrap(at_block=5)
    assert jobs_started(spark) == before
    assert counts["VoteCast"] == 3 and counts["Account"] == 1
    assert counts["BlockChangeLog"] == 3
    assert len(calls) == 3
    assert "VoteCast_" in calls[0] and "Account_" in calls[0]
    for name, versions in (("VoteCast", 3), ("Account", 2)):
        t = eng.catalog.table(name)
        assert t.current_version() == versions, name  # created empty, then one per chunk
        assert all(t.manifest(v).meta == {"blockNumber": 5} for v in range(2, versions + 1))
    assert table_state(eng, "VoteCast") == expected_votes(world)
    accounts = eng.catalog.table("Account").read_arrow()["id"].to_pylist()
    assert accounts == [bytes.fromhex("aa" * 20)]
    assert eng.get_watermark() is None  # watermark only via changelog


def bucket_rows(table) -> dict[str, list[dict]]:
    """Each bucket's rows, read on the driver, in a fixed order."""
    return {
        b: sorted(table.read_arrow(buckets=[int(b)]).to_pylist(), key=repr)
        for b in table.manifest().buckets
    }


def test_bootstrap_paths_agree(spark, tmp_path):
    """One world bootstrapped on the driver and hydrated entity by
    entity through the DataSource, the reference full scan, gives the
    same rows in every bucket, the same counts and the same stamp. The
    driver bootstrap starts no Spark job, commits one data version per
    entity with rows and none for an entity without."""
    w = World()
    w.extend(
        synthetic_blocks(1, 4, fork_tag="a"),
        {
            1: {"Account": [{"id": "0x" + "aa" * 20}, {"id": "0x" + "cc" * 20}]},
            2: {"VoteCast": [vote(1), vote(2)]},
            4: {"VoteCast": [vote(3, support=1), vote(1, support=2, reason="again")]},
        },
    )
    filled = {"BlockChangeLog": 3, "Account": 2, "VoteCast": 3}
    on_driver, _ = bulk_engine(spark, tmp_path, w, "driver")
    before = jobs_started(spark)
    driver_counts = on_driver.bootstrap(at_block=4)
    assert jobs_started(spark) == before
    assert {n: driver_counts[n] for n in filled} == filled
    assert not any(c for n, c in driver_counts.items() if n not in filled)
    through_source, _ = bulk_engine(spark, tmp_path, w, "source", bulk_num_partitions=1)
    through_source.create_tables()
    meta = {"blockNumber": 4}
    assert {n: through_source.hydrate_entity_bulk(n, meta=meta) for n in filled} == filled
    for name in driver_counts:
        a, b = on_driver.catalog.table(name), through_source.catalog.table(name)
        if name not in filled:  # nothing to write: no data version
            assert a.current_version() == 1, name
            continue
        assert a.current_version() == b.current_version() == 2, name
        assert a.manifest().meta == b.manifest().meta == meta, name
        assert bucket_rows(a) == bucket_rows(b), name


def test_bulk_hydration_registers_the_source_once(spark, tmp_path, world, monkeypatch):
    """Two ``hydrate_entity_bulk`` calls on one session register the
    DataSource once: a second registration would replace the first and
    log that it did."""
    from pyspark.sql.datasource import DataSourceRegistration

    registered = []
    original = DataSourceRegistration.register

    def counting(self, source):
        registered.append(self.sparkSession)
        return original(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    eng, _ = bulk_engine(spark, tmp_path, world, bulk_num_partitions=1)
    eng.create_tables()
    assert eng.hydrate_entity_bulk("VoteCast") == 3
    assert eng.hydrate_entity_bulk("Account") == 1
    assert registered == [spark]


def test_bootstrap_of_one_page_entities_sends_one_request(spark, tmp_path, world):
    """When every entity fits in its first page, the bootstrap is one
    routed request and no Spark job."""
    eng = make_engine(spark, tmp_path, world)
    transport, calls = _counting(world)
    eng.client = SubgraphClient(url="fake://w", transport=transport)
    eng.page_size = 10
    before = jobs_started(spark)
    counts = eng.bootstrap(at_block=5)
    assert jobs_started(spark) == before
    assert len(calls) == 1
    assert counts["VoteCast"] == 3 and counts["Account"] == 1 and counts["BlockChangeLog"] == 3
    assert table_state(eng, "VoteCast") == expected_votes(world)


def test_bootstrap_serial_fallback(spark, tmp_path, world):
    """Without ``config_path`` the bootstrap is the same bounded
    driver-side walk."""
    eng = make_engine(spark, tmp_path, world)
    counts = eng.bootstrap(at_block=5)
    assert counts["VoteCast"] == 3 and counts["Account"] == 1
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert eng.get_watermark() is None


def test_changelog_incremental_sync(spark, tmp_path, world):
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap(at_block=5)
    # first changelog pass establishes the watermark
    eng.sync_from_changelog(world.chain().head_block())
    wm = eng.get_watermark()
    assert wm.number == 4  # latest changelog entry (block 4)

    # new blocks: an update to vote 1 and a brand-new vote 4
    new_blocks = synthetic_blocks(6, 2, fork_tag="a")
    world.extend(
        new_blocks,
        {
            6: {"VoteCast": [vote(1, support=2, reason="changed")]},
            7: {"VoteCast": [vote(4)]},
        },
    )
    counts = eng.sync_from_changelog(world.chain().head_block())
    # selective + incremental: only VoteCast, and only the 2 records
    # changed past the watermark (_change_block gte), not all 5
    assert counts == {"VoteCast": 2}
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert eng.get_watermark().number == 7

    # head unchanged -> short-circuit no-op
    assert eng.sync_from_changelog(world.chain().head_block()) == {}


def test_throttling(spark, tmp_path, world):
    eng = make_engine(spark, tmp_path, world)
    eng.block_interval_threshold = 3
    eng.bootstrap(at_block=5)
    head = world.chain().head_block()
    r1 = eng.run_block(head)
    assert r1["changelog"] != "throttled"
    r2 = eng.run_block(Block(head.number + 1, "0x01", 0))
    assert r2["changelog"] == "throttled"
    r3 = eng.run_block(Block(head.number + 3, "0x02", 0))
    assert r3["changelog"] != "throttled"


def test_strategy_error_isolation(spark, tmp_path, world):
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap(at_block=5)

    def boom(block):
        raise RuntimeError("strategy exploded")

    res = eng.run_block(
        world.chain().head_block(), extra_steps=[("boom", boom)]
    )
    assert isinstance(res["boom"], RuntimeError)
    assert res["changelog"] != "throttled"  # later/earlier steps still ran
    assert eng.get_watermark() is not None


def test_restart_after_kill_in_watermark_commit(spark, tmp_path, world, monkeypatch):
    """Kill the follower at each publish call of one block's
    ``LastProcessedBlock`` commit; a fresh engine on the same catalog
    must converge on the next ``run_block`` with no operator action.
    With a manifest + ``_CURRENT`` two-step commit, the kill between
    the steps blocks every later watermark commit."""
    import shutil

    from rootstock_collective_state_sync_spark.sinks import table as table_mod
    from tests.test_table_commit import Crash, CrashOnPublish

    base = make_engine(spark, tmp_path, world, "base")
    base.bootstrap(at_block=5)
    base.run_block(world.chain().head_block())
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {
            6: {"VoteCast": [vote(1, support=2, reason="changed")]},
            7: {"VoteCast": [vote(4)]},
        },
    )
    head = world.chain().head_block()
    k = 1
    while True:
        name = f"kill{k}"
        shutil.copytree(tmp_path / "base", tmp_path / name)
        crasher = CrashOnPublish(k, scope="LastProcessedBlock")
        monkeypatch.setattr(table_mod, "os", crasher)
        try:
            make_engine(spark, tmp_path, world, name).run_block(head)
        except Crash:
            pass
        finally:
            monkeypatch.setattr(table_mod, "os", os)
        if crasher.calls < k:
            break  # the commit completed without reaching kill point k
        restarted = make_engine(spark, tmp_path, world, name)
        restarted.run_block(head)
        assert table_state(restarted, "VoteCast") == expected_votes(world), k
        assert restarted.get_watermark().number == head.number, k
        k += 1
    assert k > 1


def _reorged_world(world: World) -> World:
    """Fork at block 4: drop block 5+, branch b rewrites history."""
    world.reorg(4)
    branch = synthetic_blocks(5, 3, fork_tag="b")
    world.extend(
        branch,
        {
            5: {"VoteCast": [vote(3, support=2, reason="b-branch")]},
            6: {"VoteCast": [vote(9)]},
        },
    )
    return world


def _sync_to_head(spark, tmp_path, world, name):
    eng = make_engine(spark, tmp_path, world, name)
    eng.bootstrap(at_block=world.chain().head_block().number)
    eng.sync_from_changelog(world.chain().head_block())
    return eng


def test_reorg_detect_clean(spark, tmp_path, world):
    eng = _sync_to_head(spark, tmp_path, world, "live")
    mgr = ReorgManager(engine=eng, chain=world.chain())
    assert mgr.detect() is None


def test_reorg_recovery_equivalence(spark, tmp_path, world):
    # sync live engine fully on branch a (through block 7)
    new_blocks = synthetic_blocks(6, 2, fork_tag="a")
    world.extend(
        new_blocks,
        {
            6: {"VoteCast": [vote(1, support=2, reason="a-only")]},
            7: {"VoteCast": [vote(7)]},
        },
    )
    eng = _sync_to_head(spark, tmp_path, world, "live")
    assert eng.get_watermark().number == 7

    # reorg: fork at 4, branch b
    _reorged_world(world)
    mgr = ReorgManager(engine=eng, chain=world.chain())
    assert mgr.detect() == 7  # stored block-7 hash orphaned
    assert mgr.find_common_ancestor() == 4

    outcome = mgr.detect_and_recover()
    assert outcome == "restored@4"
    # equivalence: recovered state == fresh rebuild from branch b
    fresh = _sync_to_head(spark, tmp_path, world, "fresh")
    assert table_state(eng, "VoteCast") == table_state(fresh, "VoteCast")
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert mgr.detect() is None  # clean after recovery


def test_reorg_shadow_rebuild_equivalence(spark, tmp_path, world):
    eng = _sync_to_head(spark, tmp_path, world, "live")
    _reorged_world(world)
    mgr = ReorgManager(engine=eng, chain=world.chain())
    mgr.recover_rebuild()
    fresh = _sync_to_head(spark, tmp_path, world, "fresh")
    assert table_state(eng, "VoteCast") == table_state(fresh, "VoteCast")
    assert mgr.detect() is None


def test_reorg_rebuild_keeps_the_engine_settings(spark, tmp_path, world):
    """The shadow engine of a rebuild is the live engine over another
    catalog: a 4-bucket engine rebuilds 4-bucket tables."""
    eng = replace(make_engine(spark, tmp_path, world), num_buckets=4)
    eng.bootstrap(at_block=world.chain().head_block().number)
    eng.sync_from_changelog(world.chain().head_block())
    _reorged_world(world)
    ReorgManager(engine=eng, chain=world.chain()).recover_rebuild()
    names = eng.catalog.list_tables()
    assert "VoteCast" in names
    for name in names:
        t = eng.catalog.table(name)
        assert {t.manifest(v).num_buckets for v in t._versions()} == {4}, name
    assert table_state(eng, "VoteCast") == expected_votes(world)


def test_append_only_strategy(spark, tmp_path, world):
    # StakingHistory-style: strictly increasing blockNumber records
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap(at_block=5)
    world.log.append(
        (5, "VoteCast", {**vote(8), "blockNumber": "5"})
    )
    head = world.chain().head_block()
    n = eng.sync_append_only("VoteCast", head)
    assert n >= 1
    assert "0x%08x" % 8 in {"0x" + k for k in table_state(eng, "VoteCast")}
    # re-run: idempotent, nothing newer
    assert eng.sync_append_only("VoteCast", head) <= n


def claim(i: int, block: int) -> dict:
    return {
        "id": f"0x{i:064x}",
        "backer": "0x" + "aa" * 20,
        "amount": str(1000 + i),
        "blockNumber": str(block),
    }


def claims(engine: SyncEngine) -> set[str]:
    rows = engine.catalog.table("ClaimedRewardsHistory").read_arrow()
    return {bytes(b).hex() for b in rows["id"].to_pylist()}


def test_append_only_version_carries_its_block_height(spark, tmp_path, world):
    """An append-only merge is stamped with the height of the block it
    syncs at, not the height of the table's previous version. The
    change log leaves the claims out, so only the append step syncs
    them."""
    world.unlogged.add("ClaimedRewardsHistory")
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap(at_block=5)
    world.extend(synthetic_blocks(6, 2, fork_tag="a"), {6: {"ClaimedRewardsHistory": [claim(1, 6)]}})
    head = world.chain().head_block()
    res = eng.run_block(head, append_only_entities=["ClaimedRewardsHistory"])
    assert res["append:ClaimedRewardsHistory"] == 1
    table = eng.catalog.table("ClaimedRewardsHistory")
    assert table.manifest().meta["blockNumber"] == head.number == 7


def test_append_only_rows_of_an_orphaned_block_roll_back(spark, tmp_path, world):
    """A claim minted only on the orphaned branch, in an entity the
    change log does not name, is gone once the reorg is recovered and
    the next clean block is synced: the restore must take the claim's
    version as lying above the fork point."""
    world.unlogged.add("ClaimedRewardsHistory")
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap(at_block=5)

    def follow():
        res = eng.run_block(world.chain().head_block(), append_only_entities=["ClaimedRewardsHistory"])
        assert not [v for v in res.values() if isinstance(v, Exception)], res

    follow()  # watermark -> 4
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {6: {"VoteCast": [vote(1, support=2, reason="a-only")], "ClaimedRewardsHistory": [claim(1, 6)]}},
    )
    follow()
    assert claims(eng) == {f"{1:064x}"}

    _reorged_world(world)  # fork at 4; branch b runs to block 7
    world.extend(synthetic_blocks(8, 1, fork_tag="b"), {})
    mgr = ReorgManager(engine=eng, chain=world.chain())
    assert mgr.detect_and_recover() == "restored@4"
    follow()
    assert claims(eng) == set()
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert mgr.detect() is None


def test_restore_to_the_empty_watermark_replays_from_genesis_without_spark(spark, tmp_path, world):
    """Versions hydrated without ``at_block`` carry no height, and the
    first watermark version carries the head of its sync (block 5),
    which lies above the fork at 4: the restore point is the
    watermark's empty v1, and the canonical branch replays from
    genesis, all on the driver."""
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap()
    eng.sync_from_changelog(world.chain().head_block())  # watermark -> 4
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {6: {"VoteCast": [vote(1, support=2, reason="a-only")]}, 7: {"VoteCast": [vote(7)]}},
    )
    eng.sync_from_changelog(world.chain().head_block())
    assert eng.get_watermark().number == 7

    _reorged_world(world)  # fork at 4
    mgr = ReorgManager(engine=eng, chain=world.chain())
    before = jobs_started(spark)
    assert mgr.detect_and_recover() == "restored@4"
    assert jobs_started(spark) == before

    wm_table = eng.catalog.table("LastProcessedBlock")
    restored = wm_table.manifest(wm_table.current_version() - 1)
    assert restored.meta == {"restoredFrom": 1} and not restored.buckets
    assert eng.get_watermark().number == 6  # the newest change on branch b
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert mgr.detect() is None


def _follow_from_a_bootstrap_then_fork(spark, tmp_path, world):
    """Bootstrap at block 5 with the watermark set to it, as the
    benchmark sets a follower up; follow branch a to block 7, then fork
    at 6. Four tables hold only their create version. Returns the
    engine, its reorg manager and the list of query documents sent."""
    transport, calls = _counting(world)
    eng = make_engine(spark, tmp_path, world)
    eng.client.transport = transport
    eng.bootstrap(at_block=5)
    eng.set_watermark(world.chain().get_block(5))
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {6: {"VoteCast": [vote(1, support=2, reason="a-only")]}, 7: {"VoteCast": [vote(7)]}},
    )
    eng.run_block(world.chain().head_block())
    assert eng.get_watermark().number == 7
    world.reorg(6)
    world.extend(synthetic_blocks(7, 2, fork_tag="b"), {7: {"VoteCast": [vote(9)]}})
    return eng, ReorgManager(engine=eng, chain=world.chain()), calls


def test_recovery_replays_from_the_watermark_not_from_genesis(spark, tmp_path, world):
    """A table that never received rows holds only its unstamped create
    version. It must not pull the replay back to genesis: the restore
    point is the watermark of block 5, so the change log is read past
    block 5 and no table re-syncs from block 1."""
    eng, mgr, calls = _follow_from_a_bootstrap_then_fork(spark, tmp_path, world)
    assert [eng.catalog.table(n).current_version() for n in ("Proposal", "SlotRef")] == [1, 1]
    before = len(calls)
    assert mgr.detect_and_recover() == "restored@6"
    recovery = calls[before:]
    assert [d for d in recovery if "BlockChangeLog_0" in d][0].count("blockNumber_gt: 5,") == 1
    assert not [d for d in recovery if re.search(r"number_gte: 1\b", d)], recovery
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert mgr.detect() is None


def test_recovery_catches_up_unnamed_tables_in_one_request(spark, tmp_path, world):
    """At page size 3, one recovery sends three requests: the change
    log past the watermark, the first pages of the entities it names,
    and one document for every other table's catch-up."""
    eng, mgr, calls = _follow_from_a_bootstrap_then_fork(spark, tmp_path, world)
    before = len(calls)
    assert mgr.detect_and_recover() == "restored@6"
    recovery = calls[before:]
    assert len(recovery) == 3, recovery
    catch_up = recovery[-1]
    for n in ("Account", "ClaimedRewardsHistory", "EpochSlot", "Proposal", "SlotRef"):
        assert f"{n}_" in catch_up
    assert "VoteCast_" not in catch_up and "BlockChangeLog_" not in catch_up
    assert table_state(eng, "VoteCast") == expected_votes(world)


def test_watermark_version_carries_the_head_of_its_sync(spark, tmp_path, world):
    """One sync from the watermark at block 4 catches up to head 9,
    whose newest change-log entry is block 7. Its watermark version
    carries block 9, like the ``VoteCast`` version it wrote. Were it
    stamped 7, it would be the restore point for the fork at 8 (common
    ancestor 7): ``VoteCast`` would rewind below the votes of blocks 6
    and 7, and the replay past block 7 would skip them."""
    eng = make_engine(spark, tmp_path, world)
    eng.bootstrap(at_block=4)  # block 5 changes nothing
    eng.set_watermark(world.chain().get_block(4))
    world.extend(
        synthetic_blocks(6, 4, fork_tag="a"),
        {6: {"VoteCast": [vote(1, support=2, reason="a-6")]}, 7: {"VoteCast": [vote(7)]}},
    )
    eng.run_block(world.chain().head_block())
    assert eng.get_watermark().number == 7
    assert eng.catalog.table("LastProcessedBlock").manifest().meta["blockNumber"] == 9
    # one more block on branch a, so that the fork orphans the watermark
    world.extend(synthetic_blocks(10, 1, fork_tag="a"), {10: {"VoteCast": [vote(10)]}})
    eng.run_block(world.chain().head_block())

    world.reorg(8)
    world.extend(synthetic_blocks(9, 3, fork_tag="b"), {9: {"VoteCast": [vote(9)]}})
    mgr = ReorgManager(engine=eng, chain=world.chain())
    assert mgr.detect_and_recover() == "restored@7"
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert mgr.detect() is None


def test_restart_after_kill_during_reorg_recovery(spark, tmp_path, world, monkeypatch):
    """Kill the follower at each publish call of one reorg recovery; a
    fresh engine on the same catalog must converge with its own
    ``detect_and_recover`` and next ``run_block``. The watermark is
    restored after every other table, so a kill before that leaves the
    orphaned watermark for the restart to detect."""
    import shutil

    from rootstock_collective_state_sync_spark.sinks import table as table_mod
    from tests.test_table_commit import Crash, CrashOnPublish

    base = make_engine(spark, tmp_path, world, "base")
    base.bootstrap(at_block=5)
    base.run_block(world.chain().head_block())
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {6: {"VoteCast": [vote(1, support=2, reason="a-only")]}, 7: {"VoteCast": [vote(7)]}},
    )
    base.run_block(world.chain().head_block())
    _reorged_world(world)  # fork at 4
    head = world.chain().head_block()
    k = 1
    while True:
        name = f"kill{k}"
        shutil.copytree(tmp_path / "base", tmp_path / name)
        crasher = CrashOnPublish(k)
        monkeypatch.setattr(table_mod, "os", crasher)
        try:
            engine = make_engine(spark, tmp_path, world, name)
            ReorgManager(engine=engine, chain=world.chain()).detect_and_recover()
        except Crash:
            pass
        finally:
            monkeypatch.setattr(table_mod, "os", os)
        if crasher.calls < k:
            break  # the recovery completed without reaching kill point k
        restarted = make_engine(spark, tmp_path, world, name)
        mgr = ReorgManager(engine=restarted, chain=world.chain())
        mgr.detect_and_recover()
        restarted.run_block(head)
        assert table_state(restarted, "VoteCast") == expected_votes(world), k
        assert mgr.detect() is None, k
        k += 1
    assert k > 5


# ---------------------------------------------------------------------------
# cross-strategy request coalescing (T7/X6) + look-back strategy (F3)
# ---------------------------------------------------------------------------


def _counting(world: World):
    calls: list[str] = []

    def t(url: str, body: dict) -> dict:
        calls.append(body["query"])
        return world.transport(url, body)

    return t, calls


def proposal(i: int, created_at: int) -> dict:
    return {
        "id": f"0x{i:064x}",
        "description": f"prop-{i}",
        "votesFor": "0",
        "votesAgainst": "0",
        "state": "Pending",
        "rawState": 0,
        "createdAtBlock": str(created_at),
        "targets": [],
        "values": [],
        "proposer": {"id": "0x" + "aa" * 20},
    }


def test_run_block_coalesces_strategies_into_one_http(spark, tmp_path, world):
    """Mirror of the reference's 5-strategies->1-HTTP assertion
    (``src/watchers/strategies/batching.test.ts:162-186``): changelog +
    two append-only entities + one look-back entity all prefetch in a
    single aliased document per block, and the watermark is read once."""
    transport, calls = _counting(world)
    eng = SyncEngine(
        spark=spark,
        schema=load_entities(FIXTURE),
        catalog=TableCatalog(spark, tmp_path / "co"),
        client=SubgraphClient(url="fake://w", transport=transport),
        page_size=50,
        block_interval_threshold=1,
    )
    eng.bootstrap(at_block=5)
    eng.sync_from_changelog(world.chain().head_block())  # wm -> 4

    before = len(calls)
    reads = []
    read = eng.get_watermark
    eng.get_watermark = lambda: reads.append(1) or read()
    res = eng.run_block(
        Block(5, "0xhead5", 0),
        append_only_entities=["VoteCast", "ClaimedRewardsHistory"],
        lookback_entities=["Proposal"],
    )
    del eng.get_watermark
    assert len(reads) == 1  # the plan's read also filters the changelog sync
    new_calls = calls[before:]
    assert len(new_calls) == 1, f"expected 1 coalesced HTTP, got {new_calls}"
    doc = new_calls[0]
    for alias in ("BlockChangeLog_0", "VoteCast_1", "ClaimedRewardsHistory_2", "Proposal_3"):
        assert alias in doc
    assert res["changelog"] == {}
    assert res["append:VoteCast"] == 0
    assert res["append:ClaimedRewardsHistory"] == 0
    assert res["lookback:Proposal"] == 0


def test_run_block_coalesced_results_equivalent(spark, tmp_path, world):
    """Coalesced pipeline produces the same table state as the serial
    one — new changelog entries still drive selective re-sync."""
    eng = make_engine(spark, tmp_path, world, "eq")
    eng.bootstrap(at_block=5)
    eng.sync_from_changelog(world.chain().head_block())

    new_blocks = synthetic_blocks(6, 2, fork_tag="a")
    world.extend(
        new_blocks,
        {
            6: {"VoteCast": [vote(1, support=2, reason="changed")]},
            7: {"VoteCast": [vote(4)]},
        },
    )
    res = eng.run_block(world.chain().head_block())
    assert res["changelog"] == {"VoteCast": 2}
    assert table_state(eng, "VoteCast") == expected_votes(world)
    assert eng.get_watermark().number == 7


def test_lookback_strategy_fetches_only_window(spark, tmp_path, world):
    """F3: only proposals created inside the trailing window are
    re-fetched (``blockProposalStrategy.ts:51-53,88-93``)."""
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {
            6: {"Proposal": [proposal(1, created_at=3), proposal(2, created_at=6)]},
            7: {"Proposal": [proposal(3, created_at=7)]},
        },
    )
    eng = make_engine(spark, tmp_path, world, "lb")
    eng.lookback_window = 2
    eng.bootstrap(at_block=7)

    refreshed: list[int] = []
    head = world.chain().head_block()  # number 7 -> createdAtBlock_gt 5
    n = eng.sync_lookback(
        "Proposal", head, refresh_fn=lambda b: refreshed.append(b.number)
    )
    assert n == 2  # proposals 2 (block 6) and 3 (block 7); 1 is outside
    assert refreshed == [7]

    res = eng.run_block(head, lookback_entities=["Proposal"])
    assert res["lookback:Proposal"] == 2


def test_run_block_batch_failure_falls_back_per_step(spark, tmp_path, world):
    """A failing coalesced batch degrades to per-query execution
    (``batchExecutor.ts:254-264``) without losing any strategy."""
    transport, calls = _counting(world)

    def flaky(url: str, body: dict) -> dict:
        if len(fake_subgraph._QUERY_RE.findall(body["query"])) > 1:
            calls.append(body["query"])
            return {"errors": [{"message": "batch too complex"}]}
        return transport(url, body)

    eng = SyncEngine(
        spark=spark,
        schema=load_entities(FIXTURE),
        catalog=TableCatalog(spark, tmp_path / "fb"),
        client=SubgraphClient(url="fake://w", transport=flaky),
        page_size=50,
        block_interval_threshold=1,
    )
    eng.bootstrap(at_block=5)
    eng.sync_from_changelog(world.chain().head_block())
    res = eng.run_block(
        Block(5, "0xhead5", 0), append_only_entities=["VoteCast"]
    )
    assert res["changelog"] == {}
    assert res["append:VoteCast"] == 0


# ---------------------------------------------------------------------------
# streaming source (offset semantics = emitMissed)
# ---------------------------------------------------------------------------


def test_blockstream_source_offsets(spark, tmp_path):
    from rootstock_collective_state_sync_spark.sources.blockstream import (
        BlockStreamDataSource,
    )

    chain_file = tmp_path / "chain.json"
    blocks = synthetic_blocks(1, 5, fork_tag="s")
    chain_file.write_text(
        json.dumps(
            [
                {"number": b.number, "hash": b.hash, "timestamp": b.timestamp}
                for b in blocks
            ]
        )
    )
    spark.dataSource.register(BlockStreamDataSource)
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    def run_once():
        q = (
            spark.readStream.format("blockstream")
            .option("chain_path", str(chain_file))
            .option("start_block", 0)
            .load()
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    got = {r.number for r in spark.read.parquet(str(out_dir)).collect()}
    assert got == {1, 2, 3, 4, 5}

    # chain grows; same checkpoint -> only the missed blocks replay
    more = synthetic_blocks(6, 3, fork_tag="s")
    chain_file.write_text(
        json.dumps(
            [
                {"number": b.number, "hash": b.hash, "timestamp": b.timestamp}
                for b in blocks + more
            ]
        )
    )
    run_once()
    got = sorted(r.number for r in spark.read.parquet(str(out_dir)).collect())
    assert got == [1, 2, 3, 4, 5, 6, 7, 8]  # no duplicates, no gaps


def test_lookback_with_multicall_refresh_e2e(spark, tmp_path, world):
    """The whole proposal pipeline in one pass (S6+F3+K2): run_block's
    look-back step syncs in-window proposals, then the refresh hook
    fetches on-chain states through the REAL ABI encoder (keccak
    selector -> aggregate3 calldata -> canned JSON-RPC) and
    diff-merges only changed rows."""
    from rootstock_collective_state_sync_spark.sources import abi, rpc
    from tests.test_abi import _encode_results

    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {
            6: {"Proposal": [proposal(1, created_at=6)]},
            7: {"Proposal": [proposal(2, created_at=7)]},
        },
    )
    eng = make_engine(spark, tmp_path, world, "mc")
    eng.bootstrap(at_block=7)

    gov = "0x" + "cd" * 20
    posted = []

    def fake_post(url, payload):
        posted.append(payload)
        raw = bytes.fromhex(payload["params"][0]["data"][2:])
        n = abi.decode_uint256(raw[4 + 32 : 4 + 64])
        elems = 4 + 64
        results = []
        for i in range(n):
            off = elems + abi.decode_uint256(raw[elems + 32 * i : elems + 32 * i + 32])
            boff = off + abi.decode_uint256(raw[off + 64 : off + 96])
            blen = abi.decode_uint256(raw[boff : boff + 32])
            pid = abi.decode_uint256(raw[boff + 32 + 4 : boff + 32 + blen])
            # proposal 1 -> Active(1), proposal 2 stays Pending(0)
            results.append((True, abi.encode_uint256(1 if pid == 1 else 0)))
        return {"jsonrpc": "2.0", "id": 1, "result": "0x" + _encode_results(results).hex()}

    fn = abi.make_multicall_fn("fake://rpc", gov, post=fake_post)
    table = eng.catalog.table("Proposal")

    res = eng.run_block(
        world.chain().head_block(),
        lookback_entities=["Proposal"],
        lookback_block_col="createdAtBlock",
        lookback_refresh=lambda b: rpc.refresh_proposal_states(table, fn),
    )
    assert res["lookback:Proposal"] == 2
    assert len(posted) == 1  # both live proposals in one eth_call
    rows = {bytes(r.id)[-1]: (r.rawState, r.state) for r in table.read().collect()}
    assert rows[1] == (1, "Active")   # diff-updated + relabeled
    assert rows[2] == (0, "Pending")  # unchanged on chain -> untouched


def test_streaming_shell_end_to_end(spark, tmp_path, world):
    """The production loop of the reference (``main.ts:9-36``),
    composed from the engine's streaming pieces: a ``blockstream``
    readStream drives ``foreachBatch`` -> ordered per-block
    ``run_block`` (T8), every block coalesces its strategies into ONE
    prefetch HTTP document (T7), the checkpoint replays exactly the
    missed blocks across a restart (T1/emitMissed), and the persisted
    watermark advances with the changelog (T3)."""
    from rootstock_collective_state_sync_spark.sources.blockstream import (
        BlockStreamDataSource,
    )

    transport, calls = _counting(world)
    eng = SyncEngine(
        spark=spark,
        schema=load_entities(FIXTURE),
        catalog=TableCatalog(spark, tmp_path / "shell"),
        client=SubgraphClient(url="fake://w", transport=transport),
        page_size=50,
        block_interval_threshold=1,
    )
    eng.bootstrap(at_block=5)
    eng.sync_from_changelog(world.chain().head_block())  # wm -> 4

    chain_file = tmp_path / "chain.json"

    def write_chain():
        chain_file.write_text(
            json.dumps(
                [
                    {"number": b.number, "hash": b.hash, "timestamp": b.timestamp}
                    for b in world.blocks
                ]
            )
        )

    processed: list[int] = []

    def handle(batch_df, _epoch):
        # foreachBatch runs driver-side: bounded block-header rows only
        for r in sorted(batch_df.collect(), key=lambda r: r.number):
            eng.run_block(
                Block(r.number, r.hash, r.timestamp),
                append_only_entities=["ClaimedRewardsHistory"],
            )
            processed.append(r.number)

    spark.dataSource.register(BlockStreamDataSource)
    ckpt = tmp_path / "shell_ckpt"

    def run_stream():
        q = (
            spark.readStream.format("blockstream")
            .option("chain_path", str(chain_file))
            .option("start_block", 5)
            .load()
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # chain + subgraph advance to block 7 (one VoteCast change at 6)
    world.extend(
        synthetic_blocks(6, 2, fork_tag="a"),
        {6: {"VoteCast": [vote(1, support=2, reason="streamed")]}},
    )
    write_chain()
    before = len(calls)
    run_stream()
    assert processed == [6, 7]
    assert eng.get_watermark().number == 6

    # restart: chain grows to 9; the SAME checkpoint replays only 8..9
    world.extend(
        synthetic_blocks(8, 2, fork_tag="a"),
        {8: {"VoteCast": [vote(4)]}},
    )
    write_chain()
    run_stream()
    assert processed == [6, 7, 8, 9]  # no duplicates, no gaps
    assert eng.get_watermark().number == 8
    assert table_state(eng, "VoteCast") == expected_votes(world)

    # T7: each of the 4 blocks sent exactly ONE coalesced prefetch doc
    # carrying BOTH strategies; the only extra calls are the follow-up
    # entity fetches for the 2 blocks whose changelog had entries.
    new_calls = calls[before:]
    coalesced = [
        d for d in new_calls
        if "BlockChangeLog_0" in d and "ClaimedRewardsHistory_1" in d
    ]
    assert len(coalesced) == 4
    assert len(new_calls) == 6


def test_many_reorgs_converge_to_the_canonical_fold(spark, tmp_path):
    """A follower whose blocks cost milliseconds meets many reorgs per
    run: over the benchmark's simulator at its tiny sizes, twelve seeded
    reorgs of depth 1-4, each followed by a clean block. Every recovery
    must leave ``detect()`` clean, and at the end every table and the
    watermark must equal the simulator's canonical fold."""
    import random
    from dataclasses import replace

    from perfbench.run import ENTITIES, TINY, WORKLOADS, check_replica
    from perfbench.sim import World as SimWorld, spec_url

    w = WORKLOADS["chain_follow"]
    # a short look-back (still longer than a proposal's active span plus
    # the deepest reorg) lets proposals age out of it within the run, so
    # a recovery that rewinds a table further back than the look-back
    # reaches cannot hide behind the next block's look-back
    spec = replace(w.spec, seed=11, **TINY["chain_follow"], active=6, window=12)
    world = SimWorld(spec)
    eng = SyncEngine(
        spark=spark,
        schema=load_entities(ENTITIES),
        catalog=TableCatalog(spark, tmp_path / "live"),
        client=SubgraphClient(url=spec_url(spec), transport=world.transport),
        lookback_window=spec.window,
    )
    eng.bootstrap(at_block=world.head)
    eng.set_watermark(world.head_block())
    mgr = ReorgManager(engine=eng, chain=world)

    def follow():
        res = eng.run_block(
            world.head_block(),
            append_only_entities=w.append_only,
            lookback_entities=w.lookback,
        )
        assert not [v for v in res.values() if isinstance(v, Exception)], res
        assert eng.get_watermark().number == world.head

    for _ in range(w.behind):  # room for the first reorg's full depth
        world.advance()
    follow()
    depths = random.Random("many-reorgs")
    for cycle in range(12):
        ancestor = world.reorg(depths.randint(1, w.max_depth))
        outcome = mgr.detect_and_recover()
        assert outcome in (f"restored@{ancestor}", "rebuilt"), (cycle, outcome)
        assert mgr.detect() is None, cycle
        world.advance()
        follow()
    failed = [msg for ok, msg in check_replica(eng, world) if not ok]
    assert not failed, failed
