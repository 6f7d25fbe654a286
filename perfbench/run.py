"""State-sync benchmark: chain follow with reorgs and bulk hydration.

    python3 perfbench/run.py --workload chain_follow --seed 1 --seconds 10 --trace 0

Runs one workload in one process on ``local[N]`` against the seeded
in-process simulator (:mod:`perfbench.sim`), checks the replica
against the simulator's canonical state outside the timed regions and
prints, as its last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, replace
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402
from perfbench.sim import Spec, World, spec_url  # noqa: E402
from perfbench.trace import Tracer, mean, median  # noqa: E402
from rootstock_collective_state_sync_spark.streaming.sync import WATERMARK_ENTITY  # noqa: E402


@dataclass(frozen=True)
class Workload:
    spec: Spec
    bulk: bool  # bootstrap through the partition-parallel DataSource
    block_votes: tuple[int, int] | None  # (new, updated) votes per block; None = spec mix
    append_only: tuple[str, ...]  # strategies run_block drives besides the changelog
    lookback: tuple[str, ...]
    max_depth: int  # deepest seeded reorg, one per follow cycle; 0: no reorgs
    behind: int  # blocks the chain moves on while the follower hydrates


WORKLOADS = {
    "chain_follow": Workload(
        Spec(seed=0, accounts=300, proposals=60, votes=2_000, claims=300, history=300),
        bulk=False, block_votes=None,
        append_only=("ClaimedRewardsHistory",), lookback=("Proposal",),
        max_depth=4, behind=4,
    ),
    "bulk_hydrate": Workload(
        Spec(seed=0, accounts=1_000, proposals=100, votes=9_500, claims=0, history=400,
             new_claims=0, updated_proposals=0, proposal_every=10**9),
        bulk=True, block_votes=(5_000, 5_000),
        append_only=(), lookback=(), max_depth=0, behind=1,
    ),
}

ENTITIES = Path(__file__).resolve().parent / "entities.yml"

SETUPS = 3  # set-ups per run; setup_s reports their median

TINY = {
    "chain_follow": dict(accounts=20, proposals=10, votes=300, claims=40, history=30),
    "bulk_hydrate": dict(accounts=20, proposals=10, votes=1_000, history=30),
}


# -- correctness ---------------------------------------------------------------


def _norm(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dict):
        return _norm(v.get("id"))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    s = str(v)
    # numbers arrive as Decimal/int from Spark and as str from the wire
    return str(int(s)) if s.lstrip("-").isdigit() else s.lower() if s.startswith("0x") else s


def _rows_from_table(engine, name: str, cols: list[str]) -> set[str]:
    tbl = engine.catalog.table(name).read().select(*cols).toArrow()
    columns = [tbl.column(c).to_pylist() for c in cols]
    return {"|".join(_norm(v) for v in row) for row in zip(*columns)}


def _rows_from_world(world: World, name: str, cols: list[str]) -> set[str]:
    return {"|".join(_norm(r.get(c)) for c in cols) for r in world.fold(name).values()}


def check_replica(engine, world: World) -> list[tuple[bool, str]]:
    """Compare every synced table and the watermark with the
    simulator's canonical fold: one (ok, message) per check."""
    out = []
    for name in synced(engine.schema):
        cols = list(engine.schema[name].column_names)
        got = _rows_from_table(engine, name, cols)
        want = _rows_from_world(world, name, cols)
        out.append((got == want, f"{name}: {len(got)} rows vs {len(want)}, {len(got ^ want)} differ"))
    wm = engine.get_watermark()
    head = world.head_block()
    ok = wm is not None and wm.number == head.number and wm.hash == head.hash
    out.append((ok, f"watermark {wm} vs head {head.number}"))
    return out


def synced(schema) -> list[str]:
    return [n for n in schema.entities if n != WATERMARK_ENTITY]


class Ops:
    """Tally of attempted operations and of the failed ones, with a
    reason each."""

    def __init__(self):
        self.attempted = 0
        self.problems: list[str] = []

    @property
    def failed(self) -> int:
        return len(self.problems)

    def expect(self, ok: bool, problem: str) -> None:
        self.attempted += 1
        if not ok:
            self.problems.append(problem)

    def record_block(self, block, res: dict, wm) -> None:
        """One op per strategy run, plus the watermark landing on ``block``."""
        for label, v in res.items():
            self.expect(not isinstance(v, Exception), f"{label} raised {v!r}")
        ok = wm is not None and wm.number == block.number
        self.expect(ok, f"block {block.number}: watermark {wm}")


# -- instrumentation -------------------------------------------------------------


def _buckets(table) -> dict[str, list[str]]:
    return table.manifest().buckets if table.exists() else {}


def instrument(tracer: Tracer, spark) -> dict:
    """Wrap each layer's public calls; returns per-merge write stats."""
    import pyarrow.parquet as pq

    from rootstock_collective_state_sync_spark.sinks import table as table_mod, upsert
    from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient
    from rootstock_collective_state_sync_spark.streaming.reorg import ReorgManager
    from rootstock_collective_state_sync_spark.streaming.sync import SyncEngine

    writes: dict[int, dict] = {}  # merge span id -> stats

    def merge_after(span, args, before):
        tbl, batch = args[0], args[1]
        after = _buckets(tbl)
        new = {f for fs in after.values() for f in fs} - {f for fs in before.values() for f in fs}
        writes[span.id] = {
            "buckets": sum(1 for b in set(after) | set(before) if after.get(b) != before.get(b)),
            "rows": sum(pq.read_metadata(tbl.path / f).num_rows for f in new),
            "bytes": sum(os.path.getsize(tbl.path / f) for f in new),
            "batch": getattr(batch, "_perfbench_rows", None),
        }

    orig_create = type(spark).createDataFrame

    def tagged_create(self, data, *a, **k):
        df = orig_create(self, data, *a, **k)
        if isinstance(data, list):
            df._perfbench_rows = len(data)
        return df

    type(spark).createDataFrame = tagged_create
    tracer._restore.append((type(spark), "createDataFrame", orig_create))

    for attr, jobs in [
        ("bootstrap", True), ("hydrate_entity_bulk", True), ("run_block", True),
        ("get_watermark", False), ("_append_where", False), ("sync_entity", True),
        ("sync_from_changelog", False), ("set_watermark", False),
    ]:
        tracer.wrap(SyncEngine, attr, f"sync.{attr.lstrip('_')}", jobs)
    for attr in ["detect_and_recover", "detect", "find_common_ancestor", "recover_restore", "recover_rebuild"]:
        tracer.wrap(ReorgManager, attr, f"reorg.{attr}", jobs=attr == "detect_and_recover")
    tracer.wrap(upsert, "merge_upsert", "upsert.merge", True, before=lambda a: _buckets(a[0]), after=merge_after)
    for attr in ["manifest", "history", "restore", "read"]:
        tracer.wrap(table_mod.VersionedTable, attr, f"table.{attr}")
    tracer.wrap(SubgraphClient, "_execute_doc", "graphql.request")
    tracer.wrap(SubgraphClient, "execute_routed", "graphql.request")
    for attr in ["get_block", "head_block"]:
        tracer.wrap(World, attr, "chain.call")
    tracer.wrap(World, "transport", "gen.transport")
    return writes


# -- the run ---------------------------------------------------------------------


def run(spark, args, run_dir: Path, session_s: float) -> dict:
    from rootstock_collective_state_sync_spark.config import load_entities
    from rootstock_collective_state_sync_spark.sinks import TableCatalog
    from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient
    from rootstock_collective_state_sync_spark.streaming.reorg import ReorgManager
    from rootstock_collective_state_sync_spark.streaming.sync import SyncEngine

    w = WORKLOADS[args.workload]
    spec = replace(w.spec, seed=args.seed, **(TINY[args.workload] if args.tiny else {}))
    if args.tiny and w.block_votes:
        w = replace(w, block_votes=(100, 100))
    tracer = Tracer(spark, run_dir.name)
    writes = instrument(tracer, spark) if args.trace else {}
    gen_log = run_dir / "gen_workers.log"
    url = spec_url(spec, log=str(gen_log) if args.trace else None)

    ops = Ops()
    t_start = time.perf_counter()
    depths = random.Random(f"{args.seed}:reorgs")

    def untraced(fn, *a):
        tracing, tracer.enabled = tracer.enabled, False
        try:
            return fn(*a)
        finally:
            tracer.enabled = tracing

    def set_up():
        """Corpus, simulated endpoint and chain, and an engine over a fresh catalog."""
        world = World(spec)
        client = SubgraphClient(url=url, transport=world.transport)
        engine = SyncEngine(
            spark=spark,
            schema=load_entities(ENTITIES),
            catalog=TableCatalog(spark, run_dir / "tables"),
            client=client,
            lookback_window=spec.window,
            config_path=str(ENTITIES) if w.bulk else None,
            transport_path="perfbench.sim:transport" if w.bulk else None,
        )
        return world, client, engine

    def hydrate() -> tuple[float, int]:
        t0 = time.perf_counter()
        counts = engine.bootstrap(at_block=world.head)
        secs = time.perf_counter() - t0
        engine.set_watermark(world.head_block())
        for name, n in counts.items():
            have = len(world.tables[name].ids)
            ops.expect(n == have, f"hydrate {name}: {n} rows, corpus has {have}")
        return secs, sum(counts.values())

    def apply_block(behind: int = 1) -> dict:
        """Mine ``behind`` blocks, then have the follower catch up to the
        new head with one ``run_block`` call."""
        for _ in range(behind):
            b = world.advance(*(w.block_votes or ()))
        h0, q0 = client.http_requests, client.queries_sent
        t0 = time.perf_counter()
        res = engine.run_block(b, append_only_entities=w.append_only, lookback_entities=w.lookback)
        wm = engine.get_watermark()
        dt = time.perf_counter() - t0
        ops.record_block(b, res, wm)
        rows = sum(v for v in res.values() if isinstance(v, int))
        rows += sum(res["changelog"].values()) if isinstance(res.get("changelog"), dict) else 0
        return dict(secs=dt, rows=rows, http=client.http_requests - h0, queries=client.queries_sent - q0)

    def recover(depth: int) -> dict:
        ancestor = world.reorg(depth)
        t0 = time.perf_counter()
        try:
            outcome = mgr.detect_and_recover()
        except Exception as exc:  # counted as a failed op; the run goes on
            outcome = repr(exc)
        dt = time.perf_counter() - t0
        ops.expect(outcome in (f"restored@{ancestor}", "rebuilt"), f"reorg to {ancestor}: {outcome}")
        clean = untraced(mgr.detect) is None
        ops.expect(clean, f"reorg to {ancestor}: detect() not clean after recovery")
        return dict(secs=dt, depth=depth, restored=outcome.startswith("restored"))

    # ---- set-up. The corpus, endpoint and chain, and an engine, SETUPS
    # times; the last one is kept. Then the follower's bootstrap, with the
    # watermark stamped at the corpus head, on a cold JVM: its first merge
    # pays class loading and code generation and, on the bulk path, the
    # DataSource's first read the start of the Python workers. setup_s is
    # the session start, the median set-up and the bootstrap.
    setups = []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        world, client, engine = set_up()
        setups.append(time.perf_counter() - t0)
    mgr = ReorgManager(engine=engine, chain=world)
    jobs = [tracer.jobs_started()]  # Spark jobs started before and after the traced part
    tracer.enabled = bool(args.trace)
    hydrate_s, hydrated = hydrate()
    setup_s = session_s + median(setups) + hydrate_s

    # ---- timed: following for --seconds. While the follower hydrated, the
    # chain moved on by w.behind blocks; the first clean block catches up
    # to the head in one run_block call, which gives the first reorg room
    # for its full depth (a fork point at or above the bootstrap version).
    # Then cycles: on a workload with reorgs one seeded reorg, then one
    # clean block, so a run ends on a clean block; that lets the
    # append-only and look-back strategies catch up after a recovery,
    # which replays the changelog only. A workload with reorgs makes at
    # least one cycle; another cycle starts only if one as long as the
    # last (or the catch-up) still ends within --seconds.
    blocks: list[dict] = []  # clean blocks: secs, rows, http, queries
    reorgs: list[dict] = []
    hydrate_head = world.head
    t_follow = time.perf_counter()
    blocks.append(apply_block(behind=w.behind))
    last = time.perf_counter() - t_follow
    while (w.max_depth and not reorgs) or time.perf_counter() - t_follow + last <= args.seconds:
        t0 = time.perf_counter()
        if w.max_depth:
            reorgs.append(recover(depths.randint(1, w.max_depth)))
        blocks.append(apply_block())
        last = time.perf_counter() - t0
    tracer.enabled = False
    jobs.append(tracer.jobs_started())
    follow_s = sum(b["secs"] for b in blocks) + sum(r["secs"] for r in reorgs)
    wall_s = time.perf_counter() - t_start

    # ---- correctness (untimed) -----------------------------------------------------
    for ok, msg in check_replica(engine, world):
        ops.expect(ok, msg)
    for p in ops.problems:
        print("perfbench: FAIL", p, file=sys.stderr)

    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "block_visible_p50_s": (median(b["secs"] for b in blocks), "s"),
            "catchup_rows_per_s": (median(b["rows"] / b["secs"] for b in blocks), "rows/s"),
            "follow_blocks_per_s": ((world.head - hydrate_head) / follow_s, "1/s"),
        }
    else:
        metrics = layer_metrics(tracer, writes, blocks, reorgs, engine, gen_log, world, jobs, wall_s)
        metrics["sync.hydrate_rows_per_s"] = (hydrated / hydrate_s, "rows/s")
        metrics["host.peak_rss_mb"] = (host.peak_rss_mb(host.jvm_pid(spark)), "MB")
        metrics["op_fail_ratio"] = (ops.failed / ops.attempted, "ratio")
        tracer.unwrap()
        tracer.write(run_dir / "spans.jsonl")
        (run_dir / "self_times.json").write_text(json.dumps(tracer.self_times(), indent=1))
    timed = {"hydrate_s": hydrate_s, "timed_s": follow_s, "blocks": blocks, "reorgs": reorgs}
    (run_dir / "ops.json").write_text(json.dumps(timed))
    return {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def layer_metrics(tracer, writes, blocks, reorgs, engine, gen_log, world, jobs, wall_s) -> dict:
    traced_blocks = tracer.named("sync.run_block")
    recoveries = tracer.named("reorg.detect_and_recover")

    def within(name, spans):
        return [c for s in spans for c in tracer.named(name, within=s)]

    def per(name, spans):
        return [sum(c.dur for c in tracer.named(name, within=s)) for s in spans]

    merges = within("upsert.merge", traced_blocks)
    merge_stats = [writes[m.id] for m in merges if m.id in writes]
    tagged = [m for m in merge_stats if m["batch"]]
    worker_lines = gen_log.read_text().split() if gen_log.exists() else []
    worker_busy = sum(float(x) for x in worker_lines[1::2])
    gen_busy = world.busy_s + worker_busy
    tasks, failed_tasks = tracer.task_counts(*jobs)
    hydrate = tracer.named("sync.bootstrap")
    table_root = engine.catalog.root
    files = list(table_root.rglob("*.parquet"))
    http = sum(b["http"] for b in blocks)
    return {
        "sync.spark_jobs_per_block": (mean(s.jobs for s in traced_blocks), "count"),
        "sync.get_watermark_s": (median(s.dur for s in within("sync.get_watermark", traced_blocks)), "s"),
        "sync.append_where_s": (median(s.dur for s in within("sync.append_where", traced_blocks)), "s"),
        "sync.entity_s": (median(s.dur for s in within("sync.sync_entity", traced_blocks)), "s"),
        "upsert.s_p50": (median(m.dur for m in merges), "s"),
        "upsert.spark_jobs_per_call": (mean(m.jobs for m in merges), "count"),
        "upsert.buckets_rewritten_per_call": (mean(m["buckets"] for m in merge_stats), "count"),
        "upsert.write_amplification": (
            sum(m["rows"] for m in tagged) / max(1, sum(m["batch"] for m in tagged)), "ratio"),
        "upsert.bytes_written": (mean(m["bytes"] for m in merge_stats), "B"),
        "table.manifest_reads_per_block": (mean(len(tracer.named("table.manifest", within=s)) for s in traced_blocks), "count"),
        "table.history_s": (median(per("table.history", recoveries)), "s"),
        "table.restore_s": (median(per("table.restore", recoveries)), "s"),
        "table.versions_end": (sum(1 for _ in table_root.glob("*/_versions/v*.json")), "count"),
        "table.files_end": (len(files), "count"),
        "table.bytes_end": (sum(p.stat().st_size for p in files), "B"),
        "graphql.http_requests_per_block": (http / max(1, len(blocks)), "count"),
        "graphql.queries_per_request": (sum(b["queries"] for b in blocks) / max(1, http), "ratio"),
        "reorg.recover_s": (median(s.dur for s in recoveries), "s"),
        "reorg.detect_s": (median(s.dur for s in within("reorg.detect", recoveries)), "s"),
        "reorg.ancestor_s": (median(s.dur for s in within("reorg.find_common_ancestor", recoveries)), "s"),
        "reorg.chain_calls_per_reorg": (mean(len(tracer.named("chain.call", within=s)) for s in recoveries), "count"),
        "reorg.restore_replay_s": (median(s.dur for s in within("reorg.recover_restore", recoveries)), "s"),
        "reorg.restore_ratio": (sum(r["restored"] for r in reorgs) / max(1, len(reorgs)), "ratio"),
        "subgraph_source.hydrate_s": (sum(s.dur for s in hydrate), "s"),
        "subgraph_source.requests": (len(within("graphql.request", hydrate)) + len(worker_lines) // 2, "count"),
        "subgraph_source.spark_jobs": (sum(s.jobs for s in hydrate), "count"),
        "spark.jobs": (jobs[1] - jobs[0], "count"),
        "spark.tasks": (tasks, "count"),
        "spark.failed_tasks": (failed_tasks, "count"),
        "gen.busy_s": (gen_busy, "s"),
        "gen.share": (gen_busy / wall_s, "ratio"),
        "trace.wrapper_s": (tracer.wrapper_s, "s"),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny sizes for the self-test")
    args = p.parse_args(argv)

    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    host.pin_env(run_dir)
    probe_s = host.host_probe_s()
    cpu0 = host.cpu_times()
    t0 = time.perf_counter()
    spark = host.start_session(run_dir)
    session_s = time.perf_counter() - t0
    try:
        result = run(spark, args, run_dir, session_s)
    finally:
        host.stop_session(spark)
        for d in ("tables", "spark-local", "tmp"):
            shutil.rmtree(run_dir / d, ignore_errors=True)
    steal = host.steal_share(cpu0, host.cpu_times())
    (run_dir / "result.json").write_text(
        json.dumps({"args": vars(args), "host_probe_s": probe_s, "cpu_steal": steal, "result": result}, indent=1)
    )
    print(f"perfbench: host_probe_s={probe_s:.4f} cpu_steal={steal:.3f} run_dir={run_dir}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
