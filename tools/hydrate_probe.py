"""Bootstrap cost against entity size, on both hydration paths.

For each path and each size, runs one cold Python process that starts
its own Spark session, builds a ``perfbench.sim`` corpus with that many
``VoteCast`` rows, creates the tables and hydrates ``VoteCast`` alone:

- ``driver``: ``SyncEngine.sync_entity``, the keyset walk on the driver
  with one Arrow merge per ``merge_chunk_rows`` rows;
- ``bulk``: ``SyncEngine.hydrate_entity_bulk``, the partition-parallel
  DataSource and one Spark write into the empty table.

Only the hydration call is timed; the session start and the driver's
copy of the corpus are not, while the executors build theirs inside it,
as in ``perfbench``. Each run prints one JSON line: path, rows,
per-request latency, hydration seconds, driver-side requests and Spark
jobs. ``--latency`` sleeps that long before every request, on the
driver and in the executors alike, to stand in for a remote endpoint;
the sleep lives in this tool's transport, not in the engine.

Usage: python tools/hydrate_probe.py [--sizes 1000,10000,100000]
       [--paths driver,bulk] [--latency 0.2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from urllib.parse import urlsplit

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import sim  # noqa: E402

ENTITIES = ROOT / "perfbench" / "entities.yml"
ENTITY = "VoteCast"


def corpus(votes: int, seed: int) -> sim.Spec:
    """``bulk_hydrate``'s corpus shape with ``votes`` vote rows."""
    return sim.Spec(seed=seed, accounts=1_000, proposals=100, votes=votes, claims=0, history=400)


def transport(url: str, body: dict) -> dict:
    """``perfbench.sim.transport`` behind the latency in the url's
    fragment (``#latency=<s>``), importable by executor workers."""
    latency = float(urlsplit(url).fragment.partition("=")[2] or 0)
    time.sleep(latency)
    return sim.transport(url, body)


def one(path: str, rows: int, latency: float, seed: int) -> dict:
    """Hydrate ``ENTITY`` once on ``path`` in this (cold) process."""
    from rootstock_collective_state_sync_spark.config import load_entities
    from rootstock_collective_state_sync_spark.session import get_spark
    from rootstock_collective_state_sync_spark.sinks import TableCatalog
    from rootstock_collective_state_sync_spark.sources.graphql import SubgraphClient
    from rootstock_collective_state_sync_spark.streaming.sync import SyncEngine

    spark = get_spark(app_name="hydrate_probe", extra_conf={"spark.driver.memory": "4g"})
    spec = corpus(rows, seed)
    url = f"{sim.spec_url(spec)}#latency={latency}"
    world = sim.World(spec)

    def delayed(u: str, body: dict) -> dict:
        time.sleep(latency)
        return world.transport(u, body)

    root = tempfile.mkdtemp(prefix="hydrate_probe_")
    try:
        client = SubgraphClient(url=url, transport=delayed)
        engine = SyncEngine(
            spark=spark,
            schema=load_entities(ENTITIES),
            catalog=TableCatalog(spark, root),
            client=client,
            config_path=str(ENTITIES),
            transport_path="tools.hydrate_probe:transport",
        )
        engine.create_tables()
        tracker = spark.sparkContext.statusTracker()
        jobs0 = max(tracker.getJobIdsForGroup(), default=-1)
        t0 = time.perf_counter()
        if path == "driver":
            n = engine.sync_entity(ENTITY)
        else:
            n = engine.hydrate_entity_bulk(ENTITY)
        secs = time.perf_counter() - t0
        jobs = max(tracker.getJobIdsForGroup(), default=-1) - jobs0
        assert n == rows, f"{path}: hydrated {n} rows, corpus has {rows}"
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    return {
        "path": path,
        "rows": rows,
        "latency_s": latency,
        "hydrate_s": round(secs, 3),
        "driver_requests": client.http_requests,
        "spark_jobs": jobs,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sizes", default="1000,10000,100000")
    p.add_argument("--paths", default="driver,bulk")
    p.add_argument("--latency", type=float, default=0.0, help="seconds slept before each request")
    p.add_argument("--seed", type=int, default=101)
    p.add_argument("--one", nargs=2, metavar=("PATH", "ROWS"), help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.one:
        print(json.dumps(one(args.one[0], int(args.one[1]), args.latency, args.seed)))
        return 0
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))}
    for rows in map(int, args.sizes.split(",")):
        for path in args.paths.split(","):
            cmd = [sys.executable, __file__, "--one", path, str(rows),
                   "--latency", str(args.latency), "--seed", str(args.seed)]
            res = subprocess.run(cmd, env=env, capture_output=True, text=True)
            if res.returncode:
                sys.stderr.write(res.stderr[-4000:])
                return res.returncode
            print(res.stdout.strip().splitlines()[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
