"""Merge and read cost against table size, on the driver path.

Fills a 16-bucket table with 3k, 100k and 10^6 rows in one merge (a
fold into an empty table), then runs ``FOLD_DELTAS + 1`` merges of 55
driver-held rows (30 updates, 25 inserts), an Arrow table as the sync
loop passes it: the first ``FOLD_DELTAS`` append a delta each, and the
last folds them into the buckets. Per size it reports:

- ``delta_merge_s_p50``: the median delta merge, and the rows it wrote;
- ``fold_s``: the folding merge, and the rows and buckets it rewrote;
- ``cycle_s_mean``: the mean merge over the whole cycle, fold included;
- reader overhead, each read timed at ``FOLD_DELTAS`` deltas and again
  once folded (55 rows more): ``read_arrow()`` on the driver and, with
  ``--spark``, the Spark ``read()`` run to the end through a noop write.

``ratio_1m_to_3k`` divides the 10^6-row delta merge by the 3k-row one
(ROADMAP item 4's bar: within 2x). Prints one JSON line. The merges
start no Spark job; only ``--spark`` starts a session (two cores, 2 GB).

Usage: python tools/merge_probe.py [--sizes 3000,100000,1000000] [--spark]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from rootstock_collective_state_sync_spark.sinks import merge_upsert  # noqa: E402
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable  # noqa: E402
from rootstock_collective_state_sync_spark.sinks.upsert import FOLD_DELTAS  # noqa: E402

SCHEMA = T.StructType(
    [
        T.StructField("id", T.BinaryType(), False),
        T.StructField("voter", T.BinaryType(), True),
        T.StructField("weight", T.DecimalType(38, 0), True),
        T.StructField("reason", T.StringType(), True),
        T.StructField("blockNumber", T.DecimalType(38, 0), True),
    ]
)
BUCKETS = 16
BATCH_UPDATES, BATCH_INSERTS = 30, 25


def batch(rng: random.Random, ids: list[bytes], block: int) -> pa.Table:
    """One merge batch, a row per id, in the table's Arrow types."""
    dec = pa.decimal128(38, 0)
    return pa.table(
        {
            "id": pa.array(ids, pa.binary()),
            "voter": pa.array([rng.randbytes(20) for _ in ids], pa.binary()),
            "weight": pa.array([Decimal(rng.getrandbits(80)) for _ in ids], dec),
            "reason": pa.array(["r" * rng.randint(0, 40) for _ in ids], pa.string()),
            "blockNumber": pa.array([Decimal(block)] * len(ids), dec),
        }
    )


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def reads(table: VersionedTable, spark) -> dict:
    out = {"read_arrow_s": round(timed(table.read_arrow), 4)}
    if spark is not None:
        run = lambda: table.read().write.format("noop").mode("overwrite").save()  # noqa: E731
        run()  # warm: plan and class loading
        out["spark_read_s"] = round(timed(run), 4)
    return out


def probe(root: str, size: int, rng: random.Random, spark) -> dict:
    table = VersionedTable(spark, os.path.join(root, f"t{size}"))
    table.create(SCHEMA, ["id"], num_buckets=BUCKETS)
    ids = [rng.randbytes(32) for _ in range(size)]
    merge_upsert(table, batch(rng, ids, 1))
    secs, written = [], []
    at_deltas = None
    for rep in range(FOLD_DELTAS + 1):
        if rep == FOLD_DELTAS:
            at_deltas = reads(table, spark)
        keys = rng.sample(ids, BATCH_UPDATES) + [rng.randbytes(32) for _ in range(BATCH_INSERTS)]
        before = set(table.manifest().all_files())
        secs.append(timed(lambda: merge_upsert(table, batch(rng, keys, 2 + rep))))
        m = table.manifest()
        new = [f for f in m.all_files() if f not in before]
        written.append(
            {
                "rows": sum(pq.read_metadata(os.path.join(table.path, f)).num_rows for f in new),
                "buckets": sum(1 for fs in m.buckets.values() if set(fs) - before),
            }
        )
    assert not table.manifest().deltas, "the last merge of the cycle folds"
    assert table.num_rows() == size + (FOLD_DELTAS + 1) * BATCH_INSERTS
    return {
        "delta_merge_s_p50": round(statistics.median(secs[:-1]), 4),
        "delta_rows_written_p50": statistics.median(w["rows"] for w in written[:-1]),
        "fold_s": round(secs[-1], 4),
        "fold_rows_rewritten": written[-1]["rows"],
        "fold_buckets_rewritten": written[-1]["buckets"],
        "cycle_s_mean": round(statistics.mean(secs), 4),
        "merge_s": [round(s, 4) for s in secs],
        "reads_at_max_deltas": at_deltas,
        "reads_folded": reads(table, spark),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sizes", default="3000,100000,1000000")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--spark", action="store_true", help="also time the Spark read()")
    args = p.parse_args(argv)
    rng = random.Random(args.seed)
    spark = None
    if args.spark:
        from rootstock_collective_state_sync_spark.session import get_spark

        spark = get_spark(app_name="merge_probe", master="local[2]", extra_conf={"spark.driver.memory": "2g"})
    root = tempfile.mkdtemp(prefix="merge_probe_")
    try:
        sizes = {n: probe(root, n, rng, spark) for n in map(int, args.sizes.split(","))}
    finally:
        shutil.rmtree(root, ignore_errors=True)
        if spark is not None:
            spark.stop()
    out = {
        "batch_rows": BATCH_UPDATES + BATCH_INSERTS,
        "buckets": BUCKETS,
        "fold_deltas": FOLD_DELTAS,
        "sizes": {str(n): r for n, r in sizes.items()},
    }
    if 3000 in sizes and 1_000_000 in sizes:
        small, big = sizes[3000]["delta_merge_s_p50"], sizes[1_000_000]["delta_merge_s_p50"]
        out["ratio_1m_to_3k"] = round(big / small, 2)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
