"""Merge cost against table size, on the driver path.

Times a 55-row merge of driver-held rows (30 updates, 25 inserts), an
Arrow table as the sync loop passes it, into a 16-bucket table of 3k,
100k and 10^6 rows, and prints one JSON line: per size the median of
five merges in seconds, and the rows and buckets each merge rewrote.
The driver path starts no Spark job, so no session is started.

Usage: python tools/merge_probe.py [--sizes 3000,100000,1000000]
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
REPEATS = 5
CHUNK = 100_000


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


def probe(root: str, size: int, rng: random.Random) -> dict:
    table = VersionedTable(None, os.path.join(root, f"t{size}"))
    table.create(SCHEMA, ["id"], num_buckets=BUCKETS)
    ids = [rng.randbytes(32) for _ in range(size)]
    for i in range(0, size, CHUNK):
        merge_upsert(table, batch(rng, ids[i : i + CHUNK], 1))
    secs, rewritten, buckets = [], [], []
    for rep in range(REPEATS):
        keys = rng.sample(ids, BATCH_UPDATES) + [rng.randbytes(32) for _ in range(BATCH_INSERTS)]
        rows = batch(rng, keys, 2 + rep)
        before = table.manifest().buckets
        t0 = time.perf_counter()
        merge_upsert(table, rows)
        secs.append(time.perf_counter() - t0)
        after = table.manifest().buckets
        new = [f for b, fs in after.items() if fs != before.get(b) for f in fs]
        buckets.append(len(new))
        rewritten.append(sum(pq.read_metadata(os.path.join(table.path, f)).num_rows for f in new))
    assert table.num_rows() == size + REPEATS * BATCH_INSERTS
    return {
        "merge_s_p50": round(statistics.median(secs), 4),
        "merge_s": [round(s, 4) for s in secs],
        "rows_rewritten_p50": statistics.median(rewritten),
        "buckets_rewritten_p50": statistics.median(buckets),
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sizes", default="3000,100000,1000000")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    rng = random.Random(args.seed)
    root = tempfile.mkdtemp(prefix="merge_probe_")
    try:
        out = {
            "batch_rows": BATCH_UPDATES + BATCH_INSERTS,
            "buckets": BUCKETS,
            "sizes": {str(n): probe(root, n, rng) for n in map(int, args.sizes.split(","))},
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
