"""Merge-on-read deltas against a last-wins model, Spark-free.

Driver merges append a delta file or fold, by the triggers in
:mod:`..sinks.upsert`; restores to earlier versions bring back their
delta lists. After every step the driver-side readers must agree with
a dict of each key's last row: ``read_arrow()``, ``read_arrow`` of
each bucket (every key in exactly one bucket, the one
:func:`bucket_ids` gives it), ``num_rows`` and, on insert-only
sequences, ``column_max``.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.sinks import merge_upsert
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable, bucket_ids
from rootstock_collective_state_sync_spark.sinks.upsert import FOLD_DELTAS

NUM_BUCKETS = 4

KEYSETS = {
    "long": [T.StructField("k", T.LongType(), False)],
    "composite": [
        T.StructField("s", T.StringType(), False),
        T.StructField("k", T.LongType(), False),
    ],
}


def schema_for(keyset: str) -> T.StructType:
    return T.StructType(KEYSETS[keyset] + [T.StructField("v", T.LongType(), True)])


def key_of(keyset: str, n: int) -> tuple:
    return (n,) if keyset == "long" else (f"s{n % 3}", n // 3)


class Run:
    """A table, its last-wins model, and each version's model."""

    def __init__(self, path, keyset: str):
        self.keyset = keyset
        self.schema = schema_for(keyset)
        self.keys = [f.name for f in KEYSETS[keyset]]
        self.table = VersionedTable(None, path).create(self.schema, self.keys, num_buckets=NUM_BUCKETS)
        self.model: dict[tuple, tuple] = {}
        self.at: dict[int, dict] = {1: {}}
        self.appended = self.folded = 0  # delta commits, folds over deltas

    def merge(self, rows: list[tuple]) -> None:
        before = len(self.table.manifest().deltas)
        v = merge_upsert(self.table, rows)
        after = len(self.table.manifest().deltas)
        self.appended += after > before
        self.folded += before > 0 and after == 0
        for r in rows:
            self.model[r[: len(self.keys)]] = r
        self.at[v] = dict(self.model)
        self.check()

    def restore(self, version: int) -> None:
        self.model = dict(self.at[version])
        self.at[self.table.restore(version)] = dict(self.model)
        self.check()

    def check(self) -> None:
        t, n = self.table, len(self.keys)
        rows = sorted(tuple(r.values()) for r in t.read_arrow().to_pylist())
        assert rows == sorted(self.model.values())
        assert t.num_rows() == len(self.model)
        seen: dict[tuple, int] = {}
        for b in range(NUM_BUCKETS):
            part = t.read_arrow(buckets=[b])
            if part.num_rows:
                ids = bucket_ids(part, self.keys, [self.schema[k].dataType for k in self.keys], NUM_BUCKETS)
                assert set(ids.tolist()) == {b}
            for r in part.to_pylist():
                key = tuple(r.values())[:n]
                assert key not in seen, f"key {key} in buckets {seen[key]} and {b}"
                seen[key] = b
        assert set(seen) == set(self.model)

    def tail(self, start: int) -> None:
        """A 50-row merge, then one-row merges until the delta count
        trigger must have fired: both the delta path and a fold over
        deltas run, whatever the steps before left."""
        self.merge([key_of(self.keyset, start + i) + (i,) for i in range(50)])
        for i in range(FOLD_DELTAS + 1):
            self.merge([key_of(self.keyset, start + 50 + i) + (i,)])
        assert self.appended and self.folded


STEP = st.one_of(
    st.tuples(
        st.just("merge"),
        st.lists(st.tuples(st.integers(0, 80), st.one_of(st.none(), st.integers(-5, 5))), min_size=1, max_size=25),
    ),
    st.tuples(st.just("restore"), st.floats(0, 1)),
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(keyset=st.sampled_from(sorted(KEYSETS)), steps=st.lists(STEP, min_size=1, max_size=25))
def test_random_merges_and_restores_match_a_last_wins_model(tmp_path_factory, keyset, steps):
    run = Run(tmp_path_factory.mktemp("delta") / "t", keyset)
    for op, arg in steps:
        if op == "merge":
            run.merge([key_of(keyset, n) + (v,) for n, v in arg])
        else:
            versions = sorted(run.at)
            run.restore(versions[int(arg * (len(versions) - 1))])
    run.tail(1000)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(1, 30), min_size=1, max_size=20),
    restores=st.lists(st.floats(0, 1), max_size=4),
)
def test_column_max_on_insert_only_sequences(tmp_path_factory, sizes, restores):
    """Each batch inserts fresh keys stamped with a rising block: the
    high-water mark is the model's, across deltas, folds and
    restores."""
    run = Run(tmp_path_factory.mktemp("colmax") / "t", "long")
    assert run.table.column_max("v") is None
    fresh = iter(range(10**6))
    for block, n in enumerate(sizes):
        run.merge([(next(fresh), block) for _ in range(n)])
        if restores and block % 5 == 4:
            versions = sorted(run.at)
            run.restore(versions[int(restores.pop() * (len(versions) - 1))])
        top = max((r[1] for r in run.model.values()), default=None)
        assert run.table.column_max("v") == top
