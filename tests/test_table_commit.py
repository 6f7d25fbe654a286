"""Commit protocol of :class:`VersionedTable`, Spark-free.

Only metadata commits and driver merges (a delta append and a fold)
run here, so no session is needed. A crash is injected
at each publish call of a commit — ``os.replace`` / ``os.link`` as
``sinks.table`` sees them — and a fresh ``VersionedTable`` on the same
path must then read the pre- or post-commit manifest and accept the
next commit. A two-step commit (manifest, then a ``_CURRENT`` pointer
swing) fails this: a kill between the steps leaves the next version
slot taken while the pointer still names the old version.
"""

from __future__ import annotations

import json
import os
import re
import threading

import pytest
from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.sinks import table as table_mod
from rootstock_collective_state_sync_spark.sinks.table import (
    CommitConflict,
    VersionedTable,
)
from rootstock_collective_state_sync_spark.sinks.upsert import FOLD_DELTAS, merge_upsert

SCHEMA = T.StructType([T.StructField("k", T.LongType(), False)])


class Crash(BaseException):
    """A kill: a ``BaseException`` escapes ``except Exception``."""


class CrashOnPublish:
    """Stands in for ``os`` inside ``sinks.table``. Counts the publish
    calls (``replace``, ``link``) whose target path contains ``scope``
    and raises :class:`Crash` at the ``k``-th one: before it takes
    effect, or right after it when ``after`` is set."""

    def __init__(self, k: int, scope: str = "", after: bool = False):
        self.k, self.scope, self.after = k, scope, after
        self.calls = 0

    def __getattr__(self, name):
        return getattr(os, name)

    def _publish(self, fn, src, dst):
        if self.scope not in str(dst):
            return fn(src, dst)
        self.calls += 1
        if self.calls == self.k and not self.after:
            raise Crash(f"killed before publish call {self.k}")
        out = fn(src, dst)
        if self.calls == self.k:
            raise Crash(f"killed after publish call {self.k}")
        return out

    def replace(self, src, dst):
        return self._publish(os.replace, src, dst)

    def link(self, src, dst):
        return self._publish(os.link, src, dst)


def _create(t: VersionedTable) -> None:
    t.create(SCHEMA, ["k"], num_buckets=4)


def _two_versions(t: VersionedTable) -> None:
    _create(t)
    t.commit_buckets({"0": ["data/a.parquet"]}, 1)


def _with_deltas(t: VersionedTable) -> None:
    """40 base rows, then deltas up to the count that makes the next
    driver merge fold."""
    _create(t)
    merge_upsert(t, [(k,) for k in range(40)])
    for k in range(FOLD_DELTAS):
        merge_upsert(t, [(100 + k,)])
    assert len(t.manifest().deltas) == FOLD_DELTAS


def _delta(t: VersionedTable) -> None:
    m = t.manifest()
    merge_upsert(t, [(7,), (200,)])
    assert len(t.manifest().deltas) == len(m.deltas) + 1


def _fold(t: VersionedTable) -> None:
    merge_upsert(t, [(7,), (300,)])
    assert not t.manifest().deltas


OPS = {
    # name: (setup, operation under test)
    "create": (lambda t: None, _create),
    "commit_buckets": (
        _two_versions,
        lambda t: t.commit_buckets({"1": ["data/b.parquet"]}, 2),
    ),
    "restore": (_two_versions, lambda t: t.restore(1)),
    "delta": (lambda t: (_create(t), merge_upsert(t, [(k,) for k in range(40)])), _delta),
    "fold": (_with_deltas, _fold),
}


def _state(path) -> str | None:
    """The current manifest, with the random names of the files a merge
    writes masked, so two runs of one merge compare equal."""
    t = VersionedTable(None, path)
    if not t.exists():
        return None
    return re.sub(r"data/tx-[0-9a-f]+/[^\"]+", "data/tx-*", t.manifest().to_json())


def _next_commit(path) -> None:
    t = VersionedTable(None, path)
    if not t.exists():
        _create(t)
        return
    cur = t.current_version()
    assert t.commit_buckets({"2": ["data/c.parquet"]}, cur) == cur + 1
    assert VersionedTable(None, path).current_version() == cur + 1


@pytest.mark.parametrize("after", [False, True], ids=["before", "after"])
@pytest.mark.parametrize("op", sorted(OPS))
def test_crash_at_each_publish_call_leaves_a_committable_table(
    tmp_path, monkeypatch, op, after
):
    setup, run = OPS[op]
    ref = tmp_path / "ref"
    setup(VersionedTable(None, ref))
    pre = _state(ref)
    run(VersionedTable(None, ref))
    post = _state(ref)

    k = 1
    while True:
        path = tmp_path / f"k{k}"
        setup(VersionedTable(None, path))
        crasher = CrashOnPublish(k, after=after)
        monkeypatch.setattr(table_mod, "os", crasher)
        try:
            run(VersionedTable(None, path))
        except Crash:
            pass
        finally:
            monkeypatch.setattr(table_mod, "os", os)
        if crasher.calls < k:
            assert _state(path) == post  # completed without reaching k
            break
        assert _state(path) in (pre, post), f"kill point {k}"
        _next_commit(path)
        k += 1
    assert k > 1  # at least one kill point was exercised


def test_racing_writers_exactly_one_wins(tmp_path, monkeypatch):
    """Both writers pass the version pre-check before either
    publishes; the exclusive manifest creation must pick one."""
    path = tmp_path / "t"
    _two_versions(VersionedTable(None, path))
    gate = threading.Barrier(2, timeout=10)

    class Gated:
        def __getattr__(self, name):
            return getattr(os, name)

        def replace(self, src, dst):
            gate.wait()
            return os.replace(src, dst)

        def link(self, src, dst):
            gate.wait()
            return os.link(src, dst)

    monkeypatch.setattr(table_mod, "os", Gated())
    outcomes: dict[str, object] = {}

    def writer(bucket: str) -> None:
        try:
            outcomes[bucket] = VersionedTable(None, path).commit_buckets(
                {bucket: [f"data/{bucket}.parquet"]}, 2
            )
        except CommitConflict as exc:
            outcomes[bucket] = exc

    threads = [threading.Thread(target=writer, args=(b,)) for b in "12"]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=30)
        assert not th.is_alive()
    monkeypatch.setattr(table_mod, "os", os)

    won = [b for b, r in outcomes.items() if r == 3]
    lost = [b for b, r in outcomes.items() if isinstance(r, CommitConflict)]
    assert len(won) == 1 and len(lost) == 1, outcomes
    m = VersionedTable(None, path).manifest()
    assert m.version == 3
    assert won[0] in m.buckets and lost[0] not in m.buckets


def test_stale_writer_cannot_reuse_a_vacuumed_slot(tmp_path):
    path = tmp_path / "t"
    t = VersionedTable(None, path)
    _create(t)
    # a writer builds v2 on v1, then stalls
    stale = t.manifest(1)
    stale.version = 2
    stale.buckets = {"3": ["data/stale.parquet"]}
    for i in range(2):
        t.commit_buckets({"0": [f"data/{i}.parquet"]}, t.current_version())
    assert t.vacuum(retain_last=1)["versions_removed"] == 2  # frees v1, v2
    with pytest.raises(CommitConflict):
        t._commit(stale, 1)
    assert [h["version"] for h in t.history()] == [3]
    assert t.manifest().buckets == {"0": ["data/1.parquet"]}


def test_a_manifest_with_per_file_statistics_still_reads_and_commits(tmp_path):
    """Manifests written while the store kept per-file statistics carry
    ``stats_cols`` and ``file_stats`` in their meta. Meta is opaque:
    such a table still reads, takes driver merges and restores, and the
    old keys ride along untouched."""
    from rootstock_collective_state_sync_spark.sinks.upsert import merge_upsert

    t = VersionedTable(None, tmp_path / "t")
    t.create(SCHEMA, ["k"], num_buckets=4, meta={"stats_cols": ["k"]})
    v2 = merge_upsert(t, [(1,), (2,), (3,)])
    legacy = {"stats_cols": ["k"], "file_stats": {f: {"rows": 1, "k": [1, 3, 0]} for f in t.manifest().files()}}
    v3 = t.commit_buckets({}, v2, meta=legacy)
    assert sorted(t.read_arrow()["k"].to_pylist()) == [1, 2, 3]

    v4 = merge_upsert(t, [(3,), (4,)])
    assert v4 == v3 + 1
    assert sorted(t.read_arrow()["k"].to_pylist()) == [1, 2, 3, 4]
    assert t.column_max("k") == 4 and t.num_rows() == 4
    assert t.manifest().meta == legacy
    t.restore(v3)
    assert sorted(t.read_arrow()["k"].to_pylist()) == [1, 2, 3]
    assert t.manifest().meta == {**legacy, "restoredFrom": v3}


def _keys(t: VersionedTable) -> list[int]:
    return sorted(t.read_arrow()["k"].to_pylist())


def test_vacuum_keeps_the_deltas_a_retained_manifest_lists(tmp_path):
    """Delta files are live while a retained manifest lists them, and
    are deleted once none does."""
    t = VersionedTable(None, tmp_path / "t")
    _create(t)
    v2 = merge_upsert(t, [(k,) for k in range(20)])
    merge_upsert(t, [(1,), (50,)])  # v3: a delta
    d1 = t.manifest().deltas[0]["file"]
    t.restore(v2)  # v4 lists no delta; v3 still does
    assert t.vacuum(retain_last=2, grace_seconds=0.0)["files_removed"] == 0
    assert (t.path / d1).exists()
    assert t.vacuum(retain_last=1, grace_seconds=0.0)["files_removed"] == 1
    assert not (t.path / d1).exists()
    assert _keys(t) == list(range(20))

    merge_upsert(t, [(51,)])  # v5: a delta on the restored base
    d2 = t.manifest().deltas[0]["file"]
    assert t.vacuum(retain_last=1, grace_seconds=0.0)["files_removed"] == 0
    assert (t.path / d2).exists()
    assert _keys(t) == list(range(20)) + [51]
    assert on_disk(t) == set(t.manifest().all_files())


def on_disk(t: VersionedTable) -> set[str]:
    return {str(p.relative_to(t.path)) for p in (t.path / "data").rglob("*.parquet")}


def test_a_manifest_without_deltas_or_row_counts_reads_and_takes_commits(tmp_path):
    """A manifest written before tables kept deltas has neither
    ``deltas`` nor ``bucketRows``: it reads as it did, its base rows
    come from the footers, and it takes delta merges and folds."""
    t = VersionedTable(None, tmp_path / "t")
    _create(t)
    v2 = merge_upsert(t, [(k,) for k in range(30)])
    d = json.loads(t.manifest().to_json())
    del d["deltas"], d["bucketRows"]
    d["version"] = v2 + 1
    t._manifest_path(v2 + 1).write_text(json.dumps(d))
    m = t.manifest()
    assert m.deltas == [] and m.bucket_rows == {}
    assert _keys(t) == list(range(30)) and t.num_rows() == 30
    assert t.base_rows(m) == 30

    merge_upsert(t, [(3,), (30,)])
    assert len(t.manifest().deltas) == 1
    assert _keys(t) == list(range(31)) and t.num_rows() == 31
    merge_upsert(t, [(k,) for k in range(31, 70)])  # past the base rows: a fold
    m = t.manifest()
    assert not m.deltas and sum(m.bucket_rows.values()) == 70
    assert _keys(t) == list(range(70)) and t.column_max("k") == 69
