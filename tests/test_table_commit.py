"""Commit protocol of :class:`VersionedTable`, Spark-free.

Only metadata commits run here (``create``, ``commit_buckets``,
``restore``, ``vacuum``), so no session is needed. A crash is injected
at each publish call of a commit — ``os.replace`` / ``os.link`` as
``sinks.table`` sees them — and a fresh ``VersionedTable`` on the same
path must then read the pre- or post-commit manifest and accept the
next commit. A two-step commit (manifest, then a ``_CURRENT`` pointer
swing) fails this: a kill between the steps leaves the next version
slot taken while the pointer still names the old version.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.sinks import table as table_mod
from rootstock_collective_state_sync_spark.sinks.table import (
    CommitConflict,
    VersionedTable,
)

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


OPS = {
    # name: (setup, operation under test)
    "create": (lambda t: None, _create),
    "commit_buckets": (
        _two_versions,
        lambda t: t.commit_buckets({"1": ["data/b.parquet"]}, 2),
    ),
    "restore": (_two_versions, lambda t: t.restore(1)),
}


def _state(path) -> str | None:
    t = VersionedTable(None, path)
    return t.manifest().to_json() if t.exists() else None


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
