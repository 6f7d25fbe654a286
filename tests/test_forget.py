"""Targeted deletion e2e: forget_keys rewrites ONLY the buckets
holding the doomed keys (unaffected buckets keep their exact files),
older versions still time-travel until ``vacuum(retain_last=1,
grace_seconds=0.0)`` deletes their manifests and orphaned files —
after which no parquet file on disk contains a forgotten row."""

from __future__ import annotations

import glob

import pandas as pd
from pyspark.sql import types as T

from rootstock_collective_state_sync_spark.sinks.forget import forget_keys
from rootstock_collective_state_sync_spark.sinks.table import VersionedTable

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("payload", T.StringType(), False),
    ]
)


def _mk(spark, tmp_path, n=40, buckets=8):
    t = VersionedTable(spark, tmp_path / "t")
    t.create(SCHEMA, ["user_id"], num_buckets=buckets)
    df = spark.createDataFrame(
        [(i, f"data-{i}") for i in range(n)], SCHEMA
    )
    t.overwrite(df)
    return t


def test_forget_rewrites_only_affected_buckets(spark, tmp_path):
    t = _mk(spark, tmp_path)
    before = t.manifest()
    doomed = spark.createDataFrame([(3,), (17,)], "user_id long")
    v = forget_keys(t, doomed)
    after = t.manifest(v)

    got = {r["user_id"] for r in t.read().collect()}
    assert got == set(range(40)) - {3, 17}

    from rootstock_collective_state_sync_spark.sinks.table import bucket_expr

    affected = {
        str(r["b"])
        for r in doomed.select(bucket_expr(["user_id"], 8).alias("b"))
        .distinct()
        .collect()
    }
    for b, files in before.buckets.items():
        if b not in affected:
            assert after.buckets[b] == files, f"bucket {b} was rewritten"
        else:
            assert after.buckets.get(b) != files, f"bucket {b} untouched"

    # pre-purge: the old version still time-travels to the doomed rows
    old = {r["user_id"] for r in t.read(version=before.version).collect()}
    assert {3, 17} <= old


def test_vacuum_makes_forget_real(spark, tmp_path):
    t = _mk(spark, tmp_path)
    doomed = spark.createDataFrame([(3,), (17,)], "user_id long")
    forget_keys(t, doomed)
    stats = t.vacuum(retain_last=1, grace_seconds=0.0)
    assert stats["versions_removed"] >= 2  # create + first overwrite
    assert stats["files_removed"] > 0

    # no retained manifest older than current
    assert [h["version"] for h in t.history()] == [t.current_version()]
    # every parquet file on disk is referenced and free of doomed rows
    files = glob.glob(str(t.path / "data" / "**" / "*.parquet"), recursive=True)
    assert files
    seen = pd.concat([pd.read_parquet(f) for f in files])
    assert not set(seen["user_id"]) & {3, 17}
    # table still reads correctly after the purge
    assert t.read().count() == 38


def test_forget_noop_when_keys_absent(spark, tmp_path):
    t = _mk(spark, tmp_path, n=10)
    v0 = t.current_version()
    doomed = spark.createDataFrame([(999,)], "user_id long")
    v = forget_keys(t, doomed)
    # absent keys may still hash to an existing bucket; rows must be
    # unchanged either way and version advances at most once
    assert v in (v0, v0 + 1)
    assert t.read().count() == 10


def test_forget_vacuum_restore_interleave(spark, tmp_path):
    """E7 (forget) and E8 (vacuum) share manifest retention rules. One
    store driven through overwrite -> forget -> vacuum -> diff ->
    crashed commit -> restore -> vacuum -> restore, with a raw-disk
    scan proving doomed rows gone (including bytes a crashed writer
    staged) and the tip intact."""
    import pytest as _pytest

    from rootstock_collective_state_sync_spark.sinks.table import Manifest

    t = _mk(spark, tmp_path)  # v1 create, v2 overwrite (40 rows)
    df2 = spark.createDataFrame(
        [(i, f"data2-{i}") for i in range(40)], SCHEMA
    )
    t.overwrite(df2)  # v3
    doomed = spark.createDataFrame([(5,), (23,)], "user_id long")
    v_forget = forget_keys(t, doomed)  # v4
    tip = sorted(tuple(r) for r in t.read().collect())
    assert {r[0] for r in tip} == set(range(40)) - {5, 23}

    # vacuum keeps the forget version + predecessor; diff across the
    # retained pair still renders the forget as deletes
    rep = t.vacuum(retain_last=2, grace_seconds=0.0)
    assert rep["versions_removed"] == 2  # v1, v2
    d = t.diff(v_forget - 1, v_forget)
    ops = {(r["op"], r["user_id"]) for r in d.collect()}
    assert ops == {("delete", 5), ("delete", 23)}
    # vacuum did NOT make the deletion real: v3's files are retained,
    # doomed rows still on disk (time travel contract)
    files = glob.glob(
        str(t.path / "data" / "**" / "*.parquet"), recursive=True
    )
    on_disk = pd.concat([pd.read_parquet(f) for f in files])
    assert {5, 23} <= set(on_disk["user_id"])

    # a writer killed mid-commit: it staged files CONTAINING A DOOMED
    # ROW (built on pre-forget data) and its manifest's temp file, but
    # never linked the manifest, so no version holds them
    staged = t._write_tx(
        spark.createDataFrame(
            [(5, "doomed-resurrect"), (100, "crashed")], SCHEMA
        ),
        8,
        ["user_id"],
    )
    m = t.manifest()
    tmp_manifest = (
        t._versions_dir / f".v{v_forget + 1:010d}.json.tmp.crashed"
    )
    tmp_manifest.write_text(
        Manifest(
            version=v_forget + 1,
            schema_json=m.schema_json,
            merge_keys=m.merge_keys,
            num_buckets=m.num_buckets,
            buckets=staged,
            meta={"crashed": True},
        ).to_json()
    )
    assert t.current_version() == v_forget
    assert sorted(tuple(r) for r in t.read().collect()) == tip

    # the crash blocks nothing: the next commit takes the next slot
    v_new = t.restore(t.current_version())
    assert v_new == v_forget + 1
    assert sorted(tuple(r) for r in t.read().collect()) == tip

    # vacuum down to the tip with no grace window: older manifests,
    # v3's files and the crashed writer's staged bytes all go
    stats = t.vacuum(retain_last=1, grace_seconds=0.0)
    assert stats["versions_removed"] == 2  # v3, v4
    files = glob.glob(
        str(t.path / "data" / "**" / "*.parquet"), recursive=True
    )
    on_disk = pd.concat([pd.read_parquet(f) for f in files])
    # deletion is REAL — including the crashed commit's staged bytes
    assert not set(on_disk["user_id"]) & {5, 23}
    for rel_files in staged.values():
        for rel in rel_files:
            assert not (t.path / rel).exists()
    assert not tmp_manifest.exists()
    # tip unchanged bit-for-bit through vacuum
    assert sorted(tuple(r) for r in t.read().collect()) == tip
    # re-run: idempotent no-op
    assert t.vacuum(retain_last=1, grace_seconds=0.0) == {
        "versions_removed": 0,
        "files_removed": 0,
        "bytes_removed": 0,
    }

    # restore: expired pre-forget versions fail LOUDLY
    with _pytest.raises(FileNotFoundError):
        t.restore(2)
    # commits keep flowing
    assert t.restore(t.current_version()) == v_new + 1
    assert sorted(tuple(r) for r in t.read().collect()) == tip
