"""Forgetting rows is only real after vacuum: an overwrite that drops
the doomed keys commits a new version, but older versions still
time-travel to the doomed rows until ``vacuum(retain_last=1,
grace_seconds=0.0)`` deletes their manifests and orphaned files —
after which no parquet file on disk contains a forgotten row."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.sinks.table import Manifest, VersionedTable

SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("payload", T.StringType(), False),
    ]
)


def _mk(spark, tmp_path, n=40, buckets=8):
    t = VersionedTable(spark, tmp_path / "t")
    t.create(SCHEMA, ["user_id"], num_buckets=buckets)
    df = spark.createDataFrame([(i, f"data-{i}") for i in range(n)], SCHEMA)
    t.overwrite(df)
    return t


def _forget(t, keys):
    """Commit the current rows minus ``keys``; return the new version."""
    return t.overwrite(t.read().filter(~F.col("user_id").isin(list(keys))))


def _on_disk(t):
    return glob.glob(str(t.path / "data" / "**" / "*.parquet"), recursive=True)


def _ids_on_disk(t):
    return set(pd.concat([pd.read_parquet(f) for f in _on_disk(t)])["user_id"])


def test_vacuum_makes_forget_real(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v = _forget(t, {3, 17})
    # pre-vacuum: the old version still time-travels to the doomed rows
    assert {3, 17} <= {r["user_id"] for r in t.read(version=v - 1).collect()}

    stats = t.vacuum(retain_last=1, grace_seconds=0.0)
    assert stats["versions_removed"] >= 2  # create + first overwrite
    assert stats["files_removed"] > 0

    # no retained manifest older than current
    assert [h["version"] for h in t.history()] == [t.current_version()]
    # every parquet file on disk is referenced and free of doomed rows
    assert _on_disk(t)
    assert not _ids_on_disk(t) & {3, 17}
    # table still reads correctly after the purge
    assert t.read().count() == 38


def test_forget_vacuum_restore_interleave(spark, tmp_path):
    """One store driven through overwrite -> forget -> vacuum ->
    crashed commit -> restore -> vacuum -> restore, with a raw-disk
    scan proving doomed rows gone (including bytes a crashed writer
    staged) and the tip intact."""
    t = _mk(spark, tmp_path)  # v1 create, v2 overwrite (40 rows)
    t.overwrite(
        spark.createDataFrame([(i, f"data2-{i}") for i in range(40)], SCHEMA)
    )  # v3
    v_forget = _forget(t, {5, 23})  # v4
    tip = sorted(tuple(r) for r in t.read().collect())
    assert {r[0] for r in tip} == set(range(40)) - {5, 23}

    # vacuum keeps the forget version and its predecessor, which still
    # reads the doomed rows
    rep = t.vacuum(retain_last=2, grace_seconds=0.0)
    assert rep["versions_removed"] == 2  # v1, v2
    assert {5, 23} <= {r["user_id"] for r in t.read(v_forget - 1).collect()}
    # vacuum did NOT make the deletion real: v3's files are retained,
    # doomed rows still on disk (time travel contract)
    assert {5, 23} <= _ids_on_disk(t)

    # a writer killed mid-commit: it staged files CONTAINING A DOOMED
    # ROW (built on pre-forget data) and its manifest's temp file, but
    # never linked the manifest, so no version holds them
    staged = t._write_tx(
        spark.createDataFrame([(5, "doomed-resurrect"), (100, "crashed")], SCHEMA),
        8,
        ["user_id"],
    )
    m = t.manifest()
    tmp_manifest = t._versions_dir / f".v{v_forget + 1:010d}.json.tmp.crashed"
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
    assert [h["version"] for h in t.history()] == [v_new]
    # only the tip's files stay on disk, and the deletion is REAL —
    # including the crashed commit's staged bytes
    assert {os.path.relpath(f, t.path) for f in _on_disk(t)} == set(t.manifest().files())
    assert not _ids_on_disk(t) & {5, 23}
    assert not any((t.path / rel).exists() for fs in staged.values() for rel in fs)
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
    with pytest.raises(FileNotFoundError):
        t.restore(2)
    # commits keep flowing
    assert t.restore(t.current_version()) == v_new + 1
    assert sorted(tuple(r) for r in t.read().collect()) == tip
