"""Small-file compaction: content preserved exactly, file count
collapsed to the size target, range clustering honored."""

from __future__ import annotations

import os

from rootstock_collective_state_sync_spark.sinks.compact import (
    compact_parquet,
    dataset_bytes,
)


def _fragmented(spark, path, n_files=20, rows_per=50):
    df = spark.range(n_files * rows_per).withColumnRenamed("id", "k")
    df.repartition(n_files).write.parquet(str(path))
    return df


def test_compaction_preserves_rows_and_collapses_files(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _fragmented(spark, src)
    stats = compact_parquet(spark, str(src), str(dst), target_file_bytes=10**9)
    assert stats["in_files"] == 20
    assert stats["out_files"] == 1
    assert stats["rows"] == 1000
    got = sorted(r["k"] for r in spark.read.parquet(str(dst)).collect())
    assert got == list(range(1000))


def test_compaction_size_target_splits_output(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _fragmented(spark, src)
    in_bytes = dataset_bytes(spark.read.parquet(str(src)))
    stats = compact_parquet(
        spark, str(src), str(dst), target_file_bytes=max(1, in_bytes // 4)
    )
    assert 3 <= stats["out_files"] <= 5  # ceil(in/target) = 4 +/- empty parts


def test_range_clustered_output_is_min_max_prunable(spark, tmp_path):
    src, dst = tmp_path / "src", tmp_path / "dst"
    _fragmented(spark, src)
    in_bytes = dataset_bytes(spark.read.parquet(str(src)))
    compact_parquet(
        spark,
        str(src),
        str(dst),
        target_file_bytes=max(1, in_bytes // 4),
        sort_cols=["k"],
    )
    # every output file covers a disjoint k-range: per-file min/max
    # spans must not overlap (this is what makes pruning effective)
    spans = []
    for f in sorted(os.listdir(dst)):
        if f.endswith(".parquet") and not f.startswith(("_", ".")):
            pdf = spark.read.parquet(os.path.join(str(dst), f)).toPandas()
            if len(pdf):
                spans.append((pdf["k"].min(), pdf["k"].max()))
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans


def test_dynamic_overwrite_replaces_only_incoming_partitions(spark, tmp_path):
    from pyspark.sql import functions as F

    from rootstock_collective_state_sync_spark.sinks.partitioned import (
        read_partition,
        write_partitioned,
    )

    path = str(tmp_path / "ptab")
    base = spark.createDataFrame(
        [(1, "d1", 10.0), (2, "d1", 11.0),
         (3, "d2", 20.0), (4, "d3", 30.0)],
        "id long, day string, v double",
    )
    write_partitioned(base, path, ["day"])
    # backfill day 2 only: day 1 and 3 must survive untouched
    fix = spark.createDataFrame(
        [(30, "d2", 21.5)], "id long, day string, v double"
    )
    write_partitioned(fix, path, ["day"])
    allr = {
        (r["id"], r["day"]) for r in spark.read.parquet(path).collect()
    }
    assert allr == {
        (1, "d1"), (2, "d1"),
        (30, "d2"),            # replaced
        (4, "d3"),             # intact
    }
    # partition pruning reaches the scan
    pruned = read_partition(spark, path, day="d3")
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan and pruned.count() == 1
    # static overwrite (the footgun) really does clobber -> documented
    write_partitioned(fix, path, ["day"], dynamic_overwrite=False)
    assert spark.read.parquet(path).count() == 1
    # conf restored, not leaked
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        in (None, "static")
    )


def test_jsonl_roundtrip_preserves_values_and_quarantines_corrupt(
    spark, tmp_path
):
    from pyspark.sql import types as T

    from rootstock_collective_state_sync_spark.sinks.export import (
        export_jsonl,
        read_jsonl,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("vec", T.ArrayType(T.DoubleType()), True),
        ]
    )
    rows = [
        (1, "plain ascii", [1.0, 2.5]),
        (2, 'quotes " and \\ backslash\nnewline', [0.0]),
        (3, "unicode ü中文", None),
    ]
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "out.jsonl")
    export_jsonl(df, path, order_col="doc_id", shards=2)
    back = read_jsonl(spark, path, schema)
    got = sorted(
        (r["doc_id"], r["text"], tuple(r["vec"]) if r["vec"] else None)
        for r in back.collect()
    )
    want = sorted(
        (i, t, tuple(v) if v else None) for i, t, v in rows
    )
    assert got == want
    # corrupt line lands in the quarantine column, not an exception
    bad = tmp_path / "bad.jsonl" / "part-corrupt.json"
    bad.parent.mkdir()
    bad.write_text('{"doc_id": 1, "text": "ok", "vec": []}\n{not json}\n')
    schema2 = schema.add("_corrupt_record", T.StringType())
    r = read_jsonl(spark, str(bad.parent), schema2)
    recs = r.collect()
    assert len(recs) == 2
    assert sum(1 for x in recs if x["_corrupt_record"] is not None) == 1


def test_vacuum_expires_old_versions_keeps_tip(spark, tmp_path):
    """X-E8: snapshot expiration — old manifests + unreferenced files
    go, the retained tip reads identically, shared immutable files
    survive (restore aliases old files into a NEW version), expired
    reads fail loudly, and vacuum is idempotent."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from rootstock_collective_state_sync_spark.sinks.table import (
        VersionedTable,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    t = VersionedTable(spark, tmp_path / "t").create(
        schema, merge_keys=["k"], num_buckets=2
    )
    for i in range(4):
        t.overwrite(
            spark.createDataFrame([(j, i) for j in range(6)], schema),
            meta={"i": i},
        )
    # v5 aliases v4's files (restore shares immutable files)
    t.restore(t.current_version() - 1)
    tip_before = sorted(tuple(r) for r in t.read().collect())
    n_files_before = len(list((tmp_path / "t" / "data").rglob("*.parquet")))

    # default grace window refuses to touch freshly-written files
    # (they could be a concurrent writer's pre-commit staging) —
    # manifests still expire, bytes do not
    rep_graced = t.vacuum(retain_last=2)
    assert rep_graced["versions_removed"] == 4  # v0..v3 of v0..v5
    assert rep_graced["files_removed"] == 0
    rep = t.vacuum(retain_last=2, grace_seconds=0.0)
    assert rep["versions_removed"] == 0  # manifests expired by the graced pass
    assert rep["files_removed"] > 0 and rep["bytes_removed"] > 0
    # tip unchanged bit-for-bit; history shrank to the retained pair
    assert sorted(tuple(r) for r in t.read().collect()) == tip_before
    assert [h["version"] for h in t.history()] == [5, 6]
    # the tip (v6 = restore of v4) ALIASES v4's files: vacuum must
    # keep files referenced by any retained manifest even though
    # their origin version expired — checked by the tip read above
    # and the penultimate retained version here
    assert t.read(5).count() == 6
    # expired versions fail loudly
    with _pytest.raises(FileNotFoundError):
        t.manifest(2)
    with _pytest.raises(FileNotFoundError):
        t.restore(1)
    # idempotent: nothing left to remove
    rep2 = t.vacuum(retain_last=2)
    assert rep2 == {
        "versions_removed": 0,
        "files_removed": 0,
        "bytes_removed": 0,
    }
    assert (
        len(list((tmp_path / "t" / "data").rglob("*.parquet")))
        < n_files_before
    )


def test_vacuum_anchors_on_current_and_spares_inflight(spark, tmp_path):
    """X-E8 crash/concurrency safety: a writer killed before its commit
    leaves staged data files and a temp manifest, and no new version.
    (a) The table still reads the last committed version and the next
    commit takes the next slot; (b) vacuum keeps the tip and spares the
    crashed writer's files inside the grace window (a live writer
    stages data before it links its manifest); (c) with the grace
    waived, vacuum reclaims the staged files and the temp manifest."""
    from pyspark.sql import types as T

    from rootstock_collective_state_sync_spark.sinks.table import (
        Manifest,
        VersionedTable,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.LongType(), False),
        ]
    )
    t = VersionedTable(spark, tmp_path / "t").create(
        schema, merge_keys=["k"], num_buckets=2
    )
    for i in range(3):
        t.overwrite(
            spark.createDataFrame([(j, i) for j in range(6)], schema),
            meta={"i": i},
        )
    cur = t.current_version()  # v4
    tip = sorted(tuple(r) for r in t.read().collect())

    # a writer stages data files and its manifest's temp file, then is
    # killed before the link that would commit v(cur+1)
    staged = t._write_tx(
        spark.createDataFrame([(j, 99) for j in range(6)], schema),
        num_buckets=2,
        keys=["k"],
    )
    m = t.manifest()
    tmp_manifest = t._versions_dir / f".v{cur + 1:010d}.json.tmp.crashed"
    tmp_manifest.write_text(
        Manifest(
            version=cur + 1,
            schema_json=m.schema_json,
            merge_keys=m.merge_keys,
            num_buckets=m.num_buckets,
            buckets=staged,
            meta={"crashed": True},
        ).to_json()
    )
    assert t.current_version() == cur
    assert sorted(tuple(r) for r in t.read().collect()) == tip

    rep = t.vacuum(retain_last=1)  # default 1h grace
    assert rep["versions_removed"] == 3  # v1..v3; the tip stays
    versions = sorted(
        int(p.stem[1:])
        for p in (tmp_path / "t" / "_versions").glob("v*.json")
    )
    assert versions == [cur]
    assert sorted(tuple(r) for r in t.read().collect()) == tip
    staged_paths = [tmp_path / "t" / rel for fs in staged.values() for rel in fs]
    assert all(p.exists() for p in staged_paths)
    assert tmp_manifest.exists()

    rep2 = t.vacuum(retain_last=1, grace_seconds=0.0)
    assert rep2["versions_removed"] == 0
    # staged files plus v1..v3 files the first vacuum spared
    assert rep2["files_removed"] > len(staged_paths)
    assert not any(p.exists() for p in staged_paths)
    assert not tmp_manifest.exists()
    assert sorted(tuple(r) for r in t.read().collect()) == tip

    # the crash blocked nothing: the next commit takes v(cur+1)
    assert t.overwrite(
        spark.createDataFrame([(j, 7) for j in range(6)], schema)
    ) == cur + 1
