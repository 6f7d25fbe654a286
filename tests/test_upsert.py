"""Versioned-table + merge-upsert tests.

Coverage model: the reference's upsert suite (``dbUpsert.test.ts:62-240``)
— empty batch, undeclared-key dropping, FK flattening, duplicate-PK
latest-wins, idempotence — plus versioning/restore, snapshot
expiration (``vacuum``) and the changed-rows-only merge (FIXTURES.md
F8).
"""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import Row, functions as F, types as T

from rootstock_collective_state_sync_spark.sinks import (
    TableCatalog,
    merge_upsert,
    prepare_batch,
)

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("amount", T.DecimalType(38, 0), False),
        T.StructField("note", T.StringType(), True),
    ]
)


@pytest.fixture()
def table(spark, tmp_table_dir):
    cat = TableCatalog(spark, tmp_table_dir)
    return cat.table("t").create(SCHEMA, ["id"], num_buckets=4)


def rows(table):
    return {r.id: (r.amount, r.note) for r in table.read().collect()}


def make(spark, data):
    return spark.createDataFrame(data, SCHEMA)


def test_insert_then_read(spark, table):
    v = merge_upsert(table, make(spark, [("a", Decimal(1), "x"), ("b", Decimal(2), None)]))
    assert v == 2
    assert rows(table) == {"a": (Decimal(1), "x"), "b": (Decimal(2), None)}


def test_update_and_insert(spark, table):
    merge_upsert(table, make(spark, [("a", Decimal(1), "x")]))
    merge_upsert(table, make(spark, [("a", Decimal(10), "y"), ("c", Decimal(3), None)]))
    assert rows(table) == {"a": (Decimal(10), "y"), "c": (Decimal(3), None)}


def test_empty_batch_noop(spark, table):
    v0 = table.current_version()
    v = merge_upsert(table, spark.createDataFrame([], SCHEMA))
    assert v == v0


def test_duplicate_pk_last_wins(spark, table):
    merge_upsert(
        table,
        make(spark, [("a", Decimal(1), "first"), ("a", Decimal(2), "last")]),
    )
    assert rows(table) == {"a": (Decimal(2), "last")}


def test_idempotent_reapply(spark, table):
    batch = make(spark, [("a", Decimal(1), "x"), ("b", Decimal(2), "y")])
    merge_upsert(table, batch)
    before = rows(table)
    merge_upsert(table, batch)
    assert rows(table) == before


def test_undeclared_columns_dropped(spark, table):
    df = spark.createDataFrame(
        [Row(id="a", amount=Decimal(1), note="n", extra="DROP ME", junk=7)]
    )
    merge_upsert(table, df)
    assert rows(table) == {"a": (Decimal(1), "n")}


def test_fk_object_flattened(spark, table):
    df = spark.createDataFrame(
        [Row(id=Row(id="a"), amount=Decimal(5), note=None)],
        schema=T.StructType(
            [
                T.StructField(
                    "id",
                    T.StructType([T.StructField("id", T.StringType())]),
                ),
                T.StructField("amount", T.DecimalType(38, 0)),
                T.StructField("note", T.StringType()),
            ]
        ),
    )
    merge_upsert(table, df)
    assert rows(table) == {"a": (Decimal(5), None)}


def test_not_null_violation_raises(spark, table):
    df = spark.createDataFrame(
        [("a", None, "x")],
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("amount", T.DecimalType(38, 0)),
                T.StructField("note", T.StringType()),
            ]
        ),
    )
    with pytest.raises(ValueError, match="NOT NULL"):
        merge_upsert(table, df)


def test_missing_not_null_column_raises(spark, table):
    df = spark.createDataFrame([("a",)], ["id"])
    with pytest.raises(ValueError, match="missing NOT NULL"):
        prepare_batch(df, SCHEMA)


def test_restore_version(spark, table):
    merge_upsert(table, make(spark, [("a", Decimal(1), "v2")]))
    v2 = table.current_version()
    merge_upsert(table, make(spark, [("a", Decimal(2), "v3")]))
    assert rows(table)["a"] == (Decimal(2), "v3")
    table.restore(v2)
    assert rows(table)["a"] == (Decimal(1), "v2")
    hist = table.history()
    assert hist[-1]["meta"]["restoredFrom"] == v2


def test_overwrite_blue_green(spark, table):
    merge_upsert(table, make(spark, [("a", Decimal(1), "old"), ("b", Decimal(2), "old")]))
    table.overwrite(make(spark, [("z", Decimal(9), "new")]))
    assert rows(table) == {"z": (Decimal(9), "new")}


def test_merge_only_rewrites_affected_buckets(spark, table):
    """Scale property: a 1-row batch must not rewrite untouched buckets."""
    big = spark.range(200).select(
        F.concat(F.lit("k"), F.col("id")).alias("id"),
        F.col("id").cast("decimal(38,0)").alias("amount"),
        F.lit(None).cast("string").alias("note"),
    )
    merge_upsert(table, big)
    before = table.manifest().buckets
    merge_upsert(table, make(spark, [("k1", Decimal(999), "touched")]))
    after = table.manifest().buckets
    changed = [b for b in before if before[b] != after.get(b)]
    assert len(changed) == 1  # exactly the bucket k1 hashes into
    assert rows(table)["k1"] == (Decimal(999), "touched")
    assert sum(1 for _ in table.read().collect()) == 200


def test_catalog_create_all_and_list(spark, tmp_table_dir):
    cat = TableCatalog(spark, tmp_table_dir)
    created = cat.create_all(
        {"A": SCHEMA, "B": SCHEMA}, {"A": ["id"], "B": ["id"]}
    )
    assert created == ["A", "B"]
    assert cat.list_tables() == ["A", "B"]
    # create-missing-only on re-run
    assert cat.create_all({"A": SCHEMA, "B": SCHEMA}, {"A": ["id"], "B": ["id"]}) == []


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
