"""Parity of the two batch kinds behind ``merge_upsert``.

Rows held on the driver merge with pyarrow; a DataFrame is projected in
Spark and collected into that same merge, and into a table with no
files it is written, not merged. The same batches as rows or as
DataFrames must give the same table contents and the same bucket for
every key, over every key type the entity compiler emits (string,
binary, int/long, Decimal(38,0), boolean and composite keys) and the
timestamp and date keys a rollup groups by, and a table must accept
both kinds in turn.
"""

from __future__ import annotations

from datetime import date, datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row, types as T

from rootstock_collective_state_sync_spark.sinks import TableCatalog, merge_upsert
from rootstock_collective_state_sync_spark.sinks.table import arrow_schema, bucket_ids

NUM_BUCKETS = 5

KEY_TYPES = {
    "s": T.StringType(),
    "b": T.BinaryType(),
    "i": T.IntegerType(),
    "l": T.LongType(),
    "d": T.DecimalType(38, 0),
    "z": T.BooleanType(),
    "t": T.TimestampType(),
    "dt": T.DateType(),
}

# byte lengths that take every branch of the XXH64 kernel: the 4-byte
# and single-byte tails, whole 8-byte words, and one to three 32-byte
# stripes
HASH_LENGTHS = (3, 4, 7, 8, 31, 32, 33, 64, 100)

# small pools force last-wins inside a batch and updates across batches;
# the decimals include negative values and values above 10^18
KEY_POOLS = {
    "s": ["a", "bb", "é😀", "0x" + "ab" * 20, ""]
    + ["".join(chr(97 + (i * n) % 26) for i in range(n)) for n in HASH_LENGTHS],
    "b": [b"", b"\x00", b"\xff" * 13, bytes(range(40)), b"k"]
    + [bytes((7 * i + n) % 256 for i in range(n)) for n in HASH_LENGTHS],
    "i": [0, -1, 7, 2**31 - 1, -(2**31)],
    "l": [0, -1, 2**40, 2**63 - 1, -(2**63)],
    "d": [Decimal(v) for v in (0, -1, 10**18 + 7, -(10**18) - 3, 10**38 - 1, -(10**38 - 1), -255)],
    "z": [True, False],
    "t": [datetime(1970, 1, 1, tzinfo=timezone.utc), datetime(2024, 5, 6, 7, 0, tzinfo=timezone.utc),
          datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=timezone.utc)],
    "dt": [date(1970, 1, 1), date(2024, 5, 6), date(1900, 2, 28)],
}

KEY_SETS = [
    ("s",), ("b",), ("i",), ("l",), ("d",), ("z",), ("t",), ("dt",), ("s", "i"), ("d", "b", "z"), ("t", "s"),
]


def schema_for(keys: tuple[str, ...]) -> T.StructType:
    return T.StructType(
        [T.StructField(k, KEY_TYPES[k], False) for k in keys]
        + [
            T.StructField("amount", T.DecimalType(38, 0), False),
            T.StructField("note", T.StringType(), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("n", T.IntegerType(), True),
        ]
    )


def row_strategy(keys: tuple[str, ...]):
    return st.tuples(
        *[st.sampled_from(KEY_POOLS[k]) for k in keys],
        st.integers(-(10**38) + 1, 10**38 - 1).map(Decimal),
        st.one_of(st.none(), st.text(max_size=5)),
        st.one_of(st.none(), st.lists(st.one_of(st.none(), st.text(max_size=3)), max_size=3)),
        st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
    )


@pytest.fixture(scope="module")
def new_table(spark, tmp_path_factory):
    def make(keys: tuple[str, ...]):
        root = tmp_path_factory.mktemp("paths")
        return TableCatalog(spark, root).table("t").create(
            schema_for(keys), list(keys), num_buckets=NUM_BUCKETS
        )

    return make


def contents(table) -> list[tuple]:
    """``read()`` through Spark, as comparable tuples."""
    out = []
    for r in table.read().collect():
        out.append(tuple(tuple(v) if isinstance(v, list) else v for v in r))
    return sorted(out, key=repr)


def buckets_of_keys(table) -> dict[tuple, int]:
    """key -> the bucket whose base or delta rows hold it."""
    m = table.manifest()
    out = {}
    for b in range(m.num_buckets):
        part = table.read_arrow(buckets=[b])
        for key in zip(*(part[k].to_pylist() for k in m.merge_keys)):
            assert key not in out, f"key {key} in buckets {out[key]} and {b}"
            out[key] = b
    return out


def fold(keys: tuple[str, ...], batches: list[list[tuple]]) -> dict[tuple, tuple]:
    state = {}
    for batch in batches:
        for r in batch:
            state[r[: len(keys)]] = r
    return state


def assert_same(driver, spark_t, keys, batches):
    got = contents(driver)
    assert got == contents(spark_t)
    want = fold(keys, batches)
    assert len(got) == len(want)
    assert buckets_of_keys(driver) == buckets_of_keys(spark_t)
    assert set(buckets_of_keys(driver)) == set(want)


@pytest.mark.parametrize("keys", KEY_SETS, ids=["_".join(k) for k in KEY_SETS])
def test_paths_agree_for_every_key_type(spark, new_table, keys):
    """Two batches of every pool key, each key twice per batch (the
    last occurrence must win): the driver table, the Spark table and a
    table that alternates paths read the same and bucket every key
    alike."""
    schema = schema_for(keys)
    pools = [KEY_POOLS[k] for k in keys]
    width = max(len(p) for p in pools)
    batches = []
    for step in range(2):
        batch = []
        for rep in range(2):
            for j in range(width):
                key = tuple(p[(j + step) % len(p)] for p in pools)
                batch.append(key + (Decimal(100 * step + 10 * rep + j), f"s{step}r{rep}", ["x", None], j))
        batches.append(batch)
    driver, spark_t, mixed = new_table(keys), new_table(keys), new_table(keys)
    for i, batch in enumerate(batches):
        merge_upsert(driver, batch)
        merge_upsert(spark_t, spark.createDataFrame(batch, schema))
        merge_upsert(mixed, batch if i % 2 else spark.createDataFrame(batch, schema))
    assert_same(driver, spark_t, keys, batches)
    assert contents(mixed) == contents(driver)
    assert buckets_of_keys(mixed) == buckets_of_keys(driver)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.data())
def test_random_batch_sequences_agree(spark, new_table, data):
    """Random batch sequences through both paths, and through a table
    that takes each batch on a randomly chosen path. Up to ten batches
    over small key pools, so the driver merges both append deltas and
    fold (the delta rows soon pass the base rows), and the mixed table
    takes DataFrame merges on top of deltas."""
    keys = data.draw(st.sampled_from(KEY_SETS), label="keys")
    schema = schema_for(keys)
    batches = data.draw(
        st.lists(st.lists(row_strategy(keys), min_size=1, max_size=6), min_size=2, max_size=10)
    )
    on_driver = data.draw(st.lists(st.booleans(), min_size=len(batches), max_size=len(batches)))
    driver, spark_t, mixed = new_table(keys), new_table(keys), new_table(keys)
    for batch, d in zip(batches, on_driver):
        df = spark.createDataFrame(batch, schema)
        merge_upsert(driver, batch)
        merge_upsert(spark_t, df)
        merge_upsert(mixed, batch if d else df)
    assert_same(driver, spark_t, keys, batches)
    assert contents(mixed) == contents(driver)
    assert buckets_of_keys(mixed) == buckets_of_keys(driver)


def test_empty_batch_commits_nothing(spark, new_table):
    t = new_table(("s",))
    v = t.current_version()
    assert merge_upsert(t, []) == v
    assert merge_upsert(t, spark.createDataFrame([], schema_for(("s",)))) == v
    merge_upsert(t, [("a", Decimal(1), None, None, None)])
    v = t.current_version()
    assert merge_upsert(t, []) == v
    assert merge_upsert(t, spark.createDataFrame([], schema_for(("s",)))) == v
    assert t.current_version() == v


@pytest.mark.parametrize("filled", [False, True], ids=["empty", "filled"])
def test_not_null_rejected_on_both_paths(spark, new_table, filled):
    loose = T.StructType([T.StructField(f.name, f.dataType, True) for f in schema_for(("s",))])
    bad = [("a", Decimal(1), None, None, None), ("b", None, "x", None, None)]
    for df_path in (False, True):
        t = new_table(("s",))
        if filled:
            merge_upsert(t, [("z", Decimal(0), None, None, None)])
        v = t.current_version()
        with pytest.raises(ValueError, match="NOT NULL violation"):
            merge_upsert(t, spark.createDataFrame(bad, loose) if df_path else bad)
        assert t.current_version() == v


def test_decimal_overflow_raises_on_both_paths(spark, new_table):
    too_big = 10**38
    t = new_table(("s",))
    with pytest.raises(ValueError):
        merge_upsert(t, [("a", Decimal(too_big), None, None, None)])
    wide = spark.createDataFrame([("a", str(too_big))], "s string, amount string")
    with pytest.raises(Exception):
        merge_upsert(t, wide)
    assert t.current_version() == 1


def test_fk_objects_flatten_on_both_paths(spark, new_table):
    """A nested ``{id: …}`` FK object is written as its id: a struct
    column in a DataFrame, a dict value in driver-held rows."""
    driver, spark_t = new_table(("s",)), new_table(("s",))
    merge_upsert(driver, [({"id": "a"}, Decimal(5), None, None, None)])
    fk = T.StructType(
        [T.StructField("s", T.StructType([T.StructField("id", T.StringType())]))]
        + schema_for(("s",)).fields[1:]
    )
    merge_upsert(spark_t, spark.createDataFrame([Row(s=Row(id="a"), amount=Decimal(5), note=None, tags=None, n=None)], fk))
    assert contents(driver) == contents(spark_t) == [("a", Decimal(5), None, None, None)]


# -- a DataFrame into an empty table is a write, not a merge -------------------


def test_write_into_empty_equals_merge_into_empty(spark, new_table):
    """Duplicate ids across partitions: the last one wins on the write
    path as on the driver merge, the row count comes from the footers,
    and merging the same frame again (now a driver merge) is a no-op."""
    keys = ("s",)
    schema = schema_for(keys)
    rows = [(f"k{i % 7}", Decimal(i), f"r{i}", None, i) for i in range(40)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    assert df.rdd.getNumPartitions() == 4
    written, merged = new_table(keys), new_table(keys)
    merge_upsert(written, df)
    merge_upsert(merged, rows)
    assert contents(written) == contents(merged)
    last = {f"k{i % 7}": f"r{i}" for i in range(40)}
    assert {r[0]: r[2] for r in contents(written)} == last
    assert written.num_rows() == merged.num_rows() == 7
    assert buckets_of_keys(written) == buckets_of_keys(merged)
    v = written.current_version()
    merge_upsert(written, df)
    assert written.current_version() == v + 1
    assert contents(written) == contents(merged)


def test_write_into_empty_rejects_not_null_in_a_late_partition(spark, new_table):
    schema = schema_for(("s",))
    loose = T.StructType([T.StructField(f.name, f.dataType, True) for f in schema.fields])
    rows = [(f"k{i}", Decimal(i) if i != 37 else None, None, None, None) for i in range(40)]
    t = new_table(("s",))
    with pytest.raises(ValueError, match="NOT NULL violation"):
        merge_upsert(t, spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), loose))
    assert t.current_version() == 1 and t.num_rows() == 0


def test_write_into_empty_shuffles_once(spark):
    """The last-row window and the bucketed write share one shuffle:
    the bucket is a function of the key, so partitioning by bucket
    serves the window over ``(__bucket, keys)`` and the write alike."""
    from rootstock_collective_state_sync_spark.sinks.upsert import _last_per_key_bucketed

    rows = [(f"k{i % 7}", Decimal(i), f"r{i}", None, i) for i in range(40)]
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema_for(("s",)))
    plan = _last_per_key_bucketed(df, ["s"], NUM_BUCKETS)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


# -- driver-side reads ------------------------------------------------------------


def jobs_started(spark) -> int:
    """Spark jobs the session has started so far."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup()
    return max(ids) + 1 if ids else 0


def test_driver_merge_and_reads_start_no_spark_job(spark, new_table):
    t = new_table(("s",))
    merge_upsert(t, spark.createDataFrame([("a", Decimal(1), None, None, 1)], schema_for(("s",))))
    before = jobs_started(spark)
    merge_upsert(t, [("a", Decimal(2), None, None, 2), ("b", Decimal(3), None, None, 3)])
    assert t.read_arrow().num_rows == t.num_rows() == 2
    assert t.column_max("n") == 3
    assert jobs_started(spark) == before


def test_column_max_reads_the_column_only_without_footer_statistics(spark, new_table):
    """The high-water mark comes from parquet footer statistics; a file
    written without them has the column itself read, and an all-null
    column has no maximum."""
    t = new_table(("s",))
    assert t.column_max("n") is None
    merge_upsert(t, [("a", Decimal(1), None, None, None)])
    assert t.column_max("n") is None
    merge_upsert(t, spark.createDataFrame([("b", Decimal(1), None, None, 40)], schema_for(("s",))))
    merge_upsert(t, [("c", Decimal(-(10**30)), None, None, 7)])
    assert t.column_max("n") == 40 and t.column_max("amount") == Decimal(1)
    b = int(bucket_ids(pa.table({"s": ["d"]}), ["s"], [T.StringType()], NUM_BUCKETS)[0])
    rel = f"data/tx-nostats/__bucket={b}/part-0.parquet"
    (t.path / rel).parent.mkdir(parents=True)
    row = {"s": "d", "amount": Decimal(5), "note": None, "tags": None, "n": 41}
    bare = pa.Table.from_pylist([row], schema=arrow_schema(schema_for(("s",))))
    pq.write_table(bare, t.path / rel, write_statistics=False)
    assert not pq.ParquetFile(t.path / rel).metadata.row_group(0).column(4).is_stats_set
    t.commit_buckets({str(b): t.manifest().buckets.get(str(b), []) + [rel]}, t.current_version())
    assert t.column_max("n") == 41
    assert t.column_max("n") == t.read().agg({"n": "max"}).first()[0]

