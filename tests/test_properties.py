"""Property-based checks (hypothesis): merge idempotence and
last-wins semantics over randomized batches (SURVEY §5 'add what the
reference lacks'), plus uint256 shadow round-trips."""

from __future__ import annotations

from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F, types as T

from rootstock_collective_state_sync_spark.functions import uint256
from rootstock_collective_state_sync_spark.sinks import TableCatalog, merge_upsert

SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("amount", T.DecimalType(38, 0), False),
    ]
)

keys = st.text(alphabet="abcdef", min_size=1, max_size=3)
amounts = st.integers(min_value=0, max_value=10**38 - 1)
batches = st.lists(st.tuples(keys, amounts), min_size=1, max_size=12)


def fold_last_wins(*batch_lists):
    state = {}
    for batch in batch_lists:
        for k, v in batch:
            state[k] = Decimal(v)
    return state


@pytest.fixture(scope="module")
def table_factory(spark, tmp_path_factory):
    def make(tag):
        root = tmp_path_factory.mktemp(f"prop_{tag}")
        return TableCatalog(spark, root).table("t").create(SCHEMA, ["id"], num_buckets=4)

    return make


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(b1=batches, b2=batches)
def test_merge_equals_last_wins_fold(spark, table_factory, b1, b2):
    """merge(b1); merge(b2) ≡ dict-fold with later writes winning —
    and re-applying b2 is a no-op (idempotence)."""
    table = table_factory("fold")
    df1 = spark.createDataFrame([(k, Decimal(v)) for k, v in b1], SCHEMA)
    df2 = spark.createDataFrame([(k, Decimal(v)) for k, v in b2], SCHEMA)
    merge_upsert(table, df1)
    merge_upsert(table, df2)
    got = {r.id: r.amount for r in table.read().collect()}
    assert got == fold_last_wins(b1, b2)
    merge_upsert(table, df2)  # idempotent re-apply
    assert {r.id: r.amount for r in table.read().collect()} == got


def test_uint256_shadow_roundtrip(spark):
    vals = [0, 1, 10**38 - 1, 2**126]
    df = spark.createDataFrame(
        [(str(i), Decimal(v)) for i, v in enumerate(vals)], SCHEMA
    )
    shadowed = uint256.with_hex_shadow(df, ["amount"])
    back = shadowed.select(
        "id",
        "amount",
        uint256.from_hex_checked(F.col("amount__hex")).alias("rt"),
    )
    for r in back.collect():
        assert r.rt == r.amount


def test_uint256_overflow_to_null_and_full_width_add(spark):
    big = hex(2**200)
    df = spark.createDataFrame([(big, hex(2**255)), (hex(5), hex(7))], ["a", "b"])
    out = df.select(
        uint256.from_hex_checked(F.col("a")).alias("canon"),
        uint256.hex_add(F.col("a"), F.col("b")).alias("s"),
    ).collect()
    assert out[0].canon is None  # 2^200 exceeds decimal(38,0): NULL, not garbage
    assert int(out[0].s, 16) == (2**200 + 2**255) % 2**256  # exact full width
    assert out[1].canon == Decimal(5)
    assert int(out[1].s, 16) == 12


# ---------------------------------------------------------------------------
# budget_select properties
# ---------------------------------------------------------------------------

docs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=99),       # score
        st.integers(min_value=1, max_value=50),       # size
    ),
    min_size=1,
    max_size=15,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=docs_strategy, budget=st.integers(min_value=0, max_value=300))
def test_budget_select_invariants(spark, docs, budget):
    """For any corpus and budget: (1) total selected size never
    exceeds the budget; (2) a bigger budget never drops a previously
    selected doc (greedy-prefix monotonicity); (3) the result is a
    pure function of the input (deterministic)."""
    from rootstock_collective_state_sync_spark.operators.sampling import (
        budget_select,
    )

    rows = [(i, s, z) for i, (s, z) in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "score", "size"])
    sel = budget_select(df, "score", "size", budget=budget, bucket_width=10)
    got = {(r.doc_id, r.score, r.size) for r in sel.collect()}
    assert sum(z for _, _, z in got) <= budget
    again = {
        (r.doc_id, r.score, r.size)
        for r in budget_select(
            df, "score", "size", budget=budget, bucket_width=10
        ).collect()
    }
    assert got == again
    bigger = {
        (r.doc_id, r.score, r.size)
        for r in budget_select(
            df, "score", "size", budget=budget + 60, bucket_width=10
        ).collect()
    }
    assert got <= bigger


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet="ab \n",
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_strip_boilerplate_identity_when_threshold_unreachable(spark, texts):
    """min_docs > n_docs can never strip anything: the output text is
    exactly the whitespace-normalized input (trim + blank-line drop),
    with n_removed = 0 everywhere."""
    from rootstock_collective_state_sync_spark.operators.dedup import (
        strip_boilerplate_lines,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(
            df, min_docs=len(texts) + 1
        ).collect()
    }
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        norm = "\n".join(
            s for s in (x.strip(" ") for x in t.split("\n")) if s
        )
        assert out[i]["text"] == norm
        assert out[i]["n_removed"] == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
        min_size=1,
        max_size=40,
    )
)
def test_winsorize_output_bounded_by_group_extremes(spark, vals):
    from rootstock_collective_state_sync_spark.operators.sampling import (
        winsorize,
    )

    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    rows = winsorize(df).collect()
    assert len(rows) == len(vals)
    lo, hi = min(vals), max(vals)
    for r in rows:
        assert lo <= r["value_wins"] <= hi
        # clamp flags are consistent with the rewrite
        if not r["clipped_lo"] and not r["clipped_hi"]:
            assert r["value_wins"] == r["value"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    body=st.lists(
        st.integers(min_value=0, max_value=9), min_size=12, max_size=18
    )
)
def test_luhn_check_digit_property(spark, body):
    """For ANY digit body, exactly one of the ten possible check
    digits makes the full number Luhn-valid — and luhn_audit agrees
    with the reference Python implementation on which one."""
    from rootstock_collective_state_sync_spark.operators.text import luhn_audit

    def ref_valid(digits):
        total = 0
        for i, d in enumerate(reversed(digits)):
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    rows = [
        (c, "num " + "".join(map(str, body + [c])) + " end")
        for c in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_luhn_valid"] for r in luhn_audit(df).collect()
    }
    want = {c: int(ref_valid(body + [c])) for c in range(10)}
    assert got == want
    assert sum(want.values()) == 1  # exactly one valid check digit


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=3,
        max_size=12,
        unique=True,
    ),
    shift=st.integers(min_value=-500, max_value=500),
)
def test_mad_normalize_translation_invariant(spark, vals, shift):
    """Robust z-scores are invariant under translation of the whole
    group (median shifts with the data, MAD and z do not move)."""
    from rootstock_collective_state_sync_spark.operators.sampling import (
        mad_normalize,
    )

    mk = lambda off: spark.createDataFrame(
        [(i, "g", float(v + off)) for i, v in enumerate(vals)],
        "event_id long, event_type string, value double",
    )
    base = {
        r["event_id"]: r["robust_z_e6"]
        for r in mad_normalize(mk(0)).collect()
    }
    moved = {
        r["event_id"]: r["robust_z_e6"]
        for r in mad_normalize(mk(shift)).collect()
    }
    assert base == moved


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=50), min_size=1, max_size=6
    ),
    budget=st.integers(min_value=0, max_value=200),
)
def test_largest_remainder_invariants(spark, sizes, budget):
    """For ANY group sizes and budget: quotas are non-negative, sum to
    exactly the budget, and differ from the exact proportional share
    by less than 1 (the Hamilton quota property)."""
    from rootstock_collective_state_sync_spark.operators.sampling import (
        largest_remainder_alloc,
    )

    rows = [
        (gi * 1000 + i, f"g{gi}")
        for gi, n in enumerate(sizes)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r["quota"] for r in
           largest_remainder_alloc(df, budget=budget).collect()}
    total = sum(sizes)
    assert sum(out.values()) == budget
    for gi, n in enumerate(sizes):
        q = out[f"g{gi}"]
        exact = budget * n / total
        assert q >= 0
        assert abs(q - exact) < 1  # never off the ideal share by >=1


# ---- round-10 merge laws ----------------------------------------------------

_ohlc_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=99),        # minute offset
        st.sampled_from(["x", "y"]),                   # key
        st.integers(min_value=1, max_value=9999),      # value cents
    ),
    min_size=2,
    max_size=24,
    unique_by=lambda e: e[0],
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_ohlc_events, cut=st.integers(min_value=0, max_value=23))
def test_ohlc_merge_equals_at_rest_for_any_split(spark, events, cut):
    """OHLC merge law: partial(batch1) ⊕ partial(batch2) rendered ==
    ohlc_bars over the union, for ANY split point."""
    from rootstock_collective_state_sync_spark.operators.temporal import (
        ohlc_bars,
        ohlc_merge,
        ohlc_partial,
        ohlc_render,
    )

    rows = [
        (i, k, f"2024-01-01 {10 + m // 60}:{m % 60:02d}:00", c / 100.0)
        for i, (m, k, c) in enumerate(events)
    ]
    cut = min(cut, len(rows) - 1) or 1

    def df(rs):
        return spark.createDataFrame(
            rs, "event_id long, k string, ts string, value double"
        ).selectExpr("event_id", "k", "cast(ts as timestamp_ntz) ts", "value")

    p1 = ohlc_partial(df(rows[:cut]), "k", "ts", "value", "event_id", "hour")
    p2 = ohlc_partial(df(rows[cut:]), "k", "ts", "value", "event_id", "hour")
    merged = {
        tuple(r)
        for r in ohlc_render(ohlc_merge(p1.unionByName(p2), "k")).collect()
    }
    at_rest = {
        tuple(r)
        for r in ohlc_bars(df(rows), "k", "ts", "value", "event_id").collect()
    }
    assert merged == at_rest


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=1,
        max_size=40,
    ),
    cut=st.integers(min_value=0, max_value=39),
    k=st.sampled_from([4, 8]),
)
def test_kmv_bottom_k_merge_law(spark, vals, cut, k):
    """bottom_k(bottom_k(A) ∪ bottom_k(B)) == bottom_k(A ∪ B), and the
    estimate from the truncated table equals the full-table estimate."""
    from rootstock_collective_state_sync_spark.operators.sketches import (
        kmv_bottom_k,
        kmv_estimate,
        kmv_hashes,
    )

    cut = min(cut, len(vals))
    rows = [("g", v) for v in vals]

    def df(rs):
        return spark.createDataFrame(rs, "grp string, v string")

    full_h = kmv_hashes(df(rows), "grp", "v")
    a = kmv_bottom_k(kmv_hashes(df(rows[:cut]), "grp", "v"), k)
    b = kmv_bottom_k(kmv_hashes(df(rows[cut:]), "grp", "v"), k)
    u = a.unionByName(b).distinct()
    merged = {tuple(r) for r in kmv_bottom_k(u, k).collect()}
    want = {tuple(r) for r in kmv_bottom_k(full_h, k).collect()}
    assert merged == want
    est_trunc = kmv_estimate(kmv_bottom_k(full_h, k), k).collect()[0]["kmv_est"]
    est_full = kmv_estimate(full_h, k).collect()[0]["kmv_est"]
    assert est_trunc == est_full


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    pairs=st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from("abc")),
        min_size=1,
        max_size=30,
    )
)
def test_cohens_kappa_bounds_and_po_pe(spark, pairs):
    """kappa_e6 ∈ [-1e6, 1e6]; po_e6/pe_e6 match a Python fold."""
    from rootstock_collective_state_sync_spark.operators.evaluate import (
        cohens_kappa,
    )

    df = spark.createDataFrame(pairs, "t string, p string")
    r = cohens_kappa(df, "t", "p").collect()[0]
    n = len(pairs)
    agree = sum(1 for t, p in pairs if t == p)
    rowm, colm = {}, {}
    for t, p in pairs:
        rowm[t] = rowm.get(t, 0) + 1
        colm[p] = colm.get(p, 0) + 1
    rc = sum(rowm[l] * colm.get(l, 0) for l in rowm)
    assert r["n_docs"] == n and r["n_agree"] == agree
    assert r["po_e6"] == agree * 1000000 // n
    assert r["pe_e6"] == rc * 1000000 // (n * n)
    assert -1000000 <= r["kappa_e6"] <= 1000000


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),   # value
            st.integers(min_value=1, max_value=9),    # weight
        ),
        min_size=1,
        max_size=25,
    )
)
def test_weighted_median_matches_reference_fold(spark, rows):
    """wmedian == smallest v with cumweight(<= v) * 2 >= total — the
    textbook definition, computed independently in Python."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        weighted_median,
    )

    df = spark.createDataFrame(
        [("g", v, w) for v, w in rows], "grp string, v long, w long"
    )
    got = weighted_median(df, ["grp"], "v", "w").collect()[0]
    total = sum(w for _, w in rows)
    acc, want = 0, None
    for v in sorted({v for v, _ in rows}):
        acc += sum(w for vv, w in rows if vv == v)
        if acc * 2 >= total:
            want = v
            break
    assert got["wmedian"] == want
    assert got["total_weight"] == total


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=10),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_skyline_2d_matches_brute_force(spark, pts):
    """The distributed local-skyline/prune/verify pipeline must equal
    the quadratic brute-force skyline on arbitrary point sets —
    including duplicates (incomparable ties all survive) and
    degenerate single-bucket layouts."""
    from rootstock_collective_state_sync_spark.operators.skyline import (
        skyline_2d,
    )

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        (r["id"], r["x"], r["y"])
        for r in skyline_2d(
            df, minimize="x", maximize="y", bucket=F.expr("x div 7")
        ).collect()
    }
    want = {
        (i, x, y)
        for i, x, y in rows
        if not any(
            (dx <= x and dy >= y and (dx < x or dy > y))
            for _, dx, dy in rows
        )
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 50)),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    extra=st.lists(st.integers(51, 99), max_size=5, unique=True),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sample_k_per_group_stable_and_sized(spark, rows, extra):
    """Fixed-k sampling contracts: exactly min(k, |group|) rows per
    group, the draw is a pure function of the key (re-running gives
    identical samples), and adding rows to OTHER groups never changes
    a group's sample."""
    from collections import Counter

    from rootstock_collective_state_sync_spark.operators.sampling import (
        sample_k_per_group,
    )

    k = 3
    df = spark.createDataFrame(rows, "grp string, key long")
    got = sample_k_per_group(df, "grp", "key", k=k).collect()
    sizes = Counter(r["grp"] for r in got)
    full = Counter(g for g, _ in rows)
    assert sizes == {g: min(k, n) for g, n in full.items()}

    # stability: growing group 'zzz' must not move a/b/c's samples
    df2 = spark.createDataFrame(
        rows + [("zzz", e) for e in extra], "grp string, key long"
    )
    keep = lambda res: sorted(  # noqa: E731
        (r["grp"], r["key"], r["sample_rank"])
        for r in res
        if r["grp"] != "zzz"
    )
    got2 = sample_k_per_group(df2, "grp", "key", k=k).collect()
    assert keep(got2) == keep(got)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1", "g2"]),
            st.integers(min_value=-1000, max_value=1000),  # value (dup-able)
            st.integers(min_value=-10**9, max_value=10**9),  # count/weight
        ),
        min_size=1,
        max_size=60,
    )
)
def test_distributed_prefix_sum_equals_naive_window(spark, rows):
    """The r12 scale primitive (equi-depth / ntile / Kaplan-Meier all
    ride it) must equal the naive global window EXACTLY — for negative
    weights (KM's e9 log terms), duplicate values (aggregated before
    the call by contract), any group mix, and regardless of where the
    approx-quantile boundaries land (the decomposition is
    boundary-invariant by construction)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        _distributed_prefix_sum,
    )

    # per contract the input has one row per (group, value): aggregate
    uniq = {}
    for g, v, c in rows:
        uniq[(g, v)] = uniq.get((g, v), 0) + c
    data = [(g, v, c) for (g, v), c in sorted(uniq.items())]
    df = spark.createDataFrame(data, "g string, v long, c long")

    got = {
        (r["g"], r["v"]): r["off"]
        for r in _distributed_prefix_sum(
            df, "v", "c", "off", group_cols=["g"]
        ).collect()
    }
    want = {}
    for g in {d[0] for d in data}:
        acc = 0
        for gg, v, c in data:
            if gg == g:
                want[(g, v)] = acc
                acc += c
    assert got == want

    # ungrouped variant over the same rows (values may repeat across
    # groups — re-aggregate to one row per value)
    by_v = {}
    for _, v, c in data:
        by_v[v] = by_v.get(v, 0) + c
    flat = [(v, c) for v, c in sorted(by_v.items())]
    df2 = spark.createDataFrame(flat, "v long, c long")
    got2 = {
        r["v"]: r["off"]
        for r in _distributed_prefix_sum(df2, "v", "c", "off").collect()
    }
    acc = 0
    want2 = {}
    for v, c in flat:
        want2[v] = acc
        acc += c
    assert got2 == want2


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1"]),
            st.text(
                alphabet="abcdef0123456789", min_size=1, max_size=12
            ),  # string value — the r12 footgun domain
            st.integers(min_value=-10**9, max_value=10**9),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_distributed_prefix_sum_string_keys(spark, rows):
    """r13 (verdict item 2): string-typed v_col must take the SAME
    two-level decomposition (boundaries from the deterministic
    md5-selected sample) and equal the naive window exactly — the r12
    silent single-partition fallback is gone."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        _distributed_prefix_sum,
    )

    uniq = {}
    for g, v, c in rows:
        uniq[(g, v)] = uniq.get((g, v), 0) + c
    data = [(g, v, c) for (g, v), c in sorted(uniq.items())]
    df = spark.createDataFrame(data, "g string, v string, c long")

    got = {
        (r["g"], r["v"]): r["off"]
        for r in _distributed_prefix_sum(
            df, "v", "c", "off", group_cols=["g"]
        ).collect()
    }
    want = {}
    for g in {d[0] for d in data}:
        acc = 0
        for gg, v, c in data:
            if gg == g:
                want[(g, v)] = acc
                acc += c
    assert got == want

    by_v = {}
    for _, v, c in data:
        by_v[v] = by_v.get(v, 0) + c
    flat = [(v, c) for v, c in sorted(by_v.items())]
    df2 = spark.createDataFrame(flat, "v string, c long")
    got2 = {
        r["v"]: r["off"]
        for r in _distributed_prefix_sum(df2, "v", "c", "off").collect()
    }
    acc = 0
    want2 = {}
    for v, c in flat:
        want2[v] = acc
        acc += c
    assert got2 == want2


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    counts=st.dictionaries(
        st.integers(min_value=-500, max_value=500),  # value
        st.integers(min_value=1, max_value=9),  # multiplicity
        min_size=1,
        max_size=40,
    ),
    buckets=st.sampled_from([2, 4, 8, 13]),
)
def test_equidepth_from_counts_equals_raw_rows(spark, counts, buckets):
    """The renderer contract as a property: for ANY per-value
    count table, equidepth_from_counts == equidepth_histogram over
    rows expanded from those counts (ids synthesized — the tie-split
    must never move a bucket's size or value extent)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        equidepth_from_counts,
        equidepth_histogram,
    )

    rows, rid = [], 0
    for v, c in sorted(counts.items()):
        for _ in range(c):
            rows.append((rid, v))
            rid += 1
    df = spark.createDataFrame(rows, "id long, v long")
    want = sorted(
        tuple(r)
        for r in equidepth_histogram(df, "v", "id", buckets=buckets).collect()
    )
    per_v = spark.createDataFrame(
        sorted(counts.items()), "v long, c long"
    )
    got = sorted(
        tuple(r) for r in equidepth_from_counts(per_v, buckets).collect()
    )
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-300, max_value=300),  # value
            st.booleans(),  # group A membership
        ),
        min_size=2,
        max_size=60,
    )
)
def test_rank_tests_from_counts_equal_raw(spark, rows):
    """The renderer contract as a property: MWU and KS from the
    merged (v, c, ca) table equal the raw-row operators for any mix,
    including all-one-group edges (z/d undefined -> NULL-safe)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        ks_two_sample,
        ks_two_sample_from_counts,
        mann_whitney_u,
        mann_whitney_u_from_counts,
    )

    df = spark.createDataFrame(
        [(v, 1 if a else 0) for v, a in rows], "v long, a int"
    )
    per_v = (
        df.groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("a").cast("long").alias("ca"),
        )
    )
    for raw_fn, fc_fn in (
        (mann_whitney_u, mann_whitney_u_from_counts),
        (ks_two_sample, ks_two_sample_from_counts),
    ):
        want = sorted(tuple(r) for r in raw_fn(df, "v", "a = 1").collect())
        got = sorted(tuple(r) for r in fc_fn(per_v).collect())
        assert got == want, raw_fn.__name__


def test_rank_tests_drop_null_values(spark):
    """r13 advisor (medium): MWU/KS/Kruskal share one NULL policy —
    NULL value rows are dropped, not ranked."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        kruskal_wallis,
        ks_two_sample,
        mann_whitney_u,
    )

    with_nulls = spark.createDataFrame(
        [(1, 1, "g1"), (2, 0, "g2"), (None, 1, "g1"), (3, 1, "g2"),
         (None, 0, "g2"), (2, 1, "g1")],
        "v long, a int, g string",
    )
    clean = with_nulls.filter("v IS NOT NULL")
    for fn, args in (
        (mann_whitney_u, ("v", "a = 1")),
        (ks_two_sample, ("v", "a = 1")),
        (kruskal_wallis, ("v", "g")),
    ):
        got = sorted(tuple(r) for r in fn(with_nulls, *args).collect())
        want = sorted(tuple(r) for r in fn(clean, *args).collect())
        assert got == want, fn.__name__


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=2**31 - 3, max_value=2**31 + 3),  # c
            st.integers(min_value=0, max_value=2**31 - 3),  # ca <= c
        ),
        min_size=2,
        max_size=5,
    )
)
def test_rank_tests_decimal_sums_at_adversarial_magnitudes(spark, counts):
    """r13 verdict item 3: with per-value counts near 2^31 the n²/n³
    scale sums (r2_a, tie_t, cumA·n_b) are far past long — the
    DECIMAL(38,0) accumulation must keep z_e6/d_e9 exact-in-double
    (verified against arbitrary-precision Python), and the long
    display columns must go NULL (try_cast), never wrap or crash."""
    import math

    from rootstock_collective_state_sync_spark.operators.profile import (
        ks_two_sample_from_counts,
        mann_whitney_u_from_counts,
    )

    rows = [(v * 10, c, min(ca, c)) for v, (c, ca) in enumerate(counts)]
    per_v = spark.createDataFrame(rows, "v long, c long, ca long")

    # ---- exact reference in unbounded ints, doubles only where the
    # operators themselves go double -----------------------------------
    n_a = sum(ca for _, _, ca in rows)
    n_b = sum(c - ca for _, c, ca in rows)
    n = n_a + n_b
    tie_t = sum(c**3 - c for _, c, _ in rows)
    off, r2_a = 0, 0
    cums = []
    for v, c, ca in rows:  # rows are already v-ascending
        r2_a += ca * (2 * off + c + 1)
        off += c
        cums.append((v, c, ca))
    var = (
        float(n_a) * float(n_b) / 12.0
        * (float(n + 1) - float(tie_t) / (float(n) * float(n - 1)))
    )
    z = (
        (float(r2_a - n_a * (n_a + 1) - n_a * n_b) / 2.0) / math.sqrt(var)
        if var > 0
        else None
    )

    got = mann_whitney_u_from_counts(per_v).collect()[0]
    assert got["n_a"] == n_a and got["n_b"] == n_b
    long_max = 2**63 - 1
    for name, exact in (
        ("r2_a", r2_a),
        ("u2_a", r2_a - n_a * (n_a + 1)),
        ("tie_t", tie_t),
    ):
        if -long_max - 1 <= exact <= long_max:
            assert got[name] == exact, name
        else:
            assert got[name] is None, f"{name} must be NULL, not wrapped"
    if z is None:
        assert got["z_e6"] is None
    else:
        assert abs(got["z_e6"] - round(z * 1e6)) <= 1

    # ---- KS: exact integer gap max, d from doubles --------------------
    cuma = cumb = 0
    best = None
    for v, c, ca in cums:
        cuma += ca
        cumb += c - ca
        gap = abs(cuma * n_b - cumb * n_a)
        if best is None or gap > best[0]:
            best = (gap, v)
    gotk = ks_two_sample_from_counts(per_v).collect()[0]
    assert gotk["n_a"] == n_a and gotk["n_b"] == n_b
    if n_a > 0 and n_b > 0:
        assert gotk["at_v"] == best[1]
        d = float(best[0]) * 1e9 / (float(n_a) * float(n_b))
        assert abs(gotk["d_e9"] - round(d)) <= 1
    else:
        assert gotk["d_e9"] is None


def test_prefix_sum_date_keys(spark):
    """The r13 generic non-numeric path also covers DATE keys — the
    md5-sampled boundaries compare in native date ordering."""
    import datetime as dt

    from rootstock_collective_state_sync_spark.operators.profile import (
        _distributed_prefix_sum,
    )

    base = dt.date(2024, 1, 1)
    data = [
        (base + dt.timedelta(days=i % 37), (i % 7) + 1) for i in range(200)
    ]
    agg = {}
    for d, c in data:
        agg[d] = agg.get(d, 0) + c
    df = spark.createDataFrame(sorted(agg.items()), "v date, c long")
    got = {
        r["v"]: r["off"]
        for r in _distributed_prefix_sum(df, "v", "c", "off").collect()
    }
    acc, want = 0, {}
    for d, c in sorted(agg.items()):
        want[d] = acc
        acc += c
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),  # x (heavy ties)
            st.integers(min_value=-4, max_value=4),  # y
            st.booleans(),  # group
        ),
        min_size=2,
        max_size=50,
    )
)
def test_kendall_tau_matches_pure_python(spark, rows):
    """X-A43: tau-b's exact integer parts (nc, nd) equal the O(n²)
    brute-force pair walk for any tie mix, and tau_b_e6 tracks the
    exact-rational-over-sqrt reference within 1 ulp-of-e6; degenerate
    groups (all x tied or all y tied) go NULL, never divide by zero."""
    import math

    from rootstock_collective_state_sync_spark.operators.profile import (
        kendall_tau,
    )

    df = spark.createDataFrame(
        [(x, y, "a" if g else "b") for x, y, g in rows],
        "x long, y long, g string",
    )
    got = {
        r["g"]: r for r in kendall_tau(df, "x", "y", group_cols=["g"]).collect()
    }
    by_g: dict[str, list] = {}
    for x, y, g in rows:
        by_g.setdefault("a" if g else "b", []).append((x, y))
    for g, pts in by_g.items():
        n = len(pts)
        nc = nd = 0
        for i in range(n):
            for j in range(i + 1, n):
                dx = pts[i][0] - pts[j][0]
                dy = pts[i][1] - pts[j][1]
                if dx and dy:
                    if (dx > 0) == (dy > 0):
                        nc += 1
                    else:
                        nd += 1
        t1 = 0
        for v in {p[0] for p in pts}:
            c = sum(1 for p in pts if p[0] == v)
            t1 += c * (c - 1)
        t2 = 0
        for v in {p[1] for p in pts}:
            c = sum(1 for p in pts if p[1] == v)
            t2 += c * (c - 1)
        r = got[g]
        assert r["n_rows"] == n
        assert r["n_concordant"] == nc, g
        assert r["n_discordant"] == nd, g
        d1, d2 = n * (n - 1) - t1, n * (n - 1) - t2
        if d1 > 0 and d2 > 0:
            tau = 2.0 * (nc - nd) / math.sqrt(float(d1) * float(d2))
            assert abs(r["tau_b_e6"] - round(tau * 1e6)) <= 1, g
        else:
            assert r["tau_b_e6"] is None, g


def test_kendall_tau_drops_null_values(spark):
    """X-A43 shares the rank-test NULL policy: rows with NULL x or y
    are dropped, not treated as an extreme rank."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        kendall_tau,
    )

    with_nulls = spark.createDataFrame(
        [(1, 10, "g"), (2, None, "g"), (None, 5, "g"), (3, 7, "g"),
         (2, 8, "g")],
        "x long, y long, g string",
    )
    clean = with_nulls.filter("x IS NOT NULL AND y IS NOT NULL")
    got = kendall_tau(with_nulls, "x", "y", group_cols=["g"]).collect()
    want = kendall_tau(clean, "x", "y", group_cols=["g"]).collect()
    assert got == want


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-200, max_value=200),  # value
            st.booleans(),  # group A membership
        ),
        min_size=2,
        max_size=60,
    )
)
def test_wasserstein_matches_exact_fraction_reference(spark, rows):
    """X-A44: the summation-by-parts W1 equals the textbook
    Σ|F_A−F_B|·gap computed in exact rationals — floor-e6, no float
    anywhere — and goes NULL when either group is empty."""
    from fractions import Fraction

    from rootstock_collective_state_sync_spark.operators.profile import (
        wasserstein_1d,
    )

    df = spark.createDataFrame(
        [(v, 1 if a else 0) for v, a in rows], "v long, a int"
    )
    got = wasserstein_1d(df, "v", "a = 1").collect()[0]
    n_a = sum(1 for _, a in rows if a)
    n_b = len(rows) - n_a
    assert got["n_a"] == n_a and got["n_b"] == n_b
    if n_a == 0 or n_b == 0:
        assert got["w1_e6"] is None
        return
    vals = sorted({v for v, _ in rows})
    w1 = Fraction(0)
    cuma = cumb = 0
    for i, v in enumerate(vals[:-1]):
        cuma += sum(1 for x, a in rows if x == v and a)
        cumb += sum(1 for x, a in rows if x == v and not a)
        gap = abs(Fraction(cuma, n_a) - Fraction(cumb, n_b))
        w1 += gap * (vals[i + 1] - v)
    assert got["w1_e6"] == (w1 * 10**6).numerator // (w1 * 10**6).denominator


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-150, max_value=150),  # value
            st.booleans(),  # group A membership
        ),
        min_size=2,
        max_size=50,
    )
)
def test_energy_distance_matches_brute_force(spark, rows):
    """X-A47: the prefix-sum decomposition equals the O(n²) brute
    pairwise sums exactly (same three e9 floor snaps, exact integer
    pre-snap sums), NULL when a group is empty."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        energy_distance,
    )

    df = spark.createDataFrame(
        [(v, 1 if a else 0) for v, a in rows], "v long, a int"
    )
    got = energy_distance(df, "v", "a = 1").collect()[0]
    a_vals = sorted(v for v, a in rows if a)
    b_vals = sorted(v for v, a in rows if not a)
    assert got["n_a"] == len(a_vals) and got["n_b"] == len(b_vals)
    if not a_vals or not b_vals:
        assert got["e_e9"] is None
        return

    def pair_sum(xs, ys):
        return sum(abs(x - y) for x in xs for y in ys)

    def snap(num, den):  # the operator's e9 floor division
        return (num * 10**9) // den

    m_ab = pair_sum(a_vals, b_vals)  # each cross pair once
    m_aa = pair_sum(a_vals, a_vals) // 2  # unordered within-pairs
    m_bb = pair_sum(b_vals, b_vals) // 2
    na, nb = len(a_vals), len(b_vals)
    want = (
        2 * snap(m_ab, na * nb)
        - 2 * snap(m_aa, na * na)
        - 2 * snap(m_bb, nb * nb)
    )
    assert got["e_e9"] == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # value
            st.integers(min_value=0, max_value=3),  # group id
        ),
        min_size=2,
        max_size=50,
    )
)
def test_anova_welch_match_python_reference(spark, rows):
    """X-A45 against a pure-Python reference computed the same way
    (exact integer moments, double only at the same final
    expressions): f/eta²/t/df within 1 e6-ulp; degenerate inputs
    (k<2, zero variance, empty side, n<2 per side) go NULL."""
    import math

    from rootstock_collective_state_sync_spark.operators.profile import (
        anova_oneway,
        welch_t,
    )

    df = spark.createDataFrame(
        [(v, f"g{g}") for v, g in rows], "vc long, o_orderpriority string"
    )
    got_a = anova_oneway(df, "vc", "o_orderpriority").collect()[0]
    got_w = welch_t(df, "vc", "o_orderpriority", ["g0", "g1"]).collect()[0]

    by_g: dict[str, list[int]] = {}
    for v, g in rows:
        by_g.setdefault(f"g{g}", []).append(v)
    n = len(rows)
    k = len(by_g)
    s = sum(v for v, _ in rows)
    q = sum(v * v for v, _ in rows)
    # the reference's one double reduction folds in sorted-g order —
    # the SAME fixed order the operator and oracle use (r14 advisor
    # fix: the reduction must not be partition-order-dependent)
    s2n = sum(
        float(sum(vs)) ** 2 / len(vs) for _, vs in sorted(by_g.items())
    )
    grand = float(s) ** 2 / n
    ssb, sst = s2n - grand, float(q) - grand
    ssw = sst - ssb
    assert got_a["n"] == n and got_a["k"] == k
    if k > 1 and n > k and ssw > 0:
        f = (ssb / (k - 1)) / (ssw / (n - k))
        assert abs(got_a["f_e6"] - round(f * 1e6)) <= 1
    else:
        assert got_a["f_e6"] is None
    if sst > 0:
        assert abs(got_a["eta2_e6"] - round(ssb / sst * 1e6)) <= 1
    else:
        assert got_a["eta2_e6"] is None

    a_vals = [v for v, g in rows if f"g{g}" in ("g0", "g1")]
    b_vals = [v for v, g in rows if f"g{g}" not in ("g0", "g1")]
    assert got_w["n_a"] == len(a_vals) and got_w["n_b"] == len(b_vals)
    if len(a_vals) > 1 and len(b_vals) > 1:
        va_n = (
            (sum(v * v for v in a_vals) - float(sum(a_vals)) ** 2 / len(a_vals))
            / (len(a_vals) - 1) / len(a_vals)
        )
        vb_n = (
            (sum(v * v for v in b_vals) - float(sum(b_vals)) ** 2 / len(b_vals))
            / (len(b_vals) - 1) / len(b_vals)
        )
        se2 = va_n + vb_n
        if se2 > 0:
            t = (
                sum(a_vals) / len(a_vals) - sum(b_vals) / len(b_vals)
            ) / math.sqrt(se2)
            assert abs(got_w["t_e6"] - round(t * 1e6)) <= 1
        else:
            assert got_w["t_e6"] is None
    else:
        assert got_w["t_e6"] is None


def test_anova_partition_order_invariance(spark):
    """The r14 advisor's flake class: the per-group s²/n reduction
    must not depend on partition count / merge order. With the
    fixed-order left fold over the g-sorted term array the statistic
    is bit-identical across repartitionings (a plain double F.sum was
    not guaranteed to be)."""
    from rootstock_collective_state_sync_spark.operators.profile import (
        anova_oneway,
    )
    from rootstock_collective_state_sync_spark.plans.tables import load_table

    from tests.conftest import SF_SMOKE

    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("vc"),
    )
    want = None
    for parts in (1, 7, 32):
        got = tuple(
            anova_oneway(
                orders.repartition(parts), "vc", "o_orderpriority"
            ).collect()[0]
        )
        if want is None:
            want = got
        assert got == want, parts
