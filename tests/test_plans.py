"""Physical-plan quality gates.

Correctness says the answer is right; these say the PLAN is right —
the properties that decide whether a query survives a 100x scale-up:
filters/projections reaching the Parquet scan, small sides broadcast,
partial aggregation before the shuffle, and no accidental cartesian
products anywhere in the registry.
"""

from __future__ import annotations

import re

import pytest

from rootstock_collective_state_sync_spark.plans.registry import SPECS

from tests.conftest import SF_SMOKE


def plan(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_and_projection_pushed_to_scan(spark):
    df = SPECS["filter_range_scan"].fn(spark, SF_SMOKE)
    p = plan(spark, df)
    assert "PushedFilters: [IsNotNull(event_id), GreaterThanOrEqual(event_id,100)" in p
    # projection pruning: only the 3 selected columns are read
    assert "ReadSchema" in p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "value" not in read_schema and "props" not in read_schema


def test_star_join_broadcasts_dimensions(spark):
    p = plan(spark, SPECS["q5_local_supplier_volume"].fn(spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") >= 4  # nation/region/customer/supplier
    assert "SortMergeJoin" not in p or p.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in p


def test_q1_partial_aggregation(spark):
    p = plan(spark, SPECS["q1_pricing_summary"].fn(spark, SF_SMOKE))
    # map-side partial + final agg: two HashAggregate nodes around one
    # exchange — the shuffle carries 6 groups, not 6M rows
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p or "partial" in p.lower()


def test_semi_anti_join_physical(spark):
    p = plan(spark, SPECS["semi_join"].fn(spark, SF_SMOKE))
    assert "LeftSemi" in p
    p = plan(spark, SPECS["anti_join"].fn(spark, SF_SMOKE))
    assert "LeftAnti" in p


INTENTIONAL_CROSS = {
    # bounded-by-design pair scoring / tiny broadcast enumerations
    "emb_near_dup_pairs",
    "ann_cosine_topk",
    "changelog_incremental",  # broadcast of a 1-row head aggregate
}


@pytest.mark.parametrize(
    "name", [n for n in SPECS if n not in INTENTIONAL_CROSS]
)
def test_no_accidental_cartesian(spark, name):
    df = SPECS[name].fn(spark, SF_SMOKE)
    p = plan(spark, df, "simple")
    assert "CartesianProduct" not in p, f"{name} plans a cartesian product"


def test_stratified_sample_no_shuffle(spark):
    """Sampling is a scan + filter: ANY Exchange in this plan means a
    regression that would shuffle 100 TB for a row-local decision."""
    p = plan(spark, SPECS["stratified_sample"].fn(spark, SF_SMOKE), "simple")
    # the final orderBy (presentation only) adds a range exchange;
    # nothing before it may repartition
    assert "Exchange hashpartitioning" not in p


def test_pack_sequences_single_hash_shuffle(spark):
    """Packing shuffles once on the shard key — the window cumsum must
    reuse that partitioning, not add its own."""
    p = plan(spark, SPECS["pack_sequences"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_range_join_broadcasts_intervals(spark):
    p = plan(spark, SPECS["range_join"].fn(spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_q17_single_window_exchange(spark):
    """The correlated-average window reuses one shuffle on l_partkey."""
    p = plan(spark, SPECS["q17_small_quantity_revenue"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_contamination_broadcasts_benchmark_side(spark):
    """The benchmark shingle set is the small side by construction —
    it must broadcast; a shuffle join here would move the full train
    corpus index for a KB-sized eval set."""
    p = plan(spark, SPECS["contamination_check"].fn(spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_epoch_shuffle_no_global_window(spark):
    """The per-epoch rank must partition by shard (16-way parallel),
    never a single global-window partition (the row_number-over-
    everything trap that serializes 100 TB through one task)."""
    p = plan(spark, SPECS["epoch_shuffle"].fn(spark, SF_SMOKE), "simple")
    assert "Window" in p
    # a global window shows up as 'Exchange SinglePartition' feeding Window
    assert "Exchange SinglePartition" not in p


def test_tfidf_broadcasts_idf(spark):
    """idf is vocabulary-sized — broadcast; the only wide exchange is
    the term-frequency groupBy."""
    p = plan(spark, SPECS["tfidf_top_terms"].fn(spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in p


def test_budget_select_bounded_exchanges(spark):
    """Budget selection must stay histogram + scan-filter: the
    returned plan gets at most the boundary-bucket window exchange and
    a union — never a global sort or join."""
    p = plan(spark, SPECS["budget_select"].fn(spark, SF_SMOKE), "simple")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") <= 2


def test_importance_sample_no_shuffle(spark):
    """Weighted sampling is a per-row decision: ANY Exchange would
    shuffle 100 TB for row-local arithmetic."""
    p = plan(spark, SPECS["importance_sample"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange SinglePartition" not in p


def test_dup_ngram_fraction_bounded_shuffles(spark):
    """Two reductions only (gram-hash counts, per-doc rollup); the
    count join must never become a cartesian or shuffle the exploded
    gram stream a third time."""
    p = plan(spark, SPECS["dup_ngram_fraction"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in p


def test_quality_percentiles_window_on_histogram(spark):
    """percent_rank must run over the (group, value) histogram, not
    per row: no single-partition exchange, bounded hash shuffles, and
    the row stream joins back by equi-join."""
    p = plan(spark, SPECS["quality_percentiles"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange SinglePartition" not in p
    assert p.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in p


def test_zorder_key_no_shuffle(spark):
    """The Morton key is row-local bit arithmetic: no Exchange other
    than the presentation orderBy."""
    p = plan(spark, SPECS["zorder_key"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange SinglePartition" not in p


def test_doc_chunks_no_shuffle(spark):
    """Chunking is tokenize + posexplode + slice — all narrow. Any
    hash Exchange would mean shuffling the full corpus to produce a
    row-local transformation."""
    p = plan(spark, SPECS["doc_chunks"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in p


def test_semantic_dedup_joins_on_cell(spark):
    """SemDeDup's pair scoring must be an equi-join on the cell key —
    never a nested-loop/cartesian over the corpus."""
    p = plan(spark, SPECS["semantic_dedup"].fn(spark, SF_SMOKE), "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_llm_token_count_no_shuffle(spark):
    """Token counting (whitespace + BPE-ish regex) is row-local JVM
    regex: any hash Exchange would shuffle the corpus for per-row
    arithmetic."""
    p = plan(spark, SPECS["llm_token_count"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in p
    assert "Exchange SinglePartition" not in p


def test_pq_topk_partial_topk_and_broadcast(spark):
    """PQ-ADC shortlist must execute as WindowGroupLimit (per-partition
    partial top-k, no full global sort of the scored stream) and the
    query LUT side must broadcast — the corpus is never shuffled for
    scoring."""
    p = plan(spark, SPECS["pq_topk"].fn(spark, SF_SMOKE))
    assert "WindowGroupLimit" in p
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_ann_lsh_topk_bucket_equi_join(spark):
    """Candidate generation must be a broadcast equi-join on the
    bucket struct: a SortMergeJoin or nested loop here means the
    corpus is shuffled per query table."""
    p = plan(spark, SPECS["ann_lsh_topk"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ivfpq_topk_probe_broadcast(spark):
    """IVFPQ's cell-bounded ADC: the probe/LUT side broadcasts into
    the coded corpus scan; the shortlist rank is a partial top-k."""
    p = plan(spark, SPECS["ivfpq_topk"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "CartesianProduct" not in p


def test_kmv_dedup_partial_group_limit_below_exchange(spark):
    """`kmv_bottom_k(dedup=True)` ranks on a lone dense_rank so the
    rank-limit pushdown plants a PARTIAL WindowGroupLimit directly
    under the level-1 (grp, sub-bucket) exchange: each map task prunes
    to its local bottom-k before anything shuffles. A companion
    expression in that window would drop the partial limit and put
    the raw hash stream on the wire."""
    from rootstock_collective_state_sync_spark.operators.sketches import (
        kmv_bottom_k,
    )

    h = spark.range(0, 2000).selectExpr(
        "id % 3 AS grp", "xxhash64(id % 500) AS h"
    )
    lines = plan(spark, kmv_bottom_k(h, 16, dedup=True), "simple").splitlines()
    first = max(i for i, line in enumerate(lines) if "Exchange" in line)
    assert re.search(r"Exchange hashpartitioning\(grp#\d+L, _sl#", lines[first])
    assert re.search(
        r"WindowGroupLimit .*dense_rank\(h#\d+L\), 16, Partial", lines[first + 1]
    )


def test_drop_dup_spans_bounded_shuffles(spark):
    """Span dedup is window-over-hash + anti-join + per-doc rollup:
    bounded hash exchanges, never a cartesian, and no single-partition
    funnel of the exploded token stream."""
    p = plan(spark, SPECS["drop_dup_spans"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") <= 4
    assert "CartesianProduct" not in p
    assert "Exchange SinglePartition" not in p


def test_gopher_quality_scan_speed(spark):
    # single projection over the scan: no exchange except the final
    # presentation sort, no UDF, only (doc_id, text) read.
    # Cold cache: an earlier test's (now eagerly materialized) cached
    # frame over the same parquet otherwise substitutes into this
    # plan and its printed child carries Arrow nodes (r16).
    spark.catalog.clearCache()
    p = plan(spark, SPECS["gopher_quality"].fn(spark, SF_SMOKE))
    assert "Exchange" not in p.split("Sort")[0] or p.count("Exchange") <= 1
    assert "BatchEvalPython" not in p and "ArrowEval" not in p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" in read_schema and "source" not in read_schema


def test_scd2_single_keyed_exchange(spark):
    # both window passes share one hash exchange on the key; the only
    # other exchange is the final presentation orderBy
    p = plan(spark, SPECS["scd2_intervals"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("Window") == 2
    assert "CartesianProduct" not in p


def test_event_type_correlation_aggregates_before_join(spark):
    # the pair join runs on the (hours x types) aggregate, never on
    # raw events: every join input is post-aggregation
    p = plan(spark, SPECS["event_type_correlation"].fn(spark, SF_SMOKE))
    assert p.count("HashAggregate") >= 4  # partial+final for h and dense sides
    assert "CartesianProduct" not in p or "BroadcastNestedLoopJoin" in p


def test_rrf_fusion_no_corpus_shuffle(spark):
    # queries broadcast against the corpus in both retrievers; no
    # sort-merge join anywhere
    p = plan(spark, SPECS["rrf_fusion"].fn(spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in p


def test_audio_frame_energy_arrow_batched(spark):
    # codec work is Arrow-batched mapInPandas (no row-at-a-time UDF)
    # after a content-hash rebalance
    p = plan(spark, SPECS["audio_frame_energy"].fn(spark, SF_SMOKE))
    assert "MapInPandas" in p
    assert "BatchEvalPython" not in p


def test_repetition_signals_bounded_shuffles(spark):
    """One tagged-gram count shuffle, one per-doc rollup, one doc-keyed
    join — a 4th corpus-volume exchange would mean the gram stream is
    being re-shuffled."""
    p = plan(spark, SPECS["repetition_signals"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") <= 5
    assert "CartesianProduct" not in p


def test_line_dedup_text_only_in_doc_join(spark):
    """Boilerplate strip: the line-level shuffles carry (doc, pos,
    hash) only; full text appears in exactly one doc-keyed join."""
    p = plan(spark, SPECS["line_dedup"].fn(spark, SF_SMOKE), "simple")
    # count shuffle + collect shuffle + doc join (2 sides) + sort
    assert p.count("Exchange hashpartitioning") <= 5


def test_bloom_pruned_join_broadcasts_dim(spark):
    """The bloom-pruned join must keep the fact un-shuffled into a
    BroadcastHashJoin; the bitmap probe itself is scan-side."""
    p = plan(spark, SPECS["bloom_pruned_join"].fn(spark, SF_SMOKE), "simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_time_decayed_score_single_window_exchange(spark):
    """The decay score is ONE window pass: exactly one hash exchange
    (the key partitioning), nothing else."""
    p = plan(spark, SPECS["time_decayed_score"].fn(spark, SF_SMOKE), "simple")
    assert p.count("Exchange hashpartitioning") == 1


def test_bpe_fertility_scan_speed(spark):
    """Encoding with a learned merge table is chained literal
    replaces — a pure projection; any hash exchange is a regression.
    (The training loop runs its own bounded jobs beforehand; this
    gates the ENCODE plan.)"""
    p = plan(spark, SPECS["bpe_fertility"].fn(spark, SF_SMOKE), "simple")
    assert "Exchange hashpartitioning" not in p


def _live(p: str) -> str:
    """The explain string with every InMemoryRelation CHILD subtree
    removed — only operators that EXECUTE in this action remain. An
    eagerly-materialized cache (r16: tracked_persist materializes by
    default) prints its child as `AdaptiveSparkPlan isFinalPlan=true`
    with BOTH a Final and an Initial copy, so raw node-text counts
    double per cached reader; what the single-evaluation pins actually
    guard is the LIVE plan."""
    out, skip_indent = [], None
    for line in p.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*("))
        if skip_indent is not None:
            if indent > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def test_pandas_udf_single_evaluation(spark):
    """Pin the r08 double-ArrowEvalPython fix: a threshold filter over
    a Pandas-UDF score must NOT re-evaluate the UDF (Catalyst pushes a
    deterministic filter back through the aliasing project). The
    expensive Python stages run exactly once per logical evaluation:
    semantic_dedup = 1 cosine + 1 (cached) cell-assign (r09: the
    cell-assigned corpus is persisted, so all three consumers — both
    self-join branches and the keeper join — read InMemoryTableScan
    instead of re-scanning + re-assigning); emb_near_dup_pairs /
    emb_near_dup_lsh = 1 cosine each. Counts are taken on the LIVE
    plan (:func:`_live` — cached-child printouts stripped), which is
    what executes.

    Cache is cleared first: the session-scoped fixture accumulates
    persisted frames from earlier test files (conformance runs every
    registry query, including the persisting ones), and the
    CacheManager then substitutes EXTRA InMemoryTableScans into this
    plan — the pin is defined against a cold cache."""
    spark.catalog.clearCache()
    p = plan(spark, SPECS["semantic_dedup"].fn(spark, SF_SMOKE), "simple")
    assert p.count("InMemoryTableScan") == 3  # cached corpus, 3 readers
    # exactly ONE Arrow eval executes live (the cosine)
    assert _live(p).count("ArrowEvalPython") == 1
    assert "Filter isnotnull(pythonUDF" not in _live(p)  # r07 duplication tell
    spark.catalog.clearCache()
    p = plan(spark, SPECS["emb_near_dup_pairs"].fn(spark, SF_SMOKE), "simple")
    assert _live(p).count("ArrowEvalPython") == 1
    # lsh: 1 cosine + 2 bucket-sign evals (one per join branch)
    spark.catalog.clearCache()
    p = plan(spark, SPECS["emb_near_dup_lsh"].fn(spark, SF_SMOKE), "simple")
    assert _live(p).count("ArrowEvalPython") == 3
    assert "Filter isnotnull(pythonUDF" not in _live(p)
    # hard_negatives_celled: same persist-before-self-join shape as
    # semantic_dedup (3 cached readers, one live cosine eval)
    spark.catalog.clearCache()
    p = plan(spark, SPECS["hard_negatives_celled"].fn(spark, SF_SMOKE), "simple")
    assert p.count("InMemoryTableScan") == 3
    assert _live(p).count("ArrowEvalPython") == 1


def test_embedding_gram_no_self_join(spark):
    """Gram pairs are generated in-row: no join anywhere, one
    map-side-combined aggregation onto dim^2 keys."""
    p = plan(spark, SPECS["embedding_gram"].fn(spark, SF_SMOKE), "simple")
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("HashAggregate") == 2  # partial + final


def test_source_interleave_no_global_sort(spark):
    """The interleave key is closed-form: no single-partition exchange
    over the data (the only global window runs on the distinct-source
    control-plane frame)."""
    df = SPECS["source_interleave"].fn(spark, SF_SMOKE)
    p = plan(spark, df, "simple")
    # the doc-bearing side must never collapse to one partition: the
    # only SinglePartition exchange allowed is the tiny distinct-source
    # index (its subtree contains the distinct aggregate, not the scan)
    import re as _re

    doc_windows = [
        l for l in p.splitlines() if "Window" in l and "doc_id" in l
    ]
    assert all("source#" in l for l in doc_windows)


def test_assoc_rules_reuses_basket_exchange(spark):
    """The pair stage self-joins ONE persisted basket frame on the
    basket key — the physical plan must reuse that exchange for the
    second side, not re-shuffle the corpus; pricing joins broadcast."""
    from rootstock_collective_state_sync_spark.caching import release_tracked

    p = plan(spark, SPECS["assoc_rules"].fn(spark, SF_SMOKE), "simple")
    release_tracked()
    # both self-join sides read the SAME persisted frame (one
    # materialization; under AQE the reuse shows as two cache scans)
    assert p.count("InMemoryTableScan") >= 2
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # frequent-item prune + pricing


def test_pareto_front_quadratic_only_on_survivors(spark):
    """The exact dominance check must be a broadcast nested loop over
    the pruned survivor set — never a sort-merge or cartesian over the
    part table — and the scan must prune to the 3 used columns."""
    p = plan(spark, SPECS["pareto_front"].fn(spark, SF_SMOKE), "formatted")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    # column pruning reached the scan: only the 3 used part columns
    # (ReadSchema lines may be display-truncated, so check exclusions)
    schemas = re.findall(r"ReadSchema: \S+", p)
    assert schemas and all(
        "p_name" not in sch and "p_type" not in sch for sch in schemas
    )


def test_time_to_convert_windows_user_table_not_events(spark):
    """The percentile window must consume the per-(start,user) delay
    aggregate — a window directly over raw events would sort the
    stream; the events scan must also prune to the 3 used columns."""
    p = plan(spark, SPECS["time_to_convert"].fn(spark, SF_SMOKE), "formatted")
    # window input comes from an aggregate, so the plan has hash
    # aggregates BEFORE the window and no events-sized window sort
    assert p.index("HashAggregate") < p.index("Window")
    # both event scans prune the unused value/props columns
    schemas = re.findall(r"ReadSchema: \S+", p)
    assert schemas and all(
        "props" not in sch and "value" not in sch for sch in schemas
    )


def test_q2_part_filter_prunes_before_aggregation(spark):
    """Q2's p_size <= 15 selectivity must reach the lineitem rows
    BEFORE the (partkey, suppkey) cost aggregation (r11 verdict item
    5): the part broadcast join sits under the partial HashAggregate,
    the size filter is pushed to the part scan, and the correlated-min
    window reuses the aggregation's p_partkey exchange (no second
    shuffle between them)."""
    df = SPECS["q2_min_cost_supplier"].fn(spark, SF_SMOKE)
    p = plan(spark, df, "simple")
    agg = p.index("HashAggregate")
    part_join = p.index("BroadcastHashJoin [l_partkey")
    assert agg < part_join, "part join must sit UNDER the aggregation"
    assert "LessThanOrEqual(p_size,15)" in p  # pushed to the part scan
    # two p_partkey-prefixed exchanges and no more: the 6-key cost
    # aggregation, then the narrow window re-key over the already
    # part×supplier-sized aggregate — raw lineitems enter neither
    assert p.count("Exchange hashpartitioning(p_partkey") == 2
    assert "TakeOrderedAndProject" in p  # top-100 never a global sort


def test_equidepth_no_global_window_over_values(spark):
    """r11 verdict item 2 (the round's `weak`): the equi-depth offset
    stage must NOT run a global single-partition window over the
    per-value table (|distinct values| ~ |rows| for price-like
    columns). An order-ONLY windowspec prints as
    `windowspecdefinition(<col> ASC ...`; a partitioned one leads
    with its partition columns. The only order-only window allowed is
    the one over `_rb` — the NUM_RANGE_BUCKETS(=64)-row base-offset
    table, cluster- not data-sized. Both the global and the per-group
    variants are pinned."""
    import re

    for q in ("equidepth_price_histogram", "equidepth_by_priority"):
        df = SPECS[q].fn(spark, SF_SMOKE)
        p = plan(spark, df, "simple")
        order_only = re.findall(r"windowspecdefinition\((\w+)#\d+L? ASC", p)
        # global variant: exactly the _rb base window; per-group
        # variant: NONE (its base window is partitioned by the group)
        assert set(order_only) <= {"_rb"}, (q, order_only)
        # the corpus-sized windows stay keyed: tie-split by v, local
        # cumsum by (_rb, v) — both appear as partitioned specs
        assert re.search(r"windowspecdefinition\([^)]*v#\d+L?,", p), q


def test_prefix_sum_string_keys_no_global_window(spark):
    """r12 verdict item 2: a STRING-typed `_distributed_prefix_sum`
    call must take the same two-level shape as the numeric path — the
    only order-only windowspec in the plan is the one over `_rb` (the
    64-row base-offset table); the corpus-sized local cumsum stays
    partitioned by (_rb,) even though strings have no
    approx_percentile. Before r13 this silently degraded to one global
    ordered window."""
    from pyspark.sql import functions as F

    from rootstock_collective_state_sync_spark.operators.profile import (
        _distributed_prefix_sum,
    )

    df = (
        spark.range(5000)
        .select(F.md5(F.col("id").cast("string")).alias("v"))
        .withColumn("c", F.lit(1))
    )
    out = _distributed_prefix_sum(df, "v", "c", "off")
    p = plan(spark, out, "simple")
    order_only = re.findall(r"windowspecdefinition\((\w+)#\d+L? ASC", p)
    assert set(order_only) <= {"_rb"}, order_only
    # the data-sized window is keyed by the range bucket
    assert re.search(r"windowspecdefinition\(_rb#\d+", p)
