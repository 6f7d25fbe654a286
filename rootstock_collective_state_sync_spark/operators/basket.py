"""Market-basket association mining (Agrawal & Srikant 1994).

Split into mergeable COUNT stages and a pure PRICING stage:

- :func:`basket_item_counts` / :func:`basket_pair_counts` — map-side-
  combined aggregations whose merge across batches is exact addition
  (counts over disjoint basket sets add losslessly).
- :func:`assoc_rules_from_counts` — thresholds + integer-e6
  support/confidence/lift pricing over the count tables only. Apriori
  pruning on the batch path is a pure optimization: any pair with an
  infrequent member can never reach min-support, so pruning before
  the pair explode changes nothing downstream — which is exactly why
  the unpruned streaming counts render the same rules.

Scale shape: the basket table shuffles once on the basket key; pair
counts are bounded by the squared per-basket width before combining
onto an #items² key space (intended for bounded categorical alphabets
— brands, sources, languages; pair text corpora with MinHash instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def basket_item_counts(baskets: DataFrame) -> DataFrame:
    """``(item, cnt)`` — baskets containing each item. ``baskets``
    must be distinct ``(bk, item)`` pairs."""
    return baskets.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def basket_pair_counts(
    baskets: DataFrame, frequent: DataFrame | None = None
) -> DataFrame:
    """``(item_a, item_b, pair_cnt)`` with ``item_a < item_b`` —
    baskets containing both items. Pass ``frequent`` (an ``(item)``
    frame) to apriori-prune the explode; counts for surviving pairs
    are identical either way.

    The self-join is on the basket key of ONE (persisted) frame, so
    the physical plan exchanges it once and reuses the exchange for
    the other side (ReusedExchange); the pair aggregation map-side-
    combines onto the #items² key space. (An in-row collect_set +
    combination-explode variant measured ~20% slower at sf0.1 — the
    join emits pairs straight out of codegen with no array
    materialization.) ``shuffle_hash`` hint (guide §3.1, r17): with
    both sides the SAME hash-partitioned cached frame the join is
    already co-located, so a per-partition hash build beats both the
    planner's alternatives — sort-merge pays two corpus sorts, and a
    broadcast build ships the whole basket table (the planner picked
    exactly that once the r17 literal IN-list prune gave it precise
    sub-threshold size stats: a 550k-row broadcast costing more than
    the join itself)."""
    pruned = (
        baskets.join(F.broadcast(frequent.select("item")), "item", "left_semi")
        if frequent is not None
        else baskets
    )
    return (
        pruned.alias("a")
        .join(pruned.alias("b").hint("shuffle_hash"), "bk")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_cnt"))
    )


def assoc_rules_from_counts(
    n_baskets: int,
    item_cnt: DataFrame,
    pair_cnt: DataFrame,
    min_sup_e6: int,
    min_conf_e6: int,
) -> DataFrame:
    """Price and threshold directed rules from the count tables:
    ``(antecedent, consequent, pair_cnt, support_e6, confidence_e6,
    lift_e6)`` — all integer-e6 arithmetic, bit-identical across
    engines. The count tables are #items / #items² rows (broadcast)."""
    min_sup_abs = (min_sup_e6 * n_baskets) // 1_000_000
    pairs = pair_cnt.filter(F.col("pair_cnt") >= min_sup_abs)
    # both rule directions ride ONE in-row explode (r17): the former
    # self-union evaluated the whole un-materialized pair pipeline
    # TWICE — the physical plan held two complete copies of the
    # basket self-join + aggregation, one per union leg (guide §2.4:
    # don't recompute what one pass can emit). Bag semantics are
    # identical: each undirected pair contributes exactly the same
    # two directed rows.
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("pair_cnt"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("pair_cnt"),
                ),
            )
        ).alias("_r")
    ).select("_r.antecedent", "_r.consequent", "_r.pair_cnt")
    ca = item_cnt.select(
        F.col("item").alias("antecedent"), F.col("cnt").alias("cnt_a")
    )
    cb = item_cnt.select(
        F.col("item").alias("consequent"), F.col("cnt").alias("cnt_b")
    )
    return (
        rules.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cb), "consequent")
        .select(
            "antecedent",
            "consequent",
            "pair_cnt",
            F.expr(f"pair_cnt * 1000000 div {n_baskets}")
            .cast("long")
            .alias("support_e6"),
            F.expr("pair_cnt * 1000000 div cnt_a")
            .cast("long")
            .alias("confidence_e6"),
            F.expr(
                f"CAST(CAST(pair_cnt AS DECIMAL(38,0)) * {n_baskets} * 1000000 "
                "div (cnt_a * cnt_b) AS BIGINT)"
            ).alias("lift_e6"),
        )
        .filter(F.col("confidence_e6") >= min_conf_e6)
        .orderBy("antecedent", "consequent")
    )
