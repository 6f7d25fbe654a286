"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each variant):

- **exact**: one hash-groupBy shuffle on a 32-byte key — the cheapest
  possible dedup; at 100 TB the shuffle carries only (key, doc_id).
- **n-gram Jaccard**: inverted-index self-join on shingles. Never
  all-pairs: candidate pairs are generated only for documents sharing
  a shingle, then verified exactly. Hot shingles (shared by more than
  ``max_docs_per_shingle`` docs) are dropped from the index — a
  standard stop-shingle cap that bounds join fan-out (a shingle in k
  docs contributes k² candidate rows; without the cap one viral
  shingle produces a quadratic blow-up).
- **MinHash+LSH**: fixed-size signatures (k md5 min-hashes) replace
  the shingle set; banding turns near-dup search into an equi-join on
  (band, band_hash) — linear shuffle volume, no quadratic stage. This
  is the 100 TB path: signature size is constant per document.
- **SimHash**: one 64-bit fingerprint per doc; near-dups differ in
  few bits, exact dups collide. Banded into 4x16-bit chunks for
  candidate generation (Hamming ≤ 3 guarantees ≥1 identical chunk).

All hashing is md5 (portable to DuckDB for oracle checking); every
stage is DataFrame built-ins — no UDFs, full codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rootstock_collective_state_sync_spark.caching import tracked_persist

from rootstock_collective_state_sync_spark.operators.text import tokens, word_shingles


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def normalized_hash(text_col) -> "F.Column":
    """Canonical content identity: lower-cased, whitespace-collapsed
    md5 — the ONE definition of "same document" (:func:`exact_groups`
    keys on it)."""
    return F.md5(F.regexp_replace(F.lower(text_col), r"\s+", " ").cast("binary"))


def exact_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by exact (normalized) content hash: lower-cased,
    whitespace-collapsed md5. Returns one row per distinct content with
    the keeper (min id) and the duplicate count."""
    return (
        df.select(
            normalized_hash(F.col(text_col)).alias("content_hash"), F.col(id_col)
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# shingle inverted index (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingle_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    extra_cols: "tuple[str, ...]" = (),
) -> DataFrame:
    """(id, shingle) inverted index — distinct word n-grams per doc.

    Implemented as posexplode + window ``lead`` rather than a
    higher-order array transform: HOFs are interpreted expression
    trees in Spark while explode/window/concat stay inside whole-stage
    codegen — ~4x faster on this stage, identical output.

    ``extra_cols`` ride along unchanged (id-functionally-dependent
    columns like ``source``), so group-keyed consumers (the KMV
    overlap census) get the fast build without a corpus-sized
    id join afterwards.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias("id"),
        *extra_cols,
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", k).over(w) for k in range(1, n)]
    return (
        tok.select(
            "id",
            *extra_cols,
            F.concat_ws(" ", *parts).alias("s"),
            F.lead("t", n - 1).over(w).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("id", *extra_cols, "s")
        .distinct()
    )


def _capped_index(idx: DataFrame, max_docs_per_shingle: int) -> DataFrame:
    """Stop-shingle-capped (id, s) index, persisted.

    Persisting matters: the tokenize->shingle explode is the expensive
    stage (higher-order array functions are interpreted, not
    codegen'd) and every downstream consumer — signatures, sizes, both
    sides of the intersection self-join — reuses it. At warehouse
    scale this is 'materialize the inverted index once'.
    """
    from pyspark.sql import Window

    # document frequency via a window over the shingle key: one
    # shuffle, no separate aggregate+broadcast job pair. df_ RIDES
    # ALONG on the capped rows: the pair-generating self-joins prune
    # their inputs to df_ >= 2 for free (a shingle in one document can
    # never produce a pair — at 3-gram granularity that is MOST of the
    # index), which subsumes the Bloom-prune idea exactly: same
    # effect, no false positives, no extra pass. Per-doc set sizes
    # must keep counting df_ = 1 rows — consumers aggregate BEFORE
    # applying the prune.
    df_ = F.count(F.lit(1)).over(Window.partitionBy("s"))
    return tracked_persist(
        idx.withColumn("df_", df_).filter(F.col("df_") <= max_docs_per_shingle)
    )


def _hashed(capped: DataFrame) -> DataFrame:
    """Collapse shingle strings to 64-bit hashes for the verification
    joins: downstream shuffles move 8-byte keys instead of ~20-byte
    strings. Relabeling set elements preserves intersection / union
    sizes — and therefore Jaccard — modulo ~1e-19 collision odds.
    Document frequency rides along for the df_ >= 2 join-side prune."""
    return capped.select("id", F.xxhash64("s").alias("sh"), "df_")


def _verified_jaccard_sets(
    capped: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for an explicit candidate list via per-doc hash
    SETS: each doc's shingle hashes are collected once into a sorted
    array, candidates join the two arrays, and the intersection is a
    single JVM ``array_intersect``. Beats :func:`_verified_jaccard`
    when candidates are sparse (LSH output): the (pair x shingle)
    explode join and the per-pair count shuffle disappear — measured
    ~2.5x on the MinHash path at sf0.1. The inverted-index path keeps
    the count-in-pass plan (generating candidates there requires the
    shingle self-join anyway, so the set join would be pure
    overhead).

    Deliberately NOT pruned to candidate-member ids: a semi-join of
    the set build against the candidate id list (plain or broadcast)
    measured 1.5-1.7x SLOWER at sf0.1 (r12, ~1.9 s -> ~3.1 s min)
    because it serializes the banded self-join ahead of the set
    aggregation — as independent subtrees of ONE action they execute
    concurrently across the local thread pool, and the same overlap
    holds on a multi-executor cluster. The unpruned build is one
    linear map-side-combined shuffle of 8-byte hashes, the same
    shape and cost class as the signature aggregation feeding LSH."""
    sets = capped.groupBy("id").agg(
        F.array_sort(F.collect_list(F.xxhash64("s"))).alias("hs"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col("id").alias("id_a"), F.col("hs").alias("ha"), F.col("n_sh").alias("na")
    )
    sb = sets.select(
        F.col("id").alias("id_b"), F.col("hs").alias("hb"), F.col("n_sh").alias("nb")
    )
    j = (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("ha", "hb")))
    )
    return (
        j.withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verified_jaccard(
    capped: DataFrame, candidates: DataFrame | None, threshold: float
) -> DataFrame:
    """Exact Jaccard over the hashed index, restricted to ``candidates``
    (id_a, id_b) when given, else to all index-sharing pairs.

    Measured dead end (r12), recorded so it is not retried: PPJoin
    prefix filtering (Bayardo WWW'07 / Xiao WWW'08 — generate
    candidates only from each doc's rarest ``|x|−ceil(t|x|)+1``
    shingles under a global (df, hash) order, then verify) LOST
    2-4x at sf0.1. On this boilerplate-heavy corpus the prefix cut
    candidates just 1.13M -> 409k while verification switched from
    the in-pass count (the pair join IS the intersection count;
    1.26M joined rows total) to a candidates x doc-shingles explode
    (~21M rows) plus an id-keyed window pass. Count-in-pass wins
    whenever candidates are dense; the stop-shingle cap already
    bounds the worst-case fan-out."""
    sizes = capped.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # df_ >= 2 prune: single-document shingles cannot intersect — drop
    # them from BOTH join sides before the shuffle (sizes above keep
    # them; for explicit candidates both docs are in the index, so a
    # shared shingle necessarily has df_ >= 2 and counts are unchanged)
    shared = capped.filter(F.col("df_") >= 2)
    a = shared.select(F.col("id").alias("id_a"), "sh")
    b = shared.select(F.col("id").alias("id_b"), "sh")
    if candidates is None:
        joined = a.join(b, "sh").filter(F.col("id_a") < F.col("id_b"))
    else:
        joined = candidates.join(a, "id_a").join(b, ["id_b", "sh"])
    inter = joined.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_docs_per_shingle: int = 100,
    _index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word-``n``-gram sets,
    candidate-generated through the inverted index (never all-pairs).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    6 dp. Documents sharing only stop-shingles (> max_docs_per_shingle)
    are not candidates — the cap trades a bounded amount of recall for
    a hard bound on join fan-out.

    ``_index``: a pre-built ``shingle_index(df)``-shaped (id, s) frame
    to reuse (the tokenize→shingle explode is the expensive stage —
    pipelines running several tiers over shrinking survivor sets build
    it once and anti-join kills away). The stop-shingle cap is always
    applied HERE, on the provided index, because document frequency is
    input-set-relative.
    """
    idx = _index if _index is not None else shingle_index(df, text_col, id_col, n)
    capped = _capped_index(idx, max_docs_per_shingle)
    return _verified_jaccard(_hashed(capped), None, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_wide(idx: DataFrame, num_hashes: int) -> DataFrame:
    """(id, h0..h{n-1}): the MinHash signature as ONE wide aggregation
    — ``num_hashes`` min columns over the shingle rows, instead of
    exploding every shingle ``num_hashes``-fold and aggregating the
    multiplied rows. Same md5("i:shingle") values, but the hash-agg
    touches each index row once and the shuffle carries a single
    map-side-combined row of ``num_hashes`` partial mins per id."""
    return idx.groupBy("id").agg(
        *[
            F.min(
                F.md5(F.concat_ws(":", F.lit(str(i)), F.col("s")).cast("binary"))
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    _index: DataFrame | None = None,
) -> DataFrame:
    """(id, i, h): for each of ``num_hashes`` seeded hash functions,
    the min md5("i:shingle") over the doc's shingle set. md5's hex
    output is compared lexicographically — a portable stand-in for the
    classic (a*x+b) mod p permutation family.

    Computed via :func:`_minhash_wide` (one aggregation pass, no seed
    explode) and reshaped to rows after the agg — the explode then
    multiplies ids, not shingles."""
    idx = shingle_index(df, text_col, id_col, n) if _index is None else _index
    wide = _minhash_wide(idx, num_hashes)
    pairs = F.array(
        *[
            F.struct(
                F.lit(i).cast("int").alias("i"), F.col(f"h{i}").alias("h")
            )
            for i in range(num_hashes)
        ]
    )
    return wide.select("id", F.explode(pairs).alias("p")).select(
        "id", F.col("p.i").alias("i"), F.col("p.h").alias("h")
    )


def banded_signatures(
    signatures: DataFrame, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, bh): collapse each band's signature rows into one
    hash — the equi-join key of the LSH candidate stage, and the unit
    of the persistent signature store for incremental dedup."""
    return (
        signatures.withColumn("band", (F.col("i") / rows_per_band).cast("int"))
        .groupBy("id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("i"), F.col("h")))
                        ),
                        lambda x: x["h"],
                    ),
                ).cast("binary")
            ).alias("bh")
        )
    )


def lsh_candidates(
    signatures: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature and equi-join on (band, band_hash): documents
    agreeing on every row of at least one band become candidate pairs.
    Shuffle key is the band hash — linear in corpus size."""
    banded = banded_signatures(signatures, rows_per_band)
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded
    candidates -> exact Jaccard verification of candidates only.
    Returns (id_a, id_b, jaccard) above threshold.

    The capped inverted index is built once (persisted) and feeds both
    the signature computation and the verification join.
    """
    rows_per_band = num_hashes // bands
    capped = _capped_index(
        shingle_index(df, text_col, id_col, n), max_docs_per_shingle=100
    )
    # wide signature + in-row banding: one aggregation produces both
    # the signature and every band hash — no (id, i) or (id, band)
    # re-shuffles. Persisted because the candidate self-join consumes
    # the banded rows twice (both sides).
    wide = _minhash_wide(capped, num_hashes)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{b * rows_per_band + r}")
                            for r in range(rows_per_band)
                        ],
                    ).cast("binary")
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    banded = tracked_persist(
        wide.select("id", F.explode(band_entries).alias("p"))
        .select("id", F.col("p.band").alias("band"), F.col("p.bh").alias("bh"))
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "bh")
    b = banded.select(F.col("id").alias("id_b"), "band", "bh")
    cands = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verified_jaccard_sets(capped, cands, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """64-bit SimHash per document as a bit-string column ``simhash``.

    Per distinct token: md5 -> first 16 hex chars -> 64 bits; each bit
    votes +1/-1; the sign of the per-bit sum is the fingerprint bit.
    The bit-string representation avoids unsigned-64 portability
    issues between engines while keeping Hamming distance = differing
    chars.
    """
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("t"),
        )
        .withColumn("h", F.substring(F.md5(F.col("t").cast("binary")), 1, bits // 4))
    )
    # one wide aggregation: `bits` per-row vote expressions summed per
    # id, instead of exploding every token `bits`-fold and aggregating
    # the multiplied rows twice ((id, j) then (id)). Same votes, same
    # sign rule; the shuffle carries one map-side-combined row of
    # `bits` partial sums per id.
    votes = []
    for j in range(bits):
        nibv = (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.col("h"), j // 4 + 1, 1),
            )
            - 1
        )
        bit = F.shiftright(nibv, 3 - j % 4).bitwiseAND(F.lit(1))
        votes.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{j}")
        )
    wide = tok.groupBy("id").agg(*votes)
    return wide.select(
        "id",
        F.concat(
            *[
                F.when(F.col(f"v{j}") > 0, "1").otherwise("0")
                for j in range(bits)
            ]
        ).alias("simhash"),
    )


def dup_ngram_stats(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-n-gram fraction — the exact-substring
    dedup signal (reference scope extension; cf. "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): an
    n-gram *position* is duplicated when its n-gram occurs two or more
    times corpus-wide (across documents or repeated within one).

    Scale shape: the shuffle payload is ``(md5(gram), doc_id)`` — a
    32-byte key, never the gram text — one groupBy on the gram hash
    with map-side partial aggregation, one equi-join back (re-uses the
    same hash partitioning, so AQE plans it shuffle-free on the count
    side), one groupBy on the doc id. Linear in corpus n-gram count;
    no all-pairs stage.

    Returns ``(doc_id, n_grams, n_dup_grams, dup_fraction)`` for every
    input document (documents shorter than ``n`` tokens report 0).
    """
    grams = df.select(
        F.col(id_col),
        F.explode(
            word_shingles(tokens(F.col(text_col)), n)
        ).alias("gram"),
    ).select(id_col, F.md5(F.col("gram").cast("binary")).alias("gh"))
    counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
    per_doc = (
        grams.join(counts, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias(
                "n_dup_grams"
            ),
            F.round(
                F.coalesce("n_dup_grams", F.lit(0)).cast("double")
                / F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def benchmark_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: which training documents share
    word ``n``-gram shingles with an evaluation/benchmark set, and how
    many. The eval-side index is the small side by construction
    (benchmarks are thousands of docs, corpora are billions), so the
    overlap is a broadcast semi-style equi-join on the shingle — the
    100 TB-safe shape; the train corpus is scanned once and never
    self-joined.

    Returns ``(doc_id, n_shared, n_shingles, share_pct)`` for train
    docs with at least ``min_shared`` shared shingles.
    """
    b = shingle_index(benchmark, text_col=text_col, id_col=id_col, n=n).select(
        "s"
    ).distinct()
    return contamination_against_index(
        train, b, n=n, min_shared=min_shared, text_col=text_col, id_col=id_col
    )


def contamination_against_index(
    train: DataFrame,
    index: DataFrame,
    n: int = 3,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`benchmark_contamination` against a PRE-BUILT distinct
    eval shingle index (column ``s``): a FIXED eval set's index can be
    built once and persisted, and each train batch joins against it.
    Same broadcast-overlap plan, same columns.
    """
    t = shingle_index(train, text_col=text_col, id_col=id_col, n=n)
    b = index.select("s")
    t = tracked_persist(t)  # scanned twice: sizes + overlap
    sizes = t.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    shared = (
        t.join(F.broadcast(b), "s")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        shared.join(sizes, "id")
        .select(
            F.col("id").alias("doc_id"),
            "n_shared",
            "n_shingles",
            F.round(F.col("n_shared") * 100.0 / F.col("n_shingles"), 4).alias(
                "share_pct"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: connected components by
    min-label propagation — every node ends up labeled with the
    smallest id reachable from it, which is exactly dedup keeper
    selection (keep ``component == id``, drop the rest).

    ``pairs`` is (id_a, id_b) undirected; ``nodes`` supplies the full
    id universe so singletons resolve to themselves.

    Scale shape: each round is one edge join + min aggregation plus a
    pointer-jumping join (``component <- label(component)`` — valid
    because a label is always the id of a REACHABLE node, so its own
    label is reachable too), so label distance DOUBLES per round on
    top of the one-hop neighbor propagation: rounds needed =
    O(log2(diameter)), and ``max_iters=25`` covers any graph a real
    corpus can produce (diameter 2^25). If the loop still hasn't
    converged at ``max_iters`` it raises instead of returning silently
    wrong labels. The convergence frontier is checked driver-side as a
    scalar count per round (control-plane read, like the engine's
    watermark); labels are persisted and unpersisted per round so
    lineage stays O(1), not O(iterations).

    Returns ``(id, component)`` with ``component = min(id) over the
    component`` — deterministic on any engine.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    # localCheckpoint, not persist: each round references the previous
    # label table THREE times (edge join, self-update, pointer jump),
    # so without lineage truncation the logical plan grows 3^rounds and
    # driver-side planning — not the data — becomes the bottleneck.
    # Eager localCheckpoint materializes the round AND cuts the plan at
    # O(1) depth; superseded checkpoint RDDs are dropped by the context
    # cleaner when the previous DataFrame goes out of scope. (On a
    # cluster with executor churn, set a reliable checkpoint dir and
    # swap in .checkpoint() — same contract.)
    labels = nodes.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("component")
    ).localCheckpoint(eager=True)
    try:
        for _ in range(max_iters):
            # neighbor minimum in one aggregation pass
            neigh = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("n_min"))
            )
            # pointer jumping against the SAME label snapshot: the
            # label of my current label is reachable and <= it
            ptr = labels.select(
                F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
            )
            new_comp = F.least(
                F.col("component"),
                F.coalesce(F.col("n_min"), F.col("component")),
                F.coalesce(F.col("_pcomp"), F.col("component")),
            )
            # carry the improved-label flag through the update itself:
            # the convergence probe is a count on the checkpointed
            # result (no second labels join)
            upd = (
                labels.join(neigh, labels.id == neigh.src, "left")
                .join(ptr, F.col("component") == F.col("_pid"), "left")
                .select(
                    "id",
                    new_comp.alias("component"),
                    (new_comp < F.col("component")).alias("_improved"),
                )
                .localCheckpoint(eager=True)
            )
            changed = upd.filter(F.col("_improved")).count()  # scalar probe
            labels = upd.drop("_improved")
            if changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(graph diameter > 2^max_iters?!) — raise max_iters; refusing "
            "to return partially-propagated labels"
        )
    finally:
        edges.unpersist()


def incremental_near_dups(
    new_docs: DataFrame,
    shingle_store: DataFrame,
    band_store: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_docs_per_shingle: int = 100,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Near-dup detection for a NEW batch against an already-indexed
    corpus — the continuous-ingestion shape: cost scales with
    ``new x matching``, never with a full-corpus self-join.

    Stores (both plain DataFrames the caller persists in the table
    sink): ``shingle_store`` = the (id, s) inverted index of every
    indexed doc; ``band_store`` = their (id, band, bh) LSH signatures.
    The batch step computes signatures for the new docs only, finds
    candidates by (band, bh) equi-join against the store plus a
    new-vs-new self-join, verifies exact Jaccard against the combined
    shingle sets, and returns ``(pairs, shingle_store', band_store')``
    with the new docs folded in.

    Cap semantics: the stop-shingle cap is evaluated on the COMBINED
    document frequency, so verification matches the at-rest pass
    exactly; stored *band* signatures, however, were computed under
    the cap state of their own batch — when a shingle crosses the cap
    between reconciliations, old signatures are stale until the
    at-rest rebuild (:func:`minhash_lsh_pairs`) refreshes them. That
    is the standard bounded-staleness trade of incremental LSH; run
    the at-rest pass on reconciliation cadence.
    """
    rows_per_band = num_hashes // bands
    new_idx = shingle_index(new_docs, text_col, id_col, n)
    full_idx = shingle_store.unionByName(new_idx)
    # persisted (like every _capped_index consumer): sizes + both
    # verification sides reuse it; lives until the caller evaluates
    capped_full = _capped_index(full_idx, max_docs_per_shingle)
    new_ids = new_docs.select(F.col(id_col).alias("id"))
    capped_new = capped_full.join(F.broadcast(new_ids), "id", "left_semi")
    new_sigs = minhash_signatures(
        new_docs, num_hashes, text_col, id_col, n, _index=capped_new
    )
    new_bands = tracked_persist(banded_signatures(new_sigs, rows_per_band))

    a = new_bands.select(F.col("id").alias("id_a"), "band", "bh")
    old = band_store.select(F.col("id").alias("id_b"), "band", "bh")
    cand_no = (
        a.join(old, ["band", "bh"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
    )
    b = new_bands.select(F.col("id").alias("id_b"), "band", "bh")
    cand_nn = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cands = cand_no.unionByName(cand_nn).distinct()
    pairs = _verified_jaccard_sets(capped_full, cands, threshold)
    return (
        pairs,
        full_idx,
        band_store.unionByName(new_bands.select("id", "band", "bh")),
    )


# ---------------------------------------------------------------------------
# exact duplicate-span removal (Lee et al. 2022, token-window variant)
# ---------------------------------------------------------------------------


def drop_duplicate_spans(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring deduplication at span granularity ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    arXiv:2107.06499 — reduced to token windows): every ``n``-token
    span that occurs more than once in the corpus keeps only its FIRST
    occurrence (min ``(doc_id, start)``); all other occurrences have
    their tokens removed from the document. Unlike document-level dedup
    this strips boilerplate repeated INSIDE otherwise-unique documents.

    Returns one row per input document: ``(id, n_tokens, n_kept,
    clean_text)`` — documents whose every token is covered by removed
    spans come back with empty ``clean_text``, never dropped.

    Scale shape: span hashes are md5 over token windows (JVM built-ins,
    no UDF); the first-occurrence decision is ONE window pass
    partitioned by the 32-byte span hash (shuffle carries (hash, doc,
    start) — never text); only NON-first occurrences explode into
    their n covered positions (blow-up is n x duplicated-spans, not
    n x corpus); the kept-token reassembly is an anti-join plus one
    per-doc aggregation. Everything is deterministic — value-checkable
    against the SQL oracle end to end.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    starts = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        "id",
        F.explode(starts).alias("start"),
        F.md5(
            F.concat_ws(" ", F.slice("toks", F.col("start") + 1, n)).cast("binary")
        ).alias("gh"),
    )
    w = Window.partitionBy("gh").orderBy("id", "start")
    removed = (
        grams.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") > 1)  # every occurrence but the first
        .select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks = base.select("id", F.posexplode("toks").alias("pos", "tok"))
    kept = toks.join(removed, ["id", "pos"], "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda s: s.getField("tok"),
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("id", F.size("toks").cast("long").alias("n_tokens"))
        .join(reassembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def strip_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style cross-document LINE dedup (Wenzek et al. 2020 §3.1):
    a (trimmed, non-empty) line occurring in at least ``min_docs``
    DISTINCT documents is boilerplate — navigation chrome, cookie
    banners, license footers — and is stripped from every document;
    the surviving lines are re-joined with ``\\n``. Whitespace
    normalization (trim + blank-line drop) is part of the operator's
    contract so the result is layout-deterministic.

    Returns one row per input document: the id, the cleaned
    ``text``, ``n_lines`` (before), ``n_removed``, and
    ``frac_removed``; documents that were pure boilerplate come back
    with empty text, never dropped (the caller decides).

    Plan shape / 100 TB: the document text never rides a line-level
    shuffle. (1) an exploded projection of (doc, position,
    xxhash64(line)) — 16-byte rows; (2) one count-distinct-doc shuffle
    keyed on the 8-byte line hash; (3) the boilerplate positions are
    joined hash-to-hash and collected per doc into a small int array;
    (4) ONE corpus-wide doc-keyed join attaches that array and an
    in-row higher-order filter rebuilds the text. Two metadata
    shuffles + one corpus shuffle, all linear; no driver-side state.
    """
    lns = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    base = df.withColumn("_lns", lns)
    pos_hash = base.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.transform("_lns", lambda l: F.xxhash64(l))).alias(
            "_pos", "_h"
        ),
    )
    boiler = (
        pos_hash.groupBy("_h")
        .agg(F.count_distinct("_id").alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_h")
    )
    bad_pos = (
        pos_hash.join(boiler, "_h")
        .groupBy("_id")
        .agg(F.collect_list("_pos").alias("_bad"))
    )
    joined = base.join(
        bad_pos, base[id_col] == bad_pos["_id"], "left"
    ).drop("_id")
    bad = F.coalesce(F.col("_bad"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform("_lns", lambda l, i: F.struct(l.alias("l"), i.alias("i"))),
        lambda s: ~F.array_contains(bad, s["i"]),
    )
    n_lines = F.size("_lns").cast("bigint")
    n_removed = F.size(bad).cast("bigint")
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["l"]), "\n").alias(text_col),
        n_lines.alias("n_lines"),
        n_removed.alias("n_removed"),
        F.round(
            n_removed.cast("double")
            / F.greatest(n_lines, F.lit(1)).cast("double"),
            6,
        ).alias("frac_removed"),
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_docs_per_shingle: int = 100,
    _index: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: ``containment(A in B) =
    |S_A ∩ S_B| / |S_A|`` over word-``n``-gram sets (Broder 1997's
    second resemblance measure). Catches the pairs symmetric Jaccard
    structurally misses — a short document quoted wholesale inside a
    much longer one has Jaccard ≈ |A|/|B| (tiny) but containment ≈ 1.
    Training pipelines use it to drop subset documents and to find
    quote-expansion chains.

    Returns ``(id_small, id_big, containment)`` where ``id_small`` is
    the CONTAINED document (smaller shingle set; ties broken by id),
    containment rounded to 6 dp, pairs with containment >=
    ``threshold``.

    Plan shape / 100 TB: same linear skeleton as
    :func:`ngram_jaccard_pairs` — persisted stop-shingle-capped
    inverted index, 8-byte hashed keys, candidates generated by the
    index self-join (never all-pairs), intersections counted in-pass.
    The only change is the scoring projection: divide by the smaller
    set size instead of the union. The stop-shingle cap bounds
    fan-out exactly as there. ``_index`` reuses a pre-built (id, s)
    shingle explode (cap still applied here — see
    :func:`ngram_jaccard_pairs`).
    """
    idx = _index if _index is not None else shingle_index(df, text_col, id_col, n)
    capped = _capped_index(idx, max_docs_per_shingle)
    hashed = _hashed(capped)
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # df_ >= 2 prune (see _verified_jaccard): sizes keep df_=1 rows,
    # the pair-generating self-join never needs to see them
    shared = hashed.filter(F.col("df_") >= 2)
    a = shared.select(F.col("id").alias("id_a"), "sh")
    b = shared.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    j = inter.join(sa, "id_a").join(sb, "id_b")
    small_first = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        j.select(
            F.when(small_first, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "id_small"
            ),
            F.when(small_first, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "id_big"
            ),
            F.round(
                F.col("inter").cast("double")
                / F.least("na", "nb").cast("double"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def contamination_spans(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level decontamination audit: not just HOW MANY benchmark
    ``n``-grams a training document shares
    (:func:`benchmark_contamination`) but their SHAPE — contiguous
    runs of contaminated positions. A 40-gram run is a quoted
    benchmark item that must be cut; 40 scattered single-gram hits are
    phrase-level noise. Reports, per contaminated train doc, the
    number of maximal runs and the longest run (in n-gram positions —
    a run of L positions covers L + n - 1 tokens).

    Plan shape / 100 TB: positional n-gram hashes on the train side
    (the same lead-window build as the shingle index, positions kept),
    equi-joined against the BROADCAST distinct benchmark shingle set;
    runs come from the gaps-and-islands identity (position − rank is
    constant within a run) — one (doc)-keyed window over the HIT
    positions only (hits are sparse; the full corpus never enters the
    window), then a tiny (doc, island) aggregate. Corpus scanned
    once, never self-joined.
    """
    from pyspark.sql import Window

    tok = train.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "t"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", j).over(w) for j in range(1, n)]
    grams = (
        tok.select(
            "id",
            "pos",
            F.concat_ws(" ", *parts).alias("s"),
            F.lead("t", n - 1).over(w).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select("id", "pos", "s")
    )
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    bench = (
        shingle_index(benchmark, text_col=text_col, id_col=id_col, n=n)
        .select("s")
        .distinct()
    )
    hits = grams.join(F.broadcast(bench), "s").select("id", "pos")
    wr = Window.partitionBy("id").orderBy("pos")
    islands = hits.withColumn(
        "island", F.col("pos") - F.row_number().over(wr)
    )
    runs = islands.groupBy("id", "island").agg(F.count(F.lit(1)).alias("len"))
    per_doc = runs.groupBy("id").agg(
        F.sum("len").cast("bigint").alias("n_hit"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("len").cast("bigint").alias("longest_run"),
    )
    return per_doc.join(sizes, "id").select(
        F.col("id").alias(id_col),
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        "n_hit",
        "n_runs",
        "longest_run",
        F.round(
            F.col("n_hit").cast("double") / F.col("n_shingles"), 6
        ).alias("frac_hit"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    word n-grams whose first corpus occurrence (minimum ``id``) is
    this doc. The incremental-crawl signal 'how much genuinely new
    content does each document contribute' — a crawl whose novelty
    curve collapses toward 0 is re-scraping what the corpus already
    holds, and the docs at the bottom are drop candidates BEFORE any
    pairwise dedup runs.

    Novelty is reported in exact e6 fixed point
    (``novelty_e6 = floor(n_first · 1e6 / n_grams)``) so the ratio is
    integer-determined on every engine.

    Plan shape / 100 TB: the same shingle explode every near-dup
    operator already pays, then ONE shuffle of 8-byte gram hashes:
    the min-owner annotation is a window ``min(id)`` over the gram
    hash, not a separate owner aggregate joined back onto the gram
    stream (r17, guide §2.1/§3) — the join form paid a second
    gram-universe-sized operator (hash aggregate + broadcast/SMJ
    whose build side grows with the corpus; at 100 TB the owner
    table is gram-universe-sized and the broadcast the local planner
    picks is impossible). The window is exactly row-equivalent: each
    (id, h) row is annotated with its group min in place, so even
    duplicate hash rows keep the join form's multiplicity. Text
    never rides the gram shuffle, only hashes do.

    Hot-key caveat (r17 advice): WindowExec buffers each hash
    partition whole (spillable, but one task), so a pathologically
    hot gram — stop-word shingles at corpus scale — becomes one
    straggler with a giant spilling buffer, where the removed SMJ
    form streamed the probe side under the same shuffle skew. The
    escape hatch if a skewed corpus hits it: a salted two-level min
    (partial ``min(id)`` per (h, salt) bucket, then min-of-mins over
    the tiny per-hash bucket set — broadcast-joinable because only
    the HOT keys need the second level). Not applied here: the
    window rides one fixed-width hash shuffle and the two-level form
    costs a second aggregate on every corpus, hot or not.
    """
    from pyspark.sql import Window

    idx = shingle_index(df, text_col, id_col, n=n).select(
        "id", F.xxhash64("s").alias("h")
    )
    per_doc = (
        idx.withColumn(
            "first_id", F.min("id").over(Window.partitionBy("h"))
        )
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("id") == F.col("first_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_first"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_first",
        F.floor(F.col("n_first") * 1000000 / F.col("n_grams"))
        .cast("long")
        .alias("novelty_e6"),
    )


def novelty_store(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """At-rest side of incremental novelty scoring: the
    ``(gram_hash, first_id)`` min-owner table of every distinct word
    n-gram seen so far. Mergeable under ``min`` (associative,
    commutative, idempotent — unlike the additive line store this one
    tolerates overlapping batches), so ingest maintains it with
    :func:`merge_novelty_stores` instead of re-scanning the corpus."""
    idx = shingle_index(df, text_col, id_col, n=n).select(
        "id", F.xxhash64("s").alias("gram_hash")
    )
    return idx.groupBy("gram_hash").agg(
        F.min("id").cast("bigint").alias("first_id")
    )


def merge_novelty_stores(a: DataFrame, b: DataFrame) -> DataFrame:
    """Associative min-merge of gram-owner stores."""
    return (
        a.unionByName(b)
        .groupBy("gram_hash")
        .agg(F.min("first_id").cast("bigint").alias("first_id"))
    )


def ngram_novelty_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> "tuple[DataFrame, DataFrame]":
    """Incremental crawl-novelty: score the NEW batch against the
    store updated with the batch itself — identical to the at-rest
    :func:`ngram_novelty` semantics for the new documents, assuming
    ids are monotone across batches (new ids > stored ids, the append
    log contract). Returns ``(updated_store, batch_scores)`` with the
    `ngram_novelty` output schema.

    Scale shape: cost is new-batch-sized + one min-merge; the corpus
    is never re-scanned.
    """
    batch_idx = shingle_index(new_docs, text_col, id_col, n=n).select(
        "id", F.xxhash64("s").alias("gram_hash")
    )
    updated = merge_novelty_stores(
        store,
        batch_idx.groupBy("gram_hash").agg(
            F.min("id").cast("bigint").alias("first_id")
        ),
    )
    per_doc = (
        batch_idx.join(updated, "gram_hash")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("id") == F.col("first_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_first"),
        )
    )
    scores = per_doc.select(
        F.col("id").alias(id_col),
        "n_grams",
        "n_first",
        F.floor(F.col("n_first") * 1000000 / F.col("n_grams"))
        .cast("long")
        .alias("novelty_e6"),
    )
    return updated, scores


def line_store(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The at-rest side of incremental boilerplate stripping: a
    ``(line_hash, n_docs)`` frequency store (distinct docs per
    trimmed, non-empty line). Additive under disjoint document
    batches, so ingest maintains it with `merge_line_stores` instead
    of re-scanning the corpus."""
    lns = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    return (
        df.select(F.col(id_col).alias("_id"), F.explode(lns).alias("_l"))
        .select("_id", F.xxhash64("_l").alias("line_hash"))
        .distinct()
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def merge_line_stores(a: DataFrame, b: DataFrame) -> DataFrame:
    """Associative store merge (counts add; batches must be
    doc-disjoint — the ingest contract)."""
    return (
        a.unionByName(b)
        .groupBy("line_hash")
        .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
    )


def strip_boilerplate_incremental(
    new_docs: DataFrame,
    store: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Incremental CCNet line dedup: update the store with the new
    batch, then strip the NEW batch against the UPDATED store —
    identical to the at-rest batch semantics for the new documents
    (a line is boilerplate iff its distinct-doc count over everything
    seen so far, new batch included, reaches ``min_docs``).
    Previously-ingested documents are NOT re-cleaned — the same
    bounded-staleness contract as `incremental_near_dups`; a
    periodic at-rest pass (:func:`strip_boilerplate_lines`) squares
    history.

    Returns ``(updated_store, cleaned_new_docs)`` — cleaned output
    has the `strip_boilerplate_lines` schema.

    Scale shape: cost is new-batch-sized + one store merge; the
    corpus is never re-scanned.
    """
    updated = merge_line_stores(store, line_store(new_docs, text_col, id_col))
    boiler = updated.filter(F.col("n_docs") >= min_docs).select(
        F.col("line_hash").alias("_h")
    )
    lns = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    base = new_docs.withColumn("_lns", lns)
    pos_hash = base.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.transform("_lns", lambda l: F.xxhash64(l))).alias(
            "_pos", "_h"
        ),
    )
    bad_pos = (
        pos_hash.join(boiler, "_h")
        .groupBy("_id")
        .agg(F.collect_list("_pos").alias("_bad"))
    )
    joined = base.join(
        bad_pos, base[id_col] == bad_pos["_id"], "left"
    ).drop("_id")
    bad = F.coalesce(F.col("_bad"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform("_lns", lambda l, i: F.struct(l.alias("l"), i.alias("i"))),
        lambda s: ~F.array_contains(bad, s["i"]),
    )
    n_lines = F.size("_lns").cast("bigint")
    n_removed = F.size(bad).cast("bigint")
    cleaned = joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s["l"]), "\n").alias(text_col),
        n_lines.alias("n_lines"),
        n_removed.alias("n_removed"),
        F.round(
            n_removed.cast("double")
            / F.greatest(n_lines, F.lit(1)).cast("double"),
            6,
        ).alias("frac_removed"),
    )
    return updated, cleaned
