"""Text analysis operators: tokenization, quality scoring, language
ID, fingerprinting, token counting.

All column expressions use JVM built-ins (split/filter/transform/
aggregate) — no Python UDFs — so they run inside whole-stage codegen
and scale linearly with partition count. Hashes are md5 (portable to
the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language ID. Deliberately small and deterministic: the operator
# demonstrates the scale pattern (broadcast map-side scoring, no
# shuffle); swap in real lists for production.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "de", "du", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "de", "que", "para"),
}


def tokens(col: Column) -> Column:
    """Lower-cased alnum tokens (empty strings filtered)."""
    return F.filter(F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


#: BPE-ish pre-tokenizer regex (GPT-2 style, reduced to the portable
#: subset Java (Spark) and RE2 (DuckDB) evaluate identically — no
#: lookahead, explicit space instead of \s): contraction suffixes,
#: space-prefixed letter runs, digit runs capped at 3 (modern BPE
#: vocabularies chunk numbers), punctuation runs. Spaces are consumed
#: by the ` ?` prefixes, so no space-only matches exist.
BPE_SPLIT_RE = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]{1,3}| ?[^a-z0-9 ]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-ish pre-tokens of the lower-cased text (see
    :data:`BPE_SPLIT_RE`). Approximates an LLM tokenizer's
    pre-tokenization pass — the distributable stand-in for exact BPE
    token counting (merge tables are vocabulary assets, not engine
    code; real counts plug in as a pandas_udf over the same plan)."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(col: Column) -> Column:
    """Estimated LLM token count: one per BPE-ish pre-token. Pure JVM
    regex — codegen, no UDF, linear scan."""
    return F.size(bpe_tokens(col))


def word_shingles(tok: Column, n: int = 3) -> Column:
    """Word n-gram shingles over a token array; empty when fewer than
    ``n`` tokens (guarded: Spark's ``sequence(1, 0)`` would descend)."""
    return F.when(
        F.size(tok) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tok) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tok, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def quality_features(text_col: Column) -> dict[str, Column]:
    """Deterministic quality-score feature set (length, type-token
    ratio, mean token length, punctuation density)."""
    tok = tokens(text_col)
    n_tok = F.size(tok)
    n_uniq = F.size(F.array_distinct(tok))
    n_chars = F.length(text_col)
    punct = F.length(F.regexp_replace(text_col, "[^.!?,;]", ""))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tok,
        "n_uniq_tokens": n_uniq,
        "ttr": F.round(n_uniq.cast("double") / F.greatest(n_tok, F.lit(1)), 6),
        "mean_tok_len": F.round(
            F.aggregate(
                tok, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
            )
            / F.greatest(n_tok, F.lit(1)),
            6,
        ),
        "punct_ratio": F.round(
            punct.cast("double") / F.greatest(n_chars, F.lit(1)), 6
        ),
    }


def _idiv(a: Column, b: Column) -> Column:
    """Exact integral division on long columns (no float path):
    ``(a - a % b) / b`` is an exact integer, representable in double,
    cast back to long."""
    return ((a - a % b) / b).cast("long")


def quality_score_e7(text_col: Column) -> Column:
    """Integer quality score in 1e-7 units (long, range [0, 1e7]) —
    the exact-arithmetic core of :func:`quality_score`, exposed so
    downstream integer logic (bucketing, budget selection) never
    touches a float."""
    tok = tokens(text_col)
    n_tok = F.greatest(F.size(tok), F.lit(1)).cast("long")
    n_uniq = F.size(F.array_distinct(tok)).cast("long")
    n_chars = F.greatest(F.length(text_col), F.lit(1)).cast("long")
    n_punct = F.length(F.regexp_replace(text_col, "[^.!?,;]", "")).cast("long")
    length_term_e6 = F.least(n_tok * 15625, F.lit(1000000).cast("long"))
    ttr_e6 = _idiv(n_uniq * 1000000, n_tok)
    punct_e6 = _idiv(n_punct * 1000000, n_chars)
    punct_term_e6 = F.lit(1000000).cast("long") - F.least(
        punct_e6 * 10, F.lit(1000000).cast("long")
    )
    return 5 * length_term_e6 + 4 * ttr_e6 + punct_term_e6


def quality_score(text_col: Column) -> Column:
    """Composite [0,1] quality score: rewards length (saturating at 64
    tokens) and lexical diversity, penalizes punctuation walls.

    Computed entirely in integer micro-units and divided by 1e7 at the
    very end: no intermediate float rounding, so the value is
    bit-identical across engines (float round-half behavior differs
    between Spark's HALF_UP and IEEE half-even).
    """
    return quality_score_e7(text_col).cast("double") / F.lit(10000000.0)


def lang_scores(text_col: Column) -> dict[str, Column]:
    """Per-language stopword-hit ratio (score = hits / tokens)."""
    tok = tokens(text_col)
    n_tok = F.greatest(F.size(tok), F.lit(1))
    out = {}
    for lang, words in STOPWORDS.items():
        hits = F.size(
            F.array_intersect(F.array_distinct(tok), F.array(*[F.lit(w) for w in words]))
        )
        out[lang] = F.round(hits.cast("double") / n_tok, 6)
    return out


def lang_id(text_col: Column, default: str = "und") -> Column:
    """argmax over :func:`lang_scores`; ``und`` when nothing matched.
    Deterministic tie-break: language name ascending."""
    scores = lang_scores(text_col)
    best = None
    for lang in sorted(scores):  # ascending name = stable tie-break
        cand = scores[lang]
        if best is None:
            best, best_lang = cand, F.lit(lang)
        else:
            take = cand > best
            best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
            best = F.when(take, cand).otherwise(best)
    return F.when(best > 0, best_lang).otherwise(F.lit(default))


def fingerprint(text_col: Column) -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct token
    set — robust to token order and duplication (the set-based analog
    of a rolling-hash fingerprint; portable to the SQL oracle)."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text_col)))).cast(
            "binary"
        )
    )


def with_text_analysis(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the full text-analysis column family to a document df."""
    c = F.col(text_col)
    feats = quality_features(c)
    return df.select(
        "*",
        *[v.alias(k) for k, v in feats.items()],
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint(c).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Corpus language-model scoring
# ---------------------------------------------------------------------------


def unigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document negative log-likelihood under the corpus's own
    add-one-smoothed unigram language model — the CCNet-style
    perplexity quality filter, reduced to its distributable core:
    ``p(t) = (count(t) + 1) / (total_tokens + vocab)``, document score
    = mean over token positions of ``-ln p(t)``. Low = in-distribution
    text, high = noise/outliers.

    Scale shape: ONE wide shuffle (the term-count groupBy, map-side
    combined); the count table is vocabulary-sized and broadcast back
    to the exploded token stream, so scoring is a map-side join; the
    per-doc reduction partial-aggregates. ``total``/``vocab`` are two
    driver-side scalars (bounded control-plane read, same policy as
    ``tfidf_top_terms``).

    Float policy: each per-token NLL is rounded to integer 1e-6 units
    *before* the per-document sum, so the sum is exact integer
    arithmetic — bit-identical across engines and partition orders
    (doubles would make the sum order-dependent).

    Returns ``(id, n_tokens, sum_nll_e6, mean_nll)``.
    """
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).first()
    denom = float(int(totals["total"]) + int(totals["vocab"]))
    nll_e6 = F.round(
        -F.log((F.col("c") + 1).cast("double") / F.lit(denom)) * 1e6, 0
    ).cast("long")
    return (
        tok.join(F.broadcast(counts), "term")
        .select(F.col(id_col), nll_e6.alias("nll_e6"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("nll_e6").cast("long").alias("sum_nll_e6"),
        )
        .withColumn(
            "mean_nll",
            F.round(
                F.col("sum_nll_e6").cast("double")
                / (F.col("n_tokens") * F.lit(1000000.0)),
                6,
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: Redaction patterns chosen from the portable regex subset (no
#: lookaround/backrefs) so Java (Spark) and RE2-ish (DuckDB) engines
#: agree byte for byte. Order matters: emails first (an email contains
#: dot-separated runs an IP pattern could nibble at).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[- ]\d{3}[- ]\d{3,4}[- ]\d{3,4}", "<PHONE>"),
)


def redact_pii(col: Column) -> Column:
    """Scrub emails / IPv4s / international phone numbers to typed
    placeholder tags. Pure ``regexp_replace`` chain — JVM-side,
    whole-stage codegen, no UDF; linear scan per row at any scale."""
    out = col
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts (regexp_extract_all size) — the audit
    side of redaction: how much PII a corpus slice carries."""
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(col, F.lit(pat), 0))
        for kind, pat, _ in PII_PATTERNS
    }


#: Candidate payment-card number: 13-19 digits, optionally separated
#: by single spaces/dashes. Portable regex subset (no lookaround) so
#: Spark's Java engine and DuckDB agree byte for byte.
CARD_CANDIDATE_PATTERN = r"\b\d(?:[- ]?\d){12,18}\b"


def luhn_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Payment-card PII audit: count candidate card-number digit runs
    per document and how many pass the Luhn checksum — separating
    plausible real card numbers (redact + quarantine the doc) from
    random digit runs (plain ``<NUMBER>`` scrub suffices). The
    checksum cuts the false-positive rate of a digits-only pattern by
    ~10x, which at 100 TB is the difference between quarantining a
    corpus slice and quarantining noise.

    Returns ``(id, n_candidates, n_luhn_valid)`` — one row per input
    document (0/0 when clean).

    Plan shape / 100 TB: one regexp scan + an in-row bounded aggregate
    per candidate (≤19 digits) — all JVM, no UDF, no shuffle beyond
    the final per-doc re-aggregation of the exploded candidates, and
    that carries only (id, two ints) rows.
    """
    cands = df.select(
        F.col(id_col),
        F.explode_outer(
            F.regexp_extract_all(
                F.col(text_col), F.lit(CARD_CANDIDATE_PATTERN), 0
            )
        ).alias("cand"),
    )
    digits = F.regexp_replace(F.col("cand"), "[^0-9]", "")
    luhn_sum = F.expr(
        "aggregate(sequence(0, length(reverse(_digits)) - 1), 0, "
        "(acc, i) -> acc + ("
        "  CASE WHEN i % 2 = 1 THEN "
        "    CASE WHEN 2 * (ascii(substring(reverse(_digits), i + 1, 1)) - 48) > 9 "
        "         THEN 2 * (ascii(substring(reverse(_digits), i + 1, 1)) - 48) - 9 "
        "         ELSE 2 * (ascii(substring(reverse(_digits), i + 1, 1)) - 48) END "
        "  ELSE ascii(substring(reverse(_digits), i + 1, 1)) - 48 END))"
    )
    scored = cands.withColumn("_digits", digits).withColumn(
        "_valid",
        F.when(
            F.col("cand").isNotNull() & (luhn_sum % 10 == 0), 1
        ).otherwise(0),
    )
    return scored.groupBy(id_col).agg(
        F.sum(F.when(F.col("cand").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_candidates"),
        F.sum("_valid").cast("long").alias("n_luhn_valid"),
    )


# ---------------------------------------------------------------------------
# Vocabulary + TF-IDF
# ---------------------------------------------------------------------------


def term_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, term, tf) exploded term frequencies. explode + groupBy
    rather than a higher-order transform: stays inside whole-stage
    codegen, and the groupBy gets map-side partial aggregation — the
    shape that holds up when the corpus is 100 TB."""
    return (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def vocab_topk(
    df: DataFrame, top_n: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary: top-N terms by total occurrences with
    document frequency alongside. Two partial-agg reductions and one
    tiny top-N sort — no per-doc state ever leaves the executors."""
    tc = term_counts(df, text_col, id_col)
    return (
        tc.groupBy("term")
        .agg(
            F.sum("tf").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(top_n)
    )


def vocab_census(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group vocabulary-growth census (the Heaps'-law / lexical-
    richness screen a corpus datasheet wants next to the Zipf fit):
    token count, type (distinct-term) count, hapax legomena count
    (types seen exactly once), type-token ratio and hapax share as
    exact e6-floored integer ratios. A corpus whose hapax share
    collapses is template-heavy; one whose TTR spikes is likely OCR
    noise — both are pre-training screens.

    Scale shape: one token explode reduced immediately to the
    (group, term) frequency table (map-side combined), then ONE
    group-sized aggregate; no windows, no joins.
    """
    tf = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("g", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return vocab_census_from_tf(tf, group_col)


def vocab_census_from_tf(tf: DataFrame, group_col: str = "source") -> DataFrame:
    """Render the vocabulary census from a ``(g, term, n)`` frequency
    table — the mergeable-summary form (term counts over disjoint doc
    sets add exactly), the same split as ``equidepth_from_counts``."""
    return (
        tf.groupBy("g")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("n") == 1).cast("long")).cast("long").alias("n_hapax"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("n_types * 1000000 div n_tokens")
            .cast("long")
            .alias("ttr_e6"),
            F.expr("n_hapax * 1000000 div n_types")
            .cast("long")
            .alias("hapax_share_e6"),
        )
        .orderBy(group_col)
    )


def vocab_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source VOCABULARY overlap matrix (the lexical companion
    to the doc-level `source_dup_matrix`): for every source pair
    a < b, the shared type count, union size, Jaccard, and both
    directed containments — "is src2 just src0's vocabulary plus
    noise?" is a mixture-design question a corpus datasheet answers
    before weights are chosen. Exact e6-floored integer ratios.

    Scale shape: the corpus reduces to the distinct (source, term)
    incidence once; the pair join is term-keyed with fan-out bounded
    by #sources² per term (sources are a handful — this is a
    mixture-audit, not an all-pairs-docs join); per-source vocabulary
    sizes ride a broadcast.
    """
    inc = (
        df.select(
            F.col(group_col).alias("g"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .distinct()
    )
    return vocab_overlap_from_incidence(inc)


def vocab_overlap_from_incidence(inc: DataFrame) -> DataFrame:
    """Render the overlap matrix from a ``(g, term)`` incidence table
    (the ``n > 0`` rows of a ``(g, term, n)`` frequency table ARE the
    incidence, so one frequency table renders both vocabulary
    reports)."""
    sizes = inc.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a = inc.select(F.col("g").alias("sa"), "term")
    b = inc.select(F.col("g").alias("sb"), "term")
    common = (
        a.join(b, "term")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(sizes.select(F.col("g").alias("sa"), F.col("nv").alias("na"))),
            "sa",
        )
        .join(
            F.broadcast(sizes.select(F.col("g").alias("sb"), F.col("nv").alias("nb"))),
            "sb",
        )
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_common",
            (F.col("na") + F.col("nb") - F.col("n_common"))
            .cast("long")
            .alias("n_union"),
            F.expr("n_common * 1000000 div (na + nb - n_common)")
            .cast("long")
            .alias("jaccard_e6"),
            F.expr("n_common * 1000000 div na")
            .cast("long")
            .alias("contain_a_e6"),
            F.expr("n_common * 1000000 div nb")
            .cast("long")
            .alias("contain_b_e6"),
        )
        .orderBy("source_a", "source_b")
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf
    (idf = ln(N / df), the plain unsmoothed variant). The idf table is
    vocabulary-sized — broadcast to the tf side, so the only wide
    shuffle is the tf groupBy; the per-doc top-k is one window pass."""
    from pyspark.sql import Window

    tc = term_counts(df, text_col, id_col)
    n_docs = df.count()  # scalar control-plane read
    idf = tc.groupBy("term").agg(
        F.log(F.lit(float(n_docs)) / F.count(F.lit(1))).alias("idf")
    )
    scored = tc.join(F.broadcast(idf), "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "rk", "term", "tfidf")
    )


def chunk_documents(
    df: DataFrame,
    window: int = 32,
    stride: int = 24,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping token-window chunking: each document
    becomes ``1 + max(0, ceil((n_tokens - window) / stride))`` chunks
    of up to ``window`` tokens, chunk ``i`` covering tokens
    ``[i*stride, i*stride+window)`` (the final chunk may be short;
    consecutive chunks overlap by ``window - stride`` tokens so no
    retrieval context straddles a hard boundary). A chunk is emitted
    only while it adds tokens the previous window didn't already
    cover — no fully-redundant tail chunks.

    Scale shape: tokenize + posexplode + slice are all narrow JVM
    built-ins — ZERO shuffles, no UDFs; output size is
    ~n_tokens/stride per document, produced partition-locally. Empty
    documents still yield one (empty) chunk so the output is total
    over the corpus.
    """
    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    ).withColumn(
        "n_chunks",
        F.lit(1)
        + F.greatest(
            F.ceil((F.size("toks") - F.lit(window)) / F.lit(stride)).cast("int"),
            F.lit(0),
        ),
    )
    exploded = base.select(
        F.col(id_col),
        "toks",
        F.posexplode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
            "chunk_id", "_start_idx"
        ),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * stride + 1, F.lit(window)
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def hashed_doc_vectors(
    df: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009)
    document vectors: every token occurrence adds ±1 to bucket
    ``md5(token)[:16 bits] mod dim`` (sign from the 5th md5 nibble's
    low bit), then the per-document vector is l2-normalized. Produces
    an ``array<double>`` embedding column straight from text — the
    in-engine featurizer that feeds :mod:`.similarity`'s ANN /
    SemDeDup operators without an external model.

    Scale shape: explode is narrow; the (doc, bucket) partial sum
    combines map-side before its shuffle; the per-doc assembly
    shuffle carries at most ``dim`` entries per document. No UDFs —
    md5/conv/map_from_entries/transform are all JVM built-ins. The
    vector never exceeds ``dim`` doubles regardless of document
    length, so memory per row is bounded by construction.
    """
    t = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    h = F.md5(F.col("term").cast("binary"))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % dim).alias(
        "bucket"
    )
    sign = (
        F.when(
            F.conv(F.substring(h, 5, 1), 16, 10).cast("int") % 2 == 0,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("s")
    )
    sums = (
        t.select(F.col(id_col), bucket, sign)
        .groupBy(id_col, "bucket")
        .agg(F.sum("s").alias("v"))
    )
    assembled = sums.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "v"))).alias("m")
    )
    base = df.select(id_col).join(assembled, id_col, "left")
    nrm = F.coalesce(
        F.sqrt(
            F.aggregate(
                F.map_values(F.col("m")), F.lit(0.0), lambda a, x: a + x * x
            )
        ),
        F.lit(0.0),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            F.coalesce(F.col("m")[i], F.lit(0.0))
            / F.greatest(nrm, F.lit(1e-12)),
            6,
        ),
    )
    return base.select(F.col(id_col), vec.alias("doc_vec"))


def bigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document NLL under the corpus's own add-one-smoothed
    BIGRAM language model — the next order up from
    :func:`unigram_lm_scores`: ``p(w2|w1) = (c(w1,w2) + 1) /
    (c(w1) + vocab)`` (c(w1) = corpus occurrences of w1, vocab =
    distinct unigrams), score = mean over bigram positions of
    ``-ln p``. Catches locally-plausible-but-incoherent text that a
    unigram model scores well.

    Deliberate simplification: ``c(w1)`` counts ALL occurrences of
    ``w1`` including document-final positions, so ``sum_w2 p(w2|w1)``
    is slightly below 1 — a monotone per-(w1) rescaling that preserves
    document ranking, which is all this quality signal is used for
    (the SQL oracle applies the identical formula). A properly
    normalized model would use the bigram-context count of ``w1``
    (occurrences excluding last-token positions) in the denominator.

    Scale shape: bigram pairs form row-locally (zip_with on the token
    array — narrow); the bigram count table is corpus-sized, so it
    joins back on the (w1, w2) key via a hash shuffle — NOT broadcast;
    the unigram table is vocabulary-sized and broadcast. Same integer
    1e-6 fixed-point policy as the unigram operator: per-position
    rounding before the per-doc sum keeps sums exact and
    order-independent.

    Returns ``(id, n_bigrams, sum_nll_e6, mean_nll)``; documents with
    fewer than 2 tokens get ``n_bigrams = 0`` and a NULL mean.
    """
    toks = tokens(F.col(text_col))
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = df.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    c1 = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    vocab = int(c1.count())  # driver-side scalar (bounded, like tfidf)
    nll_e6 = F.round(
        -F.log(
            (F.col("cb") + 1).cast("double")
            / (F.col("c1") + F.lit(vocab)).cast("double")
        )
        * 1e6,
        0,
    ).cast("long")
    scored = (
        big.join(cb, ["w1", "w2"])
        .join(F.broadcast(c1.withColumnRenamed("term", "w1")), "w1")
        .select(F.col(id_col), nll_e6.alias("nll_e6"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll_e6").cast("long").alias("sum_nll_e6"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            F.coalesce(F.col("sum_nll_e6"), F.lit(0)).cast("long").alias(
                "sum_nll_e6"
            ),
            F.when(
                F.col("n_bigrams").isNotNull(),
                F.round(
                    F.col("sum_nll_e6").cast("double")
                    / (F.col("n_bigrams") * F.lit(1e6)),
                    6,
                ),
            ).alias("mean_nll"),
        )
    )


# ---------------------------------------------------------------------------
# model-based quality / domain filtering (logistic head over hashed features)
# ---------------------------------------------------------------------------


def train_logistic_head(
    df: DataFrame,
    label_col,
    dim: int = 64,
    sample_size: int = 512,
    iters: int = 10,
    lr: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[list[float], float]:
    """Train the classifier-filter head the GPT-3/CCNet-style pipelines
    use to keep "looks like the target domain" documents: full-batch
    logistic regression over the in-engine hashed-feature vectors
    (:func:`hashed_doc_vectors`), trained DRIVER-SIDE on a bounded
    DETERMINISTIC sample (the ``sample_size`` lowest md5(id) docs —
    same control-plane-collect policy as the IVF/PQ quantizers: cost
    is O(sample x dim), independent of corpus size, no RNG).

    Zero-initialized weights, ``iters`` full-batch gradient steps at
    fixed ``lr`` — every arithmetic step is replayable in SQL, so the
    whole train-then-score pipeline is value-checkable end to end.
    Returns ``(weights[dim], bias)``.
    """
    import numpy as np

    vecs = hashed_doc_vectors(df, dim=dim, id_col=id_col, text_col=text_col)
    lab = df.select(F.col(id_col), label_col.cast("double").alias("y"))
    rows = (
        vecs.join(lab, id_col)
        .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.array([r.doc_vec for r in rows], dtype=np.float64)
    y = np.array([r.y for r in rows], dtype=np.float64)
    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    n = float(len(rows))
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        e = p - y
        w -= lr * (X.T @ e) / n
        b -= lr * float(e.mean())
    return [float(v) for v in w], float(b)


def score_logistic_head(
    df: DataFrame,
    weights: list[float],
    bias: float,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document under a trained head: ``sigmoid(w . v +
    b)`` over the hashed-feature vector, rounded to 6 dp. The weight
    vector ships as a literal array inside the plan (broadcast by
    value); the dot product is JVM ``zip_with``/``aggregate`` —
    codegen, no UDF, no extra shuffle beyond the featurizer's own.
    Returns ``(id, score)``.
    """
    vecs = hashed_doc_vectors(df, dim=dim, id_col=id_col, text_col=text_col)
    wcol = F.array(*[F.lit(float(x)) for x in weights])
    dot = F.aggregate(
        F.zip_with(F.col("doc_vec"), wcol, lambda a, b_: a * b_),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return vecs.select(
        F.col(id_col),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot + F.lit(float(bias))))), 6
        ).alias("score"),
    )


def source_kl_divergence(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    vocab_size: int = 256,
) -> DataFrame:
    """Per-source distribution drift: ``KL(P_source || P_corpus)``
    over the corpus's top-``vocab_size`` tokens, add-one smoothed on
    both sides. The mixture-monitoring primitive of a multi-source
    training pipeline — a source whose KL jumps between snapshots has
    changed character (spam influx, scraper drift, language shift)
    before any downstream metric notices.

    Definition (replayed exactly by the oracle): vocabulary = top
    ``vocab_size`` corpus tokens by (count desc, token asc);
    ``p(t) = (c_src(t)+1) / (n_src+V)``, ``q(t) = (c_all(t)+1) /
    (n_all+V)`` with ``n`` counted over vocabulary hits only; each
    term's ``p·ln(p/q)`` is rounded to integer 1e-9 units BEFORE the
    per-source sum (the package-wide fixed-point float policy — the
    sum is exact integer arithmetic, bit-identical across engines and
    partition orders).

    Scale shape: one token-count shuffle (map-side combined), the
    vocabulary is a bounded top-V broadcast (driver holds V rows —
    same control-plane contract as ``unigram_lm_scores``), per-source
    counts shuffle (source, token-hash)-keyed rows, and the dense
    (source × V) grid — the only quadratic-looking step — is
    |sources|·V rows, a control-plane-sized frame, never the corpus.

    Returns ``(source, n_tokens, kl_e9, kl)`` — kl in nats, 6 dp.
    """
    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    corpus = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_all"))
    vocab = (
        corpus.orderBy(F.col("c_all").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    v_tok = tok.join(F.broadcast(vocab.select("term")), "term")
    src_counts = v_tok.groupBy("src", "term").agg(
        F.count(F.lit(1)).alias("c_src")
    )
    # Source list from ALL tokens, not vocabulary hits: a source whose
    # text shares zero top-V tokens — the maximal-drift case this
    # operator exists to catch — must surface with n_src = 0 (and the
    # large uniform-vs-corpus KL that implies), not vanish from the
    # report entirely.
    src_totals = (
        tok.select("src")
        .distinct()
        .join(
            src_counts.groupBy("src").agg(F.sum("c_src").alias("n_src")),
            "src",
            "left",
        )
        .withColumn("n_src", F.coalesce("n_src", F.lit(0)))
    )
    # empty corpus -> SUM is NULL; coalesce to 0 so the (empty)
    # grid renders an empty report instead of int(None) raising
    corpus_total = vocab.agg(F.sum("c_all")).first()[0] or 0
    n_vocab = vocab.count()
    grid = (
        src_totals.crossJoin(F.broadcast(vocab))
        .join(src_counts, ["src", "term"], "left")
        .withColumn("c_src", F.coalesce("c_src", F.lit(0)))
    )
    p = (F.col("c_src") + 1).cast("double") / (
        F.col("n_src") + F.lit(n_vocab)
    ).cast("double")
    q = (F.col("c_all") + 1).cast("double") / F.lit(
        float(int(corpus_total) + n_vocab)
    )
    term_e9 = F.round(p * F.log(p / q) * 1e9, 0).cast("long")
    return (
        grid.select("src", "n_src", term_e9.alias("t9"))
        .groupBy("src", "n_src")
        .agg(F.sum("t9").cast("long").alias("kl_e9"))
        .select(
            F.col("src").alias("source"),
            F.col("n_src").cast("bigint").alias("n_tokens"),
            "kl_e9",
            F.round(F.col("kl_e9").cast("double") / 1e9, 6).alias("kl"),
        )
    )



def source_js_divergence(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    vocab_size: int = 256,
) -> DataFrame:
    """Per-source Jensen-Shannon divergence ``JSD(P_source ‖
    P_corpus)`` over the corpus's top-``vocab_size`` tokens — the
    SYMMETRIC, always-finite companion to
    :func:`source_kl_divergence`: KL explodes where the source is
    missing corpus mass (and is asymmetric), JSD is bounded by ln 2
    and metrizable (its square root is a metric), so sources are
    COMPARABLE on one scale — the mixture dashboard number, where KL
    is the alarm.

    Same replayed definition as the KL screen: vocabulary = top
    ``vocab_size`` corpus tokens by (count desc, token asc), add-one
    smoothing on both sides, and each term's ``(p·ln(p/m) +
    q·ln(q/m))/2`` with ``m = (p+q)/2`` is rounded to integer 1e-9
    units BEFORE the per-source sum (fixed-point float policy: the
    reduction is exact integer arithmetic, bit-identical across
    engines and partition orders).

    Scale shape: identical to the KL screen — one token-count
    shuffle, a bounded top-V broadcast, and the |sources|·V dense
    grid (control-plane-sized, never the corpus).

    Returns ``(source, n_tokens, jsd_e9, jsd)`` — jsd in nats, 6 dp.
    """
    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    corpus = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c_all"))
    vocab = (
        corpus.orderBy(F.col("c_all").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    v_tok = tok.join(F.broadcast(vocab.select("term")), "term")
    src_counts = v_tok.groupBy("src", "term").agg(
        F.count(F.lit(1)).alias("c_src")
    )
    # same all-token source list as the KL screen: a zero-overlap
    # source must surface (with the near-ln2 JSD that implies)
    src_totals = (
        tok.select("src")
        .distinct()
        .join(
            src_counts.groupBy("src").agg(F.sum("c_src").alias("n_src")),
            "src",
            "left",
        )
        .withColumn("n_src", F.coalesce("n_src", F.lit(0)))
    )
    # empty corpus -> SUM is NULL; coalesce to 0 so the (empty)
    # grid renders an empty report instead of int(None) raising
    corpus_total = vocab.agg(F.sum("c_all")).first()[0] or 0
    n_vocab = vocab.count()
    grid = (
        src_totals.crossJoin(F.broadcast(vocab))
        .join(src_counts, ["src", "term"], "left")
        .withColumn("c_src", F.coalesce("c_src", F.lit(0)))
    )
    p = (F.col("c_src") + 1).cast("double") / (
        F.col("n_src") + F.lit(n_vocab)
    ).cast("double")
    q = (F.col("c_all") + 1).cast("double") / F.lit(
        float(int(corpus_total) + n_vocab)
    )
    m = (p + q) / F.lit(2.0)
    term_e9 = F.round(
        (p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0) * 1e9, 0
    ).cast("long")
    return (
        grid.select("src", "n_src", term_e9.alias("t9"))
        .groupBy("src", "n_src")
        .agg(F.sum("t9").cast("long").alias("jsd_e9"))
        .select(
            F.col("src").alias("source"),
            F.col("n_src").cast("bigint").alias("n_tokens"),
            "jsd_e9",
            F.round(F.col("jsd_e9").cast("double") / 1e9, 6).alias("jsd"),
        )
    )

def vocab_edit_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_word_len: int = 24,
    char_ngram: int | None = None,
) -> DataFrame:
    """Typo/variant mining: all vocabulary word pairs at Levenshtein
    distance exactly 1, found WITHOUT an all-pairs scan via the
    deletion-neighborhood trick (a FastSS/SymSpell-style spell join):
    two words at edit distance 1 (insert/delete/substitute) always
    share an entry in {word} ∪ {word minus one char}, so an equi-join
    on those variants generates the only candidates worth verifying.
    The verify step is the built-in ``levenshtein`` — JVM-side here,
    identical function in the SQL oracle.

    Output: ``(canonical, variant, n_canonical, n_variant)`` with the
    more frequent word as canonical (ties: lexicographically smaller)
    — the normalization table a curation pipeline folds rare
    variants with.

    Plan shape / 100 TB: vocabulary-sized, not corpus-sized — one
    token-count shuffle, then ≤(len+1) variant rows per DISTINCT word
    (len capped at ``max_word_len``), an 8-byte-hash equi-join, and
    per-candidate verification. Never quadratic in the vocabulary.

    ``char_ngram=N`` switches the mining unit from whitespace words to
    character N-grams of the lowered text (subword variant mining):
    corpora with a small closed word vocabulary — like the synthetic
    test tables — have no word-level distance-1 pairs at all, while
    their N-gram inventory is rich in them. Same plan shape; the unit
    extraction is the standard shingle explode.
    """
    if char_ngram is not None:
        n = int(char_ngram)
        low = F.lower(F.col(text_col))
        grams = F.when(
            F.length(low) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(low) - n + 1),
                lambda i: F.substring(low, i, F.lit(n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        unit_rows = df.select(F.explode(grams).alias("w"))
    else:
        unit_rows = df.select(F.explode(tokens(F.col(text_col))).alias("w"))
    words = (
        unit_rows.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(
            (F.col("n") >= min_count) & (F.length("w") <= max_word_len)
        )
    )
    # deletion at position i (1-indexed): prefix [1, i-1] + suffix [i+1, end]
    variants = F.array_union(
        F.array(F.col("w")),
        F.transform(
            F.sequence(F.lit(1), F.length("w")),
            lambda i: F.concat(
                F.col("w").substr(F.lit(1), i - 1),
                F.col("w").substr(i + 1, F.length("w")),
            ),
        ),
    )
    ev = words.select(
        "w", "n", F.explode(variants).alias("v")
    ).select("w", "n", F.xxhash64("v").alias("vh"))
    a = ev.select(
        F.col("w").alias("wa"), F.col("n").alias("na"), "vh"
    )
    b = ev.select(
        F.col("w").alias("wb"), F.col("n").alias("nb"), "vh"
    )
    cand = (
        a.join(b, "vh")
        .filter(F.col("wa") < F.col("wb"))
        .select("wa", "na", "wb", "nb")
        .distinct()
    )
    verified = cand.filter(F.levenshtein("wa", "wb") == 1)
    a_first = (F.col("na") > F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("wa") < F.col("wb"))
    )
    return verified.select(
        F.when(a_first, F.col("wa")).otherwise(F.col("wb")).alias("canonical"),
        F.when(a_first, F.col("wb")).otherwise(F.col("wa")).alias("variant"),
        F.when(a_first, F.col("na")).otherwise(F.col("nb")).alias("n_canonical"),
        F.when(a_first, F.col("nb")).otherwise(F.col("na")).alias("n_variant"),
    )


def salient_terms(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    top_k: int = 5,
) -> DataFrame:
    """Characteristic vocabulary per source by log-odds z-score
    (Monroe, Colaresi & Quinn 2008, "Fightin' Words", add-one prior
    variant): for each term present in a source,
    ``delta = ln((c_s+1)/(N_s+V-c_s-1)) - ln((c_r+1)/(N_r+V-c_r-1))``
    and ``z = delta / sqrt(1/(c_s+1) + 1/(c_r+1))`` against the rest
    of the corpus. Unlike tf-idf this is variance-stabilized — rare
    terms don't dominate — which is why drift/bias audits prefer it.

    Determinism: every ln/sqrt argument is an exact integer-derived
    rational, ops are correctly-rounded IEEE, results rounded to
    6 dp; ranking ties break (z desc, term asc).

    Scale shape: one (source, term) count shuffle (map-side
    combined), term totals broadcast back, a per-source top-k window
    over the vocabulary-sized score frame. The corpus is scanned
    once.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    st = tok.groupBy("src", "term").agg(F.count(F.lit(1)).alias("c_s"))
    term_tot = st.groupBy("term").agg(F.sum("c_s").alias("c_all"))
    src_tot = st.groupBy("src").agg(F.sum("c_s").alias("n_s"))
    totals = term_tot.agg(
        F.sum("c_all").alias("n_all"), F.count(F.lit(1)).alias("v")
    ).first()
    n_all, v = int(totals["n_all"]), int(totals["v"])
    j = st.join(F.broadcast(term_tot), "term").join(
        F.broadcast(src_tot), "src"
    )
    c_s = F.col("c_s").cast("double") + 1.0
    c_r = (F.col("c_all") - F.col("c_s")).cast("double") + 1.0
    d_s = (F.col("n_s") + F.lit(v)).cast("double") - c_s
    d_r = (
        F.lit(n_all) - F.col("n_s") + F.lit(v)
    ).cast("double") - c_r
    z = (F.log(c_s / d_s) - F.log(c_r / d_r)) / F.sqrt(
        1.0 / c_s + 1.0 / c_r
    )
    scored = j.select(
        F.col("src").alias(source_col),
        "term",
        F.col("c_s").cast("bigint").alias("n_term"),
        F.round(z, 6).alias("z"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col("z").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= top_k)
    )


def dsir_log_ratio(
    df: DataFrame,
    target_col: str = "is_target",
    num_buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every document by the log-likelihood ratio between a TARGET
    distribution (the high-quality subcorpus a pipeline wants more of)
    and the RAW distribution, under hashed bag-of-n-gram models —
    unigrams + bigrams, occurrences (not distinct), hashed to
    ``num_buckets`` buckets via md5[:16 bits] mod B (the portable
    convention :func:`hashed_doc_vectors` uses), add-one smoothing
    over the B-bucket universe on both sides. ``target_col`` is a
    boolean column marking the target subcorpus; raw = ALL documents
    (the paper's formulation — target docs score against the pool that
    includes them).

    Per-bucket weights are e6-snapped integers
    (``round((ln p_tgt − ln p_raw) · 1e6)``) summed exactly per doc —
    the :func:`unigram_lm_scores` fixed-point convention, so Spark and
    a SQL oracle agree bit-for-bit despite float logs.

    Returns one row per input document: ``(id, n_grams, lr_e6,
    mean_lr)`` where ``mean_lr = lr_e6 / (n_grams · 1e6)`` (6 dp,
    0 for gram-less docs). Select top-k by ``mean_lr`` (or add
    md5-Gumbel noise via :mod:`.sampling` for the paper's resampling
    step) to build the target-like training mix.

    Scale shape (100 TB): grams are built IN-ROW (unigram array ++
    zip_with'd bigram array, one explode — no per-doc window, the
    corpus text is scanned exactly once), then shuffle once onto
    bucket keys (map-side combined, result ≤ B rows); the weight
    model is a ≤ B-row broadcast; the per-doc aggregation is the only
    other shuffle. The model table is bounded by ``num_buckets`` no
    matter the corpus size — the hashing trick's point.
    """
    bkt = _dsir_gram_buckets(df, target_col, num_buckets, id_col, text_col)
    counts = _dsir_bucket_counts(bkt)
    return _dsir_doc_scores(
        df, bkt, _dsir_weights(counts, num_buckets), id_col
    )


def _dsir_gram_buckets(
    df: DataFrame,
    target_col: str,
    num_buckets: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, _tgt, bucket) gram-occurrence stream — grams built in-row
    (see :func:`dsir_log_ratio`), bucket = md5[:16 bits] mod B."""
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    bigrams = F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )).otherwise(F.array().cast("array<string>"))
    grams = df.select(
        F.col(id_col),
        F.col(target_col).alias("_tgt"),
        F.explode(F.concat(toks, bigrams)).alias("g"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("g").cast("binary")), 1, 4), 16, 10)
        .cast("int")
        % num_buckets
    ).alias("bucket")
    return grams.select(F.col(id_col), "_tgt", bucket)


def _dsir_bucket_counts(bkt: DataFrame) -> DataFrame:
    """(bucket, c_raw, c_tgt) model counts from a gram-bucket stream."""
    return bkt.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c_raw"),
        F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).cast("long").alias("c_tgt"),
    )


def _dsir_weights(counts: DataFrame, num_buckets: int) -> DataFrame:
    """(bucket, w_e6) log-ratio weight model from bucket counts
    (≤ B rows; totals are a 1-row control-plane cross)."""
    totals = counts.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_tgt").alias("t_tgt")
    )
    B = F.lit(float(num_buckets))
    return counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("c_tgt") + 1).cast("double") / (F.col("t_tgt") + B))
                - F.log((F.col("c_raw") + 1).cast("double") / (F.col("t_raw") + B))
            )
            * 1000000.0,
            0,
        )
        .cast("long")
        .alias("w_e6"),
    )


def _dsir_doc_scores(
    df: DataFrame, bkt: DataFrame, weights: DataFrame, id_col: str
) -> DataFrame:
    """Per-doc (id, n_grams, lr_e6, mean_lr) under a weight model."""
    per = (
        bkt.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum("w_e6").cast("long").alias("lr_e6"),
        )
    )
    base = df.select(id_col).join(per, id_col, "left")
    return base.select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("lr_e6", F.lit(0)).cast("long").alias("lr_e6"),
        F.round(
            F.coalesce("lr_e6", F.lit(0)).cast("double")
            / (F.greatest(F.coalesce("n_grams", F.lit(0)), F.lit(1)) * 1000000.0),
            6,
        ).alias("mean_lr"),
    )


def entropy_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy at token and character level —
    the standard gibberish/boilerplate screens (low char entropy =
    repeated filler; low token entropy with high length = template
    text; anomalously high char entropy = binary/garbled payloads).

    Exact fixed-point convention (:func:`unigram_lm_scores`): each
    distinct symbol contributes the INTEGER ``count · round(ln(count)
    · 1e6)``; entropy is then ``ln(N) − Σ/(N·1e6)`` with one final
    6-dp round, so Spark and the SQL oracle agree bit-for-bit.
    Both passes are explode → map-side-combined (doc, symbol) counts
    → one per-doc aggregate; no UDFs, no windows. Character explode
    is positional substring (identical semantics in DuckDB —
    ``substr(text, i+1, 1)``), lower-cased like :func:`tokens`.

    Returns ``(id, n_tokens, n_types, token_entropy, n_chars,
    char_entropy)``; empty docs score 0.
    """

    def _entropy(sym: DataFrame, out_n: str, out_types: str, out_h: str):
        counts = sym.groupBy(id_col, "s").agg(
            F.count(F.lit(1)).alias("c")
        )
        term = (F.col("c") * F.round(F.log("c") * 1000000.0, 0)).cast("long")
        per = counts.groupBy(id_col).agg(
            F.sum("c").cast("long").alias(out_n),
            F.count(F.lit(1)).cast("long").alias(out_types),
            F.sum(term).alias("_s"),
        )
        h = F.round(
            F.log(F.col(out_n).cast("double"))
            - F.col("_s").cast("double") / (F.col(out_n) * 1000000.0),
            6,
        )
        return per.select(id_col, out_n, out_types, h.alias(out_h))

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("s")
    )
    t_ent = _entropy(tok, "n_tokens", "n_types", "token_entropy")

    low = F.lower(F.col(text_col))
    # guarded: sequence(1, 0) DESCENDS in Spark (see word_shingles)
    char_arr = F.when(
        F.length(low) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.length(low)),
            lambda i: low.substr(i, F.lit(1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chars = df.select(F.col(id_col), F.explode(char_arr).alias("s"))
    c_ent = _entropy(chars, "n_chars", "n_char_types", "char_entropy")

    base = df.select(id_col)
    return (
        base.join(t_ent, id_col, "left")
        .join(c_ent.drop("n_char_types"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.coalesce("token_entropy", F.lit(0.0)).alias("token_entropy"),
            F.coalesce("n_chars", F.lit(0)).cast("long").alias("n_chars"),
            F.coalesce("char_entropy", F.lit(0.0)).alias("char_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# DoReMi-lite domain reweighting
# ---------------------------------------------------------------------------


def doremi_weights(
    df: DataFrame,
    eta: float = 1.0,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain mixture reweighting, DoReMi-reduced (Xie et al. 2023,
    "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    Pretraining", arXiv:2305.10429): upweight domains where the proxy
    model's EXCESS loss over a reference is largest, via one
    exponentiated-gradient step — ``w_d ∝ share_d · exp(η ·
    excess_d)``, normalized. The paper's proxy/reference are trained
    LMs; the distributable stand-in here scores each domain by its
    mean token NLL under the corpus's own add-one-smoothed unigram LM
    (:func:`unigram_lm_scores`'s model — exactly the CCNet trick),
    with the GLOBAL mean NLL as the reference. A domain whose text
    the corpus-level model finds surprising (diverse, rare
    vocabulary) earns weight; an in-distribution head domain loses
    it. A trained proxy's per-domain losses can replace the NLL
    column without touching the plan.

    Float policy: per-token NLLs are e6-snapped integers before any
    sum (:func:`unigram_lm_scores`); per-domain mean loss is integer
    floor-division ``sum_nll_e6 // n_tokens`` and the reference is
    the same ratio over global integer totals, so ``excess_e6`` is
    exact integer arithmetic — only the final ``exp`` and
    normalization are floats, rounded to 6 dp.

    Scale shape (100 TB): ONE vocabulary shuffle (term counts,
    map-side combined) + a broadcast-model map-side join + ONE
    |domains|-row aggregation; the EG step runs on the |domains|-row
    table (control-plane windows). No per-pair work, no corpus
    self-join.

    Returns ``(group, n_tokens, loss_e6, excess_e6, share, weight)``
    — ``share`` is the baseline token-mass mixture, ``weight`` the
    reweighted one (both sum to 1, 6 dp).
    """
    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).first()
    denom = float(int(totals["total"]) + int(totals["vocab"]))
    nll_e6 = F.round(
        -F.log((F.col("c") + 1).cast("double") / F.lit(denom)) * 1e6, 0
    ).cast("long")
    per = (
        tok.join(F.broadcast(counts), "term")
        .select("grp", nll_e6.alias("nll_e6"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("nll_e6").cast("long").alias("sum_nll_e6"),
        )
    )
    whole = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # `div` = exact integral division (floor on positives) on BOTH
    # engines; a double division + cast would truncate on Spark but
    # round on DuckDB
    staged = per.select(
        "grp",
        "n_tokens",
        "sum_nll_e6",
        F.sum("sum_nll_e6").over(whole).alias("_tsum"),
        F.sum("n_tokens").over(whole).alias("_tn"),
    ).select(
        "grp",
        "n_tokens",
        F.expr("sum_nll_e6 div n_tokens").alias("loss_e6"),
        F.expr(
            "greatest((sum_nll_e6 div n_tokens) - (_tsum div _tn), 0L)"
        ).alias("excess_e6"),
        (F.col("n_tokens").cast("double") / F.col("_tn").cast("double")).alias(
            "_share"
        ),
    )
    raw = F.col("_share") * F.exp(
        F.lit(float(eta)) * F.col("excess_e6").cast("double") / F.lit(1e6)
    )
    normed = staged.select(
        "grp",
        "n_tokens",
        "loss_e6",
        "excess_e6",
        "_share",
        (raw / F.sum(raw).over(whole)).alias("_w"),
    )
    return normed.select(
        F.col("grp").alias(group_col),
        "n_tokens",
        "loss_e6",
        "excess_e6",
        F.round("_share", 6).alias("share"),
        F.round("_w", 6).alias("weight"),
    ).orderBy(group_col)


# ---------------------------------------------------------------------------
# content-defined chunking
# ---------------------------------------------------------------------------


def cdc_chunks(
    df: DataFrame,
    window: int = 8,
    modulus: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the FastCDC / rsync family, reduced
    to its portable core): cut a document AFTER every position whose
    trailing ``window``-char hash is ≡ 0 mod ``modulus`` — so chunk
    boundaries are decided by CONTENT, not offsets, and an insertion
    near the head shifts only the chunk it lands in while every
    later chunk re-aligns and hashes identically. The property
    offset-based chunking (:func:`chunk_documents`) lacks, and the
    basis of shift-robust chunk-level dedup: group the emitted
    ``chunk_hash`` across documents to find shared spans regardless
    of position. Expected chunk length = ``modulus`` chars.

    Hash = first 16 bits of md5 of the trailing window (the repo-wide
    portable-draw convention) — no sequential rolling state, so every
    position's boundary test is independent and the whole per-doc
    computation is one JVM higher-order-function chain (transform →
    filter → zip_with → posexplode): no UDF, no shuffle, single scan.
    O(len) md5 calls per doc is the deliberate portability trade
    (a gear-table rolling hash saves constant factor but needs
    per-char sequential state that SQL engines can't replay).

    Scale shape (100 TB): embarrassingly parallel scan — zero
    shuffles; output rows ≈ corpus_chars / modulus. Chunk-level
    dedup downstream shuffles 8-byte hashes, never text.

    Returns ``(id, chunk_id, start, chunk_len, chunk_hash)`` —
    ``start`` 0-based; ``chunk_hash`` = md5 of the chunk text.
    """
    txt = F.col(text_col)
    n = F.length(txt)
    win_hash16 = lambda i: F.conv(  # noqa: E731 — trailing-window hash
        F.substring(
            F.md5(F.substring(txt, i - window + 1, window).cast("binary")),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    bnds = F.when(
        n >= window,
        F.filter(
            F.sequence(F.lit(window), F.greatest(n, F.lit(window))),
            lambda i: win_hash16(i) % modulus == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    starts = F.concat(F.array(F.lit(0)), bnds)
    ends = F.concat(bnds, F.array(n))
    spans = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.struct(s.alias("s"), e.alias("e")),
        ),
        lambda p: p["e"] > p["s"],
    )
    exploded = df.select(
        F.col(id_col),
        txt.alias("_txt"),
        F.posexplode(spans).alias("chunk_id", "_sp"),
    )
    chunk_text = F.expr("substring(_txt, _sp.s + 1, _sp.e - _sp.s)")
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("_sp.s").cast("long").alias("start"),
        (F.col("_sp.e") - F.col("_sp.s")).cast("long").alias("chunk_len"),
        F.md5(chunk_text.cast("binary")).alias("chunk_hash"),
    )


def cdc_dup_stats(
    df: DataFrame,
    window: int = 8,
    modulus: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level duplication census over :func:`cdc_chunks` — the
    payoff of content-defined boundaries: because chunk hashes
    re-align after insertions/deletions, a document that shares MOST
    of its content with an earlier one (a re-crawl with an edited
    header, a boilerplate variant) shows a high duplicated-char
    fraction even though exact-doc and line-level dedup both miss it.
    The min-owner convention of ``ngram_novelty``: a chunk is DUP for
    doc d iff the same chunk hash appears in some LOWER-id doc, so
    the first holder keeps its content and re-runs are stable.

    Scale shape (100 TB): chunking is the zero-shuffle
    :func:`cdc_chunks` scan; the min-owner annotation is a window
    ``min(id)`` over the chunk hash (r17, guide §2.1/§3 — one
    shuffle of fixed-width (hash, id, len) rows; the former
    owner-aggregate-joined-back form paid a second chunk-universe
    operator and a hash-keyed join that grows with the corpus), then
    the per-doc rollup map-side combines. Exactly row-equivalent to
    the join form: every chunk row is annotated with its group min
    in place. Hot-key caveat and its salted-two-level-min escape
    hatch: see :func:`..dedup.ngram_novelty` (same rewrite, same
    WindowExec whole-partition buffering if one chunk hash goes
    corpus-hot).

    Returns per doc: ``(id, n_chunks, n_dup_chunks, dup_chars,
    total_chars, dup_char_ratio)`` (ratio 6 dp; docs shorter than one
    window still emit their single chunk).
    """
    from pyspark.sql import Window

    chunks = cdc_chunks(df, window, modulus, id_col, text_col)
    dup = F.col("_owner") < F.col(id_col)
    return (
        chunks.withColumn(
            "_owner",
            F.min(id_col).over(Window.partitionBy("chunk_hash")),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias(
                "n_dup_chunks"
            ),
            F.sum(F.when(dup, F.col("chunk_len")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
            F.sum("chunk_len").cast("long").alias("total_chars"),
        )
        .withColumn(
            "dup_char_ratio",
            F.round(
                F.col("dup_chars").cast("double")
                / F.greatest(F.col("total_chars"), F.lit(1)).cast("double"),
                6,
            ),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval scoring
# ---------------------------------------------------------------------------


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "query_text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval over a QUERY TABLE (Robertson &
    Zaragoza 2009; the Lucene ``+1`` IDF variant so scores stay
    positive): for each query, rank documents by
    ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`` over the
    query's DISTINCT terms. The lexical-retrieval baseline every RAG
    / hard-negative-mining pipeline needs next to the ANN paths —
    and the lexical leg :func:`..operators.similarity` fuses via RRF.

    Float policy: per-(query,doc,term) contributions are e6-snapped
    integers summed exactly (one libm ``ln`` per matched term, the
    accepted :func:`..operators.similarity.class_weights`-class
    risk); corpus stats ``N``/``avgdl`` are two control-plane scalars
    (the :func:`unigram_lm_scores` policy).

    Scale shape (100 TB): the corpus token stream is filtered by a
    BROADCAST of the query-term set BEFORE any aggregation, so the
    only shuffles carry (doc, matched-term) counts — query-bounded,
    not vocabulary-bounded; df/idf live in a ≤|query-terms| broadcast;
    the final ranking is a per-query ``WindowGroupLimit`` shortlist
    (partial top-k per partition), never a global sort. Docs sharing
    no term with a query are never shuffled at all.

    Returns ``(query_id, rk, doc_id, n_hit_terms, score)`` — ``rk``
    1..k by score desc (ties: doc id asc), ``score`` = 6-dp BM25.
    """
    # doc length rides WITH the exploded token stream (one corpus
    # scan feeds tf AND dl — no separate length join)
    tokd = corpus.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).alias("_dl"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    stats = corpus.select(
        F.size(tokens(F.col(text_col))).alias("_dl")
    ).agg(F.count(F.lit(1)).alias("N"), F.sum("_dl").alias("T")).first()
    n_docs = int(stats["N"])
    avgdl = float(stats["T"]) / max(n_docs, 1)

    qterms = queries.select(
        F.col(qid_col),
        F.explode(
            F.array_distinct(tokens(F.col(qtext_col)))
        ).alias("term"),
    )
    term_set = qterms.select("term").distinct()
    tf = (
        tokd.join(F.broadcast(term_set), "term")
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.min("_dl").alias("_dl"),
        )
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = df_t.select(
        "term",
        F.log(
            (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        ).alias("_idf"),
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(F.broadcast(qterms), "term")
        .select(
            F.col(qid_col),
            F.col(id_col),
            F.round(
                F.col("_idf")
                * (
                    F.col("tf").cast("double") * F.lit(float(k1) + 1.0)
                    / (
                        F.col("tf").cast("double")
                        + F.lit(float(k1))
                        * (
                            F.lit(1.0 - float(b))
                            + F.lit(float(b)) * F.col("_dl") / F.lit(avgdl)
                        )
                    )
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("c_e6"),
        )
    )
    scored = contrib.groupBy(qid_col, id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit_terms"),
        F.sum("c_e6").cast("long").alias("_s_e6"),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("_s_e6").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= int(k))
        .select(
            qid_col,
            "rk",
            id_col,
            "n_hit_terms",
            F.round(F.col("_s_e6").cast("double") / 1e6, 6).alias("score"),
        )
    )


def corpus_datasheet(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source corpus datasheet (the WIMBD-style "what's in my
    data" census, Elazar et al. 2024-class reporting): document and
    token volumes, length moments, integer mean quality, language
    spread and the modal language — the one-query governance report a
    curation run publishes next to its exports.

    All-integer means (``div``) so both engines floor identically;
    the modal language uses an explicit count→rank window with
    (count desc, lang asc) tie-break — deterministic, no ``max_by``
    ambiguity.

    Scale shape: two group-keyed aggregations (docs → |sources| and
    (source, lang) counts → |sources×langs|) plus windows over the
    control-plane-sized results. The text is scanned once.
    """
    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("long").alias("total_tokens"),
        F.sum(F.length(F.col(text_col))).cast("long").alias("total_chars"),
        F.min(F.length(F.col(text_col))).cast("long").alias("min_chars"),
        F.max(F.length(F.col(text_col))).cast("long").alias("max_chars"),
        F.sum(quality_score_e7(F.col(text_col))).cast("long").alias("_q_e7"),
        F.countDistinct(F.col(lang_col)).cast("long").alias("n_langs"),
    )
    lang_counts = df.groupBy(
        F.col(group_col).alias("grp"), F.col(lang_col).alias("_lang")
    ).agg(F.count(F.lit(1)).alias("_lc"))
    wl = Window.partitionBy("grp").orderBy(
        F.col("_lc").desc(), F.col("_lang").asc()
    )
    top_lang = (
        lang_counts.withColumn("_r", F.row_number().over(wl))
        .filter(F.col("_r") == 1)
        .select("grp", F.col("_lang").alias("top_lang"))
    )
    return (
        per.join(top_lang, "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_tokens",
            F.expr("total_tokens div n_docs").alias("mean_tokens"),
            "total_chars",
            "min_chars",
            "max_chars",
            F.expr("_q_e7 div n_docs").alias("mean_quality_e7"),
            "n_langs",
            "top_lang",
        )
        .orderBy(group_col)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-family local document sketching)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token ``k``-gram,
    slide a window of ``w`` consecutive hashes, and in each window
    select the MINIMUM hash, breaking ties by the RIGHTMOST position.
    The distinct selected ``(pos, fp)`` pairs are the document's
    fingerprint set, with the paper's guarantee: any shared token run
    of length >= ``w + k - 1`` between two documents yields at least
    one shared fingerprint — a detection GUARANTEE the probabilistic
    MinHash sketch cannot make.

    All-codegen plan: grams via posexplode + window ``lead`` (the
    :func:`..operators.dedup.shingle_index` pattern — no interpreted
    HOFs on the hot path), and the rightmost-min selection is ONE
    window ``min`` over ``ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING``
    of the 41-char key ``md5(gram) || lpad(10^8 - pos, 9, '0')``:
    lexicographic min = min hash, tie -> greater pos. Engine-portable
    (same trick replays verbatim in the SQL oracle).

    Scale shape (100 TB): one shuffle, keyed on ``id`` (the per-doc
    sort the gram/window machinery shares); selection and dedup are
    per-doc. Output is ~2/(w+1) of the gram count per doc (the paper's
    expected density) — the downstream index join moves fingerprints,
    never text. Positions are capped at 10^8 grams/doc by the pad
    width (a 100 MB+ single document — reject upstream).

    Returns ``(id, pos, fp)``: 1-based gram position and the 32-hex
    md5 of the selected k-gram.
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("p0", "t"),
    )
    wo = Window.partitionBy("id").orderBy("p0")
    parts = [F.col("t")] + [F.lead("t", i).over(wo) for i in range(1, k)]
    grams = (
        tok.select(
            "id",
            (F.col("p0") + 1).alias("pos"),
            F.md5(F.concat_ws(" ", *parts)).alias("h"),
            F.lead("t", k - 1).over(wo).alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )
    wsel = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    wcnt = Window.partitionBy("id")
    keyed = grams.select(
        "id",
        "pos",
        F.min(
            F.concat(
                F.col("h"),
                F.lpad((F.lit(100000000) - F.col("pos")).cast("string"), 9, "0"),
            )
        ).over(wsel).alias("sel"),
        F.count(F.lit(1)).over(wcnt).alias("m"),
    )
    return (
        keyed.filter(F.col("pos") <= F.greatest(F.col("m") - w + 1, F.lit(1)))
        .select(
            "id",
            (F.lit(100000000) - F.substring("sel", 33, 9).cast("long")).alias(
                "pos"
            ),
            F.substring("sel", 1, 32).alias("fp"),
        )
        .distinct()
    )


def winnow_match_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_docs_per_fp: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-duplicate / plagiarism pairs from shared
    winnowing fingerprints (the MOSS match stage): documents sharing
    >= ``min_shared`` selected fingerprints, with the count. Inherits
    :func:`winnow_fingerprints`'s guarantee — a shared token run of
    length >= ``w + k - 1`` implies a shared fingerprint, so at
    ``min_shared=1`` recall over such runs is exact, not
    probabilistic.

    Scale shape: the pair join runs on the fingerprint INDEX (32-hex
    keys, ~2/(w+1) of the gram volume), never the corpus; boilerplate
    fingerprints shared by > ``max_docs_per_fp`` docs are dropped
    before the self-join (the stop-shingle cap of
    :func:`..operators.dedup.shingle_index` — bounds the worst
    posting list, so no quadratic hot key). Text is scanned once.

    Returns ``(id_a, id_b, n_shared)``, ``id_a < id_b``.
    """
    fps = winnow_fingerprints(
        df, k=k, w=w, id_col=id_col, text_col=text_col
    ).select("id", "fp").distinct()
    dfw = Window.partitionBy("fp")
    capped = (
        fps.withColumn("_df", F.count(F.lit(1)).over(dfw))
        .filter(F.col("_df") <= max_docs_per_fp)
        .drop("_df")
    )
    a = capped.select(F.col("id").alias("id_a"), "fp")
    b = capped.select(F.col("id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Readability census
# ---------------------------------------------------------------------------


def readability_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Flesch-reading-ease-style score from three pure
    regex counts — words (alnum runs), sentences (``[.!?]+`` runs,
    floor 1), syllables (``[aeiouy]+`` vowel groups, the standard
    heuristic): ``206.835 - 1.015 w/s - 84.6 syl/w``, e3-snapped via
    integer ``div`` at each ratio so both engines floor identically,
    then CLAMPED to ``[0, 206835]`` (the conventional 0-100 scale;
    clamping also keeps every downstream mean a nonnegative integer
    division, where Spark's truncating ``div`` and the oracle's
    flooring ``//`` agree). The curation-side readability screen
    (Flesch 1948; the axis quality classifiers like
    :func:`gopher_quality` don't cover).

    Scale shape: three JVM regex passes per row, zero shuffle, full
    codegen — a projection, not a job.

    Returns ``(id, n_words, n_sentences, n_syllables, flesch_e3)``.
    """
    c = F.col(text_col)
    n_words = F.greatest(token_count(c), F.lit(1))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit("[.!?]+"), 0)), F.lit(1)
    )
    n_syl = F.size(F.regexp_extract_all(F.lower(c), F.lit("[aeiouy]+"), 0))
    base = df.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syl.cast("long").alias("n_syllables"),
    )
    return base.select(
        "id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.greatest(
            F.least(
                F.lit(206835)
                - F.expr("1015 * ((n_words * 1000) div n_sentences) div 1000")
                - F.expr("84600 * ((n_syllables * 1000) div n_words) div 1000"),
                F.lit(206835),
            ),
            F.lit(0),
        ).cast("long").alias("flesch_e3"),
    )


# ---------------------------------------------------------------------------
# Unicode script / character-class census
# ---------------------------------------------------------------------------

#: BMP-only script ranges (identical codepoint semantics in Java regex
#: and DuckDB's RE2 — both count characters, and every range below is
#: in the Basic Multilingual Plane, so UTF-16 units == codepoints).
SCRIPT_RANGES: dict[str, tuple[str, str]] = {
    "latin": ("[A-Za-z]", "[A-Za-z]"),
    "cyrillic": ("[Ѐ-ӿ]", "[\\x{0400}-\\x{04ff}]"),
    "greek": ("[Ͱ-Ͽ]", "[\\x{0370}-\\x{03ff}]"),
    "arabic": ("[؀-ۿ]", "[\\x{0600}-\\x{06ff}]"),
    "cjk": ("[一-鿿]", "[\\x{4e00}-\\x{9fff}]"),
}


def script_census(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-class census: counts of characters in
    each :data:`SCRIPT_RANGES` script plus digits, whitespace, ASCII
    punctuation, and the remainder, with ``main_script`` = argmax over
    the script classes (name-ascending tie-break, ``none`` when no
    script character occurs). The multilingual screen upstream of
    :func:`lang_id` — script mixing (e.g. Cyrillic lookalikes inside
    Latin text) is a spam/homoglyph signal no stopword model sees.

    Each count is ``length(text) - length(regexp_replace(text, class,
    ''))``-style pure JVM regex arithmetic: zero shuffle, zero UDF,
    full codegen — parquet-scan speed at 100 TB.
    """
    c = F.col(text_col)

    def _cnt(java_cls: str):
        return (
            F.length(c) - F.length(F.regexp_replace(c, java_cls, ""))
        ).cast("long")

    script_counts = {
        name: _cnt(java_cls) for name, (java_cls, _) in SCRIPT_RANGES.items()
    }
    n_digit = _cnt("[0-9]")
    n_space = _cnt("[ \t\n\r]")
    n_punct = _cnt("[!-/:-@\\[-`{-~]")
    n_chars = F.length(c).cast("long")
    # digits and ASCII punctuation overlap no script range; 'other' is
    # whatever remains (combining marks, CJK punctuation, emoji, ...)
    known = None
    for col in list(script_counts.values()) + [n_digit, n_space, n_punct]:
        known = col if known is None else (known + col)
    best_n, best_name = None, None
    for name in sorted(script_counts):  # ascending name = stable tie-break
        cand = script_counts[name]
        if best_n is None:
            best_n, best_name = cand, F.lit(name)
        else:
            take = cand > best_n
            best_name = F.when(take, F.lit(name)).otherwise(best_name)
            best_n = F.when(take, cand).otherwise(best_n)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        *[script_counts[n].alias(f"n_{n}") for n in sorted(script_counts)],
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
        n_punct.alias("n_punct_ascii"),
        (n_chars - known).cast("long").alias("n_other"),
        F.when(best_n > 0, best_name).otherwise(F.lit("none")).alias(
            "main_script"
        ),
    )


def token_pmi_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 64,
    min_cooc: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top token-pair pointwise mutual information (Church & Hanks
    1990) at DOCUMENT co-occurrence granularity: ``pmi_e9 =
    round(ln(c_ab·n_docs/(c_a·c_b))·1e9)`` — exact integer rational
    inside the one ``ln`` — over pairs of the ``vocab_size`` most
    frequent tokens (by document frequency, ties by token), with a
    ``min_cooc`` co-occurrence floor. The collocation/market-basket
    screen for text: which terms travel together far beyond chance.

    Scale shape (100 TB): the vocabulary cap is the whole design —
    the (doc, token) incidence is semi-joined to the BROADCAST top-V
    vocab before any pair explode, so per-doc pair fan-out is
    ≤ min(len, V)², never len²; counts are map-side-combined onto
    V²-bounded keys. Returns ``(token_a, token_b, n_a, n_b, n_ab,
    pmi_e9)``, top ``top_k`` by (pmi desc, token_a, token_b).
    """
    inc = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("t"),
        )
        .distinct()
    )
    dfreq = inc.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    vocab = (
        dfreq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= vocab_size)
        .select("t", "c")
    )
    kept = inc.join(F.broadcast(vocab.select("t")), "t")
    a = kept.select("id", F.col("t").alias("token_a"))
    b = kept.select("id", F.col("t").alias("token_b"))
    cooc = (
        a.join(b, "id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_cooc)
    )
    n_docs = df.select(F.col(id_col)).distinct().count()
    ca = vocab.select(F.col("t").alias("token_a"), F.col("c").alias("n_a"))
    cb = vocab.select(F.col("t").alias("token_b"), F.col("c").alias("n_b"))
    scored = (
        cooc.join(F.broadcast(ca), "token_a")
        .join(F.broadcast(cb), "token_b")
        .select(
            "token_a",
            "token_b",
            "n_a",
            "n_b",
            "n_ab",
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.lit(float(n_docs))
                    / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
                )
                * 1e9,
                0,
            )
            .cast("long")
            .alias("pmi_e9"),
        )
    )
    w_top = Window.orderBy(
        F.col("pmi_e9").desc(), F.col("token_a").asc(), F.col("token_b").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_top))
        .filter(F.col("rk") <= top_k)
        .drop("rk")
        .orderBy(F.col("pmi_e9").desc(), "token_a", "token_b")
    )
