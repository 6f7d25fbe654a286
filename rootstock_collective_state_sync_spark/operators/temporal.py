"""Temporal joins Spark has no native operator for: as-of and range.

Both are implemented as compositions of shuffle-friendly primitives
(the brief's preferred path) rather than per-row probes:

- :func:`asof_join` — union the two sides, one window pass per key:
  each left row picks up the latest right payload at-or-before its
  timestamp via ``last_value(..., ignoreNulls)``. ONE shuffle on the
  key, sort within partitions — the same cost envelope as a
  sort-merge join, state never leaves the executor. (A per-row
  ``pd.merge_asof`` probe would be the slow path; this form keeps
  everything JVM-side.)
- :func:`range_join` — interval × point matching via time
  bucketization: intervals explode to the fixed-width buckets they
  cover, points map to exactly one bucket, and the match becomes an
  equi-join on the bucket followed by the exact range filter. Each
  (point, interval) pair can only meet in the point's single bucket,
  so no dedup stage is needed. Bucket width trades fan-out (long
  intervals explode to more buckets) against join selectivity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Backward as-of join: every left row gains the right side's
    ``value_cols`` from the most recent right row with
    ``right.ts <= left.ts`` and the same ``key`` (NULLs if none —
    left-join semantics).

    The right side should be unique per (key, ts); with duplicates,
    the row sorted last among them wins (deterministic given unique
    ``value_cols`` ordering is not required — we order right rows
    before left at equal ts so ties honor ``<=``).
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    l_tag = left.withColumn("_r", F.lit(0)).withColumn("_ts", F.col(left_ts))
    r_tag = (
        right.select(
            F.col(key),
            F.col(right_ts).alias("_ts"),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("_r", F.lit(1))
    )
    # align schemas for the union
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None))
    for c in value_cols:
        if c not in l_tag.columns:
            l_tag = l_tag.withColumn(c, F.lit(None))
    cols = l_tag.columns
    unioned = l_tag.select(cols).unionByName(r_tag.select(cols))

    # right rows sort before left rows at equal ts => '<=' semantics
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts").asc(), F.col("_r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        *[c for c in left.columns],
        "_r",
        *[
            F.last(
                F.when(F.col("_r") == 1, F.col(c)), ignorenulls=True
            ).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return filled.filter(F.col("_r") == 0).drop("_r")


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
    broadcast_intervals: bool = True,
) -> DataFrame:
    """Match each point to every interval containing it
    (``start <= ts < end``) without a cartesian: equi-join on a
    fixed-width time bucket, then the exact range filter. Points are
    never exploded (one bucket per point); intervals explode to
    ``duration / bucket_seconds`` rows — pick the bucket near the
    typical interval length. Set ``broadcast_intervals=False`` when
    the interval side is too large to broadcast; the equi-join then
    shuffles both sides on the bucket key."""
    p = points.withColumn(
        "_bkt", (F.unix_timestamp(F.col(point_ts)) / bucket_seconds).cast("bigint")
    )
    iv = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                (F.unix_timestamp(F.col(start_col)) / bucket_seconds).cast("bigint"),
                # end is exclusive, but a point in the end's bucket can
                # still precede it — include that bucket
                (F.unix_timestamp(F.col(end_col)) / bucket_seconds).cast("bigint"),
            )
        ),
    )
    if broadcast_intervals:
        iv = F.broadcast(iv)
    return (
        p.join(iv, "_bkt")
        .filter(
            (F.col(start_col) <= F.col(point_ts))
            & (F.col(point_ts) < F.col(end_col))
        )
        .drop("_bkt")
    )


def time_decayed_score(
    df: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    value_col: str = "value",
    lookback: int = 8,
    decay_num: int = 9,
    decay_den: int = 10,
) -> DataFrame:
    """Per-key exponentially time-decayed running score — the
    recency-weighted engagement signal behind feature stores and
    freshness-weighted sampling: at each event,
    ``score = Σ_{d=0..lookback-1} value[t-d] · (decay_num/decay_den)^d``
    over the key's last ``lookback`` events in (ts, id) order.

    Fixed-point contract (the package float policy): values are
    snapped to integer 1e-6 units, each term is
    ``value_e6 · num^d div den^d`` — EXACT integer arithmetic
    (``div``, not float division), so results are bit-identical on
    any engine or partition layout. Requires non-negative values
    (truncating vs flooring division diverge below zero); raises at
    plan level is impossible, so the contract is documented and the
    conformance oracle would catch a violation.

    Plan shape / 100 TB: one window over (key, ts, id) — a single
    hash-partitioned sort shuffle on the key, bounded frame of
    ``lookback`` rows, no self-join, no explode. Skewed keys (one
    user = 1% of events) are the usual window caveat; mitigate
    upstream with :mod:`..operators.skew` salting if a key outgrows
    an executor.

    Returns input keys + ``(score_e6, score)``.
    """
    ts_col, id_col = order_cols
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(-(lookback - 1), 0)
    )
    p9 = ", ".join(str(decay_num**d) for d in range(lookback))
    p10 = ", ".join(str(decay_den**d) for d in range(lookback))
    vals = F.collect_list(
        F.round(F.col(value_col) * 1e6, 0).cast("long")
    ).over(w)
    score_e6 = F.expr(
        f"""aggregate(
              transform(_vals, (x, i) ->
                x * element_at(array({p9}), size(_vals) - i)
                  div element_at(array({p10}), size(_vals) - i)),
              0L, (acc, t) -> acc + t)"""
    )
    return (
        df.withColumn("_vals", vals)
        .withColumn("score_e6", score_e6)
        .withColumn(
            "score", F.round(F.col("score_e6").cast("double") / 1e6, 6)
        )
        .drop("_vals")
    )


def attribution_touch(
    events: DataFrame,
    convert_type: str = "purchase",
    touch_type: str = "click",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-touch / last-touch attribution: for every conversion
    event, the earliest and the latest preceding touch event by the
    same user (ties by event id). The standard marketing/causal
    credit assignment — and, in a data-pipeline setting, the 'which
    upstream interaction led to this label' join.

    "Preceding" means earlier in the total ``(ts, event_id)`` order —
    a touch sharing the conversion's timestamp counts iff its event id
    is smaller. Fully deterministic, and exactly what the oracle
    replays.

    Plan shape / 100 TB: one shuffle on ``user`` for a single window
    pass over the type-filtered union — running first/last over the
    interleaved touch stream, NO touch×conversion join, so a user
    with T touches and C conversions costs O(T + C), never O(T·C).
    """
    from pyspark.sql import Window

    tagged = events.filter(
        F.col(type_col).isin(convert_type, touch_type)
    ).select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.col(ts_col).alias("ts"),
        (F.col(type_col) == touch_type).alias("is_touch"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_struct = F.when(
        F.col("is_touch"),
        F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("eid")),
    )
    first_t = F.min(touch_struct).over(w)
    last_t = F.max(touch_struct).over(w)
    return (
        tagged.select(
            "user_id",
            "event_id",
            "ts",
            "is_touch",
            first_t.alias("_f"),
            last_t.alias("_l"),
        )
        .filter(~F.col("is_touch"))
        .select(
            "user_id",
            F.col("event_id").alias("conversion_id"),
            F.col("_f.eid").alias("first_touch_id"),
            F.col("_l.eid").alias("last_touch_id"),
            # NTZ-safe epoch micros; the DIFFERENCE cancels any session
            # timezone interpretation
            (
                F.expr("unix_micros(cast(ts as timestamp))")
                - F.expr("unix_micros(cast(_f.ts as timestamp))")
            ).alias("first_touch_lag_us"),
            (
                F.expr("unix_micros(cast(ts as timestamp))")
                - F.expr("unix_micros(cast(_l.ts as timestamp))")
            ).alias("last_touch_lag_us"),
        )
    )


def time_weighted_mean(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exact time-weighted average per group (the TWAP of irregular
    time series): each observation holds until the next one, so its
    weight is the microsecond gap to the successor under the
    deterministic ``(ts, id)`` total order; the final row is a point
    mass (zero width) and drops out, groups with a single event emit
    nothing. Values snap to integer cents and gaps to exact
    microsecond longs, products accumulate in DECIMAL(38,0) — both
    engines agree bit-for-bit, no float summation order hazard.

    Returns ``(group, n_segments, span_us, twap_c)``.

    Scale shape: ONE shuffle on the group key; the lead() and the
    aggregation reuse the same partitioning. Control-plane output
    (one row per group).
    """
    w = Window.partitionBy(F.col(group_col)).orderBy(
        F.col("t").asc(), F.col(id_col).asc()
    )
    # naive-epoch microseconds: tz-invariant (works for TIMESTAMP and
    # TIMESTAMP_NTZ alike) and equal to DuckDB's epoch_us on the same
    # naive value — only differences are consumed anyway
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        F.expr(
            f"timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01'), "
            f"cast({ts_col} as timestamp_ntz))"
        ).alias("t"),
        F.round(F.col(value_col) * 100).cast("long").alias("vc"),
    )
    seg = base.select(
        group_col,
        "vc",
        (F.lead("t").over(w) - F.col("t")).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return (
        seg.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum("dt").cast("long").alias("span_us"),
            F.sum(F.col("vc").cast("decimal(38,0)") * F.col("dt")).alias(
                "_vdt"
            ),
        )
        .select(
            group_col,
            "n_segments",
            "span_us",
            F.expr("CAST(_vdt div span_us AS BIGINT)").alias("twap_c"),
        )
    )


def interarrival_stats(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Per-key inter-arrival-gap census over the deterministic
    ``(ts, id)`` total order: gap count, min/max/mean microsecond gap,
    and the burstiness statistic ``cv2_e6`` = e6·CV² =
    ``(n·Σd² − (Σd)²)·1e6 div (Σd)²`` — the squared coefficient of
    variation as an EXACT integer (CV² ≈ 0 for a metronome, 1 for a
    Poisson process, >1 for bursty arrival; no float sqrt on either
    engine). DECIMAL(38,0) holds Σd² far past bigint.

    Scale shape: ONE shuffle on the key; the lead() and the aggregate
    reuse the partitioning (the :func:`time_weighted_mean` skeleton);
    one row per key out.
    """
    w = Window.partitionBy(F.col(group_col)).orderBy(
        F.col("t").asc(), F.col(id_col).asc()
    )
    base = df.select(
        F.col(group_col),
        F.col(id_col),
        F.expr(
            f"timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01'), "
            f"cast({ts_col} as timestamp_ntz))"
        ).alias("t"),
    )
    seg = base.select(
        group_col, (F.lead("t").over(w) - F.col("t")).alias("d")
    ).filter(F.col("d").isNotNull())
    return (
        seg.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.min("d").cast("long").alias("min_gap_us"),
            F.max("d").cast("long").alias("max_gap_us"),
            F.sum("d").cast("decimal(38,0)").alias("_s"),
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias("_s2"),
        )
        .select(
            group_col,
            "n_gaps",
            "min_gap_us",
            "max_gap_us",
            F.expr("CAST(_s div n_gaps AS BIGINT)").alias("mean_gap_us"),
            F.expr(
                "CAST((n_gaps * _s2 - _s * _s) * 1000000 div (_s * _s) "
                "AS BIGINT)"
            ).alias("cv2_e6"),
        )
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    bar: str = "hour",
) -> DataFrame:
    """Open/high/low/close/volume bars per key per time bucket — the
    rollup a serving layer builds over synced on-chain price/amount
    events. Open/close are picked by the deterministic ``(ts, id)``
    total order via ``min/max(struct(t, id, vc))`` — ONE map-side-
    combined aggregation, no window sort at all — and values snap to
    integer cents.

    Returns ``(key, bar_ts, open_c, high_c, low_c, close_c, n_events,
    volume_c)``.

    Scale shape: one shuffle keyed on (key, bucket), fully partial-
    aggregated map-side (every accumulator — struct-min, struct-max,
    min, max, sum — is associative and commutative, which is also what
    makes the bar MERGEABLE: :func:`ohlc_render` over merged
    :func:`ohlc_partial` partials equals the at-rest bars). Bars are
    keys x buckets — control-plane output.
    """
    return ohlc_render(
        ohlc_partial(df, key_col, ts_col, value_col, id_col, bar)
    )


def ohlc_partial(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    bar: str = "hour",
) -> DataFrame:
    """Mergeable OHLC partial per (key, bucket): the open/close picks
    keep their (naive-epoch-microsecond, id) coordinates so two
    partials merge exactly — ``min/max(struct)`` again. Columns:
    ``(key, bar_ts, o_t, o_id, open_c, c_t, c_id, close_c, high_c,
    low_c, n_events, volume_c)``."""
    t = F.expr(
        f"timestampdiff(MICROSECOND, to_timestamp_ntz('1970-01-01'), "
        f"cast({ts_col} as timestamp_ntz))"
    )
    base = df.select(
        F.col(key_col),
        F.col(id_col).alias("id_"),
        t.alias("t"),
        F.date_trunc(bar, F.col(ts_col)).alias("bar_ts"),
        F.round(F.col(value_col) * 100).cast("long").alias("vc"),
    )
    return (
        base.groupBy(key_col, "bar_ts")
        .agg(
            F.min(F.struct("t", "id_", "vc")).alias("o"),
            F.max(F.struct("t", "id_", "vc")).alias("c"),
            F.max("vc").alias("high_c"),
            F.min("vc").alias("low_c"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("vc").cast("long").alias("volume_c"),
        )
        .select(
            key_col,
            "bar_ts",
            F.col("o.t").alias("o_t"),
            F.col("o.id_").cast("long").alias("o_id"),
            F.col("o.vc").alias("open_c"),
            F.col("c.t").alias("c_t"),
            F.col("c.id_").cast("long").alias("c_id"),
            F.col("c.vc").alias("close_c"),
            "high_c",
            "low_c",
            "n_events",
            "volume_c",
        )
    )


def ohlc_merge(partials: DataFrame, key_col: str) -> DataFrame:
    """Merge OHLC partials sharing a (key, bucket): struct-min/max on
    the pick coordinates, min/max/sum elsewhere — associative, so any
    merge tree gives the same bars."""
    return (
        partials.groupBy(key_col, "bar_ts")
        .agg(
            F.min(F.struct(F.col("o_t").alias("t"), F.col("o_id").alias("id_"), F.col("open_c").alias("vc"))).alias("o"),
            F.max(F.struct(F.col("c_t").alias("t"), F.col("c_id").alias("id_"), F.col("close_c").alias("vc"))).alias("c"),
            F.max("high_c").alias("high_c"),
            F.min("low_c").alias("low_c"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("volume_c").cast("long").alias("volume_c"),
        )
        .select(
            key_col,
            "bar_ts",
            F.col("o.t").alias("o_t"),
            F.col("o.id_").cast("long").alias("o_id"),
            F.col("o.vc").alias("open_c"),
            F.col("c.t").alias("c_t"),
            F.col("c.id_").cast("long").alias("c_id"),
            F.col("c.vc").alias("close_c"),
            "high_c",
            "low_c",
            "n_events",
            "volume_c",
        )
    )


def ohlc_render(partials: DataFrame) -> DataFrame:
    """Drop the merge coordinates from OHLC partials — the serving
    columns ``(key, bar_ts, open_c, high_c, low_c, close_c, n_events,
    volume_c)``."""
    keep = [
        c
        for c in partials.columns
        if c not in ("o_t", "o_id", "c_t", "c_id", "open_c", "close_c",
                     "high_c", "low_c", "n_events", "volume_c")
    ]
    return partials.select(
        *keep, "open_c", "high_c", "low_c", "close_c", "n_events", "volume_c"
    )


def kaplan_meier(
    df: DataFrame,
    subject_col: str,
    ts_col: str,
    horizon_days: int = 7,
) -> DataFrame:
    """Kaplan-Meier survival census (Kaplan & Meier 1958) over subject
    LIFETIMES with right-censoring at the observation edge — the
    churn/retention curve every engagement dashboard carries. A
    subject's lifetime is ``datediff(last event, first event)`` in
    days; the death is OBSERVED when the subject went quiet at least
    ``horizon_days`` before the stream's end (otherwise the lifetime
    is right-CENSORED: still alive as far as the data can tell).

    Returns one row per distinct lifetime, ordered:
    ``(t_days, n_at_risk, n_deaths, n_censored, term_e9,
    log_surv_e9, hits_zero)`` where ``term_e9 =
    round(ln((n_at_risk − d_t)/n_at_risk)·1e9)`` at death times (the
    log argument is an exact integer rational) and ``log_surv_e9``
    is its running sum — ``exp(log_surv_e9/1e9)`` is the KM survival
    estimate S(t), kept in log-space so the artifact stays
    integer-exact and engine-portable (no cross-engine ``exp``
    rounding in the hash). If the curve reaches zero (every at-risk
    subject dies at some t), that row sets ``hits_zero = 1``, its
    term contributes 0, and later rows are flagged too — S(t) is 0
    from there on and the log is undefined.

    Scale shape (100 TB): one subject-keyed aggregate (map-side
    combined) collapses the corpus to one row per subject; one more
    shrinks that to one row per distinct lifetime (~days-range-sized
    but treated as unbounded); the at-risk suffix sum and the
    survival running sum both ride the DISTRIBUTED two-level prefix
    sum (:func:`..operators.profile._distributed_prefix_sum`) — no
    single-partition window anywhere; the observation end is one
    control-plane scalar.
    """
    from rootstock_collective_state_sync_spark.caching import tracked_persist
    from rootstock_collective_state_sync_spark.operators.profile import (
        _distributed_prefix_sum,
        _prefix_boundaries,
    )

    # ONE corpus scan, not two: the observation edge max(ts) equals
    # max over the per-subject last_ts, so the per-subject aggregate
    # is persisted and the edge is read from the cached table —
    # previously a dedicated full-events aggregate action (guide §1.2:
    # don't compute things twice). eager=False: the very next line's
    # .first() is the first consumer and fills the cache in that same
    # pass — an eager count here would scan events twice.
    per = tracked_persist(
        df.groupBy(F.col(subject_col).alias("subj")).agg(
            F.min(ts_col).alias("first_ts"), F.max(ts_col).alias("last_ts")
        ),
        eager=False,
    )
    end = per.agg(F.max("last_ts").alias("m")).first()["m"]
    per = per.select(
        F.datediff(F.col("last_ts"), F.col("first_ts"))
        .cast("long")
        .alias("t_days"),
        (
            F.col("last_ts")
            < F.lit(end) - F.expr(f"INTERVAL {int(horizon_days)} DAYS")
        )
        .cast("long")
        .alias("event"),
    )
    tbl = per.groupBy("t_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("event").cast("long").alias("n_deaths"),
    )
    # both towers ride the same distinct-lifetime domain, so the
    # bucket-boundary probe runs ONCE and is shared (any monotone
    # boundary set is exact; see _prefix_boundaries)
    bnds = _prefix_boundaries(tbl, "t_days")
    off = _distributed_prefix_sum(
        tbl, "t_days", "n_total", "off", boundaries=bnds
    )
    grand = tbl.agg(F.sum("n_total").cast("long").alias("_g"))
    risk = off.crossJoin(F.broadcast(grand)).select(
        "t_days",
        "n_deaths",
        (F.col("n_total") - F.col("n_deaths")).cast("long").alias(
            "n_censored"
        ),
        (F.col("_g") - F.col("off")).cast("long").alias("n_at_risk"),
    )
    zero = (F.col("n_deaths") > 0) & (
        F.col("n_at_risk") == F.col("n_deaths")
    )
    term = F.when(
        (F.col("n_deaths") > 0) & ~zero,
        F.round(
            F.log(
                (F.col("n_at_risk") - F.col("n_deaths")).cast("double")
                / F.col("n_at_risk").cast("double")
            )
            * 1e9,
            0,
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    scored = risk.select(
        "t_days",
        "n_at_risk",
        "n_deaths",
        "n_censored",
        term.alias("term_e9"),
        zero.cast("long").alias("_z"),
    )
    # one pass for both running sums (same v order, same windows),
    # reusing the first tower's boundaries (identical t_days domain)
    zcum = _distributed_prefix_sum(
        scored, "t_days", ["term_e9", "_z"], ["_off", "_zoff"], boundaries=bnds
    )
    return (
        zcum.select(
            "t_days",
            "n_at_risk",
            "n_deaths",
            "n_censored",
            "term_e9",
            (F.col("_off") + F.col("term_e9")).cast("long").alias(
                "log_surv_e9"
            ),
            ((F.col("_zoff") + F.col("_z")) > 0).cast("int").alias(
                "hits_zero"
            ),
        )
        .orderBy("t_days")
    )
