"""Product-analytics operators: funnel analysis and cohort retention —
the two queries every event-warehouse user runs, expressed as chains of
hash aggregates (no window over the full event stream, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from parquet_on_fhir_spark.session import local_rows_df


def funnel(
    events: DataFrame,
    steps: list[tuple[str, Column]],
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_step_gap: str | None = None,
) -> DataFrame:
    """Ordered funnel: for each user, the earliest time each step was
    completed STRICTLY AFTER the previous step (the standard sequential
    funnel — step k's event must follow the user's step k-1 completion).

    ``steps``: ordered (name, predicate Column) pairs. With
    ``max_step_gap`` (e.g. ``'2 hours'``) each step must also land
    WITHIN that interval after the previous step's completion — the
    industry "conversion window" form (a purchase a month after the
    click is not that click's conversion).

    Plan: one filtered hash aggregate per step — step k aggregates only
    events passing predicate k, joined to the (tiny, one-row-per-user)
    step k-1 completion table to enforce ordering. k narrow shuffles of
    per-user minima; the raw event table is scanned once per step with
    the predicate pushed down, never sorted or windowed globally.

    Output: one row per user entering the funnel —
    (user, t_<name> timestamp per step, furthest_step int).
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    for s in steps:
        if not (isinstance(s, tuple) and len(s) == 2):
            raise ValueError(
                "funnel steps are (name, predicate Column) pairs, got "
                f"{s!r} — e.g. ('view', F.col('event_type') == 'view')"
            )
    name0, cond0 = steps[0]
    out = (
        events.filter(cond0)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias(f"t_{name0}"))
    )
    gap_s = None
    if max_step_gap is not None:
        from parquet_on_fhir_spark.operators.joins import _interval_seconds

        gap_s = _interval_seconds(max_step_gap)
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    prev = f"t_{name0}"
    for name, cond in steps[1:]:
        step_src = (
            events.filter(cond)
            .join(out.select(user_col, prev), user_col)
            .filter(F.col(ts_col) > F.col(prev))
        )
        if gap_s is not None:
            step_src = step_src.filter(
                epoch(ts_col) <= epoch(prev) + gap_s
            )
        nxt = (
            step_src
            .groupBy(user_col)
            .agg(F.min(ts_col).alias(f"t_{name}"))
        )
        out = out.join(nxt, user_col, "left")
        prev = f"t_{name}"
    reached = [
        F.when(F.col(f"t_{name}").isNotNull(), 1).otherwise(0)
        for name, _ in steps
    ]
    furthest = reached[0]
    for r in reached[1:]:
        furthest = furthest + r
    return out.withColumn("furthest_step", furthest)


def cohort_retention(
    events: DataFrame,
    every: str = "1 week",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention triangle: users grouped by their FIRST activity
    bucket (the cohort), counted as retained in each later bucket they
    appear in.

    Plan: per-user first bucket (one hash aggregate) broadcast back
    onto the distinct (user, bucket) activity pairs, then one count
    aggregate — shuffle rows ≈ active (user, bucket) pairs, never raw
    events. Output: (cohort timestamp, period_offset int, n_users).
    ``period_offset`` counts buckets since the cohort bucket (0 = the
    cohort bucket itself, so its n_users is the cohort size).
    """
    bucket = F.window(F.col(ts_col), every)["start"]
    activity = events.select(
        F.col(user_col), bucket.alias("__b")
    ).distinct()
    firsts = activity.groupBy(user_col).agg(F.min("__b").alias("cohort"))
    step = F.lit(_every_seconds(every))
    joined = activity.join(firsts, user_col)
    # NTZ buckets have no direct long cast; the TIMESTAMP hop
    # reinterprets in session time (UTC everywhere in this engine)
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    offset = ((epoch("__b") - epoch("cohort")) / step).cast("int")
    return (
        joined.select("cohort", offset.alias("period_offset"), user_col)
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def _every_seconds(every: str) -> int:
    from parquet_on_fhir_spark.operators.joins import _interval_seconds

    return _interval_seconds(every)


def winsorize(
    df: DataFrame,
    value_col: str,
    key_cols: list[str] | None = None,
    lower: float = 0.05,
    upper: float = 0.95,
    exact: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Clip ``value_col`` to its per-group [lower, upper] quantiles —
    the outlier-taming step feature pipelines apply before scaling or
    aggregating heavy-tailed metrics.

    Two-pass shape: a per-group quantile aggregate (one row per group,
    broadcast back onto the data), then a pure-map clip — the 100 TB
    data is scanned twice but shuffled ZERO times when the group count
    is broadcast-size (the normal case: groups are categories, not
    keys). ``exact=False`` switches the bounds to
    ``approx_percentile`` (t-digest-style sketch, mergeable,
    single-pass map-side partials) — the right tier when groups are
    large enough that an exact per-group sort hurts; the clip itself
    is unchanged.
    """
    keys = key_cols or []
    q_of = F.percentile if exact else F.approx_percentile
    bounds = df.groupBy(*keys).agg(
        q_of(F.col(value_col), F.lit(lower)).alias("__lo"),
        q_of(F.col(value_col), F.lit(upper)).alias("__hi"),
    )
    joined = (
        df.join(F.broadcast(bounds), keys)
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    name = out_col or f"{value_col}_winsorized"
    return joined.withColumn(
        name,
        F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
    ).drop("__lo", "__hi")


def chi2_crosstab(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns: the full contingency table (zero-observed cells included —
    they carry expected mass) plus the χ² statistic and degrees of
    freedom, in one row.

    Plan: one hash aggregate over (a, b) for observed counts, two
    marginal aggregates, then the (ka × kb) expected grid built by
    cross-joining the two marginal frames — all three aggregates are
    category-cardinality-sized, so every join after the first
    aggregate is a broadcast of tiny frames; the raw table is scanned
    exactly once.

    Output: 1 row — (chi2, dof, n).
    """
    obs = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count("*").alias("__o"))
    ma = obs.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    mb = obs.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    tot = obs.agg(F.sum("__o").alias("__n"))
    grid = (
        ma.crossJoin(F.broadcast(mb))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["__a", "__b"], "left")
        .select(
            "__ra",
            "__rb",
            "__n",
            F.coalesce(F.col("__o"), F.lit(0)).alias("__o"),
        )
    )
    e = F.col("__ra") * F.col("__rb") / F.col("__n")
    cell = (F.col("__o") - e) * (F.col("__o") - e) / e
    ka = ma.agg(F.count("*").alias("__ka"))
    kb = mb.agg(F.count("*").alias("__kb"))
    return (
        grid.agg(F.sum(cell).alias("chi2"))
        .crossJoin(F.broadcast(ka))
        .crossJoin(F.broadcast(kb))
        .crossJoin(F.broadcast(tot))
        .select(
            "chi2",
            ((F.col("__ka") - 1) * (F.col("__kb") - 1)).cast("bigint").alias("dof"),
            F.col("__n").cast("bigint").alias("n"),
        )
    )


def market_basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 10,
    max_basket_items: int | None = 200,
) -> DataFrame:
    """Item co-occurrence ("bought X, also bought Y"): for every item,
    the top-k items sharing the most baskets with it.

    Plan: distinct (basket, item) pairs → self-join on the basket key
    with ``item < item2`` (each unordered pair counted once) → hash
    aggregate on the pair → symmetrize → per-item top-k window over the
    AGGREGATED counts (item-pair cardinality, not basket rows).

    The quadratic hazard is basket size, not item popularity: a basket
    of d items emits d² pairs, so one degenerate mega-basket (a crawler
    session, a warehouse account) dominates the shuffle. ``max_basket_items``
    caps each basket at a deterministic hash-ordered sample BEFORE the
    self-join — co-occurrence COUNTS for frequent pairs converge under
    uniform within-basket sampling, the same argument as the IVF/BPE
    training samples. Set it to None for exact counts on bounded baskets.

    Output: (item, also_item, n_baskets, rank), rank 1..k per item.
    """
    from pyspark.sql import Window

    pairs_src = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    if max_basket_items is not None:
        wcap = Window.partitionBy("__b").orderBy(
            F.xxhash64("__i"), F.col("__i")
        )
        pairs_src = (
            pairs_src.withColumn("__rn", F.row_number().over(wcap))
            .filter(F.col("__rn") <= max_basket_items)
            .drop("__rn")
        )
    left = pairs_src
    right = pairs_src.select(
        F.col("__b"), F.col("__i").alias("__j")
    )
    counts = (
        left.join(right, "__b")
        .filter(F.col("__i") < F.col("__j"))
        .groupBy("__i", "__j")
        .agg(F.count("*").alias("n_baskets"))
    )
    # both orientations via ONE explode — a unionAll of two selects from
    # `counts` would re-plan (and re-execute) the pair join + aggregate
    sym = counts.select(
        F.explode(
            F.array(
                F.struct(F.col("__i"), F.col("__j")),
                F.struct(
                    F.col("__j").alias("__i"), F.col("__i").alias("__j")
                ),
            )
        ).alias("__p"),
        "n_baskets",
    ).select(F.col("__p.__i").alias("__i"), F.col("__p.__j").alias("__j"), "n_baskets")
    w = Window.partitionBy("__i").orderBy(
        F.desc("n_baskets"), F.asc("__j")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__i").alias("item"),
            F.col("__j").alias("also_item"),
            "n_baskets",
            "rank",
        )
    )


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
    key_cols: list[str] | None = None,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Fixed-width histogram of a numeric column, optionally per group:
    (keys, bin, bin_lo, bin_hi, n) with every bin present (zero-count
    bins included — a histogram with silent holes misreads as dense).

    When ``lo``/``hi`` are not given they come from one global min/max
    aggregate (1 row, broadcast). Binning itself is ``width_bucket`` —
    a pure map expression — feeding a hash aggregate with bin
    cardinality keys; the dense bin grid is a per-group ``sequence``
    explode joined LEFT against the counts, all broadcast-size.
    With explicit bounds, out-of-range values clamp symmetrically:
    values ≥ ``hi`` fold into the last bin and values < ``lo`` into
    the first (clamping beats silently dropping rows — bin totals
    always add up to the non-NULL row count); NULLs are excluded.
    Degenerate bounds (``lo == hi`` — e.g. a constant column with
    auto-computed bounds) widen ``hi`` by 1 so ``width_bucket`` stays
    defined and every row lands in bin 1 instead of vanishing.
    """
    keys = key_cols or []
    if lo is None or hi is None:
        b = df.agg(
            F.min(value_col).cast("double").alias("__lo"),
            F.max(value_col).cast("double").alias("__hi"),
        )
        src = df.crossJoin(F.broadcast(b))
    else:
        src = df.withColumn("__lo", F.lit(float(lo))).withColumn(
            "__hi", F.lit(float(hi))
        )
    src = src.withColumn(
        "__hi",
        F.when(F.col("__hi") > F.col("__lo"), F.col("__hi")).otherwise(
            F.col("__lo") + 1.0
        ),
    )
    bucket = F.greatest(
        F.least(
            F.width_bucket(
                F.col(value_col).cast("double"),
                F.col("__lo"),
                F.col("__hi"),
                F.lit(bins),
            ),
            F.lit(bins),
        ),
        F.lit(1),
    )
    counts = (
        src.filter(F.col(value_col).isNotNull())
        .withColumn("__bin", bucket)
        .groupBy(*keys, "__lo", "__hi", "__bin")
        .agg(F.count("*").alias("n"))
    )
    grid = (
        counts.select(*keys, "__lo", "__hi")
        .distinct()
        .select(
            *keys,
            "__lo",
            "__hi",
            F.explode(F.sequence(F.lit(1), F.lit(bins))).alias("__bin"),
        )
    )
    width = (F.col("__hi") - F.col("__lo")) / bins
    return (
        grid.join(counts, [*keys, "__lo", "__hi", "__bin"], "left")
        .select(
            *keys,
            F.col("__bin").alias("bin"),
            (F.col("__lo") + (F.col("__bin") - 1) * width).alias("bin_lo"),
            (F.col("__lo") + F.col("__bin") * width).alias("bin_hi"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    item_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Distribution drift between two item frequency distributions
    (token histograms of two corpus snapshots, source mixes of two
    training runs): KL(A‖B), KL(B‖A), Jensen-Shannon divergence, and
    total-variation distance, in one row.

    Laplace smoothing (``smoothing`` pseudo-counts on the UNION
    vocabulary) keeps the KLs finite for items present on one side
    only — drift on out-of-vocabulary mass is exactly what the
    detector must see, not skip.

    Plan: two hash aggregates (item cardinality), FULL OUTER join on
    the item key, one global fold. The raw tables are scanned once
    each; nothing larger than the vocabulary is ever shuffled.
    """
    ca = df_a.groupBy(F.col(item_col).alias("__i")).agg(
        F.count("*").alias("__na")
    )
    cb = df_b.groupBy(F.col(item_col).alias("__i")).agg(
        F.count("*").alias("__nb")
    )
    joined = ca.join(cb, "__i", "full_outer").select(
        F.coalesce("__na", F.lit(0)).alias("__na"),
        F.coalesce("__nb", F.lit(0)).alias("__nb"),
    )
    tot = joined.agg(
        F.sum("__na").alias("__ta"),
        F.sum("__nb").alias("__tb"),
        F.count("*").alias("__v"),
    )
    s = float(smoothing)
    withp = joined.crossJoin(F.broadcast(tot)).select(
        ((F.col("__na") + s) / (F.col("__ta") + s * F.col("__v"))).alias("pa"),
        ((F.col("__nb") + s) / (F.col("__tb") + s * F.col("__v"))).alias("pb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    return withp.agg(
        F.sum(F.col("pa") * F.log(F.col("pa") / F.col("pb"))).alias("kl_ab"),
        F.sum(F.col("pb") * F.log(F.col("pb") / F.col("pa"))).alias("kl_ba"),
        (
            F.sum(F.col("pa") * F.log(F.col("pa") / m)) / 2
            + F.sum(F.col("pb") * F.log(F.col("pb") / m)) / 2
        ).alias("jsd"),
        (F.sum(F.abs(F.col("pa") - F.col("pb"))) / 2).alias("tvd"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    key_cols: list[str] | None = None,
    threshold: float = 3.5,
) -> DataFrame:
    """Median/MAD outlier flags — the Iglewicz-Hoaglin modified
    z-score ``0.6745·(v − median)/MAD``: immune to the masking that
    breaks mean/std detection (one huge outlier inflates std enough to
    hide itself; it cannot move a median).

    Two per-group aggregate passes (median, then median absolute
    deviation), each a one-row-per-group frame broadcast back — the
    data is never shuffled, only scanned. Groups with MAD = 0 (over
    half the values identical) yield NULL scores and are never
    flagged, rather than dividing by zero into ±inf.

    Adds: med, mad, modified_z (NULL when MAD=0), is_outlier.
    """
    keys = key_cols or []
    med = df.groupBy(*keys).agg(F.median(value_col).alias("med"))
    with_med = (
        df.join(F.broadcast(med), keys)
        if keys
        else df.crossJoin(F.broadcast(med))
    )
    dev = with_med.withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = dev.groupBy(*keys).agg(F.median("__adev").alias("mad"))
    full = (
        dev.join(F.broadcast(mad), keys)
        if keys
        else dev.crossJoin(F.broadcast(mad))
    )
    z = F.when(
        F.col("mad") > 0,
        0.6745 * (F.col(value_col) - F.col("med")) / F.col("mad"),
    )
    return (
        full.withColumn("modified_z", z)
        .withColumn(
            "is_outlier", F.coalesce(F.abs(z) > threshold, F.lit(False))
        )
        .drop("__adev")
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    smoothing: float = 10.0,
    leave_one_out: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Target (mean) encoding of a categorical feature with additive
    smoothing toward the global mean — and, by default, leave-one-out:
    each row's own label is excluded from its category mean, the
    standard guard against the label leaking into its own feature.

    encode(row) = (cat_sum [- y] + m·global_mean) / (cat_n [- 1] + m)

    One hash aggregate per category (tiny, broadcast back) + one global
    1-row aggregate; the data is scanned twice, shuffled never. The
    LOO arithmetic runs on the joined row — no per-row re-aggregation.
    Categories of size 1 under LOO fall back to the smoothed prior
    alone (their excluded count is 0).
    """
    name = out_col or f"{cat_col}_te"
    g = df.agg(
        F.avg(label_col).cast("double").alias("__gmean")
    )
    per_cat = df.groupBy(cat_col).agg(
        F.sum(label_col).cast("double").alias("__csum"),
        F.count(label_col).alias("__cn"),
    )
    joined = df.join(F.broadcast(per_cat), cat_col).crossJoin(F.broadcast(g))
    if leave_one_out:
        num = F.col("__csum") - F.col(label_col) + smoothing * F.col("__gmean")
        den = F.col("__cn") - 1 + smoothing
    else:
        num = F.col("__csum") + smoothing * F.col("__gmean")
        den = F.col("__cn") + smoothing
    # smoothing=0 + LOO singleton => 0/0: yield NULL (undefined encode),
    # not an ANSI division error or a silent ±inf
    enc = F.when(den > 0, num / den)
    return joined.withColumn(name, enc).drop("__csum", "__cn", "__gmean")


def quantile_bin(
    df: DataFrame,
    value_col: str,
    bins: int = 4,
    exact: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Equal-frequency discretization: assign each row the quantile bin
    (1..bins) its value falls in, with the boundaries computed ONCE as
    a 1-row aggregate and broadcast — unlike ``ntile``, which needs a
    global sort/window and ties its output to row order rather than
    value (two equal values can land in different ntiles; they never
    land in different quantile bins).

    ``exact=False`` switches boundary computation to approx_percentile
    (sketch, single-pass) for the 100 TB tier. Bin assignment is a pure
    map over the broadcast boundary array.
    """
    name = out_col or f"{value_col}_qbin"
    q_of = F.percentile if exact else F.approx_percentile
    cuts = [i / bins for i in range(1, bins)]
    b = df.agg(
        q_of(F.col(value_col), F.array(*[F.lit(c) for c in cuts])).alias("__cuts")
    )
    # bin = 1 + number of interior boundaries strictly below the value
    # (boundary values fall in the LOWER bin — deterministic under ties)
    bin_expr = F.when(
        F.col(value_col).isNotNull(),
        F.lit(1)
        + F.aggregate(
            F.col("__cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(F.col(value_col) > c, 1).otherwise(0),
        ),
    )  # NULL value -> NULL bin (not a silent bottom-bin assignment)
    return (
        df.crossJoin(F.broadcast(b))
        .withColumn(name, bin_expr)
        .drop("__cuts")
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in ONE aggregate pass —
    all C(k,2) corr() aggregates ride a single scan/shuffle instead of
    k² separate jobs, then unpivot to long form via an array-of-structs
    explode (same pivot trick as profile_table).

    Output: (col_a, col_b, corr) for a < b, plus the implied symmetric
    half omitted.
    """
    if len(cols) < 2:
        raise ValueError("correlation_matrix needs at least two columns")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    wide = df.agg(
        *[
            F.corr(F.col(a), F.col(b)).alias(f"__c_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__c_{i}").alias("corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    key_cols: list[str] | None = None,
    term_dp: int | None = None,
) -> DataFrame:
    """Kaplan-Meier survival curve: S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over
    distinct event times, with right-censoring (``event_col`` false =
    censored: leaves the risk set, contributes no death) — the churn /
    time-to-failure estimator.

    All-window formulation: one hash aggregate to (time, deaths,
    censored), then the risk set nᵢ = total − cumulative-left is a
    running sum and the product-limit is ``exp(Σ ln(1−dᵢ/nᵢ))`` — a
    second running sum, NOT a sequential loop. Both windows share the
    per-key partitioning; with no keys the aggregated curve is
    time-cardinality-sized, so the single-partition window over it is
    a non-issue.

    ``term_dp`` quantizes each ln(1−dᵢ/nᵢ) factor to that many decimal
    places BEFORE the running sum. Transcendental terms differ across
    libm builds in the last ulp; summed over many time points the
    chain error can flip a downstream rounding digit. Per-term
    quantization (12 dp is the repo convention) pins every factor to
    an identical value in any engine, so cross-engine error stops
    accumulating — use it whenever the curve is compared across
    engines.

    Output: (keys, t, n_risk, n_events, survival).
    """
    keys = key_cols or []
    per_t = (
        df.groupBy(*keys, F.col(duration_col).alias("t"))
        .agg(
            F.sum(F.col(event_col).cast("int")).alias("n_events"),
            F.sum(1 - F.col(event_col).cast("int")).alias("n_censored"),
        )
    )
    from pyspark.sql import Window

    total = Window.partitionBy(*keys) if keys else Window.partitionBy()
    upto_prev = (
        total.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    )
    upto_now = total.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    left_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(upto_prev), F.lit(0)
    )
    n_risk = F.sum(F.col("n_events") + F.col("n_censored")).over(
        total.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ) - left_before
    with_risk = per_t.withColumn("n_risk", n_risk)
    # d == n at some time point => survival is exactly 0 from there on;
    # ln(0) must not poison the running sum (Spark log(<=0) is NULL and
    # F.sum SKIPS nulls, which would silently drop the factor instead)
    factor = 1.0 - F.col("n_events") / F.col("n_risk")
    safe_log = F.log(F.when(factor > 0, factor).otherwise(F.lit(1.0)))
    if term_dp is not None:
        safe_log = F.round(safe_log, term_dp)
    hit_zero = F.max((factor <= 0).cast("int")).over(upto_now)
    survival = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(safe_log).over(upto_now))
    )
    return with_risk.withColumn("survival", survival).select(
        *keys, "t", "n_risk", "n_events", "survival"
    )


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    quantize: float | None = None,
) -> DataFrame:
    """ROC AUC of a score against a binary label via the Mann-Whitney
    rank-sum identity: AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) /
    (n⁺·n⁻), with average ranks for tied scores (the exact tie
    handling sklearn uses) — no curve sweep, no thresholds.

    Integer-exact formulation: average ranks are exact half-integers
    (cum_before + (cnt+1)/2), so DOUBLED ranks are integers and the
    identity restates as ``auc = (2·Σ⁺rank − n⁺(n⁺+1)) / (2·n⁺·n⁻)``
    with numerator and denominator both integral. All sums run in
    DECIMAL(38,0) (order-independent, overflow-safe to ~1e38 — 2n² at
    n=1e12 rows is 2e24), leaving ONE final double division — the
    result is bit-identical across engines and partitionings, no
    float accumulation anywhere.

    100 TB plan: the corpus is FIRST hash-aggregated per distinct
    score (count + positive count); the one ordered window then runs
    over |distinct scores| rows, not the corpus. For integer-ish
    scores that frame is naturally bounded; for truly CONTINUOUS
    model scores pass ``quantize`` (a bucket width, e.g. 1e-4) to
    round scores to multiples of it before the pre-aggregation —
    bounded window (≤ range/quantize rows) at bounded AUC error
    (ties created at bucket edges shift AUC by at most the mass on
    the edge; error → 0 with the bucket width). NULL scores are
    excluded up front (they carry no rank information).

    Output: 1 row — (auc, n_pos, n_neg).
    """
    from pyspark.sql import Window

    lab = F.col(label_col).cast("int")
    score = F.col(score_col)
    if quantize is not None:
        score = F.round(score / F.lit(quantize)) * F.lit(quantize)
    per_score = (
        df.filter(score.isNotNull())
        .groupBy(score.alias("__score"))
        .agg(
            F.count("*").alias("__cnt"),
            F.sum(lab).alias("__pos"),
            F.sum(1 - lab).alias("__neg"),
        )
    )
    w = Window.orderBy(F.col("__score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # doubled average rank of the tie group: 2·cum_before + cnt + 1
    ranked = per_score.withColumn(
        "__rank2",
        2 * (F.sum("__cnt").over(w) - F.col("__cnt")) + F.col("__cnt") + 1,
    )
    dec = "decimal(38,0)"
    # Cast each operand BEFORE multiplying: a BIGINT·BIGINT product
    # (__pos·__rank2 ≈ cnt·2n) overflows int64 near n≈2e9 on heavily
    # tied scores — silently wrong with ANSI off.  DECIMAL(38,0)
    # operands keep the product exact to ~1e38.  __rank2 itself is
    # ≤ 2n+1 and stays a safe BIGINT until n ~ 4.6e18.
    agg = ranked.agg(
        F.sum(F.col("__pos").cast(dec) * F.col("__rank2").cast(dec)).alias(
            "__rsum2"
        ),
        F.sum("__pos").alias("n_pos"),
        F.sum("__neg").alias("n_neg"),
    )
    num = F.col("__rsum2") - (
        F.col("n_pos").cast(dec) * (F.col("n_pos") + 1).cast(dec)
    )
    den = 2 * F.col("n_pos").cast(dec) * F.col("n_neg").cast(dec)
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        num.cast("double") / den.cast("double"),
    )
    return agg.select(auc.alias("auc"), "n_pos", "n_neg")


def welch_t_test(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t statistic with
    Welch-Satterthwaite degrees of freedom — the A/B test primitive.
    Pure moment aggregates (mean/var/count per arm in ONE pass over the
    filtered data); no p-value lookup (no scipy dependency) — report t
    and dof, threshold downstream.

    Output: 1 row — (mean_a, mean_b, t_stat, dof, n_a, n_b).
    """
    arms = df.filter(F.col(group_col).isin([group_a, group_b])).groupBy(
        group_col
    ).agg(
        F.avg(metric_col).alias("m"),
        F.var_samp(metric_col).alias("v"),
        F.count(metric_col).alias("n"),
    )
    a = arms.filter(F.col(group_col) == group_a).select(
        F.col("m").alias("ma"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = arms.filter(F.col(group_col) == group_b).select(
        F.col("m").alias("mb"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    j = a.crossJoin(b)
    sa = F.col("va") / F.col("na")
    sb = F.col("vb") / F.col("nb")
    t = (F.col("ma") - F.col("mb")) / F.sqrt(sa + sb)
    dof = (sa + sb) * (sa + sb) / (
        sa * sa / (F.col("na") - 1) + sb * sb / (F.col("nb") - 1)
    )
    return j.select(
        F.col("ma").alias("mean_a"),
        F.col("mb").alias("mean_b"),
        t.alias("t_stat"),
        dof.alias("dof"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
    )


def concentration_report(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Concentration of mass across groups — the corpus-balance audit a
    training-mix owner runs before a source quietly becomes half the
    data: Gini coefficient (rank identity: G = 2·Σᵢ i·xᵢ /(n·Σx) −
    (n+1)/n over ascending xᵢ), Herfindahl-Hirschman index (Σ share²),
    share of the top group, and effective group count (1/HHI).

    One hash aggregate to group totals (group-cardinality rows), one
    ordered window over THOSE (tiny), one fold. Weighted by
    ``weight_col`` when given, else row counts.

    Output: 1 row — (n_groups, gini, hhi, top_share, effective_groups).
    """
    from pyspark.sql import Window

    w = F.col(weight_col) if weight_col else F.lit(1)
    totals = df.groupBy(group_col).agg(F.sum(w).cast("double").alias("__x"))
    ranked = totals.withColumn(
        "__i", F.row_number().over(Window.orderBy(F.col("__x"), F.col(group_col)))
    )
    agg = ranked.agg(
        F.count("*").alias("n_groups"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__i") * F.col("__x")).alias("__six"),
        F.max("__x").alias("__mx"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    gini = (
        2.0 * F.col("__six") / (F.col("n_groups") * F.col("__sx"))
        - (F.col("n_groups") + 1) / F.col("n_groups")
    )
    hhi = F.col("__sxx") / (F.col("__sx") * F.col("__sx"))
    return agg.select(
        "n_groups",
        gini.alias("gini"),
        hhi.alias("hhi"),
        (F.col("__mx") / F.col("__sx")).alias("top_share"),
        (F.lit(1.0) / hhi).alias("effective_groups"),
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
    term_dp: int | None = None,
) -> DataFrame:
    """Zipf fit of the corpus token-frequency distribution: the
    least-squares slope of ln(frequency) on ln(rank) — healthy natural
    text sits near −1; templated or synthetic corpora drift away.
    Distribution shape is the cheapest corpus-fingerprint there is.

    One token hash aggregate (vocab-sized), one ordered window over the
    aggregated counts, one regr_slope fold. ``min_count`` trims the
    hapax tail, which flattens the log-log line and is noise anyway.

    ``term_dp`` rounds each ln(freq)/ln(rank) term to that many
    decimal places before the regression fold (12 dp is the repo
    convention) so per-term libm differences cannot accumulate across
    the vocab-sized sum when the fit is compared across engines.

    Output: 1 row — (slope, intercept, n_types, n_tokens).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count("*").alias("__n"))
    kept = counts.filter(F.col("__n") >= min_count)
    ranked = kept.withColumn(
        "__r",
        F.row_number().over(Window.orderBy(F.desc("__n"), F.asc("tok"))),
    )
    total = counts.agg(F.sum("__n").alias("__t"))
    ln_n, ln_r = F.log("__n"), F.log("__r")
    if term_dp is not None:
        ln_n, ln_r = F.round(ln_n, term_dp), F.round(ln_r, term_dp)
    return (
        ranked.crossJoin(F.broadcast(total))
        .agg(
            F.regr_slope(ln_n, ln_r).alias("slope"),
            F.regr_intercept(ln_n, ln_r).alias("intercept"),
            F.count("*").alias("n_types"),
            F.first("__t").alias("n_tokens"),
        )
    )


def benford_deviation(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """First-digit (Benford) audit of a positive numeric column: the
    observed leading-digit distribution vs log₁₀(1+1/d), with the χ²
    statistic — fabricated or unit-mangled numeric columns jump out.

    Pure map to the leading digit (string of abs value, first nonzero
    char), one 9-bucket aggregate, one fold.

    Output: 9 rows — (digit, n, share, expected_share) plus the chi2
    repeated per row for single-pass consumption.
    """
    from pyspark.sql import Window

    digit = F.substring(
        F.regexp_replace(
            F.abs(F.col(value_col)).cast("string"), "[^1-9]*", ""
        ),
        1,
        1,
    ).cast("int")
    counts = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) != 0))
        .withColumn("__d", digit)
        .filter(F.col("__d").isNotNull())
        .groupBy("__d")
        .agg(F.count("*").alias("n"))
    )
    total = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    expected = F.log10(1.0 + 1.0 / F.col("__d"))
    with_share = counts.select(
        F.col("__d").alias("digit"),
        "n",
        (F.col("n") / F.sum("n").over(total)).alias("share"),
        expected.alias("expected_share"),
        F.sum("n").over(total).alias("__t"),
    )
    cell = (
        (F.col("share") - F.col("expected_share"))
        * (F.col("share") - F.col("expected_share"))
        / F.col("expected_share")
        * F.col("__t")
    )
    chi2 = F.sum(cell).over(total)
    return with_share.select(
        "digit", "n", "share", "expected_share", chi2.alias("chi2")
    )


def weighted_percentile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    ps: list[float],
    key_cols: list[str] | None = None,
    validate_weights: bool = True,
    quantize: float | None = None,
) -> DataFrame:
    """Weighted lower percentiles: for each p, the smallest value whose
    cumulative weight reaches p·total — duration-weighted latency
    percentiles, size-weighted document cuts ("what length covers 95%
    of tokens"), anywhere rows are not equally important.

    100 TB plan: the corpus is FIRST hash-aggregated per
    (keys, distinct value) — ties share a cumulative rank by
    construction — so the running-weight window runs over
    |distinct values| rows per key, never the corpus. The keyless
    form still plans one unpartitioned window, but over the
    distinct-VALUE frame only (bounded by value cardinality, e.g.
    latency ms or document length — NOT row count). The lower-value
    convention (no interpolation) is exact, deterministic, and
    restatable. Weight validation is folded into the plan
    (``raise_error`` on NULL/zero/negative weights — no eager
    pre-scan); pass ``validate_weights=False`` to skip it.

    For truly CONTINUOUS values (where |distinct values| ≈ corpus
    size and the window degenerates), pass ``quantize`` — a bucket
    width; values are floored to multiples of it before the per-value
    pre-aggregation, so the window is ≤ range/quantize rows and the
    reported percentile is the bucket lower edge (error < quantize,
    one-sided, consistent with the lower-value convention).

    Output: *keys, p_<percent> per requested p.
    """
    from pyspark.sql import Window

    keys = key_cols or []
    if quantize is not None:
        df = df.withColumn(
            value_col,
            F.floor(F.col(value_col) / F.lit(quantize)) * F.lit(quantize),
        )
    wc = F.col(weight_col)
    if validate_weights:
        wc = F.when(wc > 0, wc).otherwise(
            F.raise_error(
                F.lit(
                    "weighted_percentile requires strictly positive"
                    " non-NULL weights"
                )
            )
        )
    per_val = df.groupBy(*keys, value_col).agg(F.sum(wc).alias("__w"))
    part = Window.partitionBy(*keys) if keys else Window.partitionBy()
    w = part.orderBy(F.col(value_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = part.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = per_val.withColumn("__cum", F.sum("__w").over(w)).withColumn(
        "__tot", F.sum("__w").over(total)
    )
    aggs = []
    for p in ps:
        name = f"p_{str(p).replace('.', '_')}"
        aggs.append(
            F.min(
                F.when(
                    F.col("__cum") >= p * F.col("__tot"), F.col(value_col)
                )
            ).alias(name)
        )
    return ranked.groupBy(*keys).agg(*aggs)


def lorenz_points(
    df: DataFrame,
    group_col: str,
    weight_col: str | None = None,
    k: int = 10,
) -> DataFrame:
    """Lorenz/Pareto curve points: groups sorted by descending mass,
    each with its share and CUMULATIVE share — "the top 3 sources are
    71% of the corpus" as data, the drill-down companion to
    :func:`concentration_report`'s single-row summary.

    Group aggregate → one ordered window over the group-cardinality
    frame. Output: (rank, group, mass, share, cum_share), rank 1..k.
    """
    from pyspark.sql import Window

    wcol = F.col(weight_col) if weight_col else F.lit(1)
    totals = df.groupBy(F.col(group_col).alias("group")).agg(
        F.sum(wcol).cast("double").alias("mass")
    )
    order = Window.orderBy(F.desc("mass"), F.asc("group"))
    full = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run = Window.orderBy(F.desc("mass"), F.asc("group")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        totals.withColumn("rank", F.row_number().over(order))
        .withColumn("share", F.col("mass") / F.sum("mass").over(full))
        .withColumn("cum_share", F.sum("mass").over(run) / F.sum("mass").over(full))
        .filter(F.col("rank") <= k)
        .select("rank", "group", "mass", "share", "cum_share")
    )


def cuped_adjust(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): adjust an
    experiment metric with a pre-experiment covariate, y' = y −
    θ·(x − x̄) where θ = cov(x, y)/var(x) — the standard trick that
    cuts A/B test variance by the covariate's R² without biasing the
    treatment contrast.

    θ and x̄ come from ONE moment aggregate per key (covar_samp /
    var_samp are mergeable map-side partials); the K-row result
    broadcasts back onto the fact table — no second shuffle of the
    data. Zero-variance covariates yield θ=0 (no adjustment) instead
    of a NULL-poisoned metric.

    Output: input columns + theta, metric_adj.
    """
    keys = key_cols or []
    stats = df.groupBy(*keys).agg(
        F.covar_samp(covariate_col, metric_col).alias("__cov"),
        F.var_samp(covariate_col).alias("__var"),
        F.avg(covariate_col).alias("__xbar"),
    )
    theta = F.when(
        F.col("__var") > 0, F.col("__cov") / F.col("__var")
    ).otherwise(F.lit(0.0))
    stats = stats.select(*keys, theta.alias("theta"), "__xbar")
    joined = (
        df.join(F.broadcast(stats), keys) if keys else df.crossJoin(F.broadcast(stats))
    )
    return joined.withColumn(
        "metric_adj",
        F.col(metric_col)
        - F.col("theta") * (F.col(covariate_col) - F.col("__xbar")),
    ).drop("__xbar")


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's κ inter-annotator agreement: (p_o − p_e)/(1 − p_e),
    where p_o is observed agreement and p_e the chance agreement from
    the raters' marginal label distributions — the first number a
    labeling-pipeline owner checks before trusting human (or LLM-judge)
    annotations.

    One hash aggregate per (label_a, label_b) cell (label-cardinality
    rows), marginals derived from the SAME cell table — the corpus is
    scanned once; everything after is K² rows. Rows where either rater
    is NULL are excluded (unlabeled ≠ disagreement). Perfect chance
    agreement (p_e = 1, degenerate single-label case) yields NULL κ.

    Output: 1 row — (kappa, p_observed, p_expected, n).
    """
    cells = (
        df.filter(
            F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
        )
        .groupBy(
            F.col(rater_a_col).alias("__la"), F.col(rater_b_col).alias("__lb")
        )
        .agg(F.count("*").alias("__n"))
    )
    n = cells.agg(F.sum("__n").alias("n"))
    po = cells.filter(F.col("__la") == F.col("__lb")).agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("__agree")
    )
    ma = cells.groupBy("__la").agg(F.sum("__n").alias("__na"))
    mb = cells.groupBy("__lb").agg(F.sum("__n").alias("__nb"))
    pe = (
        ma.join(mb, ma["__la"] == mb["__lb"])
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__pe_num"))
    )
    out = (
        n.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe))
        .select(
            "n",
            (F.col("__agree") / F.col("n")).alias("p_observed"),
            (
                F.coalesce(F.col("__pe_num"), F.lit(0))
                / (F.col("n") * F.col("n"))
            ).alias("p_expected"),
        )
    )
    kappa = F.when(
        F.col("p_expected") < 1.0,
        (F.col("p_observed") - F.col("p_expected"))
        / (1.0 - F.col("p_expected")),
    )
    return out.select(
        kappa.alias("kappa"), "p_observed", "p_expected", "n"
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + expected-calibration-error terms for a
    probabilistic classifier: scores in [0, 1] bucketed into ``bins``
    equal-width bins; per bin the mean predicted probability, the
    empirical positive rate, the count, and the bin's ECE contribution
    |acc − conf|·(n_bin/n) — sum the last column for ECE.

    One hash aggregate (bin-cardinality output) + a 1-row broadcast
    for the total; NULL scores/labels excluded. Scores exactly 1.0
    fold into the top bin.

    Output: (bin, bin_lo, bin_hi, n, mean_score, pos_rate, ece_term),
    one row per NON-EMPTY bin.
    """
    lab = F.col(label_col).cast("double")
    src = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    b = F.least(
        F.floor(F.col(score_col) * bins).cast("int"), F.lit(bins - 1)
    )
    per = src.groupBy(b.alias("bin")).agg(
        F.count("*").alias("n"),
        F.avg(score_col).alias("mean_score"),
        F.avg(lab).alias("pos_rate"),
    )
    total = per.agg(F.sum("n").alias("__total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "bin",
            (F.col("bin").cast("double") / bins).alias("bin_lo"),
            ((F.col("bin") + 1).cast("double") / bins).alias("bin_hi"),
            "n",
            "mean_score",
            "pos_rate",
            (
                F.abs(F.col("pos_rate") - F.col("mean_score"))
                * F.col("n")
                / F.col("__total")
            ).alias("ece_term"),
        )
    )


def frequency_sketch_topk(
    df: DataFrame,
    item_col: str,
    k: int = 20,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 1,
) -> DataFrame:
    """Heavy hitters two ways in one pass pattern: exact top-k by hash
    aggregate PLUS a Count-Min-Sketch estimate column for each of those
    items — the side-by-side a pipeline owner uses to decide whether
    the sketch tier (mergeable, fixed ~(e/eps)·ln(1/δ)·4 bytes
    regardless of cardinality) can replace the exact aggregate in a
    streaming/incremental setting.

    The sketch is Spark's JVM-native ``count_min_sketch`` aggregate
    (map-side mergeable partials, one 1-row broadcast); estimates are
    read driver-side from the sketch's own API (K values, not data).
    Estimate ≥ true count always (CMS overcounts only, by ≤ eps·N at
    the given confidence).

    Output: (item, n, n_est, rank) — exact counts, sketch estimates.
    """
    from pyspark.sql import Window

    counts = df.filter(F.col(item_col).isNotNull()).groupBy(
        F.col(item_col).alias("item")
    ).agg(F.count("*").alias("n"))
    top = (
        counts.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n"), F.asc("item"))),
        )
        .filter(F.col("rank") <= k)
    )
    sk_row = (
        df.filter(F.col(item_col).isNotNull())
        .agg(
            F.count_min_sketch(
                F.col(item_col).cast("string"),
                F.lit(float(eps)),
                F.lit(float(confidence)),
                F.lit(seed),
            ).alias("sk")
        )
        .collect()[0]
    )
    # K-row driver-side estimate lookup (the sketch is one binary blob;
    # the DATA was aggregated distributed — this collect moves ~KB)
    spark = df.sparkSession
    item_type = df.schema[item_col].dataType.simpleString()
    if sk_row["sk"] is None:
        # empty / all-NULL input: count_min_sketch aggregates to NULL
        return local_rows_df(
            spark, [], f"item {item_type}, n bigint, n_est bigint, rank int"
        )
    sketch = _cms_parse(bytes(sk_row["sk"]))
    # estimate keys come from the SAME cast('string') rendering the
    # sketch was built over — Python str() diverges for non-string
    # item types (booleans, floats, decimals)
    items = [
        (r["item"], r["__s"])
        for r in top.select(
            "item", F.col("item").cast("string").alias("__s")
        ).collect()
    ]
    est = [(it, _cms_estimate(sketch, s)) for it, s in items]
    est_df = local_rows_df(spark, est, f"item {item_type}, n_est long")
    return top.join(F.broadcast(est_df), "item").select(
        "item", "n", "n_est", "rank"
    )


def _cms_parse(blob: bytes):
    """Parse Spark's CountMinSketch serialized form (stream version 1:
    int version, long totalCount, int depth, int width, long[depth]
    hashA, long[depth][width] table — all big-endian, the format of
    org.apache.spark.util.sketch.CountMinSketchImpl.writeTo)."""
    import struct

    version, total, depth, width = struct.unpack_from(">iqii", blob, 0)
    if version != 1:
        raise ValueError(f"unexpected CountMinSketch version {version}")
    off = 4 + 8 + 4 + 4
    hash_a = struct.unpack_from(f">{depth}q", blob, off)
    off += depth * 8
    table = []
    for _ in range(depth):
        table.append(struct.unpack_from(f">{width}q", blob, off))
        off += width * 8
    return {"depth": depth, "width": width, "hash_a": hash_a, "table": table}


def _cms_estimate(sketch, item: str) -> int:
    """CountMinSketchImpl.estimateCount for string items, restated from
    the Apache Spark sketch module's documented scheme: two
    Murmur3_x86_32 passes over the UTF-8 bytes (seed 0, then seed =
    first hash), bucket_i = |(h1 + i·h2) mod width| in wrapping 32-bit
    arithmetic, min over rows — so estimates can be read driver-side
    without a JVM round-trip per item."""
    data = item.encode("utf-8")
    h1 = _murmur3_32(data, 0)
    h2 = _murmur3_32(data, h1)
    depth, width = sketch["depth"], sketch["width"]
    best = None
    for i in range(depth):
        combined = _i32(h1 + i * h2)
        # Java: Math.abs(combined % width) — truncating division, so
        # |a % width| == |a| % width for positive width
        pos = abs(combined) % width
        v = sketch["table"][i][pos]
        best = v if best is None else min(best, v)
    return int(best or 0)


def _i32(x: int) -> int:
    """Wrap to Java signed-int semantics."""
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x >= 1 << 31 else x


def _murmur3_32(data: bytes, seed: int) -> int:
    """Murmur3 x86 32-bit as Spark's sketch module computes it for byte
    payloads (``hashUnsafeBytes``): 4-byte little-endian words through
    the standard rounds, then each TAIL byte — sign-extended — gets a
    FULL mixK1+mixH1 round (unlike the reference murmur3 tail), and
    fmix over the total length. Returns Java signed int."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    rounded = n - (n % 4)

    def mix(h, k):
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        return (h * 5 + 0xE6546B64) & 0xFFFFFFFF

    for i in range(0, rounded, 4):
        h = mix(h, int.from_bytes(data[i : i + 4], "little"))
    for i in range(rounded, n):
        b = data[i]
        if b >= 128:
            b -= 256  # Java bytes are signed; sign-extend before mixing
        h = mix(h, b & 0xFFFFFFFF)
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return _i32(h)


def distinct_sketch_rollup(
    df: DataFrame,
    group_col: str,
    item_col: str,
    lg_config_k: int = 14,
) -> DataFrame:
    """Mergeable distinct counting (Apache DataSketches HLL, JVM-native
    ``hll_sketch_agg``): one sketch per group PLUS the union-of-sketches
    total — the pattern that lets a 100 TB pipeline maintain per-day /
    per-source distinct counts incrementally and roll them up WITHOUT
    re-scanning history (sketches union in K·1.5 KB, exact distincts
    don't merge at all).

    One hash aggregate to per-group sketches (map-side mergeable
    partials), one union aggregate over the K-row sketch frame. Exact
    per-group counts are computed alongside so callers can audit the
    estimate error on their own data.

    Output: one row per group — (group, n_exact, n_est, rel_err) —
    plus a final ``__TOTAL__`` row whose estimate comes from the sketch
    UNION (never from re-aggregating raw data).
    """
    per = df.groupBy(F.col(group_col).cast("string").alias("group")).agg(
        F.hll_sketch_agg(F.col(item_col).cast("string"), F.lit(lg_config_k)).alias(
            "__sk"
        ),
        F.count_distinct(item_col).alias("n_exact"),
    )
    # K-row frame referenced by BOTH the per-group select and the union
    # aggregate — lazy lineage cut so the raw-data aggregate runs once
    per = per.localCheckpoint(eager=False)
    est = F.hll_sketch_estimate("__sk").alias("n_est")
    groups = per.select("group", "n_exact", est)
    total = (
        per.agg(F.hll_union_agg("__sk").alias("__sk"))
        .crossJoin(
            F.broadcast(
                df.agg(F.count_distinct(item_col).alias("n_exact"))
            )
        )
        .select(
            F.lit("__TOTAL__").alias("group"),
            "n_exact",
            F.hll_sketch_estimate("__sk").alias("n_est"),
        )
    )
    out = groups.unionByName(total)
    return out.withColumn(
        "rel_err",
        F.abs(F.col("n_est") - F.col("n_exact")) / F.greatest(F.col("n_exact"), F.lit(1)),
    )


def attribution(
    events: DataFrame,
    touch_pred: Column,
    conversion_pred: Column,
    model: str = "last_touch",
    user_col: str = "user_id",
    ts_col: str = "ts",
    channel_col: str = "event_type",
    lookback: str = "7 days",
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Marketing/channel attribution: credit each conversion to the
    touch event(s) that preceded it.

    Models:
    - ``last_touch`` / ``first_touch`` — the single most recent /
      earliest touch strictly before the conversion. ONE window shuffle
      keyed by user (running last/first over the user's time order) —
      no pair join, scale-clean at any touch density.
    - ``linear`` — every touch within ``lookback`` before the
      conversion shares 1/n credit. This genuinely needs the
      (conversion, touch) pairs; the join is BOUNDED by the lookback
      interval (the standard attribution-window practice), so per-user
      fanout is touches-per-lookback, never all history. At 100 TB
      route it through the bucketed interval join
      (operators/joins.py::interval_join_bucketed) — same predicate.

    Conversions with no qualifying touch credit the NULL channel
    (= "direct"). Output: (channel, conversions, credit) — integer
    conversion count and fractional credit (equal for last/first).
    """
    from pyspark.sql import Window

    from parquet_on_fhir_spark.operators.joins import _interval_seconds

    flagged = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(f"__tie_{c}") for c in (tie_cols or [])],
        F.col(channel_col).alias("__ch"),
        touch_pred.alias("__touch"),
        conversion_pred.alias("__conv"),
    ).filter(F.col("__touch") | F.col("__conv"))
    order = [F.col("__ts")] + [F.col(f"__tie_{c}") for c in (tie_cols or [])]
    if model in ("last_touch", "first_touch"):
        w = Window.partitionBy("__u").orderBy(*order).rowsBetween(
            Window.unboundedPreceding, -1
        )
        touch_ch = F.when(F.col("__touch"), F.col("__ch"))
        pick = (
            F.last(touch_ch, ignorenulls=True).over(w)
            if model == "last_touch"
            else F.first(touch_ch, ignorenulls=True).over(w)
        )
        credited = flagged.withColumn("__credit_ch", pick).filter(
            F.col("__conv")
        )
        return credited.groupBy(
            F.col("__credit_ch").alias("channel")
        ).agg(
            F.count("*").alias("conversions"),
            F.count("*").cast("double").alias("credit"),
        )
    if model != "linear":
        raise ValueError(f"unknown attribution model {model!r}")
    lb = _interval_seconds(lookback)
    epoch = lambda c: F.col(c).cast("timestamp").cast("long")  # noqa: E731
    conv = flagged.filter(F.col("__conv")).select(
        "__u", F.col("__ts").alias("__cts")
    )
    touch = flagged.filter(F.col("__touch")).select(
        "__u", F.col("__ts").alias("__tts"), "__ch"
    )
    pairs = conv.join(touch, "__u").filter(
        (F.col("__tts") < F.col("__cts"))
        & (epoch("__tts") >= epoch("__cts") - lb)
    )
    # referenced by per-channel counts, per-conversion totals AND the
    # orphan anti-join — lazy lineage cut computes the bounded pair
    # join once instead of three times
    pairs = pairs.localCheckpoint(eager=False)
    per_conv = pairs.groupBy("__u", "__cts", "__ch").agg(
        F.count("*").alias("__n_ch")
    )
    tot = pairs.groupBy("__u", "__cts").agg(F.count("*").alias("__n_tot"))
    shared = per_conv.join(tot, ["__u", "__cts"]).withColumn(
        "__credit", F.col("__n_ch") / F.col("__n_tot")
    )
    credited = shared.groupBy(F.col("__ch").alias("channel")).agg(
        F.sum("__credit").alias("credit")
    )
    # conversions with zero in-window touches -> NULL channel
    orphan = (
        conv.join(
            tot.select("__u", "__cts"), ["__u", "__cts"], "left_anti"
        )
        .agg(F.count("*").alias("conversions"))
        .select(
            F.lit(None).cast("string").alias("channel"),
            "conversions",
            F.col("conversions").cast("double").alias("credit"),
        )
        .filter(F.col("conversions") > 0)
    )
    n_per_channel = shared.groupBy(F.col("__ch").alias("channel")).agg(
        F.count("*").alias("conversions")
    )
    return (
        credited.join(n_per_channel, "channel")
        .select("channel", "conversions", "credit")
        .unionByName(orphan)
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Differentially-private count release: per-group counts plus
    Laplace(1/ε) noise — the standard ε-DP mechanism for unit
    sensitivity — with the noise drawn from a HASH of (seed, group), so
    the release is deterministic, layout-independent, and restatable
    (u = md5-uniform in (−½, ½), noise = −(1/ε)·sign(u)·ln(1−2|u|)).

    One hash aggregate; the noise is a pure expression over the
    K-row group frame. NOTE the determinism trade-off, stated plainly:
    a hash-seeded release is reproducible (same seed → same noise,
    good for audited pipelines); publish each (seed, dataset) pair
    ONCE — re-releasing with fresh seeds composes ε like any repeated
    DP query.

    Output: *groups, n (true), n_noisy (double), epsilon.
    """
    from parquet_on_fhir_spark.operators.dedup import md5_60

    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    counts = df.groupBy(*group_cols).agg(F.count("*").alias("n"))
    key = F.concat_ws(
        ":", F.lit(f"dp{seed}"), *[F.col(c).cast("string") for c in group_cols]
    )
    u = md5_60(key) / F.lit(float(2**60)) - 0.5  # uniform (-0.5, 0.5)
    noise = (
        -F.lit(1.0 / epsilon)
        * F.signum(u)
        * F.log(1.0 - 2.0 * F.abs(u))
    )
    return counts.select(
        *group_cols,
        "n",
        (F.col("n") + noise).alias("n_noisy"),
        F.lit(float(epsilon)).alias("epsilon"),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: every
    equivalence class smaller than ``k`` is a re-identification risk
    (the first check before releasing microdata or training on
    user-level records).

    One hash aggregate to class sizes, one tiny summary aggregate.
    Output: 1 row — (n_rows, n_classes, min_class_size, k, n_violating_classes,
    n_risky_rows, k_anonymous).
    """
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("__size"))
    return classes.agg(
        F.sum("__size").alias("n_rows"),
        F.count("*").alias("n_classes"),
        F.min("__size").alias("min_class_size"),
        F.lit(k).alias("k"),
        F.sum((F.col("__size") < k).cast("int")).alias("n_violating_classes"),
        F.sum(F.when(F.col("__size") < k, F.col("__size")).otherwise(0)).alias(
            "n_risky_rows"
        ),
        (F.min("__size") >= k).alias("k_anonymous"),
    )


def transition_matrix(
    events: DataFrame,
    state_col: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition counts + probabilities between
    consecutive states of each user's event stream — the page-path /
    state-machine summary behind "where do users go after X".

    One window shuffle keyed by user (lag over the time order), one
    (from, to) hash aggregate (state-cardinality² rows), one
    marginal-normalizing window over THAT tiny frame. Row transitions
    never leave their user partition before aggregation.

    Output: (from_state, to_state, n, p) with Σ p = 1 per from_state.
    """
    from pyspark.sql import Window

    order = [ts_col, *(tie_cols or [])]
    w = Window.partitionBy(user_col).orderBy(*order)
    pairs = (
        events.withColumn("__from", F.lag(F.col(state_col)).over(w))
        .filter(F.col("__from").isNotNull())
        .groupBy(
            F.col("__from").alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .agg(F.count("*").alias("n"))
    )
    norm = Window.partitionBy("from_state")
    return pairs.withColumn("p", F.col("n") / F.sum("n").over(norm))


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    grid: int = 1000,
    exact: bool = True,
) -> DataFrame:
    """Map every group's values onto the POOLED distribution — the
    cross-source score-calibration step (a 0.9 quality score from a
    lenient scorer and a 0.6 from a strict one both land at their
    pooled percentile, making thresholds comparable across sources).

    Method: per-group ``percent_rank`` (ONE window shuffle keyed by the
    group — never a global window), then linear interpolation into a
    ``grid``-point pooled quantile table computed as one 1-row
    aggregate and broadcast. Grid resolution bounds the approximation;
    ``exact=False`` swaps the pooled grid to approx_percentile for the
    100 TB tier.

    Output: input columns + ``<value>_qnorm``.
    """
    from pyspark.sql import Window

    q_of = F.percentile if exact else F.approx_percentile
    cuts = [i / (grid - 1) for i in range(grid)]
    pooled = df.agg(
        q_of(F.col(value_col), F.array(*[F.lit(c) for c in cuts])).alias(
            "__grid"
        )
    )
    w = Window.partitionBy(*key_cols).orderBy(F.col(value_col))
    ranked = df.withColumn("__pr", F.percent_rank().over(w))
    pos = F.col("__pr") * (grid - 1)
    lo = F.floor(pos).cast("int")
    hi = F.least(lo + 1, F.lit(grid - 1))
    frac = pos - lo
    g = F.col("__grid")
    interp = g[lo] + frac * (g[hi] - g[lo])
    return (
        ranked.crossJoin(F.broadcast(pooled))
        .withColumn(f"{value_col}_qnorm", interp)
        .drop("__pr", "__grid")
    )


def linear_regression_fit(
    df: DataFrame,
    feature_cols: list[str],
    target_col: str,
) -> DataFrame:
    """Multi-feature ordinary least squares via the normal equations:
    ALL second moments (XᵀX, Xᵀy, yᵀy with an intercept column) come
    from ONE aggregate pass — (p+1)² scalars, mergeable map-side — and
    the (p+1)×(p+1) solve runs driver-side in numpy (the same
    moments-then-tiny-solve split as PCA in operators/similarity.py).
    R² falls out of the same moments (SSR = yᵀy − 2βᵀXᵀy + βᵀXᵀXβ),
    so the data is scanned exactly once.

    Output: (feature, coefficient) rows — features, then
    ``__intercept__`` — plus a ``__r2__`` stats row.
    """
    import numpy as np

    p = len(feature_cols)
    cols = [F.col(c).cast("double") for c in feature_cols] + [F.lit(1.0)]
    names = list(feature_cols) + ["__intercept__"]
    aggs = []
    for i in range(p + 1):
        for j in range(i, p + 1):
            aggs.append(F.sum(cols[i] * cols[j]).alias(f"xx_{i}_{j}"))
        aggs.append(
            F.sum(cols[i] * F.col(target_col).cast("double")).alias(f"xy_{i}")
        )
    aggs.append(
        F.sum(F.col(target_col).cast("double") ** 2).alias("yy")
    )
    row = df.agg(*aggs).collect()[0]
    if row[f"xx_{p}_{p}"] is None:
        # empty / all-NULL input: sums aggregate to NULL and the numpy
        # solve below would die on a TypeError instead of saying why
        raise ValueError(
            "linear_regression_fit requires at least one non-NULL row"
        )
    xtx = np.zeros((p + 1, p + 1))
    xty = np.zeros(p + 1)
    for i in range(p + 1):
        for j in range(i, p + 1):
            xtx[i, j] = xtx[j, i] = row[f"xx_{i}_{j}"]
        xty[i] = row[f"xy_{i}"]
    beta = np.linalg.solve(xtx, xty)
    n = xtx[p, p]  # sum of 1*1
    ybar = xty[p] / n
    ss_tot = row["yy"] - n * ybar * ybar
    ss_res = row["yy"] - 2 * beta @ xty + beta @ xtx @ beta
    r2 = float(1.0 - ss_res / ss_tot) if ss_tot > 0 else float("nan")
    out = [(name, float(b)) for name, b in zip(names, beta)]
    out.append(("__r2__", r2))
    return local_rows_df(df.sparkSession, out, "feature string, coefficient double")


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ — the
    additive sibling of :func:`kaplan_meier` (same risk-set machinery,
    a running SUM instead of a product-limit), preferred when hazard
    RATES are the quantity of interest or deaths are sparse.

    Identical plan shape to kaplan_meier: one hash aggregate to
    distinct event times, two running sums over the per-key ordered
    window (time-cardinality frame when keyless).

    Output: (keys, t, n_risk, n_events, cum_hazard).
    """
    keys = key_cols or []
    per_t = df.groupBy(*keys, F.col(duration_col).alias("t")).agg(
        F.sum(F.col(event_col).cast("int")).alias("n_events"),
        F.sum(1 - F.col(event_col).cast("int")).alias("n_censored"),
    )
    from pyspark.sql import Window

    total = Window.partitionBy(*keys) if keys else Window.partitionBy()
    upto_prev = total.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    upto_now = total.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    left_before = F.coalesce(
        F.sum(F.col("n_events") + F.col("n_censored")).over(upto_prev),
        F.lit(0),
    )
    n_risk = (
        F.sum(F.col("n_events") + F.col("n_censored")).over(
            total.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        - left_before
    )
    with_risk = per_t.withColumn("n_risk", n_risk)
    hazard = F.sum(F.col("n_events") / F.col("n_risk")).over(upto_now)
    return with_risk.withColumn("cum_hazard", hazard).select(
        *keys, "t", "n_risk", "n_events", "cum_hazard"
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    q: float = 0.05,
    tie_cols: list[str] | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate correction over a table
    of test p-values: reject every hypothesis with p ≤ p_(k*) where k*
    is the largest rank k with p_(k) ≤ k·q/m — the multiple-testing
    gate for metric sweeps and feature screens.

    The ranking window runs over the TEST table (one row per
    hypothesis — experiment-sized, bounded like the zipf/vocab frames,
    never raw data). Also emits the BH-adjusted p-value
    (min over j≥k of m·p_(j)/j, monotone-corrected via a running min
    from the top); ``rejected`` via the k* step-up rule is exactly
    ``p_adj ≤ q``. ``key_cols`` (r11) partitions every window so each
    key runs its own independent BH family (per-segment drift sweeps)
    — the scale path when hypothesis families multiply.

    Output: input columns + rank, p_adj, rejected.
    """
    from pyspark.sql import Window

    if not 0 < q < 1:
        raise ValueError("q must be in (0, 1)")
    keys = list(key_cols or [])
    m_w = Window.partitionBy(*keys)
    # deterministic rank: break p ties with tie_cols (pass the test-id
    # column) — a physical-order tiebreak would make `rank` layout-
    # dependent even though p_adj/rejected are tie-invariant
    ties = [F.col(c) for c in (tie_cols or [])]
    order = Window.partitionBy(*keys).orderBy(
        F.col(p_col).asc(), *ties, F.monotonically_increasing_id()
    )
    m = F.count("*").over(m_w)
    ranked = df.filter(F.col(p_col).isNotNull()).withColumn(
        "rank", F.row_number().over(order)
    ).withColumn("__m", m)
    raw_adj = F.col(p_col) * F.col("__m") / F.col("rank")
    from_top = (
        Window.partitionBy(*keys)
        .orderBy(F.col("rank").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    adj = F.least(F.min(raw_adj).over(from_top), F.lit(1.0))
    passed = F.when(
        F.col(p_col) <= F.col("rank") * q / F.col("__m"), F.col("rank")
    )
    kstar = F.max(passed).over(
        Window.partitionBy(*keys).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        ranked.withColumn("p_adj", adj)
        .withColumn("rejected", F.coalesce(F.col("rank") <= kstar, F.lit(False)))
        .drop("__m")
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns:
    I(A;B) = Σ p(a,b)·ln(p(a,b)/(p(a)p(b))) from the contingency
    table — the feature-screening companion to :func:`chi2_crosstab`
    (same one-scan cell aggregate; marginals derived from the cells).
    Also emits the normalized variant I/min(H(A), H(B)) in [0,1].

    Output: 1 row — (mi, nmi, h_a, h_b, n).
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count("*").alias("__c"))
    )
    tot = cells.agg(F.sum("__c").alias("__n"))
    ma = cells.groupBy("__a").agg(F.sum("__c").alias("__na"))
    mb = cells.groupBy("__b").agg(F.sum("__c").alias("__nb"))
    joined = (
        cells.join(F.broadcast(ma), "__a")
        .join(F.broadcast(mb), "__b")
        .crossJoin(F.broadcast(tot))
    )
    term = (F.col("__c") / F.col("__n")) * F.log(
        (F.col("__c") * F.col("__n"))
        / (F.col("__na") * F.col("__nb"))
    )
    mi = joined.agg(F.sum(term).alias("mi")).crossJoin(F.broadcast(tot))
    ent = lambda marg, cnt: marg.crossJoin(F.broadcast(tot)).agg(  # noqa: E731
        (
            F.log(F.first("__n"))
            - F.sum(F.col(cnt) * F.log(cnt)) / F.first("__n")
        ).alias("h")
    )
    ha = ent(ma, "__na").withColumnRenamed("h", "h_a")
    hb = ent(mb, "__nb").withColumnRenamed("h", "h_b")
    return (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            "mi",
            (F.col("mi") / F.least("h_a", "h_b")).alias("nmi"),
            "h_a",
            "h_b",
            F.col("__n").alias("n"),
        )
    )


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    group_a,
    group_b,
    term_dp: int | None = None,
) -> DataFrame:
    """Two-sample log-rank test — the survival A/B primitive that goes
    with :func:`kaplan_meier` / :func:`nelson_aalen`: does arm A's
    time-to-event distribution differ from arm B's, with censoring
    handled exactly (censored subjects leave the risk set, contribute
    no event)?

    At each distinct event time t the 2×2 hypergeometric comparison
    contributes, for arm A: expected events e₁(t) = d(t)·n₁(t)/n(t)
    and variance v(t) = d(t)·n₁·n₂·(n−d) / (n²·(n−1)); the statistic
    is χ² = (O₁−E₁)²/V with 1 dof.

    Plan (the kaplan_meier scale shape): ONE hash aggregate collapses
    the corpus to (t, d₁, c₁, d₂, c₂) — distinct-time-cardinality rows
    — then per-arm risk sets are running sums over that frame and the
    three totals are a single final aggregate. The ordered window runs
    over distinct times, never the corpus; nothing is collected.

    Numeric convention: e₁(t)/v(t) are rationals evaluated in double
    with a fixed association order (int products first, one division);
    ``term_dp`` (repo convention 12) quantizes each term before the
    running sum so cross-engine libm/association noise cannot
    accumulate — see suite/common.py.

    Output: 1 row — (n_a, n_b, o_a, e_a, var_a, chi2).
    """
    from pyspark.sql import Window

    is_a = F.col(group_col) == F.lit(group_a)
    ev = F.col(event_col).cast("int")
    per_t = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(duration_col).isNotNull())
        .groupBy(F.col(duration_col).alias("t"))
        .agg(
            F.sum(F.when(is_a, ev).otherwise(0)).alias("d1"),
            F.sum(F.when(is_a, 1 - ev).otherwise(0)).alias("c1"),
            F.sum(F.when(~is_a, ev).otherwise(0)).alias("d2"),
            F.sum(F.when(~is_a, 1 - ev).otherwise(0)).alias("c2"),
        )
    )
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    before = (
        Window.partitionBy()
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    left1 = F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(before), F.lit(0))
    left2 = F.coalesce(F.sum(F.col("d2") + F.col("c2")).over(before), F.lit(0))
    risk = per_t.withColumn(
        "n1", F.sum(F.col("d1") + F.col("c1")).over(full) - left1
    ).withColumn("n2", F.sum(F.col("d2") + F.col("c2")).over(full) - left2)
    n = F.col("n1") + F.col("n2")
    d = F.col("d1") + F.col("d2")
    # Fixed association order, mirrored verbatim in SQL oracles:
    # int products stay exact, ONE double division per term.
    e1_t = F.when(n > 0, (d * F.col("n1")).cast("double") / n.cast("double"))
    v_t = F.when(
        n > 1,
        (
            d.cast("double")
            * (n - d).cast("double")
            * F.col("n1").cast("double")
            * F.col("n2").cast("double")
        )
        / ((n * n).cast("double") * (n - F.lit(1)).cast("double")),
    )
    if term_dp is not None:
        e1_t = F.round(e1_t, term_dp)
        v_t = F.round(v_t, term_dp)
    terms = risk.select(
        "d1", "c1", "d2", "c2",
        e1_t.alias("e1_t"),
        v_t.alias("v_t"),
    )
    agg = terms.agg(
        F.sum(F.col("d1") + F.col("c1")).alias("n_a"),
        F.sum(F.col("d2") + F.col("c2")).alias("n_b"),
        F.sum("d1").alias("o_a"),
        F.sum("e1_t").alias("e_a"),
        F.sum("v_t").alias("var_a"),
    )
    chi2 = F.when(
        F.col("var_a") > 0,
        (F.col("o_a") - F.col("e_a"))
        * (F.col("o_a") - F.col("e_a"))
        / F.col("var_a"),
    )
    return agg.select("n_a", "n_b", "o_a", "e_a", "var_a", chi2.alias("chi2"))


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    quantize: float | None = None,
    term_dp: int | None = None,
) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-interpolation convention sklearn uses): AP = Σᵢ ΔRᵢ·Pᵢ over
    distinct score thresholds descending, Pᵢ = cumpos/cumcnt and
    ΔRᵢ = posᵢ/n⁺ — the ranking metric that complements
    :func:`binary_auc` when positives are rare (class-imbalanced
    retrieval/dedup/quality classifiers), since AUC saturates there.

    Ties share one threshold (the tie group enters the curve as a
    block), which is exactly the distinct-score pre-aggregation: the
    corpus collapses to (score, cnt, pos) in one hash aggregate, the
    ordered window runs over |distinct scores| rows, and AP is one
    final sum — the binary_auc scale shape, including the ``quantize``
    bucket-width escape hatch for truly continuous scores (window ≤
    range/quantize rows at an AP error bounded by the bucket mass).

    Per-term double work is ONE int product + ONE division in a fixed
    order; ``term_dp`` quantizes each term before the sum (repo
    cross-engine convention, suite/common.py). NULL scores carry no
    rank: excluded up front.

    Output: 1 row — (ap, n_pos, n).
    """
    from pyspark.sql import Window

    lab = F.col(label_col).cast("int")
    score = F.col(score_col)
    if quantize is not None:
        score = F.round(score / F.lit(quantize)) * F.lit(quantize)
    per_score = (
        df.filter(score.isNotNull())
        .groupBy(score.alias("__score"))
        .agg(F.count("*").alias("__cnt"), F.sum(lab).alias("__pos"))
    )
    w = Window.orderBy(F.col("__score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_score.select(
        "__pos",
        F.sum("__cnt").over(w).alias("__cumcnt"),
        F.sum("__pos").over(w).alias("__cumpos"),
    )
    term = (F.col("__pos") * F.col("__cumpos")).cast("double") / F.col(
        "__cumcnt"
    ).cast("double")
    if term_dp is not None:
        term = F.round(term, term_dp)
    agg = cum.agg(
        F.sum(term).alias("__tsum"),
        F.sum("__pos").alias("n_pos"),
        F.max("__cumcnt").alias("n"),
    )
    ap = F.when(
        F.col("n_pos") > 0, F.col("__tsum") / F.col("n_pos").cast("double")
    )
    return agg.select(ap.alias("ap"), "n_pos", "n")


def ipw_ate(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    strata_cols: list[str],
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect with a
    stratified propensity estimate — the observational-causal
    counterpart of :func:`welch_t_test` (which assumes randomized
    arms) and :func:`cuped_adjust` (which assumes one): within each
    stratum the propensity is the observed treated share
    p̂ₛ = n_t/n, and the Horvitz-Thompson estimate is
    ATE = (1/N)·Σᵢ[TᵢYᵢ/p̂ − (1−Tᵢ)Yᵢ/(1−p̂)].

    Because p̂ is constant within a stratum, the row-level weighted sum
    collapses algebraically to per-stratum terms: Σ_yₜ·n/n_t −
    Σ_y_c·n/(n−n_t) — so the whole estimator is ONE hash aggregate to
    the strata frame (K rows) plus one final aggregate; no per-row
    weights ever materialize and nothing is collected. Strata without
    overlap (p̂ ∈ {0,1} — positivity violated) are excluded, the
    standard practice, and reported via n_used vs n_units. NULL
    outcomes contribute zero (aggregate-skip semantics in both
    engines); rows with a NULL treatment flag carry no arm information
    and are excluded up front (they would otherwise inflate the
    control denominator without contributing outcome).

    Output: 1 row — (ate, n_units, n_used, n_treated, n_control);
    ate is NULL when no stratum overlaps.
    """
    if not strata_cols:
        raise ValueError("ipw_ate needs at least one stratum column")
    df = df.filter(F.col(treatment_col).isNotNull())
    T = F.col(treatment_col).cast("int")
    y = F.col(outcome_col)
    per_s = df.groupBy(*strata_cols).agg(
        F.count("*").alias("n"),
        F.sum(T).alias("n_t"),
        F.sum(F.when(T == 1, y)).alias("y_t"),
        F.sum(F.when(T == 0, y)).alias("y_c"),
    )
    # ONE conditional aggregate over the strata frame yields both the
    # overlap sums and the all-strata total — the per_s lineage (and
    # the corpus scan under it) is evaluated exactly once, no second
    # frame, no crossJoin.
    is_ov = (F.col("n_t") > 0) & (F.col("n_t") < F.col("n"))
    # fixed association order, mirrored in SQL oracles: double sum ×
    # double(n), ONE division per term
    t_term = (
        F.coalesce(F.col("y_t"), F.lit(0.0)) * F.col("n").cast("double")
    ) / F.col("n_t").cast("double")
    c_term = (
        F.coalesce(F.col("y_c"), F.lit(0.0)) * F.col("n").cast("double")
    ) / (F.col("n") - F.col("n_t")).cast("double")
    agg = per_s.agg(
        F.sum(F.when(is_ov, t_term)).alias("__t"),
        F.sum(F.when(is_ov, c_term)).alias("__c"),
        F.sum(F.when(is_ov, F.col("n"))).alias("n_used"),
        F.sum(F.when(is_ov, F.col("n_t"))).alias("n_treated"),
        F.sum(F.when(is_ov, F.col("n") - F.col("n_t"))).alias("n_control"),
        F.sum("n").alias("n_units"),
    )
    ate = F.when(
        F.col("n_used") > 0,
        (F.col("__t") - F.col("__c")) / F.col("n_used").cast("double"),
    )
    return agg.select(
        ate.alias("ate"),
        F.coalesce("n_units", F.lit(0)).alias("n_units"),
        F.coalesce("n_used", F.lit(0)).alias("n_used"),
        F.coalesce("n_treated", F.lit(0)).alias("n_treated"),
        F.coalesce("n_control", F.lit(0)).alias("n_control"),
    )


def diff_in_differences(
    df: DataFrame,
    group_col: str,
    period_col: str,
    outcome_col: str,
    treated_value,
    control_value,
    pre_value,
    post_value,
) -> DataFrame:
    """Two-by-two difference-in-differences: the parallel-trends
    estimate (ȳ_treated,post − ȳ_treated,pre) − (ȳ_control,post −
    ȳ_control,pre) — the launch-evaluation primitive when treatment
    wasn't randomized but both cohorts are observed before and after.

    One hash aggregate to the 4-cell frame, conditional means pivoted
    by expression (no Spark pivot needed); rows outside the declared
    groups/periods are ignored, and a missing cell yields NULL did
    rather than a silent zero.

    Output: 1 row — (mean_treated_pre, mean_treated_post,
    mean_control_pre, mean_control_post, did, n).
    """
    g = F.col(group_col)
    is_post = F.col(period_col) == F.lit(post_value)
    is_t = g == F.lit(treated_value)
    cells = df.filter(
        g.isin([treated_value, control_value])
        & F.col(period_col).isin([pre_value, post_value])
    ).agg(
        F.avg(F.when(is_t & ~is_post, F.col(outcome_col))).alias(
            "mean_treated_pre"
        ),
        F.avg(F.when(is_t & is_post, F.col(outcome_col))).alias(
            "mean_treated_post"
        ),
        F.avg(F.when(~is_t & ~is_post, F.col(outcome_col))).alias(
            "mean_control_pre"
        ),
        F.avg(F.when(~is_t & is_post, F.col(outcome_col))).alias(
            "mean_control_post"
        ),
        F.count(outcome_col).alias("n"),
    )
    did = (F.col("mean_treated_post") - F.col("mean_treated_pre")) - (
        F.col("mean_control_post") - F.col("mean_control_pre")
    )
    return cells.select(
        "mean_treated_pre",
        "mean_treated_post",
        "mean_control_pre",
        "mean_control_post",
        did.alias("did"),
        "n",
    )


def restricted_mean_survival(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: float,
    term_dp: int | None = None,
) -> DataFrame:
    """Restricted mean survival time RMST(τ) = ∫₀^τ S(t)dt under the
    Kaplan-Meier step curve, plus the median survival time — the two
    scalar summaries every survival analysis reports next to the curve
    (RMST is the recommended effect measure when hazards aren't
    proportional and the log-rank premise breaks).

    Builds on :func:`kaplan_meier` (same distinct-time frame), then
    one lead() window turns the step curve into segments: RMST =
    min(t₁,τ)·1 + Σ_{tᵢ<τ} S(tᵢ)·(min(tᵢ₊₁,τ)−tᵢ). Median = first t
    with S(t) ≤ 0.5 (NULL when the curve never falls that far). Both
    windows run over the distinct-time frame, never the corpus.

    ``term_dp`` is forwarded to kaplan_meier AND applied to each S(tᵢ)
    before the segment product: survival is exp(Σ ln …) — a
    transcendental whose last ulp differs across libm builds — so the
    quantization pins every segment term cross-engine (repo
    convention, suite/common.py). Durations are assumed ≥ 0.

    Output: 1 row — (rmst, median_t, tau).
    """
    from pyspark.sql import Window

    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    km = kaplan_meier(df, duration_col, event_col, term_dp=term_dp)
    s = F.col("survival")
    if term_dp is not None:
        s = F.round(s, term_dp)
    w = Window.orderBy("t")
    seg = km.select(
        F.col("t").cast("double").alias("t"),
        s.alias("s"),
        F.lead(F.col("t").cast("double")).over(w).alias("next_t"),
    )
    contrib = F.when(
        F.col("t") < tau,
        F.col("s")
        * (F.least(F.coalesce("next_t", F.lit(tau)), F.lit(tau)) - F.col("t")),
    )
    agg = seg.agg(
        F.min("t").alias("__first_t"),
        F.sum(contrib).alias("__area"),
        F.min(F.when(F.col("s") <= 0.5, F.col("t"))).alias("median_t"),
    )
    # least() skips NULLs in both Spark and DuckDB, so an EMPTY cohort
    # would silently report rmst = tau; surface NULL instead (an empty
    # population has no survival curve to integrate)
    rmst = F.when(
        F.col("__first_t").isNotNull(),
        F.least(F.col("__first_t"), F.lit(tau))
        + F.coalesce(F.col("__area"), F.lit(0.0)),
    )
    return agg.select(
        rmst.alias("rmst"), "median_t", F.lit(float(tau)).alias("tau")
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    quantize: float | None = None,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test: the
    nonparametric sibling of :func:`welch_t_test` — does group A's
    value distribution stochastically dominate group B's? — with
    average ranks for ties, the tie-corrected normal-approximation
    variance, and no continuity correction (documented choice: the
    statistic stays an exact rational, so the cross-engine contract
    needs no half-step special case).

    Integer-exact formulation (the :func:`binary_auc` recipe — AUC is
    this same statistic normalized): doubled average ranks
    ``2·cum_before + cnt + 1`` are integers, so ``2·R_A`` folds in
    DECIMAL(38,0) with zero float accumulation; ``2·U_A = 2·R_A −
    n_A(n_A+1)`` and the z numerator ``2·U_A − n_A·n_B`` stay exact
    integers. The tie term ``T = Σ(t³−t)`` also folds in
    DECIMAL(38,0) (t=1e12 → 1e36 < 1e38). Exactly TWO double ops
    happen at the end: the variance expression and one division.

    100 TB plan: one hash aggregate collapses the corpus to the
    (value, cnt, cnt_a) distinct-value frame; the single ordered
    window runs over |distinct values| rows, never the corpus — the
    binary_auc/KM scale shape, INCLUDING the ``quantize`` bucket-width
    escape hatch: for a truly continuous metric the distinct-value
    frame is corpus-sized, so pass a width (e.g. 1e-4) to round values
    to multiples of it first — the window shrinks to ≤ range/quantize
    rows and the rank statistic moves by at most the mass rebucketed
    at bin edges (ties created there get average ranks, which the
    variance's tie term then accounts for). NULL values and rows
    outside the two groups are excluded up front.

    Output: 1 row — (n_a, n_b, u_a, z). u_a is exact (a half-integer);
    z is NULL when either group is empty or all values are tied
    (variance 0).
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    is_a = (g == group_a).cast("int")
    val = F.col(value_col)
    if quantize is not None:
        val = F.round(val / F.lit(quantize)) * F.lit(quantize)
    per_value = (
        df.filter(g.isin([group_a, group_b]) & val.isNotNull())
        .groupBy(val.alias("__v"))
        .agg(F.count("*").alias("__cnt"), F.sum(is_a).alias("__ca"))
    )
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_value.withColumn(
        "__rank2",
        2 * (F.sum("__cnt").over(w) - F.col("__cnt")) + F.col("__cnt") + 1,
    )
    dec = "decimal(38,0)"
    agg = ranked.agg(
        F.sum(F.col("__ca").cast(dec) * F.col("__rank2").cast(dec)).alias(
            "__r2a"
        ),
        F.sum("__ca").alias("n_a"),
        F.sum(F.col("__cnt") - F.col("__ca")).alias("n_b"),
        # Σ(t³−t) per distinct value, folded exactly
        F.sum(
            F.col("__cnt").cast(dec) * F.col("__cnt").cast(dec)
            * F.col("__cnt").cast(dec)
            - F.col("__cnt").cast(dec)
        ).alias("__ties"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u2 = F.col("__r2a") - na.cast(dec) * (na + 1).cast(dec)  # 2·U_A
    num2 = u2 - na.cast(dec) * nb.cast(dec)  # 2·(U_A − μ)
    var = (
        na.cast("double")
        * nb.cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("__ties").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    z = F.when(
        (na > 0) & (nb > 0) & (var > 0),
        num2.cast("double") / (2.0 * F.sqrt(var)),
    )
    return agg.select(
        "n_a",
        "n_b",
        (u2.cast("double") / 2.0).alias("u_a"),
        z.alias("z"),
    )


def spearman_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    quantize: float | None = None,
) -> DataFrame:
    """Spearman rank correlation ρ between two columns: Pearson over
    average ranks (the standard tie handling), the robust sibling of
    the moment-based ``corr`` — monotone association without the
    normality assumption.

    Exactness: DOUBLED average ranks (``2·cum_before + cnt + 1``, see
    :func:`binary_auc`) are integers and ρ is invariant under the ×2
    affine map, so ALL SIX moment sums (n, Σx, Σy, Σx², Σy², Σxy over
    doubled ranks) fold in DECIMAL(38,0) — order-independent and exact
    to n ~ 1e12 (Σrx·ry ≈ 4n³ ≈ 4e36 < 1e38). The final correlation
    is one fixed-order double expression over those exact sums, so the
    result is bit-stable across engines and partitionings.

    100 TB plan: each column collapses to its distinct-value rank
    frame via one hash aggregate + one frame-sized window (never the
    corpus); the corpus then equi-joins the two frames to pair
    per-row ranks (AQE broadcasts a small frame) and folds the six
    moments map-side. For truly CONTINUOUS columns the frames are
    corpus-sized — pass ``quantize`` (a bucket width applied to both
    columns before ranking) to bound them at ≤ range/quantize rows;
    bucketed ties get average ranks, moving ρ by at most the
    rebucketed edge mass (the binary_auc escape-hatch convention).
    Rows with a NULL in either column are excluded up front (no rank
    information).

    Output: 1 row — (rho, n). rho is NULL when n < 2 or either column
    is constant (zero rank variance).
    """
    from pyspark.sql import Window

    def q(c: Column) -> Column:
        if quantize is None:
            return c
        return F.round(c / F.lit(quantize)) * F.lit(quantize)

    base = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(q(F.col(x_col)).alias("__x"), q(F.col(y_col)).alias("__y"))

    def rank_frame(col: str, out: str) -> DataFrame:
        pv = base.groupBy(F.col(col).alias("__v")).agg(
            F.count("*").alias("__cnt")
        )
        w = Window.orderBy("__v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return pv.select(
            F.col("__v").alias(col),
            (
                2 * (F.sum("__cnt").over(w) - F.col("__cnt"))
                + F.col("__cnt")
                + 1
            ).alias(out),
        )

    paired = base.join(rank_frame("__x", "__rx"), "__x").join(
        rank_frame("__y", "__ry"), "__y"
    )
    dec = "decimal(38,0)"
    rx, ry = F.col("__rx").cast(dec), F.col("__ry").cast(dec)
    agg = paired.agg(
        F.count("*").alias("n"),
        F.sum(rx).alias("__sx"),
        F.sum(ry).alias("__sy"),
        F.sum(rx * rx).alias("__sxx"),
        F.sum(ry * ry).alias("__syy"),
        F.sum(rx * ry).alias("__sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    rho = F.when(
        (F.col("n") >= 2) & (vx > 0) & (vy > 0),
        (n * sxy - sx * sy) / F.sqrt(vx * vy),
    )
    return agg.select(rho.alias("rho"), "n")


def ndcg_at_k(
    df: DataFrame,
    group_col: str,
    score_col: str,
    rel_col: str,
    k: int,
    tiebreak_col: str,
    term_dp: int | None = None,
) -> DataFrame:
    """Per-group NDCG@k (normalized discounted cumulative gain,
    exponential-gain convention): DCG = Σ_{i≤k} (2^relᵢ − 1) /
    log₂(i+1) over the ranking induced by ``score_col`` descending
    (``tiebreak_col`` ascending makes tied scores deterministic —
    REQUIRED for a cross-engine contract), IDCG the same sum over the
    relevance-sorted ideal ranking, NDCG their ratio — the standard
    graded-relevance retrieval metric complementing the binary
    :func:`binary_auc` / :func:`average_precision` pair.

    Each log₂ term is quantized to ``term_dp`` decimals before the
    sum when set (the suite/common.py transcendental-sum convention —
    at most k terms per group, but the contract costs nothing).

    100 TB plan: two keyed windows (predicted + ideal order), both
    partitioned by group — rank truncation to k happens before the
    aggregate, so each group contributes ≤ 2k rows past its window;
    no global window, no corpus-sized state. NULL relevance counts as
    gain 0; NULL scores sort last (Spark default desc_nulls_last,
    mirrored in the oracle).

    Output: one row per group — (group, dcg, idcg, ndcg); ndcg NULL
    when the group has no positive gain (idcg = 0).
    """
    from pyspark.sql import Window

    gain = F.pow(F.lit(2.0), F.coalesce(F.col(rel_col), F.lit(0)).cast(
        "double"
    )) - 1.0
    pred = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(tiebreak_col).asc()
    )
    ideal = Window.partitionBy(group_col).orderBy(
        F.coalesce(F.col(rel_col), F.lit(0)).desc(),
        F.col(tiebreak_col).asc(),
    )
    ranked = df.select(
        F.col(group_col).alias("__g"),
        gain.alias("__gain"),
        F.row_number().over(pred).alias("__rp"),
        F.row_number().over(ideal).alias("__ri"),
    )

    def term(rank_col: str) -> Column:
        t_ = F.when(
            F.col(rank_col) <= k,
            F.col("__gain") / F.log2(F.col(rank_col).cast("double") + 1.0),
        ).otherwise(F.lit(0.0))
        return F.round(t_, term_dp) if term_dp is not None else t_

    agg = ranked.groupBy(F.col("__g").alias(group_col)).agg(
        F.sum(term("__rp")).alias("dcg"),
        F.sum(term("__ri")).alias("idcg"),
    )
    ndcg = F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
    return agg.select(group_col, "dcg", "idcg", ndcg.alias("ndcg"))


def mean_reciprocal_rank(
    df: DataFrame,
    group_col: str,
    score_col: str,
    rel_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Mean reciprocal rank: per group, the reciprocal of the first
    relevant item's rank in the ``score_col``-descending order
    (``tiebreak_col`` ascending for deterministic ties), 0 when the
    group has no relevant item (the standard convention), averaged
    over ALL groups — the navigational-search companion of
    :func:`ndcg_at_k`.

    100 TB plan: one keyed window ranks each group, one hash
    aggregate takes min(rank of first relevant) per group, one global
    mean over the per-group frame. Reciprocals are single divisions
    of small integers — exact doubles, no accumulation concern at
    4-dp output.

    Output: 1 row — (mrr, n_groups, n_hit).
    """
    from pyspark.sql import Window

    pred = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(tiebreak_col).asc()
    )
    ranked = df.select(
        F.col(group_col).alias("__g"),
        (F.coalesce(F.col(rel_col), F.lit(0)) > 0).alias("__rel"),
        F.row_number().over(pred).alias("__rn"),
    )
    per_group = ranked.groupBy("__g").agg(
        F.min(F.when(F.col("__rel"), F.col("__rn"))).alias("__first")
    )
    rr = F.coalesce(1.0 / F.col("__first"), F.lit(0.0))
    return per_group.agg(
        F.avg(rr).alias("mrr"),
        F.count("*").alias("n_groups"),
        F.count("__first").alias("n_hit"),
    )


def anova_f(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """One-way ANOVA F test across ALL groups of ``group_col`` — does
    the mean of ``value_col`` differ somewhere? — the k-sample
    generalization of :func:`welch_t_test` (classical equal-variance
    form). F = [Σ n_g(x̄_g − x̄)² / (k−1)] / [Σ(x − x̄_g)² / (N−k)],
    with η² = SSB/SST as the effect size.

    Plan: ONE hash aggregate to the per-group (n, Σx, Σx²) moment
    frame (K rows), then a K-row reduce — SSW = Σ_g(Σx² − (Σx)²/n_g)
    and SSB from the same moments, so the corpus is read once and
    nothing but the K-row frame crosses a shuffle. NULL values
    excluded up front.

    Output: 1 row — (f, eta_sq, df_between, df_within, n, k). f is
    NULL when k < 2, N ≤ k, or SSW = 0 (all groups constant).
    """
    per_g = (
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col(value_col).cast("double")).alias("__s"),
            F.sum(
                F.col(value_col).cast("double")
                * F.col(value_col).cast("double")
            ).alias("__ss"),
        )
    )
    agg = per_g.agg(
        F.count("*").alias("k"),
        F.sum("__n").alias("n"),
        F.sum("__s").alias("__ts"),
        F.sum("__ss").alias("__tss"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__sb"),
    )
    n = F.col("n").cast("double")
    sst = F.col("__tss") - F.col("__ts") * F.col("__ts") / n
    ssb = F.col("__sb") - F.col("__ts") * F.col("__ts") / n
    ssw = F.col("__tss") - F.col("__sb")
    dfb = (F.col("k") - 1).cast("double")
    dfw = (F.col("n") - F.col("k")).cast("double")
    f = F.when(
        (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0),
        (ssb / dfb) / (ssw / dfw),
    )
    eta = F.when(sst > 0, ssb / sst)
    return agg.select(
        f.alias("f"),
        eta.alias("eta_sq"),
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        "n",
        "k",
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: float | None = None,
) -> DataFrame:
    """Kruskal-Wallis H: the k-sample rank test (the nonparametric
    sibling of :func:`anova_f`, generalizing :func:`mann_whitney_u`
    beyond two groups), with average ranks for ties and the standard
    tie correction H / (1 − Σ(t³−t)/(N³−N)).

    Exactness: per-group DOUBLED rank sums 2·R_g fold in
    DECIMAL(38,0) over the (value, group) count frame (the
    :func:`binary_auc` recipe — doubled average ranks are integers),
    as does the tie term Σ(t³−t). Since (2R_g)² can exceed
    DECIMAL(38,0) at extreme n, the K-row combination Σ(2R_g)²/n_g
    runs in double over the exact per-group sums — K bounded terms,
    one mirrored expression.

    100 TB plan: one hash aggregate to the (value, group) frame, one
    frame-sized aggregate to the distinct-value frame, ONE ordered
    window over it (never the corpus), one frame-frame join back, and
    a K-row reduce. ``quantize`` bounds the frame for continuous
    values (the escape-hatch convention of this module).

    Output: 1 row — (h, df, n, k). h is NULL when k < 2, n ≤ 1, or
    all values are tied (tie correction hits 0).
    """
    from pyspark.sql import Window

    val = F.col(value_col)
    if quantize is not None:
        val = F.round(val / F.lit(quantize)) * F.lit(quantize)
    per_vg = (
        df.filter(val.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(val.alias("__v"), F.col(group_col).alias("__g"))
        .agg(F.count("*").alias("__c"))
        # the frame feeds BOTH the rank window (via per-value re-agg)
        # and the per-group join below — a lazy localCheckpoint
        # materializes it once instead of re-scanning the corpus per
        # branch (frame-sized write, corpus-sized saving)
        .localCheckpoint(eager=False)
    )
    per_v = per_vg.groupBy("__v").agg(F.sum("__c").alias("__cnt"))
    w = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_v.select(
        "__v",
        "__cnt",
        (
            2 * (F.sum("__cnt").over(w) - F.col("__cnt"))
            + F.col("__cnt")
            + 1
        ).alias("__rank2"),
    )
    dec = "decimal(38,0)"
    per_g = (
        per_vg.join(ranked, "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__ng"),
            F.sum(F.col("__c").cast(dec) * F.col("__rank2").cast(dec)).alias(
                "__r2g"
            ),
        )
    )
    ties = ranked.agg(
        F.sum(
            F.col("__cnt").cast(dec) * F.col("__cnt").cast(dec)
            * F.col("__cnt").cast(dec)
            - F.col("__cnt").cast(dec)
        ).alias("__t")
    )
    agg = per_g.agg(
        F.count("*").alias("k"),
        F.sum("__ng").alias("n"),
        F.sum(
            F.col("__r2g").cast("double")
            * F.col("__r2g").cast("double")
            / F.col("__ng").cast("double")
        ).alias("__s2"),
    ).crossJoin(ties)
    n = F.col("n").cast("double")
    # H on doubled ranks: Σ(2R_g)²/n_g = 4·ΣR_g²/n_g, so the classic
    # 12/(N(N+1))·ΣR_g²/n_g − 3(N+1) becomes 3/(N(N+1))·Σ(2R_g)²/n_g
    # − 3(N+1)
    h_raw = 3.0 / (n * (n + 1.0)) * F.col("__s2") - 3.0 * (n + 1.0)
    corr = 1.0 - F.col("__t").cast("double") / (n * n * n - n)
    h = F.when(
        (F.col("k") >= 2) & (F.col("n") > 1) & (corr > 0), h_raw / corr
    )
    return agg.select(
        h.alias("h"),
        (F.col("k") - 1).alias("df"),
        "n",
        "k",
    )


def variance_homogeneity(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown-Forsythe test (Levene's test with MEDIAN centers — the
    robust default): are group variances equal? — the assumption check
    for :func:`anova_f` and the classic heteroscedasticity audit
    before pooling cohorts. W is the one-way ANOVA F statistic over
    the absolute deviations z = |x − median_g|.

    Plan: one hash aggregate computes each group's EXACT median
    (``percentile``, the interpolating sort-based aggregate — the
    K-row frame then broadcasts back), one map produces z, and the
    moment fold of :func:`anova_f` finishes — two passes over the
    corpus (medians are not one-pass computable), nothing but K-row
    frames shuffled.

    Output: 1 row — (w, df_between, df_within, n, k), NULL w under
    the same degeneracies as anova_f.
    """
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    )
    meds = base.groupBy(F.col(group_col).alias("__g")).agg(
        F.expr(f"percentile(`{value_col}`, 0.5)").alias("__med")
    )
    z = base.join(
        F.broadcast(meds), F.col(group_col) == F.col("__g")
    ).select(
        F.col("__g"),
        F.abs(F.col(value_col).cast("double") - F.col("__med")).alias("__z"),
    )
    out = anova_f(z, "__z", "__g")
    return out.select(
        F.col("f").alias("w"),
        "df_between",
        "df_within",
        "n",
        "k",
    )


def logistic_regression_fit(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    max_iter: int = 25,
    tol: float = 1e-10,
    ridge: float = 0.0,
) -> DataFrame:
    """Multi-feature logistic regression by IRLS / Newton iterations —
    the propensity-score companion of :func:`ipw_ate` (fit treatment
    propensities distributedly, then weight) and the GLM sibling of
    :func:`linear_regression_fit`.

    Each iteration is ONE aggregate over the corpus: with the current
    β broadcast as literals, the executors fold the gradient
    ``Σ x(y − p)`` and Hessian ``Σ p(1−p)·x xᵀ`` — (p+1)(p+4)/2
    scalars, mergeable map-side — and the (p+1)-dim Newton step solves
    driver-side in numpy (the moments-then-tiny-solve split of OLS /
    PCA; the corpus never leaves the executors, β never exceeds p+1
    doubles). The logit is clipped to ±30 so perfect separation
    degrades to a bounded step instead of overflowing; ``ridge`` adds
    an optional L2 diagonal for ill-conditioned Hessians. Stops when
    ‖Δβ‖∞ < ``tol`` or after ``max_iter`` rounds (the MLE is the
    unique optimum of a convex problem, so the path is irrelevant —
    differently-partitioned runs land on the same fit to float noise,
    which is why this operator is tested against an independent numpy
    IRLS rather than an SQL oracle).

    Output: (feature, coefficient) rows — features, then
    ``__intercept__`` — plus ``__log_likelihood__`` and ``__n_iter__``
    stats rows. Raises a named ValueError on empty/all-NULL input.
    """
    import numpy as np

    p = len(feature_cols)
    if p == 0:
        raise ValueError("logistic_regression_fit needs >= 1 feature")
    cols = [F.col(c).cast("double") for c in feature_cols] + [F.lit(1.0)]
    names = list(feature_cols) + ["__intercept__"]
    y = F.col(label_col).cast("double")
    cond = y.isNotNull()
    for c in cols[:p]:
        cond = cond & c.isNotNull()
    base = df.filter(cond)
    beta = np.zeros(p + 1)
    it_done = 0
    for it in range(max_iter):
        z = sum(
            (float(beta[i]) * cols[i] for i in range(p + 1)),
            start=F.lit(0.0),
        )
        z = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), z))
        prob = 1.0 / (1.0 + F.exp(-z))
        wgt = prob * (1.0 - prob)
        aggs = []
        for i in range(p + 1):
            aggs.append(F.sum(cols[i] * (y - prob)).alias(f"g_{i}"))
            for j in range(i, p + 1):
                aggs.append(
                    F.sum(wgt * cols[i] * cols[j]).alias(f"h_{i}_{j}")
                )
        row = base.agg(*aggs).collect()[0]
        if row[f"h_{p}_{p}"] is None:
            raise ValueError(
                "logistic_regression_fit requires at least one non-NULL row"
            )
        g = np.array([row[f"g_{i}"] for i in range(p + 1)])
        h = np.zeros((p + 1, p + 1))
        for i in range(p + 1):
            for j in range(i, p + 1):
                h[i, j] = h[j, i] = row[f"h_{i}_{j}"]
        if ridge:
            h += ridge * np.eye(p + 1)
        try:
            delta = np.linalg.solve(h, g)
        except np.linalg.LinAlgError as exc:
            # constant-zero or duplicated features with ridge=0 make the
            # Hessian singular; surface the operator's documented named
            # error contract instead of a raw LinAlgError (r9 ADVICE)
            raise ValueError(
                "logistic_regression_fit: singular Hessian at iteration "
                f"{it + 1} (collinear or constant feature?) — pass "
                "ridge > 0 to regularize"
            ) from exc
        beta += delta
        it_done = it + 1
        if float(np.max(np.abs(delta))) < tol:
            break
    z = sum(
        (float(beta[i]) * cols[i] for i in range(p + 1)), start=F.lit(0.0)
    )
    z = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), z))
    ll = base.agg(
        F.sum(y * z - F.log(1.0 + F.exp(z))).alias("ll")
    ).collect()[0]["ll"]
    out = [(name, float(b)) for name, b in zip(names, beta)]
    out.append(("__log_likelihood__", float(ll)))
    out.append(("__n_iter__", float(it_done)))
    return local_rows_df(df.sparkSession, out, "feature string, coefficient double")


def population_stability_index(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ref_group,
    cand_group,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a candidate
    cohort: PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over ``bins``
    equal-width bins spanning the POOLED min/max — the standard model-
    monitoring drift score (rule of thumb: <0.1 stable, >0.25 shifted),
    the binned practitioner's counterpart of the KL/JSD drift report.
    Proportions are Laplace-smoothed ((c + 0.5)/(n + bins/2)) so empty
    bins stay finite and the score is defined for disjoint supports.

    Cross-engine exactness: bin edges derive from exact min/max (no
    accumulation), bin assignment is the same double expression in
    both engines, counts are integers, and each of the ≤``bins`` ln
    terms is quantized to 12 dp before the sum (the suite/common.py
    transcendental-sum convention).

    Plan: one 2-scalar min/max aggregate (collected driver-side —
    edges are configuration, the sanctioned scalar-witness collect
    class), one (bin, side) hash aggregate over the SINGLE remaining
    corpus pass, one ≤bins-row reduce; the bin frame takes a lazy
    localCheckpoint so the totals and term branches reuse it (the
    first formulation recompiled into 4 corpus scans — PLANS.md).

    Output: 1 row — (psi, n_ref, n_cand, n_bins).
    """
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.filter(g.isin([ref_group, cand_group]) & v.isNotNull()).select(
        v.alias("__v"), (g == ref_group).alias("__is_ref")
    )
    lo, hi = base.agg(F.min("__v"), F.max("__v")).collect()[0]
    if lo is None:  # empty input: fall through to a 1-row NULL frame
        lo = hi = 0.0
    if hi == lo:
        bin_expr = F.lit(0)
    else:
        bin_expr = F.least(
            F.floor(
                (F.col("__v") - F.lit(lo)) / F.lit((hi - lo) / bins)
            ).cast("int"),
            F.lit(bins - 1),
        )
    per_bin = (
        base.groupBy(bin_expr.alias("__bin"))
        .agg(
            F.count(F.when(F.col("__is_ref"), 1)).alias("__cr"),
            F.count(F.when(~F.col("__is_ref"), 1)).alias("__cc"),
        )
        .localCheckpoint(eager=False)
    )
    totals = per_bin.agg(
        F.sum("__cr").alias("n_ref"), F.sum("__cc").alias("n_cand")
    )
    j = per_bin.crossJoin(F.broadcast(totals))
    pr = (F.col("__cr") + 0.5) / (F.col("n_ref") + 0.5 * bins)
    pc = (F.col("__cc") + 0.5) / (F.col("n_cand") + 0.5 * bins)
    term = F.round((pr - pc) * F.log(pr / pc), 12)
    agg = j.agg(
        F.sum(term).alias("psi"),
        F.max("n_ref").alias("n_ref"),
        F.max("n_cand").alias("n_cand"),
        F.count("*").alias("n_bins"),
    )
    return agg.select("psi", "n_ref", "n_cand", "n_bins")


def proportions_ztest(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    success_col: str,
) -> DataFrame:
    """Two-proportion z-test (pooled variance) plus the effect sizes a
    conversion A/B readout actually reports: risk ratio and odds ratio
    — the categorical-outcome sibling of :func:`welch_t_test` (means)
    and :func:`mann_whitney_u` (ranks), covering THE most common
    experiment metric (did arm A convert more often?).

    z = (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled
    rate. Counts are exact integers from ONE hash aggregate to a
    2×2 frame; the z / ratio expressions are a fixed double sequence
    over those four integers, so the result is bit-stable across
    engines and partitionings. NULL guards: z NULL when a group is
    empty or the pooled rate is 0 or 1 (zero variance); odds_ratio
    NULL when any cell is zero; risk_ratio NULL when p̂_b = 0.

    ``success_col`` must be 0/1-valued (int-like or boolean). The
    domain is validated inside the SAME aggregate pass: values outside
    {0, 1}, or non-null values that fail the int cast (e.g. the string
    "yes"), raise at action time instead of silently producing
    x_a > n_a or dropping rows (round-9 ADVICE).

    Output: 1 row — (n_a, n_b, x_a, x_b, p_a, p_b, z, risk_ratio,
    odds_ratio).
    """
    g = F.col(group_col)
    raw = F.col(success_col)
    # try_cast: ANSI mode would make a plain cast throw Spark's own
    # CAST_INVALID_INPUT mid-aggregate on e.g. "yes"; NULL-on-failure
    # lets the named domain guard below report the contract instead
    s = raw.try_cast("int")
    agg = (
        df.filter(g.isin([group_a, group_b]))
        .agg(
            F.sum(F.when((g == group_a) & s.isNotNull(), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when((g == group_b) & s.isNotNull(), 1).otherwise(0)).alias("n_b"),
            F.sum(F.when(g == group_a, s).otherwise(0)).alias("x_a"),
            F.sum(F.when(g == group_b, s).otherwise(0)).alias("x_b"),
            F.min(s).alias("__smin"),
            F.max(s).alias("__smax"),
            F.sum(
                F.when(raw.isNotNull() & s.isNull(), 1).otherwise(0)
            ).alias("__badcast"),
        )
    )
    bad_domain = (
        (F.col("__smin") < 0)
        | (F.col("__smax") > 1)
        | (F.col("__badcast") > 0)
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    var = pool * (1.0 - pool) * (1.0 / na + 1.0 / nb)
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (pool > 0) & (pool < 1),
        (pa - pb) / F.sqrt(var),
    )
    rr = F.when((F.col("n_a") > 0) & (F.col("n_b") > 0) & (pb > 0), pa / pb)
    odds = F.when(
        (xa > 0) & (xb > 0) & (na - xa > 0) & (nb - xb > 0),
        (xa * (nb - xb)) / (xb * (na - xa)),
    )
    return agg.select(
        "n_a", "n_b", "x_a", "x_b",
        F.when(F.col("n_a") > 0, pa).alias("p_a"),
        F.when(F.col("n_b") > 0, pb).alias("p_b"),
        # domain guard rides the z column: evaluated on the single
        # output row, raises at action time on a bad success domain
        F.when(
            bad_domain,
            F.raise_error(
                F.lit(
                    "proportions_ztest: success_col must be 0/1 or "
                    "boolean — found values outside {0, 1} or non-null "
                    "values that do not cast to int"
                )
            ).cast("double"),
        ).otherwise(z).alias("z"),
        rr.alias("risk_ratio"),
        odds.alias("odds_ratio"),
    )


# Poisson(1) CDF thresholds for the hash-seeded bootstrap weights —
# module constants so the operator AND any SQL oracle built from them
# embed bit-identical literals.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
)


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicates: int = 200,
    seed: int = 0,
    alpha: float = 0.05,
) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean — corpus-
    metric uncertainty ("mean document quality is 0.62 ± what?")
    without collecting or resampling rows: each (row, replicate) draws
    a Poisson(1) weight from a HASH of (seed, id, replicate)
    (md5-uniform inverted through the Poisson CDF thresholds,
    ``POISSON1_CDF``), the classic streaming approximation of
    with-replacement resampling. Deterministic, layout-independent,
    and restatable in any engine with md5 — the q199 DP-release
    recipe.

    The CI is ORDER-STATISTIC (k-th smallest replicate mean, k =
    ⌊α/2·B⌋+1, no interpolation), so engines only need to agree on the
    ORDER of the B means; per-replicate weighted sums carry float
    accumulation noise (~1e-12), but a swap between two that close
    moves the selected bound by less than output rounding.

    100 TB plan: the corpus explodes ×B (map-side — B·partitions
    partial aggregates combine before the shuffle, so shuffle rows =
    B × partitions, never corpus × B), the B-row mean frame sorts in
    one tiny window, and the point estimate folds in the same pass
    budget. B is the knob: 200 replicates ≈ 200× map work, fully
    parallel.

    Output: 1 row — (mean, ci_lo, ci_hi, n, n_replicates).
    """
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    if int(n_replicates) < 1:
        # F.sequence(0, n-1) with n=0 would infer step -1 and silently
        # emit [0, -1] — a bogus 2-replicate "CI" (round-9 ADVICE).
        raise ValueError("n_replicates must be >= 1")
    from pyspark.sql import Window

    from parquet_on_fhir_spark.operators.dedup import md5_60

    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull()).select(
        F.col(id_col).cast("string").alias("__id"), x.alias("__x")
    )
    reps = base.select(
        "__x",
        "__id",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_replicates) - 1))
        ).alias("__b"),
    )
    u = md5_60(
        F.concat_ws(
            ":", F.lit(f"bs{seed}"), F.col("__id"),
            F.col("__b").cast("string"),
        )
    ) / F.lit(float(2**60))
    wgt = F.lit(len(POISSON1_CDF))
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        wgt = F.when(u < POISSON1_CDF[k], k).otherwise(wgt)
    wgt = wgt.cast("double")
    means = (
        reps.groupBy("__b")
        .agg(F.sum(wgt * F.col("__x")).alias("__sx"), F.sum(wgt).alias("__sw"))
        .filter(F.col("__sw") > 0)
        .select((F.col("__sx") / F.col("__sw")).alias("__m"))
    )
    w = Window.orderBy("__m")
    ranked = means.select(
        "__m",
        F.row_number().over(w).alias("__r"),
        F.count("*").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__nb"),
    )
    k_lo = F.floor(F.lit(alpha / 2.0) * F.col("__nb")).cast("int") + 1
    k_hi = F.col("__nb") - k_lo + 1
    bounds = ranked.agg(
        F.min(F.when(F.col("__r") == k_lo, F.col("__m"))).alias("ci_lo"),
        F.min(F.when(F.col("__r") == k_hi, F.col("__m"))).alias("ci_hi"),
        F.max("__nb").alias("n_replicates"),
    )
    point = base.agg(F.avg("__x").alias("mean"), F.count("*").alias("n"))
    return point.crossJoin(F.broadcast(bounds)).select(
        "mean", "ci_lo", "ci_hi", "n", "n_replicates"
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    quantize: float | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: D = sup_x |F_a(x) −
    F_b(x)| — the workhorse distribution-shift test for feature /
    score drift between two cohorts (train-vs-serve, source-vs-source)
    that, unlike PSI (:func:`population_stability_index`), needs no
    binning choice.

    Integer-exact formulation: on the pooled distinct-value frame the
    ECDF gap at value v is |cumA(v)·n_b − cumB(v)·n_a| / (n_a·n_b) —
    the numerator is an exact integer (folded in DECIMAL(38,0): cum ≤
    1e12 rows × counterpart n ≤ 1e12 keeps products < 1e24 ≪ 1e38),
    so max() happens on exact integers and exactly ONE double division
    produces D. The Kolmogorov z = D·√(n_a·n_b/(n_a+n_b)) adds one
    sqrt.

    100 TB plan: one hash aggregate collapses the corpus to the
    (value, cnt, cnt_a) distinct-value frame; the single ordered
    window runs over |distinct values| rows, never the corpus — the
    :func:`mann_whitney_u`/:func:`binary_auc` scale shape, including
    the same ``quantize`` bucket-width escape hatch for truly
    continuous metrics (D then moves by at most the mass rebucketed
    at bin edges, i.e. ≤ quantize·density). NULLs and rows outside
    the two groups are excluded up front.

    Output: 1 row — (n_a, n_b, d_stat, ks_z); both NULL when either
    group is empty.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    is_a = (g == group_a).cast("long")
    val = F.col(value_col)
    if quantize is not None:
        val = F.round(val / F.lit(quantize)) * F.lit(quantize)
    per_value = (
        df.filter(g.isin([group_a, group_b]) & val.isNotNull())
        .groupBy(val.alias("__v"))
        .agg(F.count("*").alias("__cnt"), F.sum(is_a).alias("__ca"))
    )
    wcum = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = "decimal(38,0)"
    cur = per_value.select(
        F.sum("__ca").over(wcum).alias("__cum_a"),
        (F.sum("__cnt").over(wcum) - F.sum("__ca").over(wcum)).alias(
            "__cum_b"
        ),
        F.sum("__ca").over(wall).alias("__na"),
        (F.sum("__cnt").over(wall) - F.sum("__ca").over(wall)).alias(
            "__nb"
        ),
    )
    agg = cur.agg(
        F.max(
            F.abs(
                F.col("__cum_a").cast(dec) * F.col("__nb").cast(dec)
                - F.col("__cum_b").cast(dec) * F.col("__na").cast(dec)
            )
        ).alias("__num"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    d = F.col("__num").cast("double") / (na * nb)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, d).alias("d_stat"),
        F.when(ok, d * F.sqrt(na * nb / (na + nb))).alias("ks_z"),
    )


def theil_index(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    term_dp: int = 12,
) -> DataFrame:
    """Theil T inequality index T = (1/N)·Σᵢ (xᵢ/μ)·ln(xᵢ/μ) with the
    exact between/within decomposition T = T_between + Σ_g s_g·T_g
    when ``group_col`` is given (s_g = group value share S_g/S;
    T_between = Σ_g s_g·ln(μ_g/μ)) — the additive-decomposability
    property that makes Theil (not Gini) the standard for attributing
    inequality/concentration to a grouping (region, source, shard).

    Cross-engine contract: ``value_col`` must be 2-decimal-exact
    (money); per-entity values and all totals fold in DECIMAL(18,2)+,
    so μ, μ_g and every share are ratios of EXACT ingredients —
    bit-identical doubles in any engine. The only transcendental is
    ln; each summed term is quantized to ``term_dp`` (suite/common.py
    convention) so per-term libm ulps cannot accumulate. Rows with
    NULL or non-positive values are excluded (ln domain), n reports
    the rows kept.

    100 TB plan: one hash aggregate to the per-group frame (K rows,
    broadcast), one 1-row total (broadcast), then a single map-side-
    combined pass over the rows — no corpus shuffle at all when the
    caller pre-aggregates to entities, one groupBy otherwise.

    Output: 1 row — (n, theil) or (n, theil, theil_between,
    theil_within).
    """
    xd = F.col(value_col).cast("decimal(18,2)")
    base = df.filter(F.col(value_col).isNotNull() & (xd > 0))
    if group_col is None:
        tot = base.agg(
            F.sum(xd).alias("__s"), F.count("*").alias("__n")
        )
        mu = F.col("__s").cast("double") / F.col("__n").cast("double")
        rows = base.crossJoin(F.broadcast(tot))
        ratio = xd.cast("double") / mu
        term = F.round(ratio * F.log(ratio), term_dp)
        out = rows.agg(
            F.max("__n").alias("n"),
            (F.sum(term) / F.max("__n").cast("double")).alias("theil"),
        )
        return out.select("n", "theil")
    gagg = base.groupBy(F.col(group_col).alias("__g")).agg(
        F.sum(xd).alias("__sg"), F.count("*").alias("__ng")
    )
    tot = gagg.agg(
        F.sum("__sg").cast("decimal(38,2)").alias("__s"),
        F.sum("__ng").alias("__n"),
    )
    gb = gagg.crossJoin(F.broadcast(tot))
    s_d = F.col("__s").cast("double")
    mu = s_d / F.col("__n").cast("double")
    mug = F.col("__sg").cast("double") / F.col("__ng").cast("double")
    share = F.col("__sg").cast("double") / s_d
    between = gb.agg(
        F.sum(F.round(share * F.log(mug / mu), term_dp)).alias(
            "theil_between"
        ),
        F.max("__n").alias("n"),
    )
    rows = base.join(
        F.broadcast(gb), F.col(group_col) == F.col("__g"), "inner"
    )
    ratio_t = xd.cast("double") / mu
    ratio_g = xd.cast("double") / mug
    # within contribution per row: s_g·(1/N_g)·term_g, with term_g
    # 12-dp-quantized BEFORE the exact-ingredient multiplier
    w_term = F.round(ratio_g * F.log(ratio_g), term_dp) * (
        share / F.col("__ng").cast("double")
    )
    t_term = F.round(ratio_t * F.log(ratio_t), term_dp)
    totals = rows.agg(
        (F.sum(t_term) / F.max("__n").cast("double")).alias("theil"),
        F.sum(w_term).alias("theil_within"),
    )
    return totals.crossJoin(F.broadcast(between)).select(
        "n", "theil", "theil_between", "theil_within"
    )


def aalen_johansen(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
    causes: list,
    term_dp: int | None = None,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence for competing risks: the
    multi-cause generalization of :func:`kaplan_meier`. With K causes,
    CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s) where S is the ALL-cause
    product-limit survival and d_k counts cause-k events — naive
    1−KM_k overestimates each cause because it treats competitors as
    censoring (Putter et al. 2007, Stat Med 26:2389, the standard
    tutorial derivation).

    All-window formulation (the KM shape, one extra running sum per
    cause): one hash aggregate to the (t, d_1..d_K, total-leaving)
    frame, then n(t) = N − cum-prev(leaving), S(t−) =
    exp(cum-prev Σ ln(1−d/n)) with the exact-zero guard, and each
    CIF_k a cum-now running sum of increments — all windows share one
    global time order over the time-cardinality-sized frame, never
    the corpus. ``cause_col`` NULL = censored; non-NULL values not in
    ``causes`` are treated as censored too (documented narrowing —
    pass every competing cause for correct risk sets). ``term_dp``
    quantizes BOTH each ln factor and each CIF increment (both are
    transcendental-derived sums; suite/common.py convention).

    Output: (t, cause, n_risk, n_events, cif) — |times| × K rows;
    Σ_k CIF_k(∞) + S(∞) = 1 up to quantization.
    """
    from pyspark.sql import Window

    ks = list(causes)
    # NULL durations would sort FIRST under the time windows and
    # silently poison every risk set — excluded with the same contract
    # as NULL causes (censored rows must still carry a duration)
    df = df.filter(F.col(duration_col).isNotNull())
    per_t = df.groupBy(F.col(duration_col).alias("t")).agg(
        *[
            F.sum((F.col(cause_col) == k).cast("int")).alias(f"__d{i}")
            for i in range(len(ks))
            for k in [ks[i]]
        ],
        F.count("*").alias("__leave"),
    )
    total = Window.partitionBy()
    upto_prev = total.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    upto_now = total.orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    everything = total.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    d_tot = sum(F.col(f"__d{i}") for i in range(len(ks)))
    left_before = F.coalesce(F.sum("__leave").over(upto_prev), F.lit(0))
    cur = per_t.withColumn(
        "__n_risk", F.sum("__leave").over(everything) - left_before
    ).withColumn("__d_tot", d_tot)
    factor = 1.0 - F.col("__d_tot") / F.col("__n_risk")
    safe_log = F.log(F.when(factor > 0, factor).otherwise(F.lit(1.0)))
    if term_dp is not None:
        safe_log = F.round(safe_log, term_dp)
    cur = cur.withColumn("__lnf", safe_log).withColumn(
        "__dead", (factor <= 0).cast("int")
    )
    hit_zero_prev = F.coalesce(
        F.max("__dead").over(upto_prev), F.lit(0)
    )
    s_prev = F.when(hit_zero_prev == 1, F.lit(0.0)).otherwise(
        F.exp(F.coalesce(F.sum("__lnf").over(upto_prev), F.lit(0.0)))
    )
    cur = cur.withColumn("__s_prev", s_prev)
    for i in range(len(ks)):
        inc = (
            F.col("__s_prev")
            * F.col(f"__d{i}")
            / F.col("__n_risk")
        )
        if term_dp is not None:
            inc = F.round(inc, term_dp)
        cur = cur.withColumn(f"__cif{i}", F.sum(inc).over(upto_now))
    stack_args = ", ".join(
        f"'{k}', __d{i}, __cif{i}" for i, k in enumerate(ks)
    )
    return cur.select(
        "t",
        F.col("__n_risk").alias("n_risk"),
        F.expr(
            f"stack({len(ks)}, {stack_args}) AS (cause, n_events, cif)"
        ),
    ).select("t", "cause", "n_risk", "n_events", "cif")


def cochran_armitage_trend(
    df: DataFrame,
    bucket_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test: is a binary outcome's rate
    monotonically associated with an ORDERED grouping (dose, activity
    decile, model-version number)? More powerful than the omnibus
    chi-square (:func:`chi2_crosstab`) exactly when the alternative is
    a trend. z = [Σ wᵢxᵢ − p̄·Σ wᵢnᵢ] / √(p̄(1−p̄)·[Σ wᵢ²nᵢ −
    (Σ wᵢnᵢ)²/N]) with wᵢ the integer bucket score, xᵢ the bucket's
    successes, nᵢ its size (Armitage 1955, Biometrics 11:375 —
    textbook normal approximation form).

    ``bucket_col`` must be integer-valued (the scores); ``success_col``
    0/1. Every Σ folds EXACT in DECIMAL(38,0) (w ≤ 1e6-ish buckets,
    counts ≤ 1e12 keep all products ≪ 1e38); p̄ and the final z are
    the only float ops. NULL buckets/outcomes are excluded.

    100 TB plan: one map-side-combined hash aggregate to the K-bucket
    frame, one 1-row fold — the corpus never shuffles.

    Output: 1 row — (n, k_buckets, z); z NULL when the pooled rate is
    0 or 1 or all mass is in one score (zero variance).
    """
    dec = "decimal(38,0)"
    w = F.col(bucket_col).cast("long")
    s = F.col(success_col).cast("long")
    per = (
        df.filter(w.isNotNull() & s.isNotNull())
        .groupBy(w.alias("__w"))
        .agg(
            F.count("*").alias("__n"),
            F.sum(s).alias("__x"),
            # domain guards ride the aggregate (the proportions_ztest
            # pattern): fractional bucket scores would silently
            # TRUNCATE under the long cast, and non-0/1 successes
            # would inflate x beyond n
            F.max(
                (F.col(bucket_col).cast("double") != w.cast("double"))
                .cast("int")
            ).alias("__badw"),
            F.max(((s < 0) | (s > 1)).cast("int")).alias("__bads"),
        )
    )
    wd = F.col("__w").cast(dec)
    agg = per.agg(
        F.sum("__n").alias("n"),
        F.count("*").alias("k_buckets"),
        F.max("__badw").alias("__bw"),
        F.max("__bads").alias("__bs"),
        F.sum("__x").cast(dec).alias("__sx"),
        F.sum(wd * F.col("__x").cast(dec)).alias("__swx"),
        F.sum(wd * F.col("__n").cast(dec)).alias("__swn"),
        F.sum(wd * wd * F.col("__n").cast(dec)).alias("__swwn"),
    )
    nd = F.col("n").cast("double")
    p = F.col("__sx").cast("double") / nd
    num = F.col("__swx").cast("double") - p * F.col("__swn").cast(
        "double"
    )
    var = (
        p
        * (1.0 - p)
        * (
            F.col("__swwn").cast("double")
            - F.col("__swn").cast("double")
            * F.col("__swn").cast("double")
            / nd
        )
    )
    guard = (F.col("__bw") > 0) | (F.col("__bs") > 0)
    return agg.select(
        "n",
        "k_buckets",
        F.when(
            guard,
            F.raise_error(
                F.lit(
                    "cochran_armitage_trend: bucket_col must be "
                    "integer-valued and success_col 0/1 — found "
                    "fractional scores or out-of-domain successes"
                )
            ).cast("double"),
        ).otherwise(F.when(var > 0, num / F.sqrt(var))).alias("z"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    bins: int = 10,
) -> DataFrame:
    """Hosmer-Lemeshow calibration bins: rank the scored rows, cut
    into ``bins`` equal-count groups (ntile ordered by (score, id) —
    the id tiebreak makes the cut DETERMINISTIC, engine-independently)
    and compare observed positives against the score-implied
    expectation per bin. The per-bin χ² contribution is
    (O−E)²/(n·π̄·(1−π̄)) with π̄ = E/n (Hosmer & Lemeshow 1980 —
    textbook form); Σ contrib ~ χ²(bins−2) under calibration.

    Scale note: ntile is a single global sort — the right tool for
    model-diagnostic SAMPLES (ranked scores are the semantics). For
    corpus-scale calibration use :func:`calibration_bins` /
    :func:`quantile_bin`, which cut on approximate quantiles without
    a global order.

    Output: ``bins`` rows — (bin, n, observed, expected, contrib);
    contrib NULL for a degenerate bin (π̄ 0 or 1).
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col), F.col(id_col))
    binned = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).withColumn("bin", F.ntile(bins).over(w))
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum(F.col(label_col).cast("long")).alias("observed"),
        F.sum(F.col(score_col).cast("double")).alias("expected"),
    )
    nd = F.col("n").cast("double")
    pi = F.col("expected") / nd
    dev = F.col("observed").cast("double") - F.col("expected")
    return per.select(
        "bin",
        "n",
        "observed",
        "expected",
        F.when(
            (pi > 0) & (pi < 1), dev * dev / (nd * pi * (1.0 - pi))
        ).alias("contrib"),
    )


def quantile_forecast_eval(
    train: DataFrame,
    test: DataFrame,
    key_cols: list[str],
    value_col: str,
    taus: list[float],
) -> DataFrame:
    """Quantile-forecast evaluation by pinball (quantile) loss: fit
    per-key empirical quantiles on ``train`` (exact
    ``F.percentile`` — linear interpolation, the percentile_cont
    semantics), score ``test`` with L_τ(y, q) = max(τ·(y−q),
    (τ−1)·(y−q)) and report the mean loss per key and τ — the proper
    scoring rule for quantile predictions (Koenker & Bassett 1978),
    and the standard backtest for per-segment latency / spend / load
    quantile forecasts.

    100 TB plan: the train pass is one hash aggregate to K rows
    (percentile is an exact sort-based agg per group — for truly
    huge groups swap in approx_percentile, documented knob); the K-row
    quantile frame then BROADCASTS onto the test scan, so scoring is
    map-side only; one final K-row aggregate.

    Output: one row per key — (keys…, n_test, q_<τ>…, loss_<τ>…).
    """
    tags = [str(t).replace(".", "") for t in taus]
    qs = train.groupBy(*key_cols).agg(
        *[
            F.percentile(F.col(value_col), F.lit(t)).alias(f"q_{tag}")
            for t, tag in zip(taus, tags)
        ]
    )
    joined = test.join(F.broadcast(qs), key_cols, "inner")
    y = F.col(value_col).cast("double")
    aggs = [F.count("*").alias("n_test")]
    for t, tag in zip(taus, tags):
        err = y - F.col(f"q_{tag}")
        aggs.append(F.max(F.col(f"q_{tag}")).alias(f"q_{tag}"))
        aggs.append(
            F.avg(
                F.greatest(F.lit(t) * err, F.lit(t - 1.0) * err)
            ).alias(f"loss_{tag}")
        )
    return joined.groupBy(*key_cols).agg(*aggs)


def cox_ph(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    feature_cols: list[str],
    max_iter: int = 25,
    tol: float = 1e-9,
    ridge: float = 0.0,
    ties: str = "breslow",
) -> DataFrame:
    """Cox proportional-hazards regression (Breslow tie handling) by
    distributed Newton iterations — the regression capstone of the
    survival stack (:func:`kaplan_meier` / :func:`nelson_aalen` /
    :func:`log_rank_test` / :func:`restricted_mean_survival` /
    :func:`aalen_johansen`): which covariates move the hazard, with
    hazard ratios exp(β). Score at β=0 with one binary covariate IS
    the log-rank statistic, which the differential test exploits.

    Each iteration is TWO shuffles, both time-cardinality-bounded,
    never a per-row risk-set scan: (1) with β broadcast as literals,
    one hash aggregate folds per DISTINCT TIME the at-risk partials
    Σr, Σr·xᵢ, Σr·xᵢxⱼ (r = exp(clip(xβ, ±30))) and the event-side
    partials d_t, Σ_events xᵢ; (2) the risk-set sums S0/S1/S2(t) =
    Σ_{t'≥t} (…) are REVERSE cumulative sums over the distinct-time
    frame (one ordered window — the KM shape), from which gradient
    Σ_t [Σx_ev − d_t·S1/S0] and Hessian Σ_t d_t·[S2/S0 −
    (S1/S0)(S1/S0)ᵀ] fold to (p)(p+3)/2 scalars executor-side; the
    p-dim solve is driver numpy (the IRLS split of
    :func:`logistic_regression_fit` — no intercept, Cox absorbs it in
    the baseline hazard). ``ties="breslow"`` charges tied events
    the full risk set (the cheap large-data choice); ``ties="efron"``
    (r10 — the R/survival and lifelines DEFAULT) removes an expected
    (j/d) fraction of the tied-event mass before each of the d tied
    events: per event time the S−(j/d)E terms fold over an
    executor-side ``explode(sequence(0, d−1))`` — total exploded rows
    = total events, so the correction is LINEAR, never a pair scan,
    and the two estimators coincide exactly on tie-free data (pinned
    test). ``ridge`` regularizes a
    singular Hessian (monotone/separating covariates), reported via a
    named ValueError otherwise. Stops at ‖Δβ‖∞ < ``tol``.

    Output: (feature, coefficient, hazard_ratio) rows plus
    ``__log_partial_likelihood__`` and ``__n_iter__`` stats rows
    (hazard_ratio NULL on stats rows). Raises a named ValueError on
    empty input or zero events.
    """
    import numpy as np

    p = len(feature_cols)
    if p == 0:
        raise ValueError("cox_ph needs >= 1 feature")
    if ties not in ("breslow", "efron"):
        raise ValueError("ties must be 'breslow' or 'efron'")
    from pyspark.sql import Window

    xs = [F.col(c).cast("double") for c in feature_cols]
    ev = F.col(event_col).cast("int")
    cond = (
        F.col(duration_col).isNotNull()
        & ev.isNotNull()
    )
    for c in xs:
        cond = cond & c.isNotNull()
    base = df.filter(cond)

    w_rev = (
        Window.partitionBy()
        .orderBy(F.desc("__t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    beta = np.zeros(p)
    it_done = 0
    loglik = None
    for it in range(max_iter):
        xb = sum(
            (float(beta[i]) * xs[i] for i in range(p)), start=F.lit(0.0)
        )
        xb = F.greatest(F.lit(-30.0), F.least(F.lit(30.0), xb))
        r = F.exp(xb)
        aggs = [
            F.sum(r).alias("r0"),
            F.sum(ev).alias("d"),
            F.sum(ev * xb).alias("exb"),
        ]
        for i in range(p):
            aggs.append(F.sum(r * xs[i]).alias(f"r1_{i}"))
            aggs.append(F.sum(ev * xs[i]).alias(f"ex_{i}"))
            for j in range(i, p):
                aggs.append(F.sum(r * xs[i] * xs[j]).alias(f"r2_{i}_{j}"))
        if ties == "efron":
            aggs.append(F.sum(ev * r).alias("e0"))
            for i in range(p):
                aggs.append(F.sum(ev * r * xs[i]).alias(f"e1_{i}"))
                for j in range(i, p):
                    aggs.append(
                        F.sum(ev * r * xs[i] * xs[j]).alias(f"e2_{i}_{j}")
                    )
        per_t = base.groupBy(
            F.col(duration_col).alias("__t")
        ).agg(*aggs)
        carry = ["d", "exb", *[f"ex_{i}" for i in range(p)]]
        if ties == "efron":
            carry += ["e0", *[f"e1_{i}" for i in range(p)]]
            carry += [f"e2_{i}_{j}" for i in range(p) for j in range(i, p)]
        cum = per_t.select(
            "__t",
            *carry,
            F.sum("r0").over(w_rev).alias("s0"),
            *[
                F.sum(f"r1_{i}").over(w_rev).alias(f"s1_{i}")
                for i in range(p)
            ],
            *[
                F.sum(f"r2_{i}_{j}").over(w_rev).alias(f"s2_{i}_{j}")
                for i in range(p)
                for j in range(i, p)
            ],
        ).filter(F.col("d") > 0)
        dd = F.col("d").cast("double")
        if ties == "efron":
            # one row per (event time, j < d): total rows = total
            # events — the Efron correction is a LINEAR explode
            ej = cum.withColumn(
                "__j", F.explode(F.expr("sequence(0, d - 1)"))
            )
            frac = F.col("__j").cast("double") / dd
            s0s = F.col("s0") - frac * F.col("e0")
            final = [
                F.count("*").cast("double").alias("n_events"),
                F.sum(F.col("exb") / dd - F.log(s0s)).alias("ll"),
            ]
            for i in range(p):
                s1i = F.col(f"s1_{i}") - frac * F.col(f"e1_{i}")
                final.append(
                    F.sum(F.col(f"ex_{i}") / dd - s1i / s0s).alias(
                        f"g_{i}"
                    )
                )
                for j in range(i, p):
                    s1j = F.col(f"s1_{j}") - frac * F.col(f"e1_{j}")
                    s2ij = F.col(f"s2_{i}_{j}") - frac * F.col(
                        f"e2_{i}_{j}"
                    )
                    final.append(
                        F.sum(
                            s2ij / s0s - (s1i / s0s) * (s1j / s0s)
                        ).alias(f"h_{i}_{j}")
                    )
            row = ej.agg(*final).collect()[0]
        else:
            final = [
                F.sum(dd).alias("n_events"),
                F.sum(F.col("exb") - dd * F.log("s0")).alias("ll"),
            ]
            for i in range(p):
                final.append(
                    F.sum(
                        F.col(f"ex_{i}") - dd * F.col(f"s1_{i}") / F.col("s0")
                    ).alias(f"g_{i}")
                )
                for j in range(i, p):
                    final.append(
                        F.sum(
                            dd
                            * (
                                F.col(f"s2_{i}_{j}") / F.col("s0")
                                - (F.col(f"s1_{i}") / F.col("s0"))
                                * (F.col(f"s1_{j}") / F.col("s0"))
                            )
                        ).alias(f"h_{i}_{j}")
                    )
            row = cum.agg(*final).collect()[0]
        if row["n_events"] is None or row["n_events"] == 0:
            raise ValueError(
                "cox_ph requires at least one event row "
                "(non-NULL duration/features, event true)"
            )
        g = np.array([row[f"g_{i}"] for i in range(p)])
        h = np.zeros((p, p))
        for i in range(p):
            for j in range(i, p):
                h[i, j] = h[j, i] = row[f"h_{i}_{j}"]
        if ridge:
            h += ridge * np.eye(p)
        try:
            delta = np.linalg.solve(h, g)
        except np.linalg.LinAlgError as exc:
            raise ValueError(
                "cox_ph: singular Hessian at iteration "
                f"{it + 1} (separating or constant covariate?) — pass "
                "ridge > 0 to regularize"
            ) from exc
        beta += delta
        it_done = it + 1
        loglik = float(row["ll"])
        if float(np.max(np.abs(delta))) < tol:
            break
    spark = df.sparkSession
    rows = [
        (feature_cols[i], float(beta[i]), float(np.exp(beta[i])))
        for i in range(p)
    ] + [
        ("__log_partial_likelihood__", loglik, None),
        ("__n_iter__", float(it_done), None),
    ]
    return local_rows_df(
        spark, rows, "feature string, coefficient double, hazard_ratio double"
    )


def propensity_match_att(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    id_col: str,
    strata_cols: list[str] | None = None,
    caliper: float | None = None,
) -> DataFrame:
    """1-nearest-neighbor propensity-score matching WITH replacement
    and the matched-pair ATT — the matching companion of
    :func:`ipw_ate` (weighting) and :func:`cohens_kappa`-era balance
    checks: each treated unit is paired to the control with the
    closest score, the ATT is the mean treated-minus-matched-control
    outcome gap (Rosenbaum & Rubin 1983; with-replacement matching is
    the order-independent variant — greedy without-replacement is
    inherently sequential and NOT implemented).

    One sorted window does all the matching: rows ordered by (score,
    treated, id) — controls sort before treated at equal scores, so
    an exact-score control is always the backward candidate at
    distance 0 — and each treated row reads the nearest control
    behind (``last(…, ignorenulls)``) and ahead (``first``) as
    (score, outcome) structs, taking the closer (backward on ties).
    Equal-distance, equal-score control choice is deterministic via
    the id tiebreak (documented arbitrariness — matching theory is
    indifferent). ``caliper`` drops pairs with |Δscore| > caliper
    (unmatched treated are reported, not silently averaged).

    100 TB posture: pass ``strata_cols`` (site, cohort, coarse score
    bands) — the window partitions by strata and matches WITHIN each,
    which is both the methodologically standard exact-match-on-strata
    refinement and what keeps the sort distributed; a single global
    sort is the no-strata small-cohort case (study semantics).

    Output: 1 row — (n_treated, n_control, n_matched, att,
    avg_treated, avg_matched_control); att NULL when nothing matches.
    """
    from pyspark.sql import Window

    s = F.col(score_col).cast("double")
    tr = F.col(treat_col).cast("int")
    y = F.col(outcome_col).cast("double")
    keys = list(strata_cols or [])
    base = df.filter(
        s.isNotNull() & tr.isNotNull() & y.isNotNull()
    ).select(
        *keys,
        s.alias("__s"),
        tr.alias("__t"),
        y.alias("__y"),
        F.col(id_col).alias("__id"),
    )
    part = Window.partitionBy(*keys) if keys else Window.partitionBy()
    order = part.orderBy("__s", "__t", "__id")
    back = order.rowsBetween(Window.unboundedPreceding, -1)
    fwd = order.rowsBetween(1, Window.unboundedFollowing)
    ctl = F.when(F.col("__t") == 0, F.struct("__s", "__y"))
    prev = F.last(ctl, ignorenulls=True).over(back)
    nxt = F.first(ctl, ignorenulls=True).over(fwd)
    cur = base.withColumn("__prev", prev).withColumn("__next", nxt)
    d_prev = F.abs(F.col("__s") - F.col("__prev.__s"))
    d_next = F.abs(F.col("__s") - F.col("__next.__s"))
    pick = F.when(
        F.col("__prev").isNotNull()
        & (F.col("__next").isNull() | (d_prev <= d_next)),
        F.col("__prev"),
    ).otherwise(F.col("__next"))
    treated = cur.filter(F.col("__t") == 1).withColumn("__m", pick)
    if caliper is not None:
        treated = treated.withColumn(
            "__m",
            F.when(
                F.abs(F.col("__s") - F.col("__m.__s")) <= caliper,
                F.col("__m"),
            ),
        )
    n_control = base.filter(F.col("__t") == 0).count()
    agg = treated.agg(
        F.count("*").alias("n_treated"),
        F.count("__m").alias("n_matched"),
        F.avg(F.when(F.col("__m").isNotNull(), F.col("__y"))).alias(
            "avg_treated"
        ),
        F.avg(F.col("__m.__y")).alias("avg_matched_control"),
        F.avg(
            F.when(
                F.col("__m").isNotNull(),
                F.col("__y") - F.col("__m.__y"),
            )
        ).alias("att"),
    )
    return agg.select(
        "n_treated",
        F.lit(n_control).alias("n_control"),
        "n_matched",
        "att",
        "avg_treated",
        "avg_matched_control",
    )


def wasserstein_1d(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    quantize: float | None = None,
) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) distance between two groups'
    value distributions: W₁ = ∫ |F_a(x) − F_b(x)| dx — the L1
    companion of :func:`ks_two_sample`'s sup-gap (KS says WHETHER the
    distributions drifted; W₁ says HOW MUCH mass moved how far, in the
    value's own units — the standard drift magnitude for feature
    monitoring).

    Distinct-value formulation: between consecutive pooled distinct
    values v, v_next the ECDF gap is constant, so W₁ = Σ_v
    |cumA(v)·n_b − cumB(v)·n_a| · (v_next − v) / (n_a·n_b) — the
    integer-exact KS numerator reused per segment, one extra lead()
    over the SAME ordered window, exactly one double division after
    the fold. Same 100 TB shape as mann_whitney/ks: one hash
    aggregate to the distinct-value frame, one window over it, plus
    the same ``quantize`` hatch for continuous metrics (W₁ then moves
    by at most quantize/2 per unit mass — the bucketing error is
    bounded and documented, unlike a histogram EMD).

    Output: 1 row — (n_a, n_b, w1); NULL when either group is empty.
    """
    from pyspark.sql import Window

    g = F.col(group_col)
    is_a = (g == group_a).cast("long")
    val = F.col(value_col).cast("double")
    if quantize is not None:
        val = F.round(val / F.lit(quantize)) * F.lit(quantize)
    per_value = (
        df.filter(g.isin([group_a, group_b]) & val.isNotNull())
        .groupBy(val.alias("__v"))
        .agg(F.count("*").alias("__cnt"), F.sum(is_a).alias("__ca"))
    )
    order = Window.orderBy("__v")
    wcum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = "decimal(38,0)"
    cur = per_value.select(
        "__v",
        F.lead("__v").over(order).alias("__vn"),
        F.sum("__ca").over(wcum).alias("__cum_a"),
        (F.sum("__cnt").over(wcum) - F.sum("__ca").over(wcum)).alias(
            "__cum_b"
        ),
        F.sum("__ca").over(wall).alias("__na"),
        (F.sum("__cnt").over(wall) - F.sum("__ca").over(wall)).alias(
            "__nb"
        ),
    )
    gap = F.abs(
        F.col("__cum_a").cast(dec) * F.col("__nb").cast(dec)
        - F.col("__cum_b").cast(dec) * F.col("__na").cast(dec)
    ).cast("double")
    seg = F.when(
        F.col("__vn").isNotNull(),
        gap * (F.col("__vn") - F.col("__v")),
    )
    agg = cur.agg(
        F.sum(seg).alias("__area"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(
            ok,
            F.coalesce(F.col("__area"), F.lit(0.0))
            / (
                F.col("n_a").cast("double") * F.col("n_b").cast("double")
            ),
        ).alias("w1"),
    )


def conformal_interval(
    train: DataFrame,
    calib: DataFrame,
    test: DataFrame,
    key_cols: list[str],
    value_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction intervals per key: point predictor =
    the train-split median, conformity score = |y − point| on a
    DISJOINT calibration split, interval half-width q̂ = the
    ⌈(n_cal+1)(1−α)⌉-th smallest calibration score — the
    distribution-free finite-sample guarantee P(y ∈ point ± q̂) ≥ 1−α
    (Vovk et al.; Lei et al. 2018 JASA split-conformal recipe), and
    the empirical coverage on ``test`` as the audit. The k-th order
    statistic is EXACT (row_number over the per-key score order, no
    interpolation), so the whole statistic is engine-portable.

    100 TB plan: one hash aggregate per split (train medians, K rows,
    broadcast onto calib), one per-key ordered window over calibration
    scores (per-key partitioned — parallel across keys), one broadcast
    join onto the test scan. Raises on alpha outside (0,1) or when a
    key's calibration split is too small for the requested level
    (⌈(n+1)(1−α)⌉ > n ⇒ infinite interval — reported as NULL q̂, not
    silently the max).

    Output: one row per key — (keys…, point, n_cal, q_hat, n_test,
    coverage).
    """
    if not 0 < alpha < 1:
        raise ValueError("alpha must be in (0, 1)")
    from pyspark.sql import Window

    y = F.col(value_col).cast("double")
    meds = train.groupBy(*key_cols).agg(
        F.percentile(y, F.lit(0.5)).alias("point")
    )
    scores = calib.join(F.broadcast(meds), key_cols).select(
        *key_cols, F.abs(y - F.col("point")).alias("__score")
    )
    w = Window.partitionBy(*key_cols).orderBy("__score")
    ranked = scores.withColumn("__r", F.row_number().over(w))
    per_key = ranked.groupBy(*key_cols).agg(
        F.count("*").alias("n_cal"),
        F.max("__r").alias("__nr"),
    )
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha)).cast("int")
    with_k = per_key.select(*key_cols, "n_cal", k.alias("__k"))
    qhat = (
        ranked.join(with_k, key_cols)
        .filter(F.col("__r") == F.col("__k"))
        .select(*key_cols, F.col("__score").alias("q_hat"))
    )
    bands = meds.join(with_k.select(*key_cols, "n_cal"), key_cols).join(
        qhat, key_cols, "left"
    )
    audited = test.join(F.broadcast(bands), key_cols).groupBy(
        *key_cols
    ).agg(
        F.max("point").alias("point"),
        F.max("n_cal").alias("n_cal"),
        F.max("q_hat").alias("q_hat"),
        F.count("*").alias("n_test"),
        F.avg(
            (F.abs(y - F.col("point")) <= F.col("q_hat")).cast("int")
        ).alias("coverage"),
    )
    return audited.select(
        *key_cols, "point", "n_cal", "q_hat", "n_test", "coverage"
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    outcome_col: str,
    n_bins: int = 10,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Murphy decomposition of the Brier score over equal-width
    probability bins: BRIER = mean((p−o)²), RELIABILITY =
    Σ n_b (f̄_b − ō_b)²/N (calibration error — small is good),
    RESOLUTION = Σ n_b (ō_b − ō)²/N (how much the forecast separates
    outcomes — large is good), UNCERTAINTY = ō(1−ō). The forecast-
    quality triptych behind every reliability diagram; complements
    hosmer_lemeshow (a TEST) with the decomposition (a MEASURE).

    Resolution uses the difference-of-squares identity
    Σ n_b ō_b²/N − ō² so the whole thing is TWO hash aggregates
    (rows → n_bins rows → 1 row per key), both map-side combined —
    no second pass to subtract a precomputed grand mean, no window.

    Output: (keys, n, brier, reliability, resolution, uncertainty).
    """
    keys = list(key_cols or [])
    o = F.col(outcome_col).cast("double")
    p = F.col(prob_col).cast("double")
    binned = (
        # NULL forecasts/outcomes are excluded up front: F.sum skips
        # NULLs but count(*) would not, silently biasing every /N term
        df.filter(p.isNotNull() & o.isNotNull())
        .select(
            *keys,
            F.least(F.floor(p * n_bins), F.lit(n_bins - 1))
            .cast("int")
            .alias("__bin"),
            p.alias("__p"),
            o.alias("__o"),
            ((p - o) * (p - o)).alias("__sq"),
        )
        .groupBy(*keys, "__bin")
        .agg(
            F.count("*").cast("double").alias("__nb"),
            F.avg("__p").alias("__fbar"),
            F.avg("__o").alias("__obar"),
            F.sum("__sq").alias("__sqs"),
        )
    )
    fb, ob, nb = F.col("__fbar"), F.col("__obar"), F.col("__nb")
    agg = binned.groupBy(*keys).agg(
        F.sum("__nb").alias("__n"),
        F.sum("__sqs").alias("__sq_all"),
        F.sum(nb * ob).alias("__o_sum"),
        F.sum(nb * ob * ob).alias("__o2_sum"),
        F.sum(nb * (fb - ob) * (fb - ob)).alias("__rel_sum"),
    )
    obar_g = F.col("__o_sum") / F.col("__n")
    return agg.select(
        *keys,
        F.col("__n").cast("long").alias("n"),
        (F.col("__sq_all") / F.col("__n")).alias("brier"),
        (F.col("__rel_sum") / F.col("__n")).alias("reliability"),
        (F.col("__o2_sum") / F.col("__n") - obar_g * obar_g).alias(
            "resolution"
        ),
        (obar_g * (F.lit(1.0) - obar_g)).alias("uncertainty"),
    )


def rank_biased_overlap(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    score_col: str,
    p: float = 0.9,
    depth: int = 20,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber et al. 2010) between two
    rankings: RBO@d = Σ_{k=1..d} (1−p)·p^{k−1}·|A_k ∩ B_k|/k, the
    top-weighted agreement measure for comparing rankers (exact vs ANN
    retrieval, yesterday's vs today's ranking) — unlike Spearman it
    tolerates non-conjoint lists and discounts the tail geometrically.

    Both sides are ranked by ``score_col`` DESC (ties broken by
    ``id_col`` for determinism), truncated to ``depth`` FIRST, so
    every later frame is depth-bounded metadata: the common-item join,
    the (key, k) grid and the cumulative-overlap window all hold ≤
    depth rows per key. With ``key_cols`` (e.g. per-query evaluation)
    the ranking windows partition by key — the scale path; keyless
    means one global ranking (a single top-depth sort).

    Output: (keys, depth, overlap_at_depth, rbo).
    """
    from pyspark.sql import Window

    keys = list(key_cols or [])

    def top(df, side):
        w = Window.partitionBy(*keys).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        return (
            df.select(*keys, id_col, score_col)
            .withColumn(f"__r{side}", F.row_number().over(w))
            .filter(F.col(f"__r{side}") <= depth)
            .drop(score_col)
        )

    ta, tb = top(a, "a"), top(b, "b")
    common = ta.join(tb, keys + [id_col]).select(
        *keys, F.greatest("__ra", "__rb").alias("__m")
    )
    cnt = common.groupBy(*keys, "__m").agg(F.count("*").alias("__c"))
    keyspace = ta.select(*keys).unionByName(tb.select(*keys)).distinct()
    grid = keyspace.select(
        *keys, F.explode(F.sequence(F.lit(1), F.lit(depth))).alias("__m")
    )
    wcum = (
        Window.partitionBy(*keys)
        .orderBy("__m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ov = grid.join(cnt, keys + ["__m"], "left").withColumn(
        "__ov", F.sum(F.coalesce("__c", F.lit(0))).over(wcum)
    )
    return ov.groupBy(*keys).agg(
        F.lit(depth).alias("depth"),
        F.max(F.when(F.col("__m") == depth, F.col("__ov"))).alias(
            "overlap_at_depth"
        ),
        F.sum(
            F.lit(1.0 - p)
            * F.pow(F.lit(p), F.col("__m") - 1)
            * F.col("__ov")
            / F.col("__m")
        ).alias("rbo"),
    )




def histogram_quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float,
    hi: float,
    bins: int = 512,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    with_global: bool = True,
) -> DataFrame:
    """Mergeable equi-width histogram sketch with interpolated quantile
    estimates — the fixed-size, commutative-monoid alternative to a
    global sort when an approximate quantile with a KNOWN error bound
    (±bin width) is enough.

    The sketch is the ``(group, bin, count)`` frame: counts are
    sum-mergeable, so shards/partitions/days combine by addition — the
    property t-digest/KLL buy with adaptive bins, bought here with a
    fixed domain ``[lo, hi)`` instead (values clamp into the edge
    bins). Estimates interpolate linearly inside the bin containing
    rank ``ceil(q·n)``.

    ``with_global=True`` demonstrates the merge: the ALL row's
    quantiles are derived by re-aggregating the per-group SKETCH (bins
    summed, data never rescanned) — exactly how a 100 TB rollup would
    combine per-day sketches without touching the fact table again.

    Engine-portability: the bin index ``floor((v−lo)·bins/(hi−lo))``
    and the interpolation are fixed double expression CHAINS over
    exact integer counts, restated verbatim in the oracle, so both
    engines compute identical doubles.

    Scale shape: ONE map-side-combined hash aggregate over the facts
    (the only pass that touches data), then windows/joins over the
    K = groups×bins sketch frame. Output: one row per (group, q) plus
    the ALL rows — (group, n, q, estimate).
    """
    from pyspark.sql import Window

    if not group_cols:
        raise ValueError("group_cols must be non-empty; use a literal group")
    width_expr = (F.col(value_col) - F.lit(lo)) * bins / F.lit(hi - lo)
    bin_col = F.least(
        F.greatest(F.floor(width_expr).cast("int"), F.lit(0)),
        F.lit(bins - 1),
    )
    grp = F.concat_ws("|", *[F.col(c).cast("string") for c in group_cols])
    sketch = (
        df.select(grp.alias("grp"), bin_col.alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    if with_global:
        sketch = sketch.unionByName(
            sketch.groupBy("bin").agg(
                F.lit("ALL").alias("grp"), F.sum("cnt").alias("cnt")
            ).select("grp", "bin", "cnt")
        )
    totals = sketch.groupBy("grp").agg(F.sum("cnt").alias("n"))
    wcum = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "cum_prev", F.col("cum") - F.col("cnt")
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    ranked = cum.join(totals, "grp").select(
        "*", qs
    ).withColumn("r", F.ceil(F.col("q") * F.col("n")))
    hit = ranked.filter(
        (F.col("cum") >= F.col("r")) & (F.col("cum_prev") < F.col("r"))
    )
    w = F.lit((hi - lo) / bins)
    est = (
        F.lit(lo)
        + w
        * (
            F.col("bin")
            + (F.col("r") - F.col("cum_prev")).cast("double") / F.col("cnt")
        )
    )
    return hit.select(
        "grp", F.col("n").cast("long").alias("n"), "q", est.alias("estimate")
    )


def _strict_inversions(y) -> int:
    """Count strict inversions (i < j, y[i] > y[j]) in O(n log² n) via
    vectorized divide-and-conquer: cross-inversions between sorted
    halves fall out of one searchsorted per level. Exact integers."""
    import numpy as np

    y = np.asarray(y)

    def rec(a):
        n = len(a)
        if n < 2:
            return 0, a
        mid = n // 2
        inv_l, ls = rec(a[:mid])
        inv_r, rs = rec(a[mid:])
        # elements of the left half strictly greater than each right
        # element: left precedes right positionally, so every such pair
        # is an inversion
        cross = int(
            (len(ls) - np.searchsorted(ls, rs, side="right")).sum()
        )
        merged = np.concatenate([ls, rs])
        merged.sort(kind="mergesort")
        return inv_l + inv_r + cross, merged

    total, _ = rec(y)
    return total


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Kendall's τ-b rank correlation per group, tie-corrected (Kendall
    1945), computed with Knight's O(n log n) algorithm (Knight, JASA
    1966) instead of the O(n²) pair classification the textbook
    definition implies.

    Per group: sort by (x, y); discordant pairs are then EXACTLY the
    strict inversions of the y sequence (pairs inside an x-tie run are
    y-sorted and contribute none), counted by vectorized merge-sort.
    Tie terms n1/n2/n3 (pairs tied on x / y / both) come from value
    counts, concordant from the identity nc = n0−n1−n2+n3−nd. Every
    count is an exact integer; τ-b = (nc−nd)/√((n0−n1)(n0−n2)) is one
    float expression at the end — the integer-moments discipline, so
    an oracle can restate the counts quadratically and match bitwise.

    Scale shape: ``applyInPandas`` per group — the group is the unit
    of correlation (a segment, a cohort, a day), assumed
    executor-sized; corpus-wide monotone association over unbounded
    rows is what :func:`spearman_correlation` (window-rank + moments)
    is for. NULL x/y rows are excluded up front. τ-b is NULL for
    groups with zero x- or y-variance (√ of 0).

    Output: one row per group — (group_cols…, n, concordant,
    discordant, tied_x, tied_y, tied_both, tau_b).
    """
    import pandas as pd

    work = df.select(
        *group_cols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).dropna(subset=["__x", "__y"])

    out_fields = ", ".join(
        f"`{c}` string" for c in group_cols
    )
    schema = (
        f"{out_fields}, n long, concordant long, discordant long, "
        "tied_x long, tied_y long, tied_both long, tau_b double"
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: str(pdf[c].iloc[0]) for c in group_cols}
        s = pdf.sort_values(["__x", "__y"], kind="mergesort")
        n = len(s)
        n0 = n * (n - 1) // 2
        tx = s["__x"].value_counts()
        ty = s["__y"].value_counts()
        txy = s.groupby(["__x", "__y"]).size()
        n1 = int((tx * (tx - 1) // 2).sum())
        n2 = int((ty * (ty - 1) // 2).sum())
        n3 = int((txy * (txy - 1) // 2).sum())
        nd = _strict_inversions(s["__y"].to_numpy())
        nc = n0 - n1 - n2 + n3 - nd
        denom = (n0 - n1) * (n0 - n2)
        import math

        tau = (nc - nd) / math.sqrt(float(denom)) if denom > 0 else None
        return pd.DataFrame(
            [
                {
                    **keys,
                    "n": n,
                    "concordant": nc,
                    "discordant": nd,
                    "tied_x": n1,
                    "tied_y": n2,
                    "tied_both": n3,
                    "tau_b": tau,
                }
            ]
        )

    return work.groupBy(*group_cols).applyInPandas(per_group, schema=schema)


def mann_kendall(
    df: DataFrame,
    time_col: str,
    value_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Mann-Kendall monotone-trend test + Sen's slope per series —
    the standard nonparametric "is this metric drifting" pair (Mann
    1945 / Kendall 1975; Sen 1968): S = Σ sign(v_j − v_i) over time-
    ordered pairs, tie-corrected variance Var(S) = [n(n−1)(2n+5) −
    Σ t(t−1)(2t+5)]/18 over VALUE tie runs, continuity-corrected
    z = (S∓1)/√Var(S), and the Sen estimator = median of all pairwise
    slopes (robust to outliers where OLS is not).

    S comes from the same O(n log n) Knight machinery as
    :func:`kendall_tau` — with unique timestamps S = nc − nd exactly,
    so no O(n²) sign scan; the Sen slopes ARE the O(n²) part and are
    built with one numpy broadcast per group (an n² float block —
    fine for series-length groups, which is this operator's unit of
    work; duplicate timestamps raise, resample first). Every
    ingredient except the final z/slope chain is an exact integer, so
    a quadratic SQL restatement matches bitwise.

    Output per group: (group_cols…, n, s_stat, var_s, z, sen_slope);
    z is NULL for degenerate series (all values tied or n < 2), and
    sen_slope NULL when n < 2.
    """
    import numpy as np
    import pandas as pd

    work = df.select(
        *group_cols,
        F.col(time_col).cast("double").alias("__t"),
        F.col(value_col).cast("double").alias("__v"),
    ).dropna(subset=["__t", "__v"])

    out_fields = ", ".join(f"`{c}` string" for c in group_cols)
    schema = (
        f"{out_fields}, n long, s_stat long, var_s double, z double, "
        "sen_slope double"
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        keys = {c: str(pdf[c].iloc[0]) for c in group_cols}
        s = pdf.sort_values(["__t", "__v"], kind="mergesort")
        t = s["__t"].to_numpy()
        v = s["__v"].to_numpy()
        n = len(s)
        if len(np.unique(t)) != n:
            raise ValueError(
                "mann_kendall needs unique timestamps per series — "
                "resample/aggregate duplicates first"
            )
        if n < 2:
            return pd.DataFrame(
                [{**keys, "n": n, "s_stat": 0, "var_s": 0.0,
                  "z": None, "sen_slope": None}]
            )
        # S = nc - nd of (time, value): time has no ties, so pairs are
        # concordant/discordant/value-tied only
        n0 = n * (n - 1) // 2
        ty = pd.Series(v).value_counts()
        n2 = int((ty * (ty - 1) // 2).sum())
        nd = _strict_inversions(v)
        nc = n0 - n2 - nd
        s_stat = nc - nd
        tie_term = int((ty * (ty - 1) * (2 * ty + 5)).sum())
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        if var_s > 0:
            if s_stat > 0:
                z = (s_stat - 1) / math.sqrt(var_s)
            elif s_stat < 0:
                z = (s_stat + 1) / math.sqrt(var_s)
            else:
                z = 0.0
        else:
            z = None
        dv = v[None, :] - v[:, None]
        dt = t[None, :] - t[:, None]
        iu = np.triu_indices(n, k=1)
        slopes = dv[iu] / dt[iu]
        sen = float(np.median(slopes))
        return pd.DataFrame(
            [{**keys, "n": n, "s_stat": int(s_stat), "var_s": var_s,
              "z": z, "sen_slope": sen}]
        )

    return work.groupBy(*group_cols).applyInPandas(per_group, schema=schema)


def isotonic_fit(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Isotonic regression per group via pool-adjacent-violators
    (Ayer et al. 1955; the calibration map behind isotonic probability
    calibration — the nonparametric sibling of Platt scaling): the
    least-squares non-decreasing step function through (x, y).

    PAV is inherently sequential (a stack of pooled blocks), so each
    group fits inside ``applyInPandas`` — the group (a model's score
    segment, a classifier head) is the unit of work, executor-sized by
    contract like :func:`kendall_tau`. Ties in x are pre-averaged
    (the standard secondary reduction) so the fit is a function of x.

    Output: one row per fitted block — (group_cols…, block, x_lo,
    x_hi, y_hat, weight) with y_hat non-decreasing in block order;
    calibrating a score s means looking up the block whose [x_lo,
    x_hi] brackets s (interval join / searchsorted downstream).
    Deterministic: numpy float ops over sorted input, no RNG. Not
    SQL-restatable (the pooling stack) — rows-only + property tests.
    """
    import numpy as np
    import pandas as pd

    work = df.select(
        *group_cols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).dropna(subset=["__x", "__y"])

    out_fields = ", ".join(f"`{c}` string" for c in group_cols)
    schema = (
        f"{out_fields}, block int, x_lo double, x_hi double, "
        "y_hat double, weight long"
    )

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = {c: str(pdf[c].iloc[0]) for c in group_cols}
        g = (
            pdf.groupby("__x")["__y"]
            .agg(["mean", "count"])
            .sort_index()
        )
        xs = g.index.to_numpy()
        means = g["mean"].to_numpy()
        counts = g["count"].to_numpy().astype(np.int64)
        # PAV: blocks of (sum_w, sum_wy, x_lo, x_hi); merge backwards
        # while the monotonicity constraint is violated
        blocks: list[list[float]] = []
        for x, m, w in zip(xs, means, counts):
            blocks.append([float(w), float(m) * w, x, x])
            while (
                len(blocks) > 1
                and blocks[-2][1] / blocks[-2][0]
                >= blocks[-1][1] / blocks[-1][0]
            ):
                w2, wy2, lo2, _ = blocks.pop()
                blocks[-1][0] += w2
                blocks[-1][1] += wy2
                blocks[-1][3] = x
        return pd.DataFrame(
            [
                {
                    **keys,
                    "block": i,
                    "x_lo": b[2],
                    "x_hi": b[3],
                    "y_hat": b[1] / b[0],
                    "weight": int(b[0]),
                }
                for i, b in enumerate(blocks)
            ]
        )

    return work.groupBy(*group_cols).applyInPandas(per_group, schema=schema)


def _binom_fold_sql(m: str, j: str) -> str:
    """SQL expression for C(m, j) by the exact Pascal ratio recurrence,
    folded in DECIMAL(38,0): acc*(m-i+1) is always divisible by i (it
    equals C(m,i)*i), so the capped-scale decimal division is exact at
    every step.  Shared by :func:`fisher_exact` / :func:`mcnemar_exact`;
    exact while C(m, ⌊m/2⌋)·m fits DECIMAL(38,0), i.e. m ≤ 120."""
    return (
        f"aggregate(CASE WHEN {j} > 0 "
        f"THEN sequence(1L, CAST({j} AS BIGINT)) "
        f"ELSE CAST(array() AS array<bigint>) END, "
        f"CAST(1 AS DECIMAL(38,0)), "
        f"(acc, i) -> CAST(acc * ({m} - i + 1) / i AS DECIMAL(38,0)))"
    )


def _guard_cells(
    cells: DataFrame, cols: list[str], too_big: Column, message: str
) -> DataFrame:
    """``cells`` with each of ``cols`` replaced by a guarded copy that
    raises ``message`` when ``too_big`` holds: whatever reads a cell
    first meets the guard first."""
    return cells.withColumns(
        {
            c: F.when(too_big, F.raise_error(F.lit(message))).otherwise(F.col(c))
            for c in cols
        }
    )


def fisher_exact(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    max_n: int = 120,
) -> DataFrame:
    """Fisher's exact test on the 2×2 table (exposure × outcome) — the
    SMALL-SAMPLE independence test (chi² `chi2_crosstab` assumes large
    expected cells; stratified cohorts, rare adverse events and early
    A/B reads routinely have cells < 5 where only the exact
    hypergeometric answer is valid).

    Integer-exact throughout (the q169/q221 discipline: restate the
    chain in exact integers, divide once at the end): the
    hypergeometric weight w(k) = C(r1,k)·C(r2,c1−k) is built by the
    Pascal ratio recurrence C(m,j) = C(m,j−1)·(m−j+1)/j, which is an
    EXACT integer at every step, folded in DECIMAL(38,0).  The
    two-sided p-value sums w(k) over {k : w(k) ≤ w(a)} — an exact
    integer comparison, so no float tolerance (the classic
    (1+1e-7)·P(obs) fudge) is needed and any SQL twin that runs the
    same recurrence matches bit-for-bit.  One final division by
    C(n, c1) (= Σ_k w(k), Vandermonde) produces the only double.

    Bounds: C(n, ⌊n/2⌋)·n must fit DECIMAL(38,0), true for n ≤
    ``max_n`` = 120.  Larger tables raise at action time — at that
    size the exact test is statistically pointless and
    :func:`chi2_crosstab` / :func:`proportions_ztest` are the right
    tools.  NULL exposure/outcome rows are excluded.

    Plan: ONE hash aggregate to the 2×2 cells (map-side combined; the
    fact table never shuffles), then a ≤121-row exploded k-grid of
    pure JVM expression folds.  Scale cost is the single aggregate —
    the test statistic itself is O(n) arithmetic on a 1-row frame.

    Output: 1 row — (a, b, c, d, p_two_sided, p_greater, p_less,
    odds_ratio); p's rounded to 12 dp, odds_ratio NULL on a zero
    cell.
    """
    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    cells = (
        df.filter(e.isNotNull() & o.isNotNull())
        .agg(
            F.sum(F.when(e & o, 1).otherwise(0)).alias("a"),
            F.sum(F.when(e & ~o, 1).otherwise(0)).alias("b"),
            F.sum(F.when(~e & o, 1).otherwise(0)).alias("c"),
            F.sum(F.when(~e & ~o, 1).otherwise(0)).alias("d"),
        )
    )
    # The guard rides on every cell the k-grid reads, so it raises
    # before the first binomial fold can overflow (ColumnPruning would
    # drop a guard column nothing reads).
    cells = _guard_cells(
        cells,
        ["a", "b", "c", "d"],
        F.col("a") + F.col("b") + F.col("c") + F.col("d") > max_n,
        f"fisher_exact: n > {max_n} exceeds the DECIMAL(38,0) "
        "exact-binomial envelope — use chi2_crosstab / "
        "proportions_ztest at this sample size",
    )
    base = cells.select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r2"),
        (F.col("a") + F.col("c")).alias("c1"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
    )

    binom = _binom_fold_sql
    w_of = lambda k: (  # noqa: E731 — local formula, used twice
        f"CAST({binom('r1', k)} * {binom('r2', f'(c1 - {k})')} "
        f"AS DECIMAL(38,0))"
    )
    grid = (
        base.select(
            "a",
            "b",
            "c",
            "d",
            "n",
            "r1",
            "r2",
            "c1",
            F.expr(w_of("a")).alias("w_obs"),
            F.expr(binom("n", "c1")).alias("w_total"),
            F.explode(
                F.expr("sequence(greatest(0L, c1 - r2), least(r1, c1))")
            ).alias("k"),
        )
        .withColumn("w_k", F.expr(w_of("k")))
        .drop("r1", "r2", "c1")
    )
    out = grid.groupBy("a", "b", "c", "d", "n", "w_obs", "w_total").agg(
        F.sum(F.when(F.col("w_k") <= F.col("w_obs"), F.col("w_k"))).alias(
            "__num_two"
        ),
        F.sum(F.when(F.col("k") >= F.col("a"), F.col("w_k"))).alias(
            "__num_ge"
        ),
        F.sum(F.when(F.col("k") <= F.col("a"), F.col("w_k"))).alias(
            "__num_le"
        ),
    )
    ratio = lambda num: F.round(  # noqa: E731
        num.cast("double") / F.col("w_total").cast("double"), 12
    )
    return out.select(
        "a",
        "b",
        "c",
        "d",
        ratio(F.col("__num_two")).alias("p_two_sided"),
        ratio(F.col("__num_ge")).alias("p_greater"),
        ratio(F.col("__num_le")).alias("p_less"),
        F.when(
            (F.col("a") > 0)
            & (F.col("b") > 0)
            & (F.col("c") > 0)
            & (F.col("d") > 0),
            F.round(
                (F.col("a") * F.col("d")).cast("double")
                / (F.col("b") * F.col("c")).cast("double"),
                12,
            ),
        ).alias("odds_ratio"),
    )


def mcnemar_exact(
    df: DataFrame,
    before_col: str,
    after_col: str,
    max_n: int = 120,
) -> DataFrame:
    """McNemar's exact test on PAIRED binary outcomes — "did the rate
    change between two measurements of the SAME subjects?" (pre/post
    intervention, two time windows, two model versions scored on one
    eval set).  The unpaired tests (:func:`proportions_ztest`,
    :func:`fisher_exact`) are wrong here: concordant pairs carry no
    information, so only the b (1→0) and c (0→1) discordant counts
    enter, and under H₀ each discordant pair is a fair coin.

    Exact binomial form (the χ²-approximation variant needs b+c ≳ 25;
    the exact tail is valid always): p_two = min(1, 2·Σ_{k ≤ min(b,c)}
    C(n,k)/2ⁿ) with n = b+c.  Integer-exact per the fisher_exact
    discipline — binomials via the shared DECIMAL(38,0) Pascal fold
    (:func:`_binom_fold_sql`), tail summed as exact integers, ONE
    division by 2ⁿ at the end, so a SQL twin running the same
    recurrence matches bit-for-bit.  n > ``max_n`` raises toward the
    χ² form (same DECIMAL envelope as fisher_exact).

    Plan: ONE hash aggregate to (n_pairs, b, c) — the fact side never
    shuffles — then a ≤61-row exploded k-grid of JVM expression folds.

    Output: 1 row — (n_pairs, b, c, p_two_sided, odds_ratio);
    odds_ratio = b/c (NULL when c = 0), p rounded to 12 dp.
    """
    pre = F.col(before_col).cast("boolean")
    post = F.col(after_col).cast("boolean")
    cells = (
        df.filter(pre.isNotNull() & post.isNotNull())
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(pre & ~post, 1).otherwise(0)).alias("b"),
            F.sum(F.when(~pre & post, 1).otherwise(0)).alias("c"),
        )
    )
    cells = _guard_cells(
        cells,
        ["b", "c"],
        F.col("b") + F.col("c") > max_n,
        f"mcnemar_exact: b + c > {max_n} exceeds the "
        "DECIMAL(38,0) exact-binomial envelope — use the "
        "chi-square form at this sample size",
    )
    base = cells.withColumn("n", F.col("b") + F.col("c"))
    grid = base.select(
        "n_pairs",
        "b",
        "c",
        "n",
        F.explode(
            F.expr("sequence(0L, least(b, c))")
        ).alias("k"),
    ).withColumn("w_k", F.expr(_binom_fold_sql("n", "k")))
    out = grid.groupBy("n_pairs", "b", "c", "n").agg(
        F.sum("w_k").alias("__tail")
    )
    two_pow_n = F.expr(
        "aggregate(CASE WHEN n > 0 THEN sequence(1L, n) "
        "ELSE CAST(array() AS array<bigint>) END, "
        "CAST(1 AS DECIMAL(38,0)), (acc, i) -> CAST(acc * 2 AS DECIMAL(38,0)))"
    )
    p_raw = F.col("__tail").cast("double") / two_pow_n.cast("double")
    return out.select(
        "n_pairs",
        "b",
        "c",
        F.when(F.col("n") == 0, F.lit(1.0))
        .otherwise(F.round(F.least(F.lit(1.0), 2.0 * p_raw), 12))
        .alias("p_two_sided"),
        F.when(
            F.col("c") > 0,
            F.round(F.col("b").cast("double") / F.col("c").cast("double"), 12),
        ).alias("odds_ratio"),
    )


def msprt_monitor(
    df: DataFrame,
    ts_col: str,
    arm_col: str,
    value_col: str,
    arm_a,
    arm_b,
    tau: float = 1.0,
    bucket: str = "1 day",
    value_dp: int = 3,
) -> DataFrame:
    """Always-valid sequential A/B monitor — the mixture sequential
    probability ratio test (mSPRT; Johari et al. 2017, the "peeking
    problem" fix): unlike a fixed-horizon z-test (:func:`welch_t_test`,
    :func:`proportions_ztest`), the always-valid p-value may be read
    EVERY day and the type-I guarantee still holds, which is how
    experiments are actually monitored.

    Per bucket, the two-sample normal mixture likelihood ratio with
    mixture variance τ²:  Λ_n = √(V_n/(V_n+τ²)) ·
    exp(Δ_n²τ²/(2V_n(V_n+τ²))) with Δ_n the cumulative mean
    difference and V_n = s²(1/n_a + 1/n_b) (pooled plug-in variance);
    the always-valid p after bucket k is min(1, min_{j≤k} 1/Λ_j),
    monotone non-increasing.

    Determinism discipline: values quantize to ``value_dp`` (≤ 3 —
    Spark caps the decimal product at scale 6, so the squared sums
    stay EXACT only while 2·value_dp ≤ 6) and accumulate as DECIMAL
    exact sums through the cumulative windows (double summation order
    would drift across engines); Λ is the single transcendental,
    quantized to 12 dp per row BEFORE the running min, so the min
    compares identical doubles in any engine.  Buckets with n_a < 2, n_b < 2 or zero pooled
    variance yield NULL Λ and inherit the running p (min skips
    NULLs).

    Plan: ONE map-side-combined hash aggregate to the (bucket × arm)
    frame, then cumulative windows over the BUCKET frame (days, not
    rows) — fact rows never enter a window.

    Output: one row per bucket — (bucket, n_a, n_b, delta,
    lambda_stat, p_always_valid).
    """
    from pyspark.sql import Window

    t2 = float(tau) ** 2
    if t2 <= 0:
        raise ValueError("tau must be > 0")
    if value_dp > 3:
        raise ValueError(
            "value_dp > 3 breaks squared-sum exactness (decimal product "
            "scale caps at 6)"
        )
    v = F.round(F.col(value_col), value_dp).cast("decimal(38,6)")
    arm = F.col(arm_col)
    daily = (
        df.filter(arm.isin([arm_a, arm_b]) & v.isNotNull())
        .groupBy(F.window(ts_col, bucket).getField("start").alias("bucket"))
        .agg(
            F.sum(F.when(arm == arm_a, 1).otherwise(0)).alias("na_d"),
            F.sum(F.when(arm == arm_b, 1).otherwise(0)).alias("nb_d"),
            F.sum(
                F.when(arm == arm_a, v).otherwise(F.lit(0).cast("decimal(38,6)"))
            ).alias("sa_d"),
            F.sum(
                F.when(arm == arm_b, v).otherwise(F.lit(0).cast("decimal(38,6)"))
            ).alias("sb_d"),
            F.sum(
                F.when(arm == arm_a, v * v).otherwise(
                    F.lit(0).cast("decimal(38,12)")
                )
            ).alias("qa_d"),
            F.sum(
                F.when(arm == arm_b, v * v).otherwise(
                    F.lit(0).cast("decimal(38,12)")
                )
            ).alias("qb_d"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "bucket",
        F.sum("na_d").over(w).alias("na"),
        F.sum("nb_d").over(w).alias("nb"),
        F.sum("sa_d").over(w).alias("sa"),
        F.sum("sb_d").over(w).alias("sb"),
        F.sum("qa_d").over(w).alias("qa"),
        F.sum("qb_d").over(w).alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    delta = sa / na - sb / nb
    ss = (qa - sa * sa / na) + (qb - sb * sb / nb)
    s2 = ss / (na + nb - 2.0)
    vn = s2 * (1.0 / na + 1.0 / nb)
    lam = F.round(
        F.sqrt(vn / (vn + t2))
        * F.exp(delta * delta * t2 / (2.0 * vn * (vn + t2))),
        12,
    )
    ok = (F.col("na") >= 2) & (F.col("nb") >= 2) & (s2 > 0)
    scored = cum.select(
        "bucket",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.when(ok, F.round(delta, 12)).alias("delta"),
        F.when(ok, lam).alias("lambda_stat"),
    )
    w2 = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    inv = F.when(
        F.col("lambda_stat") > 1.0, F.round(1.0 / F.col("lambda_stat"), 12)
    ).otherwise(F.lit(1.0))
    return scored.withColumn(
        "p_always_valid", F.min(inv).over(w2)
    )


def _dec_moments(v, cond=None):
    """Exact-decimal (n, Σv, Σv²) aggregate expressions for a 2-dp-
    quantized value column — the msprt_monitor discipline shared by
    the effect-size/agreement operators below (double summation order
    drifts across engines; DECIMAL sums do not)."""
    q = F.round(v, 2).cast("decimal(18,6)")
    zero6 = F.lit(0).cast("decimal(18,6)")
    zero12 = (zero6 * zero6).cast("decimal(38,12)")
    if cond is not None:
        n = F.sum(F.when(cond & v.isNotNull(), 1).otherwise(0))
        s1 = F.sum(F.when(cond, q).otherwise(zero6))
        s2 = F.sum(F.when(cond, (q * q).cast("decimal(38,12)")).otherwise(zero12))
    else:
        n = F.sum(F.when(v.isNotNull(), 1).otherwise(0))
        s1 = F.sum(q)
        s2 = F.sum((q * q).cast("decimal(38,12)"))
    return n, s1, s2


def cohens_d(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    value_col: str,
) -> DataFrame:
    """Standardized effect size for a two-group mean difference —
    Cohen's d (pooled-SD units) and the small-sample-corrected
    Hedges' g: the number every A/B readout should report NEXT TO its
    p-value, because significance without magnitude is how trivial
    effects ship.  d = (x̄_a − x̄_b)/s_pooled; g = d·J with J = 1 −
    3/(4(n_a+n_b) − 9).

    ONE map-side-combined hash aggregate to the exact-decimal moment
    frame (the fact side never shuffles); the arithmetic after it is
    a fixed double sequence over exact sums, so a SQL twin matches
    bitwise.  NULL d when either group has < 2 values or the pooled
    variance is 0.

    Output: 1 row — (n_a, n_b, mean_a, mean_b, pooled_sd, cohens_d,
    hedges_g), means/sd/effects rounded via the d4 convention by the
    caller.
    """
    g = F.col(group_col)
    v = F.col(value_col)
    na, sa, qa = _dec_moments(v, g == group_a)
    nb, sb, qb = _dec_moments(v, g == group_b)
    agg = df.filter(g.isin([group_a, group_b])).agg(
        na.alias("n_a"), sa.alias("s_a"), qa.alias("q_a"),
        nb.alias("n_b"), sb.alias("s_b"), qb.alias("q_b"),
    )
    nA, nB = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    sA, sB = F.col("s_a").cast("double"), F.col("s_b").cast("double")
    qA, qB = F.col("q_a").cast("double"), F.col("q_b").cast("double")
    mean_a, mean_b = sA / nA, sB / nB
    ss = (qA - sA * sA / nA) + (qB - sB * sB / nB)
    pooled = F.sqrt(ss / (nA + nB - 2.0))
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (ss > 0)
    d = (mean_a - mean_b) / pooled
    j = 1.0 - 3.0 / (4.0 * (nA + nB) - 9.0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, mean_a).alias("mean_a"),
        F.when(F.col("n_b") > 0, mean_b).alias("mean_b"),
        F.when(ok, pooled).alias("pooled_sd"),
        F.when(ok, d).alias("cohens_d"),
        F.when(ok, d * j).alias("hedges_g"),
    )


def bland_altman(
    df: DataFrame,
    m1_col: str,
    m2_col: str,
) -> DataFrame:
    """Bland–Altman agreement analysis (Bland & Altman 1986 — THE
    method-comparison statistic in laboratory medicine): for paired
    measurements of the same quantity by two methods, the bias is the
    mean difference and the 95 % limits of agreement are bias ±
    1.96·SD(diff); correlation is the WRONG tool here (two methods
    can correlate at 0.99 and still disagree by a clinically fatal
    offset).

    One exact-decimal moment aggregate over the paired diffs + one
    count of pairs outside the limits (a second scan with the limits
    broadcast as a 1-row cross join — pair rows never shuffle).
    Pairs with either side NULL are excluded.

    Output: 1 row — (n, bias, loa_lo, loa_hi, n_outside).
    """
    m1, m2 = F.col(m1_col), F.col(m2_col)
    paired = df.filter(m1.isNotNull() & m2.isNotNull())
    diff = m1 - m2
    n_, s1, s2 = _dec_moments(diff)
    agg = paired.agg(n_.alias("n"), s1.alias("s1"), s2.alias("s2"))
    nD = F.col("n").cast("double")
    sD = F.col("s1").cast("double")
    qD = F.col("s2").cast("double")
    bias = sD / nD
    sd = F.sqrt((qD - sD * sD / nD) / (nD - 1.0))
    lims = agg.select(
        F.col("n"),
        bias.alias("bias"),
        (bias - 1.96 * sd).alias("loa_lo"),
        (bias + 1.96 * sd).alias("loa_hi"),
    )
    outside = (
        paired.select(F.round(diff, 2).alias("__d"))
        .crossJoin(F.broadcast(lims))
        .agg(
            F.sum(
                F.when(
                    (F.col("__d") < F.col("loa_lo"))
                    | (F.col("__d") > F.col("loa_hi")),
                    1,
                ).otherwise(0)
            ).alias("n_outside")
        )
    )
    return lims.crossJoin(F.broadcast(outside))


def icc_oneway(
    df: DataFrame,
    subject_col: str,
    value_col: str,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss 1979 case 1) — the reliability statistic for
    repeated measurements of the same subjects (rater agreement,
    test-retest, duplicate lab assays): share of total variance that
    is BETWEEN subjects, (MSB − MSW)/(MSB + (k₀−1)·MSW), with the
    unbalanced-design k₀ = (N − Σkᵢ²/N)/(n−1).

    Two hash aggregates: per-subject exact-decimal moments (the only
    shuffle, keyed by subject), then the 1-row ANOVA fold.  Subjects
    with a single measurement contribute to MSW's denominator
    correctly via k₀.  The per-subject s²/k terms sum in DOUBLE
    across subjects (a rational-exact restatement would need a common
    denominator over arbitrary kᵢ), so the oracle contract here is
    the d4(+1e-9) convention — the same class as every avg() oracle —
    not the bitwise class of the single-aggregate operators above;
    drift is ~n·2⁻⁵³ relative, orders below the nudge.

    Output: 1 row — (n_subjects, n_obs, msb, msw, k0, icc); NULL icc
    when < 2 subjects or MSB+(k₀−1)MSW = 0.
    """
    v = F.col(value_col)
    n_, s1, s2 = _dec_moments(v)
    per = (
        df.filter(v.isNotNull())
        .groupBy(subject_col)
        .agg(n_.alias("__k"), s1.alias("__s"), s2.alias("__q"))
    )
    agg = per.agg(
        F.count("*").alias("n_subj"),
        F.sum("__k").alias("n_obs"),
        F.sum(F.col("__k") * F.col("__k")).alias("sum_k2"),
        F.sum("__s").alias("s_tot"),
        F.sum("__q").alias("q_tot"),
        F.sum(
            (F.col("__s").cast("double") * F.col("__s").cast("double"))
            / F.col("__k").cast("double")
        ).alias("ss_subj"),
    )
    n = F.col("n_subj").cast("double")
    N = F.col("n_obs").cast("double")
    sT = F.col("s_tot").cast("double")
    qT = F.col("q_tot").cast("double")
    ssb = F.col("ss_subj") - sT * sT / N
    ssw = qT - F.col("ss_subj")
    msb = ssb / (n - 1.0)
    msw = ssw / (N - n)
    k0 = (N - F.col("sum_k2").cast("double") / N) / (n - 1.0)
    denom = msb + (k0 - 1.0) * msw
    ok = (F.col("n_subj") >= 2) & (N > n) & (denom != 0.0)
    return agg.select(
        F.col("n_subj").alias("n_subjects"),
        F.col("n_obs").cast("long").alias("n_obs"),
        F.when(F.col("n_subj") >= 2, msb).alias("msb"),
        F.when(N > n, msw).alias("msw"),
        F.when(F.col("n_subj") >= 2, k0).alias("k0"),
        F.when(ok, (msb - msw) / denom).alias("icc"),
    )


def deming_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    lambda_: float = 1.0,
) -> DataFrame:
    """Deming regression — the method-comparison fit when BOTH
    variables carry measurement error (ordinary least squares is
    biased toward zero slope there; clinical-chemistry method
    validation uses Deming for exactly this reason).  Closed form
    from second moments with error-variance ratio λ = σ²_y/σ²_x:
    slope = (s_yy − λ·s_xx + √((s_yy − λ·s_xx)² + 4λ·s_xy²)) /
    (2·s_xy), intercept = ȳ − slope·x̄.

    ONE exact-decimal moment aggregate (n, Σx, Σy, Σx², Σy², Σxy) —
    the fact side never shuffles; everything after is a fixed double
    sequence, so a SQL twin matches bitwise.  NULL slope when n < 3
    or s_xy = 0 (the degenerate no-covariance case where the Deming
    line is undefined).

    Output: 1 row — (n, mean_x, mean_y, slope, intercept).
    """
    lam = float(lambda_)
    if lam <= 0:
        raise ValueError("lambda_ must be > 0")
    x, y = F.col(x_col), F.col(y_col)
    paired = df.filter(x.isNotNull() & y.isNotNull())
    qx = F.round(x, 2).cast("decimal(18,6)")
    qy = F.round(y, 2).cast("decimal(18,6)")
    agg = paired.agg(
        F.count("*").alias("n"),
        F.sum(qx).alias("sx"),
        F.sum(qy).alias("sy"),
        F.sum((qx * qx).cast("decimal(38,12)")).alias("sxx"),
        F.sum((qy * qy).cast("decimal(38,12)")).alias("syy"),
        F.sum((qx * qy).cast("decimal(38,12)")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double") - sx * sx / n
    syy = F.col("syy").cast("double") - sy * sy / n
    sxy = F.col("sxy").cast("double") - sx * sy / n
    slope = (
        syy - lam * sxx
        + F.sqrt(
            (syy - lam * sxx) * (syy - lam * sxx) + 4.0 * lam * sxy * sxy
        )
    ) / (2.0 * sxy)
    ok = (F.col("n") >= 3) & (sxy != 0.0)
    return agg.select(
        "n",
        F.when(F.col("n") > 0, sx / n).alias("mean_x"),
        F.when(F.col("n") > 0, sy / n).alias("mean_y"),
        F.when(ok, slope).alias("slope"),
        F.when(ok, sy / n - slope * (sx / n)).alias("intercept"),
    )
