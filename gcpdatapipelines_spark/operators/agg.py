"""Aggregations (SURVEY.md §2.4, A1-A7).

Beam's CombinePerKey is a combiner-lifted partial+final aggregation;
Spark's hash aggregate has the identical property (map-side partial
combine before the shuffle), so each helper below shuffles only the
partially-aggregated keys — the scale-critical behavior is free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .portable import trunc_dp


def count_per_key(df: DataFrame, *keys: str, alias: str = "cnt") -> DataFrame:
    """A1: CountCombineFn per key (reference csv_to_bq_NYC.py:132-136)."""
    return df.groupBy(*keys).agg(F.count("*").alias(alias))


def distinct_rows(df: DataFrame, *cols: str) -> DataFrame:
    """A7: whole-row Distinct (reference schema_generator.ipynb cell 23)."""
    return (df.select(*cols) if cols else df).distinct()


def zscore_per_key(
    df: DataFrame,
    value_col: str,
    keys: list[str],
    out_col: str = "zscore",
    decimal_type: str = "decimal(18,2)",
) -> DataFrame:
    """Per-group z-score of a fixed-point value column, computed from
    EXACT decimal sums so the result is bit-identical across engines.

    stddev()/avg() over doubles reassociate differently per engine and
    partitioning; instead the group moments are decimal sums (sum(x),
    sum(x*x) — associative, exact for 2-dp money columns), and the
    mean/variance/z arithmetic is a fixed scalar double expression:
    z = (x - s1/n) / sqrt((s2 - s1*s1/n) / (n - 1)).

    Window-function shape: ONE shuffle on the group key; the moments
    are window aggregates, so no second join to attach them back."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    xd = F.col(value_col).cast(decimal_type)
    s1 = F.sum(xd).over(w).cast("double")
    s2 = F.sum(xd * xd).over(w).cast("double")
    n = F.count(value_col).over(w).cast("double")
    mean = s1 / n
    var = (s2 - s1 * s1 / n) / (n - F.lit(1.0))
    return df.withColumn(out_col, (F.col(value_col) - mean) / F.sqrt(var))


def histogram_fixed_width(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
) -> DataFrame:
    """Fixed-width histogram: count per bucket over [lo, hi), values
    outside clamped into the edge buckets. The bucket index is a pure
    scalar expression (floor of one double division — deterministic,
    engine-identical), so the whole thing is a single partial+final
    hash aggregate over at most ``nbins`` keys: the cheapest possible
    profile scan, and the shape to prefer over exact percentiles when
    a distribution sketch is all that's needed.

    NULL values are excluded (greatest/least skip NULLs, so an
    unfiltered NULL index would silently clamp into bucket 0)."""
    width = (hi - lo) / nbins
    idx = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.greatest(idx, F.lit(0)), F.lit(nbins - 1)).cast("bigint")
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .withColumn("lo_edge", F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 6))
    )


def approx_distinct_per_key(
    df: DataFrame, value: str, *keys: str, rsd: float = 0.05,
    alias: str = "approx_distinct",
) -> DataFrame:
    """HyperLogLog++ distinct counts (approx_count_distinct): the scale
    path for cardinality — exact count(DISTINCT) shuffles every
    distinct value, HLL shuffles one ~1.5 KB sketch per group and
    merges map-side. ``rsd`` is the target relative standard deviation.
    Engine-specific sketch values — rows-only checkable, tolerance
    against the exact count is pinned in tests."""
    return df.groupBy(*keys).agg(
        F.approx_count_distinct(value, rsd=rsd).alias(alias)
    )


def linear_fit_per_key(
    df: DataFrame,
    x: "F.Column",
    y: "F.Column",
    keys: list[str],
    ndigits: int = 6,
    portable_ints: bool = False,
) -> DataFrame:
    """Per-group least-squares line + Pearson correlation from EXACT
    decimal co-moments: ``x``/``y`` must already be decimal-typed
    Columns (cast with a scale that makes them exact — integral
    seconds, 2-dp money). The five sums (x, y, xy, xx, yy) are
    associative decimals, so every engine computes identical moments;
    slope/intercept/corr are then ONE fixed scalar double expression —
    bit-identical across engines. stddev()/corr() built-ins cannot
    promise this (double reassociation). Single partial+final hash
    aggregate; five extra decimal columns per group in the shuffle.

    ``portable_ints=True`` emits ``{slope,intercept,corr}_u6`` as
    ``floor(value * 1e6)`` BIGINTs instead of ``round(value, ndigits)``
    doubles. Rationale: the double chain itself is IEEE-identical
    across engines (every op — cast from exact decimal, *, -, /, sqrt
    — is correctly rounded), but decimal-place ROUNDING of a double is
    implemented differently per engine/version (Spark: exact BigDecimal
    HALF_UP; others: scaled-multiply + nearbyint), so values near a
    .5e-6 tie can straddle the boundary. floor() of the identical
    scaled double is uniquely defined on the bits — no tie region —
    which makes the output hash-portable (r4 verdict fix #1b)."""
    g = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    slope = num / dx
    intercept = (sy - (num / dx) * sx) / n
    corr = num / F.sqrt(dx * dy)
    if portable_ints:
        scale = F.lit(1000000.0)
        return g.select(
            *keys,
            F.floor(slope * scale).cast("long").alias("slope_u6"),
            F.floor(intercept * scale).cast("long").alias("intercept_u6"),
            F.floor(corr * scale).cast("long").alias("corr_u6"),
        )
    return g.select(
        *keys,
        F.round(slope, ndigits).alias("slope"),
        F.round(intercept, ndigits).alias("intercept"),
        F.round(corr, ndigits).alias("corr"),
    )


def merge_partial_aggregates(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Materialized-view maintenance: combine a stored aggregate table
    with the aggregate of a new increment by summing the partial sums
    per key — ``agg(old_data UNION increment) == merge(agg(old_data),
    agg(increment))`` for any algebraic aggregate carried as sums
    (count = sum of counts, mean = total/count at read time).

    The 100 TB rationale: a daily ingest re-aggregates ONLY the
    increment (plus the |keys|-sized state table), never the full
    history. Union + one partial+final hash aggregate over the key
    space; keep sums in decimal columns upstream for engine-exact
    maintenance (NOTES.md money-sum rules)."""
    u = state.select(*keys, *sum_cols).unionByName(delta.select(*keys, *sum_cols))
    return u.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])


def approx_quantiles_per_key(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """Per-key approximate quantiles via Spark's Greenwald-Khanna
    sketch — the mergeable, bounded-memory companion to
    :func:`exact_quantiles`: at 100 TB a per-group SORT of every value
    is off the table, while a GK sketch of ~accuracy entries per group
    crosses the shuffle instead of the values (same trade
    :func:`approx_distinct_per_key` makes for cardinality).
    Guaranteed rank error ≤ 1/accuracy; long form (key, p, q)."""
    parr = "array(" + ", ".join(f"{p!r}D" for p in probs) + ")"
    g = df.groupBy(key).agg(
        F.expr(
            f"approx_percentile({value_col}, {parr}, {accuracy})"
        ).alias("__q")
    )
    pz = F.posexplode(F.col("__q"))
    probs_arr = F.array(*[F.lit(p) for p in probs])
    return g.select(
        key, pz.alias("__i", "q")
    ).select(
        key, F.element_at(probs_arr, F.col("__i") + 1).alias("p"), "q"
    )


def approx_distinct_audited(
    df: DataFrame,
    value: str,
    key: str,
    rsd: float = 0.05,
    sigma: float = 3.0,
) -> DataFrame:
    """(key, exact_distinct, hll_in_band): HLL++ cardinality per key
    AUDITED against the exact count — the oracle-checkable form of
    :func:`approx_distinct_per_key`. The sketch estimate itself is
    engine-specific (Spark HLL++ vs any other engine's HLL disagree on
    the same set), so it cannot cross an engine-parity hash; what CAN
    is the exact count plus the boolean contract ``|est - exact| <=
    sigma * rsd * exact`` (sigma=3 of the target relative standard
    deviation — the bound the estimator is specified to meet, and
    deterministic for a fixed dataset because Spark's HLL has no RNG).
    The oracle emits the exact count and literal TRUE, so a sketch
    drifting out of its band hash-fails the row.

    Cost: the audit adds one exact count(DISTINCT) — fixture-scale
    tooling; at 100 TB the unaudited sketch form is the one to run."""
    g = df.groupBy(key).agg(
        F.approx_count_distinct(value, rsd=rsd).alias("__est"),
        F.countDistinct(value).alias("exact_distinct"),
    )
    band = F.lit(sigma * rsd) * F.col("exact_distinct").cast("double")
    return g.select(
        key,
        "exact_distinct",
        (
            F.abs(F.col("__est").cast("double") - F.col("exact_distinct"))
            <= band
        ).alias("hll_in_band"),
    )


def approx_quantiles_audited(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: list[float],
    accuracy: int = 10000,
) -> DataFrame:
    """(key, p, exact_q, gk_in_band): Greenwald-Khanna approximate
    quantiles AUDITED against their rank-error contract — the
    oracle-checkable form of :func:`approx_quantiles_per_key`. The
    sketch VALUE is engine-specific (Spark GK vs t-digest etc.), but
    its guarantee is not: the returned value's rank must lie within
    n/accuracy of p*n. That rank test runs Spark-side (count of
    values <m/<=m around each sketch output against the band), and
    the oracle emits the exact interpolated quantile (bit-identical
    cross-engine, a18 rule) plus literal TRUE — an out-of-contract
    sketch hash-fails.

    Shape: one sketch aggregate, one broadcast of the |keys|x|probs|
    sketch rows back over the fact for the rank counts, one exact
    percentile pass. Audit-tier costs; production runs the plain
    sketch."""
    qs = approx_quantiles_per_key(df, key, value_col, probs, accuracy)
    v = F.col(value_col)
    j = df.join(
        F.broadcast(qs.select(F.col(key), F.col("p"), F.col("q"))), key
    )
    ranks = j.groupBy(key, "p").agg(
        F.count(value_col).alias("__n"),
        F.sum((v < F.col("q")).cast("bigint")).alias("__n_lt"),
        F.sum((v <= F.col("q")).cast("bigint")).alias("__n_lte"),
    )
    eps_rank = F.col("__n").cast("double") / F.lit(float(accuracy))
    target = F.col("p") * F.col("__n").cast("double")
    in_band = (F.col("__n_lte").cast("double") >= F.floor(target - eps_rank)) & (
        F.col("__n_lt").cast("double") <= F.ceil(target + eps_rank)
    )
    exact = exact_quantiles(df, key, [value_col], probs).select(
        F.col(key), F.col("p"), F.col(f"{value_col}_q").alias("exact_q")
    )
    return (
        ranks.join(exact, [key, "p"])
        .select(key, "p", "exact_q", in_band.alias("gk_in_band"))
    )


def winsorize_stats(
    df: DataFrame,
    key: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    ndigits: int = 4,
) -> DataFrame:
    """Per-key winsorized mean: clamp values at the exact interpolated
    [lo, hi] quantiles and report the clamp bounds, how many rows hit
    each bound, and the winsorized mean — the robust-mean screen that
    keeps a handful of fat-finger rows from dragging a per-segment
    metric.

    Portability: the mean is assembled as (decimal-exact sum of the
    UNCLAMPED in-range values) + n_lo·q_lo + n_hi·q_hi — in-range
    inputs are 2-dp money (decimal sums are associative) and the two
    clamp products are single deterministic double ops, so the whole
    statistic is bit-identical across engines without trusting a
    double sum over interpolated quantile values.

    Scale shape: one per-key exact-percentile pass (see
    :func:`exact_quantiles` for the approx_percentile trade at
    corpus scale), one broadcast join of the tiny per-key bounds, one
    partial+final aggregate."""
    # ONE percentile(col, array(lo, hi)) buffer instead of two separate
    # aggregates: each percentile(col, p) keeps its own counts-map and
    # sorts it independently, doubling the dominant cost of this
    # operator (r10 measurement: 3.0 -> 1.7 s at sf0.1). Array-form
    # evaluation sorts once and interpolates both probabilities from
    # the same order statistics — bit-identical values.
    q = df.groupBy(key).agg(
        F.expr(
            f"percentile({value_col}, array({lo!r}D, {hi!r}D))"
        ).alias("__q")
    ).select(
        key,
        F.col("__q")[0].alias("q_lo"),
        F.col("__q")[1].alias("q_hi"),
    )
    j = df.join(F.broadcast(q), key)
    v = F.col(value_col)
    in_range = v.between(F.col("q_lo"), F.col("q_hi"))
    g = j.groupBy(key).agg(
        F.min("q_lo").alias("q_lo"),
        F.min("q_hi").alias("q_hi"),
        F.sum((v < F.col("q_lo")).cast("bigint")).alias("n_lo"),
        F.sum((v > F.col("q_hi")).cast("bigint")).alias("n_hi"),
        F.sum(
            F.when(in_range, v.cast("decimal(18,2)")).otherwise(F.lit(None))
        ).cast("double").alias("__s"),
        F.count("*").alias("n"),
    )
    mean = (
        F.col("__s")
        + F.col("n_lo").cast("double") * F.col("q_lo")
        + F.col("n_hi").cast("double") * F.col("q_hi")
    ) / F.col("n").cast("double")
    return g.select(
        key,
        trunc_dp(F.col("q_lo"), ndigits).alias("p_lo"),
        trunc_dp(F.col("q_hi"), ndigits).alias("p_hi"),
        "n_lo",
        "n_hi",
        trunc_dp(mean, ndigits).alias("winsor_mean"),
    )


def exact_quantiles(
    df: DataFrame,
    key: str,
    value_cols: list[str],
    probs: list[float],
) -> DataFrame:
    """Per-key EXACT interpolated quantiles of each value column, in
    long form: (key, p, <col>_q ...), one row per probability.

    Uses Spark's exact ``percentile`` aggregate (linear interpolation
    h = (n-1)p between the two straddling order statistics — the same
    definition DuckDB's quantile_cont implements, verified
    bit-identical across engines for both integral and 2-dp money
    inputs because p and the interpolation weights are binary-exact
    for quarter probabilities). All requested probabilities share one
    sort per group — percentile(col, array(...)) — so the cost is one
    per-key sort regardless of len(probs).

    Scale note: exact percentile buffers each group's values (a
    per-key sort, memory O(group)); it is the right tool for bounded
    group sizes or audit passes. For corpus-wide streaming quantiles
    at 100 TB switch to approx_percentile (GK sketch, mergeable,
    bounded memory) and give up bit-exactness — the same trade
    a15_approx_distinct documents for distinct counts."""
    parr = "array(" + ", ".join(f"{p!r}D" for p in probs) + ")"
    aggs = [
        F.expr(f"percentile({c}, {parr})").alias(f"__q_{c}") for c in value_cols
    ]
    g = df.groupBy(key).agg(*aggs)
    zipped = F.posexplode(
        F.arrays_zip(*[F.col(f"__q_{c}").alias(c) for c in value_cols])
    )
    probs_lit = F.array(*[F.lit(float(p)) for p in probs])
    out = g.select(key, zipped.alias("__i", "__z")).select(
        key,
        F.element_at(probs_lit, F.col("__i") + 1).alias("p"),
        *[F.col("__z").getField(c).alias(f"{c}_q") for c in value_cols],
    )
    return out


def mad_outliers(
    df: DataFrame,
    key: str,
    value_col: str,
    id_cols: list[str],
    k: float = 3.0,
) -> DataFrame:
    """Rows whose value deviates from their group median by more than
    ``k`` median-absolute-deviations — the robust outlier screen
    (immune to the outliers inflating stddev, unlike z-scores).

    Two exact-percentile aggregates (median, then median of absolute
    deviations) + broadcast joins of the tiny per-key stats back to
    the rows; the deviation comparison is a fixed double expression,
    and exact interpolated medians are engine-bit-identical (see
    exact_quantiles). Returns the flagged rows with (med, mad, dev).
    Groups with MAD = 0 (over half the values identical) flag any
    deviation > 0 — the conventional degenerate-case reading."""
    med = df.groupBy(key).agg(F.expr(f"percentile({value_col}, 0.5D)").alias("med"))
    joined = df.join(F.broadcast(med), key)
    mad = (
        joined.select(key, F.abs(F.col(value_col) - F.col("med")).alias("__ad"))
        .groupBy(key)
        .agg(F.expr("percentile(__ad, 0.5D)").alias("mad"))
    )
    out = joined.join(F.broadcast(mad), key).withColumn(
        "dev", F.abs(F.col(value_col) - F.col("med"))
    )
    return out.filter(F.col("dev") > F.lit(float(k)) * F.col("mad")).select(
        *id_cols, key, value_col, "med", "mad", F.round("dev", 6).alias("dev")
    )


def mode_per_key(
    df: DataFrame,
    key: str,
    value_col: str,
) -> DataFrame:
    """(key, mode, n): each key's most frequent value, smallest value
    winning ties — DETERMINISTIC, unlike Spark's mode() aggregate
    whose tie pick is arbitrary. One partial-agg count + one window
    rank over the (key, count) space (|keys x distinct values| rows,
    not data-sized)."""
    from pyspark.sql import Window

    counts = df.groupBy(key, value_col).agg(F.count("*").alias("n"))
    w = Window.partitionBy(key).orderBy(F.col("n").desc(), F.col(value_col))
    return (
        counts.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(key, F.col(value_col).alias("mode"), "n")
    )


def ab_ttest(
    df: DataFrame,
    is_b_col,
    value_col: str,
) -> DataFrame:
    """One-row Welch two-sample t-test readout for an A/B experiment:
    (n_a, n_b, mean_a, mean_b, t_stat, df) with Welch-Satterthwaite
    degrees of freedom — the standard experiment-analysis primitive.
    ``is_b_col``: boolean Column assigning each row to variant B.

    Parity shape (NOTES.md variance rule): all four moments are EXACT
    decimal conditional sums gathered in ONE scan (never builtin
    stddev/var, which reassociate doubles); mean/variance/t/df are one
    fixed textual double chain shared with the oracle.

    Scale shape: a single partial+final hash aggregate with no keys —
    six combinable aggregates, one reduce row. Nothing else moves."""
    xd = F.col(value_col).cast("decimal(18,6)")
    a, b = ~is_b_col, is_b_col
    m = df.agg(
        F.count(F.when(a, 1)).alias("na"),
        F.count(F.when(b, 1)).alias("nb"),
        F.sum(F.when(a, xd)).alias("sa"),
        F.sum(F.when(b, xd)).alias("sb"),
        F.sum(F.when(a, xd * xd)).alias("qa"),
        F.sum(F.when(b, xd * xd)).alias("qb"),
    )
    na, nb = F.col("na"), F.col("nb")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    qa, qb = F.col("qa").cast("double"), F.col("qb").cast("double")
    va = (na * qa - sa * sa) / (na * (na - F.lit(1)))
    vb = (nb * qb - sb * sb) / (nb * (nb - F.lit(1)))
    se2 = va / na + vb / nb
    t = (sa / na - sb / nb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1))
    )
    return m.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        trunc_dp(sa / na, 6).alias("mean_a"),
        trunc_dp(sb / nb, 6).alias("mean_b"),
        trunc_dp(t, 4).alias("t_stat"),
        trunc_dp(dof, 2).alias("df"),
    )


def hll_shard_sketches(
    df: DataFrame, shard_col, value_col: str, lg_k: int = 12
) -> DataFrame:
    """(shard, sketch): one mergeable Apache DataSketches HLL sketch of
    ``value_col`` per shard — the 100 TB distinct-count maintenance
    shape: persist per-partition/per-day sketches (KB each) and answer
    any cross-shard distinct query later by merging, never re-scanning
    the fact. One partial-agg pass; sketches combine map-side."""
    return df.groupBy(shard_col.alias("shard")).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("sketch")
    )


def hll_merge_estimate(sketches: DataFrame) -> DataFrame:
    """(n_shards, distinct_est): merge pre-aggregated HLL sketches and
    estimate the union's distinct count. Approximate BY DESIGN and —
    unlike every exact operator here — not bit-stable under
    re-partitioning: partial sketches transition sparse->dense at
    partition boundaries, so estimates can wiggle a few counts inside
    the rsd band (tests pin the band, not a bit pattern; small shard
    sketches stay sparse-exact and can even beat the one-pass
    sketch). The merge moves |shards| KB-sized sketches — never
    data."""
    return sketches.agg(
        F.count("*").alias("n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
            "distinct_est"
        ),
    )


def weighted_median(
    df: DataFrame,
    key: str,
    value_col: str,
    weight_col: str,
    tiebreak_cols: list[str],
) -> DataFrame:
    """(key, weighted_median, n, w_total): the smallest value whose
    cumulative weight reaches half the key's total weight — the
    weighted-median (volume-weighted "typical price") the plain
    median misstates whenever weights are skewed.

    Parity shape: weights accumulate in EXACT decimal window sums and
    the crossing test is ``2*cumw >= total`` — a decimal COMPARISON,
    no division anywhere; the median itself is a COPY of an input
    value picked deterministically ((value, tiebreak) order).

    Scale shape: one ordered window per key (cumulative weight +
    total share the partitioning), a narrow crossing filter, and a
    row_number pick on the same partitioning — single exchange."""
    from pyspark.sql import Window

    wd = F.col(weight_col).cast("decimal(18,6)")
    order = [F.col(value_col)] + [F.col(c) for c in tiebreak_cols]
    w_ord = Window.partitionBy(key).orderBy(*order)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(key)
    staged = df.select(
        F.col(key),
        F.col(value_col),
        *[F.col(c) for c in tiebreak_cols],
        F.sum(wd).over(w_run).alias("__cw"),
        F.sum(wd).over(w_all).alias("__tw"),
        F.count("*").over(w_all).alias("__n"),
    ).where(F.col("__cw") * 2 >= F.col("__tw"))
    w_pick = Window.partitionBy(key).orderBy(*order)
    return (
        staged.withColumn("__r", F.row_number().over(w_pick))
        .where(F.col("__r") == 1)
        .select(
            F.col(key),
            F.col(value_col).alias("weighted_median"),
            F.col("__n").alias("n"),
            F.col("__tw").cast("double").alias("w_total"),
        )
    )


def srm_check(
    df: DataFrame,
    is_b_col,
    expected_b: float = 0.5,
) -> DataFrame:
    """(n_a, n_b, expected_b, chi2): sample-ratio-mismatch check for an
    A/B experiment — a chi-square statistic of the observed variant
    split against the design ratio. SRM is the first gate before
    reading ANY experiment metric (chi2 >~ 3.84 at one dof means the
    assignment itself is broken and the t-test is meaningless).

    One keyless partial+final aggregate; chi2 is one fixed double
    chain over two counts."""
    m = df.agg(
        F.count(F.when(~is_b_col, 1)).alias("n_a"),
        F.count(F.when(is_b_col, 1)).alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    eb = n * F.lit(expected_b)
    ea = n * F.lit(1.0 - expected_b)
    chi2 = (F.col("n_a") - ea) * (F.col("n_a") - ea) / ea + (
        F.col("n_b") - eb
    ) * (F.col("n_b") - eb) / eb
    return m.select(
        "n_a",
        "n_b",
        F.lit(expected_b).alias("expected_b"),
        trunc_dp(chi2, 4).alias("chi2"),
    )


def ratio_metric_delta(
    df: DataFrame,
    unit_col: str,
    num_col,
    den_col,
) -> DataFrame:
    """(n_units, ratio, se, ci_lo, ci_hi): a ratio metric R = sum(x) /
    sum(y) over randomization UNITS (users), with its delta-method
    standard error — the correct uncertainty for per-user ratio
    metrics like revenue-per-session, where naive row-level variance
    is wrong because sessions within a user correlate.

    var(R) ~= (var_x - 2 R cov_xy + R^2 var_y) / (n * mean_y^2),
    everything from EXACT decimal per-unit co-moments gathered in one
    pass; the chain after the moments is fixed double arithmetic
    (NOTES.md variance rule — never builtin var/cov for
    oracle-checked queries).

    Scale shape: one hash aggregate to per-unit (x, y), one keyless
    partial+final moment aggregate, one reduce row."""
    per = df.groupBy(F.col(unit_col)).agg(
        # a unit with no numerator rows contributes ZERO, not NULL —
        # dropping it would bias both the ratio and the variance
        F.coalesce(F.sum(num_col), F.lit(0)).alias("__x"),
        F.coalesce(F.sum(den_col), F.lit(0)).alias("__y"),
    )
    xd = F.col("__x").cast("decimal(28,6)")
    yd = F.col("__y").cast("decimal(28,6)")
    m = per.agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
        F.sum(xd * yd).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    r = sx / sy
    my = sy / n
    vx = (n * sxx - sx * sx) / (n * (n - F.lit(1)))
    vy = (n * syy - sy * sy) / (n * (n - F.lit(1)))
    cxy = (n * sxy - sx * sy) / (n * (n - F.lit(1)))
    se = F.sqrt((vx - F.lit(2.0) * r * cxy + r * r * vy) / n) / my
    return m.select(
        n.alias("n_units"),
        trunc_dp(r, 6).alias("ratio"),
        trunc_dp(se, 6).alias("se"),
        trunc_dp(r - F.lit(1.96) * se, 6).alias("ci_lo"),
        trunc_dp(r + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


def bootstrap_mean_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    replicates: int = 100,
    alpha: float = 0.05,
) -> DataFrame:
    """(n, mean, ci_lo, ci_hi): percentile-bootstrap confidence
    interval for the mean via the DISTRIBUTED Poisson bootstrap — the
    uncertainty tool for statistics with no closed-form SE. Instead of
    materializing B resamples (a shuffle per replicate), every row
    contributes a Poisson(1)-distributed weight to each replicate,
    computed ON THE FLY from md5("id:replicate") through the inverse
    CDF — deterministic, partitioning-independent, and the whole thing
    is one narrow explode + one hash aggregate on B keys.

    md5 is the hash every SQL engine computes identically, so any
    engine derives the identical weights, replicate means, and CI —
    the whole bootstrap is oracle-reproducible; statistical sanity
    (coverage, width scaling) is pinned in tests. Replicate means use
    decimal sums so each replicate is itself exactly reproducible."""
    # Poisson(1) inverse CDF breakpoints: P(X<=k) for k = 0..4
    cdf = [0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
           0.9810118431238462, 0.9963401531726563]
    # md5("id:replicate") -> 60-bit int -> u in [0,1) — the md5 trick
    # (winnowing/minhash)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col(id_col).cast("string"),
                        F.col("__b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    ) / F.lit(1_000_000.0)
    # The inverse-CDF ladder compares the SAME uniform draw against 5
    # breakpoints; inlining ``u`` into every WHEN branch makes Spark
    # evaluate the md5→conv chain up to 5x per exploded row (CASE
    # branches defeat common-subexpression elimination — r10 plan
    # audit). Materialize the draw in its own projection first; the
    # hash is expensive enough that CollapseProject keeps it there.
    w = (
        F.when(F.col("__u") < cdf[0], 0)
        .when(F.col("__u") < cdf[1], 1)
        .when(F.col("__u") < cdf[2], 2)
        .when(F.col("__u") < cdf[3], 3)
        .when(F.col("__u") < cdf[4], 4)
        .otherwise(5)
    )
    xd = F.col(value_col).cast("decimal(18,6)")
    # Rebalance the narrow (id, x) projection BEFORE the B-way explode:
    # the explode multiplies per-row work by B (hash + weight ladder
    # per replicate), so whatever parallelism the scan produced is
    # amplified B-fold — and a single-file/single-row-group input (the
    # unsplittable-input case, guide §2.5) would otherwise run the
    # whole B·n hash stage on ONE task (measured r10: 3.4 s -> 1.2 s at
    # sf0.1). The shuffle moves only ~16 B/row once, against B
    # hash+CASE evaluations per row downstream; results are
    # partitioning-independent (decimal sums; pinned by the
    # repartition(7) parity test).
    rep = (
        df.select(F.col(id_col), xd.alias("__x"))
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .withColumn(
            "__b", F.explode(F.sequence(F.lit(0), F.lit(replicates - 1)))
        )
        .select("__b", u.alias("__u"), F.col("__x"))
        .select("__b", w.alias("__w"), F.col("__x"))
        .groupBy("__b")
        .agg(
            (
                F.sum(F.col("__w") * F.col("__x")).cast("double")
                / F.sum("__w")
            ).alias("__m")
        )
    )
    base = df.agg(
        F.count(value_col).alias("n"),
        trunc_dp(F.sum(xd).cast("double") / F.count(value_col), 6).alias("mean"),
    )
    ci = rep.agg(
        trunc_dp(
            F.percentile(F.col("__m"), F.lit(alpha / 2)), 6
        ).alias("ci_lo"),
        trunc_dp(
            F.percentile(F.col("__m"), F.lit(1 - alpha / 2)), 6
        ).alias("ci_hi"),
    )
    return base.crossJoin(ci)


def skew_kurtosis_per_key(
    df: DataFrame,
    key: str,
    value_col,
    ndigits: int = 6,
) -> DataFrame:
    """(key, n, mean, skewness, kurtosis_excess): higher-moment shape
    statistics per group from EXACT decimal power sums — the
    engine-portable form of skewness()/kurtosis() built-ins (which
    reassociate doubles and cannot be oracle-matched; same rule as
    linear_fit_per_key).

    ``value_col`` must be a decimal Column whose 4th power stays
    within precision 38 (e.g. a 2-dp metric < 10^7 cast to
    decimal(8,2): x^4 is decimal(35,8)). The four sums are associative
    decimals; the moment chain after them is one fixed textual double
    expression shared with the oracle: population central moments
    m2/m3/m4 from raw power sums, g1 = m3/m2^1.5, g2 = m4/m2^2 - 3.

    One partial+final hash aggregate; four extra decimal columns per
    group in the shuffle."""
    x = value_col
    g = df.groupBy(key).agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__s1"),
        F.sum(x * x).cast("double").alias("__s2"),
        F.sum(x * x * x).cast("double").alias("__s3"),
        F.sum(x * x * x * x).cast("double").alias("__s4"),
    )
    n = F.col("__n")
    m1 = F.col("__s1") / n
    m2 = F.col("__s2") / n - m1 * m1
    m3 = F.col("__s3") / n - F.lit(3.0) * m1 * (F.col("__s2") / n) + F.lit(2.0) * m1 * m1 * m1
    m4 = (
        F.col("__s4") / n
        - F.lit(4.0) * m1 * (F.col("__s3") / n)
        + F.lit(6.0) * m1 * m1 * (F.col("__s2") / n)
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    return g.select(
        key,
        n.cast("bigint").alias("n"),
        trunc_dp(m1, ndigits).alias("mean"),
        trunc_dp(m3 / F.sqrt(m2 * m2 * m2), ndigits).alias("skewness"),
        trunc_dp(m4 / (m2 * m2) - F.lit(3.0), ndigits).alias("kurtosis_excess"),
    )


def chi2_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """(n, r_levels, c_levels, dof, chi2): Pearson chi-square test of
    independence between two categorical columns — the "are these two
    dimensions related at all" gate before any segmented metric
    reading.

    Parity shape: observed/expected come from integer contingency
    counts (exact everywhere); the per-cell terms are doubles, so
    their SUM would be association-sensitive — instead the cells are
    sorted by (row, col) and folded SEQUENTIALLY in one in-array
    aggregate, the NOTES.md fold-parity trick, making the statistic
    bit-identical across engines.

    Scale shape: one partial+final hash aggregate to the contingency
    table (|r x c| rows — category-dictionary sized, never
    data-sized); the window totals and the fold run on that tiny
    table."""
    from pyspark.sql import Window

    obs = df.groupBy(row_col, col_col).agg(F.count("*").alias("__o"))
    wr = Window.partitionBy(row_col)
    wc = Window.partitionBy(col_col)
    wa = Window.partitionBy()
    cells = obs.select(
        F.col(row_col).alias("__r"),
        F.col(col_col).alias("__c"),
        F.col("__o"),
        F.sum("__o").over(wr).alias("__rt"),
        F.sum("__o").over(wc).alias("__ct"),
        F.sum("__o").over(wa).alias("__n"),
    )
    e = F.col("__rt").cast("double") * F.col("__ct").cast("double") / F.col(
        "__n"
    ).cast("double")
    term = (
        (F.col("__o").cast("double") - e) * (F.col("__o").cast("double") - e) / e
    )
    g = cells.agg(
        F.max("__n").alias("n"),
        F.countDistinct("__r").alias("r_levels"),
        F.countDistinct("__c").alias("c_levels"),
        F.array_sort(
            F.collect_list(F.struct(F.col("__r"), F.col("__c"), term.alias("__t")))
        ).alias("__cells"),
    )
    chi2 = F.aggregate(
        F.col("__cells"), F.lit(0.0), lambda acc, x: acc + x.getField("__t")
    )
    return g.select(
        "n",
        "r_levels",
        "c_levels",
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1)).alias("dof"),
        trunc_dp(chi2, 4).alias("chi2"),
    )


def mann_whitney_u(
    df: DataFrame,
    is_b_col,
    value_col: str,
    decimal_type: str = "decimal(9,2)",
) -> DataFrame:
    """(n_a, n_b, u_stat, z): Mann-Whitney U (Wilcoxon rank-sum) test
    with tie correction — the nonparametric A/B comparison for skewed
    metrics where the t-test's mean is the wrong summary.

    Rank sums WITHOUT a data-sized global sort: ranks are computed on
    the VALUE DICTIONARY (group by value: count + group-A count), so
    the ordered window runs over distinct values only. Doubled
    average ranks keep everything integer-exact — 2*avg_rank =
    2*cum_before + c + 1 — so the rank sum, the tie term
    sum(c^3 - c), and all counts are exact integers on any engine;
    U/z close over them in one fixed double chain.

    Scale shape: one hash aggregate to the dictionary, one
    dictionary-sized window, one 1-row reduce."""
    from pyspark.sql import Window

    v = df.select(
        F.col(value_col).cast(decimal_type).alias("__x"),
        is_b_col.alias("__is_b"),
    )
    byval = v.groupBy("__x").agg(
        F.count("*").alias("__c"),
        F.count(F.when(~F.col("__is_b"), 1)).alias("__ca"),
    )
    w = Window.orderBy("__x").rowsBetween(Window.unboundedPreceding, -1)
    cells = byval.select(
        F.col("__c"),
        F.col("__ca"),
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__cb"),
    )
    g = cells.agg(
        F.sum("__ca").alias("__na"),
        F.sum(F.col("__c") - F.col("__ca")).alias("__nb"),
        F.sum(
            F.col("__ca") * (2 * F.col("__cb") + F.col("__c") + 1)
        ).alias("__r2a"),
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("__tie"),
    )
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    n = na + nb
    u = F.col("__r2a").cast("double") / F.lit(2.0) - na * (na + F.lit(1.0)) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    var = (na * nb / F.lit(12.0)) * (
        (n + F.lit(1.0)) - F.col("__tie").cast("double") / (n * (n - F.lit(1.0)))
    )
    return g.select(
        F.col("__na").alias("n_a"),
        F.col("__nb").alias("n_b"),
        trunc_dp(u, 1).alias("u_stat"),
        trunc_dp((u - mu) / F.sqrt(var), 4).alias("z"),
    )


def mutual_info_cramers_v(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """(n, r_levels, c_levels, mi_nats, cramers_v): mutual information
    (nats) and Cramér's V between two categorical columns — the
    effect-SIZE companions to :func:`chi2_independence` (chi2 grows
    with n; MI and V answer "how strongly related", which is the
    feature-selection question).

    Parity shape: the contingency table is exact integers; the double
    per-cell terms (p·ln(p/(pr·pc)) for MI, the chi2 cell term for V)
    are folded SEQUENTIALLY over the (row, col)-sorted cell array —
    the NOTES.md fold-parity trick — so both statistics are
    bit-identical across engines. Zero cells contribute nothing (the
    contingency table only materializes observed cells, and
    0·ln(0) -> 0 is the correct MI limit).

    Scale shape: one partial+final hash aggregate to the |r×c|
    contingency table; windows and folds run on that dictionary-sized
    frame."""
    from pyspark.sql import Window

    obs = df.groupBy(row_col, col_col).agg(F.count("*").alias("__o"))
    wr = Window.partitionBy(row_col)
    wc = Window.partitionBy(col_col)
    wa = Window.partitionBy()
    cells = obs.select(
        F.col(row_col).alias("__r"),
        F.col(col_col).alias("__c"),
        F.col("__o"),
        F.sum("__o").over(wr).alias("__rt"),
        F.sum("__o").over(wc).alias("__ct"),
        F.sum("__o").over(wa).alias("__n"),
    )
    o = F.col("__o").cast("double")
    rt = F.col("__rt").cast("double")
    ct = F.col("__ct").cast("double")
    nn = F.col("__n").cast("double")
    e = rt * ct / nn
    chi_term = (o - e) * (o - e) / e
    # p·ln(p/(pr·pc)) == (o/n)·ln(o·n/(rt·ct)) — one log per cell
    mi_term = (o / nn) * F.log(o * nn / (rt * ct))
    g = cells.agg(
        F.max("__n").alias("n"),
        F.countDistinct("__r").alias("r_levels"),
        F.countDistinct("__c").alias("c_levels"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__r"),
                    F.col("__c"),
                    chi_term.alias("__chi"),
                    mi_term.alias("__mi"),
                )
            )
        ).alias("__cells"),
    )
    chi2 = F.aggregate(
        F.col("__cells"), F.lit(0.0), lambda acc, x: acc + x.getField("__chi")
    )
    mi = F.aggregate(
        F.col("__cells"), F.lit(0.0), lambda acc, x: acc + x.getField("__mi")
    )
    kmin = F.least(F.col("r_levels"), F.col("c_levels")) - 1
    return g.select(
        "n",
        "r_levels",
        "c_levels",
        trunc_dp(mi, 6).alias("mi_nats"),
        trunc_dp(
            F.sqrt(chi2 / (F.col("n").cast("double") * kmin.cast("double"))), 6
        ).alias("cramers_v"),
    )


def cuped_adjusted_means(
    per_unit: DataFrame,
    x_col: str,
    y_col: str,
    arm_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13): per-arm
    adjusted metric means ``mean(y) - theta·(mean_arm(x) - mean(x))``
    with theta = cov(x, y)/var(x) fitted GLOBALLY on the pre-period
    covariate — the standard pre-experiment-data adjustment that cuts
    metric variance by rho² without biasing the treatment contrast.

    ``per_unit`` must carry ONE row per experiment unit with
    decimal-typed ``x_col`` (pre-period covariate) and ``y_col``
    (experiment metric) — exact decimal co-moments make theta and
    every mean bit-identical across engines (same machinery as
    :func:`linear_fit_per_key`).

    Returns one row per arm: (arm, n_units, mean_y, mean_y_adj,
    theta, rho2) — theta/rho² constant across rows (global fit; rho²
    is the fraction of variance CUPED removes).

    Scale shape: one global co-moment aggregate (6 decimal sums) +
    one per-arm aggregate, both partial+final; the arm table joins
    the 1-row global fit broadcast."""
    x, y = F.col(x_col), F.col(y_col)
    g = per_unit.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(x).cast("double").alias("__sx"),
        F.sum(y).cast("double").alias("__sy"),
        F.sum(x * y).cast("double").alias("__sxy"),
        F.sum(x * x).cast("double").alias("__sxx"),
        F.sum(y * y).cast("double").alias("__syy"),
    )
    n, sx, sy = F.col("__n"), F.col("__sx"), F.col("__sy")
    sxy, sxx, syy = F.col("__sxy"), F.col("__sxx"), F.col("__syy")
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    fit = g.select(
        (num / dx).alias("__theta"),
        (num * num / (dx * dy)).alias("__rho2"),
        (sx / n).alias("__mx"),
    )
    arms = per_unit.groupBy(arm_col).agg(
        F.count(F.lit(1)).alias("n_units"),
        (F.sum(x).cast("double") / F.count(F.lit(1))).alias("__mx_arm"),
        (F.sum(y).cast("double") / F.count(F.lit(1))).alias("__my_arm"),
    )
    out = arms.crossJoin(F.broadcast(fit))
    return out.select(
        arm_col,
        "n_units",
        trunc_dp(F.col("__my_arm"), ndigits).alias("mean_y"),
        trunc_dp(
            F.col("__my_arm")
            - F.col("__theta") * (F.col("__mx_arm") - F.col("__mx")),
            ndigits,
        ).alias("mean_y_adj"),
        trunc_dp(F.col("__theta"), ndigits).alias("theta"),
        trunc_dp(F.col("__rho2"), ndigits).alias("rho2"),
    )


def two_proportion_ztest(
    df: DataFrame,
    arm_col,
    success_col,
    ndigits: int = 4,
) -> DataFrame:
    """(n_a, n_b, x_a, x_b, p_a, p_b, z): pooled two-proportion
    z-test between two arms — the conversion-rate A/B gate next to
    a25_ab_ttest (means) and a28_srm_check (assignment). ``arm_col``
    must be a boolean Column (True = arm A), ``success_col`` a boolean
    Column. z = (p_a − p_b)/sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the
    pooled rate.

    Parity: four integer counts in one aggregate, then a single fixed
    double chain — bit-identical everywhere. One partial+final
    aggregate; nothing data-sized leaves the maps."""
    g = df.agg(
        F.count(F.when(arm_col, 1)).alias("n_a"),
        F.count(F.when(~arm_col, 1)).alias("n_b"),
        F.count(F.when(arm_col & success_col, 1)).alias("x_a"),
        F.count(F.when(~arm_col & success_col, 1)).alias("x_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    xa, xb = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    pa, pb = xa / na, xb / nb
    pool = (xa + xb) / (na + nb)
    # degenerate pooled rate (0 or 1) ⇒ zero variance ⇒ z undefined:
    # NULL, not a divide-by-zero (ANSI mode errors on the latter)
    z = F.when(
        (F.col("x_a") + F.col("x_b") == 0)
        | (F.col("x_a") + F.col("x_b") == F.col("n_a") + F.col("n_b")),
        F.lit(None).cast("double"),
    ).otherwise(
        (pa - pb)
        / F.sqrt(
            pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
        )
    )
    return g.select(
        "n_a",
        "n_b",
        "x_a",
        "x_b",
        trunc_dp(pa, 6).alias("p_a"),
        trunc_dp(pb, 6).alias("p_b"),
        trunc_dp(z, ndigits).alias("z"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    g1,
    g2,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: D = max |ECDF_1 - ECDF_2|
    with the alpha=0.05 decision at the asymptotic critical value
    1.358*sqrt((n1+n2)/(n1*n2)) — the standard distribution-shift
    detector (PSI needs bins and a baseline; KS is binless and
    nonparametric; the rank-sum test only sees location shifts, KS
    sees shape).

    Shape: per-distinct-value conditional counts (one combiner-
    friendly hash agg over the fact), cumulative sums via ONE global-
    order window over the DISTINCT-VALUE grid — bounded by value
    cardinality, not rows; quantize the value column upstream if it
    is continuous at full scale — then a keyless max. Ties are exact:
    grouping by value puts both groups' mass at x into ECDF(x) before
    the difference is taken. No exp() in the output (libm-portable):
    the verdict compares round(D,6) against round(D_crit,6)."""
    from pyspark.sql import Window

    f = (
        df.filter(F.col(group_col).isin(g1, g2))
        # NULLs carry no distributional mass and their sort position
        # differs per engine (Spark windows order NULLS FIRST, SQL
        # ORDER BY defaults vary) — they do not belong in an ECDF.
        .filter(F.col(value_col).isNotNull())
        .select(
            F.col(value_col).alias("__v"),
            F.when(F.col(group_col) == g1, 1).otherwise(0).alias("__is1"),
        )
    )
    per = f.groupBy("__v").agg(
        F.sum("__is1").alias("__d1"),
        F.sum(F.lit(1) - F.col("__is1")).alias("__d2"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.sum("__d1").over(w).alias("__c1"),
        F.sum("__d2").over(w).alias("__c2"),
        F.sum("__d1").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n1"),
        F.sum("__d2").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n2"),
    )
    d = cum.agg(
        F.max("__n1").cast("bigint").alias("n1"),
        F.max("__n2").cast("bigint").alias("n2"),
        F.max(
            F.abs(
                F.col("__c1").cast("double") / F.col("__n1")
                - F.col("__c2").cast("double") / F.col("__n2")
            )
        ).alias("__d"),
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1") * F.col("n2"))
    )
    return d.select(
        "n1",
        "n2",
        trunc_dp(F.col("__d"), 6).alias("d_stat"),
        trunc_dp(crit, 6).alias("d_crit_05"),
        (trunc_dp(F.col("__d"), 6) > trunc_dp(crit, 6))
        .cast("int")
        .alias("reject_05"),
    )
