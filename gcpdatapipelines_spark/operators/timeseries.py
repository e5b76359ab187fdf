"""Time-series regularization: per-key calendar resampling with
gap-filling and forward-fill.

The standard shape between an irregular event log and anything that
wants a dense series (forecasting features, rate-of-change windows,
charting): aggregate to a fixed calendar grain, materialize the
missing grain points per key, and carry the last observation forward.
No reference analogue (the reference's log pipeline stops at per-visit
duration, pipeline.py:44-71) — this is training-data-pipeline surface.

Scale shape: ONE shuffle on the key for the grain aggregate; the grid
is generated per key with ``sequence()`` + ``explode`` (narrow — no
driver-side calendar, no cross join against a date dimension), the
observed/grid join is keyed on (key, grain) so it co-partitions with
the aggregate, and the forward-fill is a window pass sharing that same
partitioning. Per-key grid length is bounded by the key's own time
span — a key observed for a day does not pay for the corpus' full
range (the cross-join-against-global-calendar anti-pattern does, and
also breaks partition pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .portable import trunc_dp


def resample_sum(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    unit: str = "day",
    decimal_type: str = "decimal(18,6)",
) -> DataFrame:
    """(key, bucket, v): per-key per-grain sum of ``value_col`` with an
    EXACT decimal sum cast back to double (engines' double sums
    reassociate; decimal sums are associative — NOTES.md MONEY SUMS).
    ``unit``: any date_trunc grain ('hour', 'day', 'week', ...)."""
    return (
        df.groupBy(
            F.col(key), F.date_trunc(unit, F.col(ts_col)).alias("bucket")
        )
        .agg(F.sum(F.col(value_col).cast(decimal_type)).cast("double").alias("v"))
    )


def resample_ohlc(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    unit: str = "hour",
) -> DataFrame:
    """Per-key per-grain OHLC bar: open/close are the first/last raw
    values in (ts, tiebreak) order, high/low are max/min, plus an
    event count and an EXACT decimal volume sum. The downsampling
    shape behind candlestick charts, rate-of-change features, and
    metric rollups over irregular logs.

    Determinism: open/close pick via ``min_by``/``max_by`` on a
    zero-padded ``(epoch_micros, tiebreak)`` string key — strings
    compare identically in every engine, and the padding makes
    lexicographic order equal numeric order, so same-timestamp events
    resolve the same way everywhere (struct-valued arg_min is not
    portable). All four price columns are COPIES of raw doubles
    (never arithmetic), so parity is exact by construction; the
    volume sum is decimal-exact then cast back (NOTES.md MONEY SUMS).

    Scale shape: ONE partial+final hash aggregate on (key, grain) —
    min_by/max_by carry a single (value, key-string) pair per group
    through the map-side combine, so the shuffle moves one row per
    (key, grain), not per event."""
    sort_key = F.concat(
        F.lpad(F.unix_micros(F.col(ts_col)).cast("string"), 20, "0"),
        F.lpad(F.col(tiebreak_col).cast("string"), 12, "0"),
    )
    return df.groupBy(
        F.col(key), F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    ).agg(
        F.min_by(F.col(value_col), sort_key).alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.max_by(F.col(value_col), sort_key).alias("close"),
        F.count("*").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("vsum"),
    )


def merge_intervals(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak_col: str,
    gap: str = "interval 30 minutes",
) -> DataFrame:
    """Gaps-and-islands: collapse each key's event stream into maximal
    activity intervals — two events belong to the same interval when
    the later one starts within ``gap`` of the earlier one's end (here
    events are points, so "end" is ``ts + gap``). The canonical shape
    behind visit stitching, downtime reports, and contiguous-coverage
    audits.

    Returns (key, started_at, ended_at, n_events): interval bounds are
    COPIES of event timestamps (min/max), so cross-engine parity is
    exact by construction — no timestamp arithmetic survives into the
    output.

    Scale shape: one window pass partitioned by ``key`` (running max of
    the predecessor ends detects island starts; a running sum of the
    start flags numbers the islands) and one hash aggregate on
    (key, island) that REUSES the same partitioning — AQE coalesces
    the exchanges, so the stream shuffles once. No self-join, no
    cartesian; per-key cost is linear in that key's events.
    """
    order = [F.col(ts_col), F.col(tiebreak_col)]
    w_prev = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.col(ts_col) + F.expr(gap)
    flagged = df.select(
        F.col(key),
        F.col(ts_col),
        F.col(tiebreak_col),
        F.when(
            F.max(end).over(w_prev).isNull()
            | (F.col(ts_col) > F.max(end).over(w_prev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__new_island"),
    )
    islands = flagged.select(
        F.col(key),
        F.col(ts_col),
        F.sum("__new_island").over(w_run).alias("__island"),
    )
    return islands.groupBy(key, "__island").agg(
        F.min(ts_col).alias("started_at"),
        F.max(ts_col).alias("ended_at"),
        F.count("*").alias("n_events"),
    ).drop("__island")


def seasonal_index(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    grain: Column | None = None,
) -> DataFrame:
    """Per-key seasonal index over a calendar grain (default: hour of
    day): mean(value | key, grain) / mean(value | key). Values > 1 mark
    the key's hot hours — the first-order seasonality feature for
    forecasting and anomaly baselines.

    Parity shape (NOTES.md): both means come from EXACT decimal sums
    (associative — immune to partial-agg reassociation), and the index
    is ONE fixed double expression ``(sh/ch)/(st/ct)`` written
    textually identically in the oracle, so the doubles agree bitwise.

    Scale shape: one hash aggregate on (key, grain); the per-key
    totals come from an unbounded window over the grain rows — the
    window input is already reduced to |keys|x|grains| rows, so the
    second pass is over the AGGREGATE, not the events. No second scan
    of the fact, no join."""
    g = grain if grain is not None else F.hour(F.col(ts_col))
    per = df.groupBy(F.col(key), g.alias("grain")).agg(
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__s"),
        F.count(value_col).alias("__c"),
    )
    w = Window.partitionBy(key)
    return per.select(
        F.col(key),
        F.col("grain"),
        F.col("__c").alias("n_obs"),
        trunc_dp(
            (F.col("__s").cast("double") / F.col("__c"))
            / (
                F.sum("__s").over(w).cast("double")
                / F.sum("__c").over(w)
            ),
            6,
        ).alias("season_idx"),
    )


def rolling_zscore(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
    lookback: int = 20,
    min_obs: int = 10,
    threshold: float = 3.0,
) -> DataFrame:
    """Rolling-window anomaly detection: score each observation against
    the mean/stddev of the PRIOR ``lookback`` observations of the same
    key (prior-only, so an outlier never masks itself), flag
    |z| > threshold. The standard streaming-metrics outlier shape.

    Parity shape (NOTES.md variance rule): the rolling moments are
    EXACT decimal window sums (sum x, sum x^2 over a ROWS frame —
    engines' double segment trees associate differently; decimals
    don't), and mean/std/z are one fixed textual double chain shared
    with the oracle. Rows with fewer than ``min_obs`` priors or zero
    variance are not scored.

    Scale shape: ONE window pass partitioned by key (three framed
    aggregates share the frame), then a narrow filter. Linear per key;
    no joins."""
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts_col), F.col(tiebreak_col))
        .rowsBetween(-lookback, -1)
    )
    x = F.col(value_col)
    xd = x.cast("decimal(18,6)")
    n = F.count(value_col).over(w)
    sx = F.sum(xd).over(w).cast("double")
    sxx = F.sum(xd * xd).over(w).cast("double")
    scored = df.select(
        F.col(key),
        F.col(ts_col),
        F.col(tiebreak_col),
        x,
        n.alias("__n"),
        sx.alias("__sx"),
        sxx.alias("__sxx"),
    ).where(F.col("__n") >= min_obs)
    mean = F.col("__sx") / F.col("__n")
    var = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")) / (
        F.col("__n") * (F.col("__n") - F.lit(1))
    )
    z = (x - mean) / F.sqrt(var)
    return (
        scored.where(F.col("__sxx") * F.col("__n") > F.col("__sx") * F.col("__sx"))
        .select(
            F.col(key),
            F.col(ts_col),
            F.col(tiebreak_col),
            x,
            F.col("__n").alias("n_prior"),
            trunc_dp(z, 4).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) > F.lit(threshold))
    )


def gapfill_ffill(
    observed: DataFrame,
    key: str,
    bucket_col: str = "bucket",
    value_col: str = "v",
    unit: str = "day",
) -> DataFrame:
    """Densify a per-key per-grain series over each key's own
    [min(bucket), max(bucket)] span and forward-fill missing grains.

    Returns (key, bucket, value, is_gap): ``value`` is the observed
    grain value or the most recent preceding observation (forward-
    fill never invents arithmetic, it copies a value — so parity with
    any other engine is exact by construction); ``is_gap`` marks the
    filled rows. The first grid point per key is always observed, so
    ``value`` is never NULL.

    Plan shape: per-key bounds are one partial-aggregable groupBy; the
    grid explodes ``sequence(min, max, interval 1 <unit>)`` (narrow);
    the grid⋈observed join and the fill window both run on (key,
    bucket) — AQE coalesces the three same-key exchanges. Keys with
    pathological spans (one event in 1970, one today) should be
    span-capped upstream; the grid is per-key-linear, never global.
    """
    interval = F.expr(f"interval 1 {unit}")
    bounds = observed.groupBy(key).agg(
        F.min(bucket_col).alias("__mn"), F.max(bucket_col).alias("__mx")
    )
    grid = bounds.select(
        key,
        F.explode(
            F.sequence(F.col("__mn"), F.col("__mx"), interval)
        ).alias(bucket_col),
    )
    joined = grid.join(observed, on=[key, bucket_col], how="left")
    w = (
        Window.partitionBy(key)
        .orderBy(bucket_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        key,
        F.col(bucket_col),
        F.last(F.col(value_col), ignorenulls=True).over(w).alias("value"),
        F.col(value_col).isNull().alias("is_gap"),
    )


def period_over_period(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    period_days: int = 7,
) -> DataFrame:
    """(key, period, psum, pop_pct): per-key value sums over fixed
    epoch-day periods with percent change vs the key's PREVIOUS
    OBSERVED period — the week-over-week / month-over-month trend
    shape. Periods are epoch-day arithmetic (floor(epoch_days /
    period_days)) — date_trunc('week') origins differ across engines
    (NOTES.md) and are avoided.

    Parity shape: period sums are EXACT decimals cast to double
    (copies thereafter); the percent change is one fixed double chain
    over lag(), shared textually with the oracle. The first observed
    period per key has NULL pop_pct.

    Scale shape: one hash aggregate on (key, period); the lag window
    runs over the AGGREGATE (|keys| x |periods| rows), reusing its
    partitioning — the fact is scanned once."""
    period = F.floor(
        F.floor(F.col(ts_col).cast("timestamp").cast("double") / 86400.0)
        / period_days
    ).cast("long")
    per = df.groupBy(F.col(key), period.alias("period")).agg(
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__s")
    )
    w = Window.partitionBy(key).orderBy("period")
    prev = F.lag("__s").over(w)
    return per.select(
        F.col(key),
        F.col("period"),
        F.col("__s").cast("double").alias("psum"),
        trunc_dp(
            (F.col("__s").cast("double") - prev.cast("double"))
            / prev.cast("double"),
            6,
        ).alias("pop_pct"),
    )


def changepoint_single(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
    min_seg: int = 5,
) -> DataFrame:
    """(key, n, split_pos, split_ts, mean_left, mean_right, shift):
    single-changepoint detection per key by binary segmentation — the
    split position maximizing |mean_left - mean_right|, segments at
    least ``min_seg`` long. The first step of the standard recursive
    changepoint search, and the level-shift detector behind "did this
    metric move when we deployed".

    Parity shape (NOTES.md): candidate scores come from DECIMAL
    prefix sums over one ordered window (associative), the score and
    both means are fixed double chains, and the argmax picks by
    (rounded score desc, position) — fully engine-portable.

    Scale shape: ONE window pass per key (prefix sum + total via the
    same partitioning), a narrow per-row score, and a row_number
    argmax on the same key partitioning — three same-key window/agg
    stages AQE runs off a single exchange. Never a self-join."""
    xd = F.col(value_col).cast("decimal(18,6)")
    w_ord = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(tiebreak_col))
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(key)
    pos = F.row_number().over(w_ord)
    scored = df.select(
        F.col(key),
        F.col(ts_col),
        pos.alias("__i"),
        F.sum(xd).over(w_run).alias("__sl"),
        F.sum(xd).over(w_all).alias("__st"),
        F.count(value_col).over(w_all).alias("__n"),
    )
    ml = F.col("__sl").cast("double") / F.col("__i")
    mr = (F.col("__st").cast("double") - F.col("__sl").cast("double")) / (
        F.col("__n") - F.col("__i")
    )
    cand = scored.where(
        (F.col("__i") >= F.lit(min_seg))
        & (F.col("__i") <= F.col("__n") - F.lit(min_seg))
    ).select(
        F.col(key),
        F.col(ts_col),
        F.col("__i"),
        F.col("__n"),
        ml.alias("__ml"),
        mr.alias("__mr"),
        trunc_dp(F.abs(ml - mr), 9).alias("__score"),
    )
    w_pick = Window.partitionBy(key).orderBy(
        F.col("__score").desc(), F.col("__i")
    )
    return (
        cand.withColumn("__r", F.row_number().over(w_pick))
        .where(F.col("__r") == 1)
        .select(
            F.col(key),
            F.col("__n").alias("n"),
            F.col("__i").cast("long").alias("split_pos"),
            F.col(ts_col).alias("split_ts"),
            trunc_dp(F.col("__ml"), 6).alias("mean_left"),
            trunc_dp(F.col("__mr"), 6).alias("mean_right"),
            trunc_dp(F.col("__mr") - F.col("__ml"), 6).alias("shift"),
        )
    )


def autocorrelation(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak: str,
    value_col: str,
    max_lag: int = 3,
    decimal_type: str = "decimal(9,2)",
    ndigits: int = 6,
) -> DataFrame:
    """(key, lag, n_pairs, acf): lag-1..max_lag sample autocorrelation
    of a per-key ordered series — the seasonality/momentum screen run
    before fitting anything time-series shaped.

    Uses the Pearson-of-lagged-pairs form (each lag's ACF is the
    correlation between x_t and x_{t-lag} over the pairs where both
    exist), so the a17/linear_fit decimal co-moment machinery applies
    verbatim: pair co-moments are EXACT decimal conditional sums in
    ONE scan (never builtin corr), the closing arithmetic is one fixed
    double chain shared with the oracle.

    Scale shape: one window shuffle on the key computes all lags'
    shifted values (shared sort), then a single partial+final hash
    aggregate emits per-(key, lag) moments via conditional sums — no
    self-joins, no per-lag rescans."""
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    xd = F.col(value_col).cast(decimal_type)
    lagged = df.select(
        F.col(key),
        xd.alias("__x"),
        *[F.lag(xd, i).over(w).alias(f"__y{i}") for i in range(1, max_lag + 1)],
    )
    aggs = []
    for i in range(1, max_lag + 1):
        y = F.col(f"__y{i}")
        both = y.isNotNull()
        x = F.col("__x")
        aggs += [
            F.count(F.when(both, 1)).cast("double").alias(f"__n{i}"),
            F.sum(F.when(both, x)).cast("double").alias(f"__sx{i}"),
            F.sum(F.when(both, y)).cast("double").alias(f"__sy{i}"),
            F.sum(F.when(both, x * y)).cast("double").alias(f"__sxy{i}"),
            F.sum(F.when(both, x * x)).cast("double").alias(f"__sxx{i}"),
            F.sum(F.when(both, y * y)).cast("double").alias(f"__syy{i}"),
        ]
    g = lagged.groupBy(key).agg(*aggs)
    per_lag = F.array(
        *[
            F.struct(
                F.lit(i).alias("lag"),
                F.col(f"__n{i}").alias("n"),
                F.col(f"__sx{i}").alias("sx"),
                F.col(f"__sy{i}").alias("sy"),
                F.col(f"__sxy{i}").alias("sxy"),
                F.col(f"__sxx{i}").alias("sxx"),
                F.col(f"__syy{i}").alias("syy"),
            )
            for i in range(1, max_lag + 1)
        ]
    )
    long = g.select(F.col(key), F.explode(per_lag).alias("__m"))
    m = F.col("__m")
    n, sx, sy = m.getField("n"), m.getField("sx"), m.getField("sy")
    sxy, sxx, syy = m.getField("sxy"), m.getField("sxx"), m.getField("syy")
    num = n * sxy - sx * sy
    return long.select(
        F.col(key),
        m.getField("lag").alias("lag"),
        n.cast("bigint").alias("n_pairs"),
        trunc_dp(
            num / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), ndigits
        ).alias("acf"),
    )


def kaplan_meier(
    durations: DataFrame,
    duration_col: str = "duration",
    observed_col: str = "observed",
    ndigits: int = 6,
) -> DataFrame:
    """(duration, n_risk, n_events, n_censored, survival): the
    Kaplan-Meier product-limit survival estimator over integer
    durations with right censoring — time-to-churn / time-to-failure
    analysis where simply averaging durations is biased by the
    still-alive population.

    S(t) = prod over distinct durations t_i <= t of
    (1 - d_i / n_risk_i); both deaths and censorings leave the risk
    set after their duration. The risk-set counts are integer window
    arithmetic (exact); the product is a SEQUENTIAL in-array fold over
    the duration-sorted factors (NOTES.md fold-parity trick — a
    product of doubles is association-sensitive, a fold is not),
    matching a DuckDB prefix-product list_reduce bit-for-bit.

    Scale shape: one hash aggregate to the duration dictionary
    (bounded by the observation window, never data-sized), one
    dictionary-sized window + single-row fold."""
    from pyspark.sql import Window

    g = durations.groupBy(F.col(duration_col).alias("duration")).agg(
        F.count("*").alias("__c"),
        F.sum(F.col(observed_col).cast("bigint")).alias("n_events"),
    )
    w = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    wa = Window.partitionBy()
    cells = g.select(
        "duration",
        "__c",
        "n_events",
        (
            F.sum("__c").over(wa) - F.coalesce(F.sum("__c").over(w), F.lit(0))
        ).alias("n_risk"),
    )
    factor = (
        F.lit(1.0)
        - F.col("n_events").cast("double") / F.col("n_risk").cast("double")
    )
    one = cells.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("duration"),
                    F.col("n_risk"),
                    F.col("n_events"),
                    (F.col("__c") - F.col("n_events")).alias("n_censored"),
                    factor.alias("__f"),
                )
            )
        ).alias("__arr")
    )
    prods = F.aggregate(
        F.col("__arr"),
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.when(F.size(acc) == 0, F.lit(1.0))
                .otherwise(F.element_at(acc, -1))
                * x.getField("__f")
            ),
        ),
    )
    z = one.select(
        F.posexplode(F.arrays_zip(F.col("__arr"), prods.alias("__p"))).alias(
            "__i", "__z"
        )
    )
    c = F.col("__z").getField("__arr")
    return z.select(
        c.getField("duration").alias("duration"),
        c.getField("n_risk").alias("n_risk"),
        c.getField("n_events").alias("n_events"),
        c.getField("n_censored").alias("n_censored"),
        trunc_dp(F.col("__z").getField("__p"), ndigits).alias("survival"),
    )


def holt_winters_state(
    daily: DataFrame,
    key: str,
    grain_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.2,
) -> DataFrame:
    """(key, n, level, trend, season_next, forecast_1): additive
    Holt-Winters final smoothing state per key — level + trend +
    rotating seasonal array, the seasonal rung above
    sequences.holt_linear_state. ``daily`` must already be the
    regular per-(key, grain) series (one row per grain point, grain
    sortable, value double-exact, e.g. a decimal sum cast to double);
    keys need >= 2·period points.

    Init (Hyndman & Athanasopoulos §7.3 shape): level = mean of the
    first period block, trend = (block-2 mean − block-1 mean)/period,
    seasonals = block-1 deviations from its mean; the fold then
    consumes observations period+1..n. State is an array<double>
    [l, b, s_next, …]: each step rotates the seasonal tail so the
    CURRENT step's seasonal is always element 3 — and the DuckDB twin
    encodes the identical rotation with a list accumulator (struct
    accumulators alias in place there, NOTES.md), so the final state
    is bit-identical across engines.

    Scale shape: one shuffle to build per-key ordered arrays (the
    array is series-length, i.e. calendar-bounded, NOT data-bounded);
    the init means and the fold are narrow in-array expressions."""
    m = period
    seqs = daily.groupBy(key).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col(grain_col), F.col(value_col)))
            ),
            lambda s: s.getField(value_col).cast("double"),
        ).alias("__arr")
    )
    arr = F.col("__arr")
    a = F.lit(float(alpha))
    b = F.lit(float(beta))
    g = F.lit(float(gamma))
    mean1 = (
        F.aggregate(F.slice(arr, 1, m), F.lit(0.0), lambda ac, x: ac + x)
        / F.lit(float(m))
    )
    mean2 = (
        F.aggregate(F.slice(arr, m + 1, m), F.lit(0.0), lambda ac, x: ac + x)
        / F.lit(float(m))
    )
    init = F.concat(
        F.array(mean1, (mean2 - mean1) / F.lit(float(m))),
        F.transform(F.slice(arr, 1, m), lambda x: x - mean1),
    )
    tail = F.slice(arr, m + 1, F.greatest(F.size(arr) - m, F.lit(0)))

    def step(acc, x):
        l0 = F.element_at(acc, 1)
        b0 = F.element_at(acc, 2)
        s0 = F.element_at(acc, 3)
        lp = a * (x - s0) + (F.lit(1.0) - a) * (l0 + b0)
        bp = b * (lp - l0) + (F.lit(1.0) - b) * b0
        sp = g * (x - lp) + (F.lit(1.0) - g) * s0
        return F.concat(
            F.array(lp, bp), F.slice(acc, 4, m - 1), F.array(sp)
        )

    st = F.aggregate(tail, init, step)
    return (
        seqs.where(F.size(arr) >= 2 * m)
        .select(
            F.col(key),
            F.size(arr).cast("long").alias("n"),
            trunc_dp(F.element_at(st, 1), 6).alias("level"),
            trunc_dp(F.element_at(st, 2), 6).alias("trend"),
            trunc_dp(F.element_at(st, 3), 6).alias("season_next"),
            trunc_dp(
                F.element_at(st, 1) + F.element_at(st, 2) + F.element_at(st, 3),
                6,
            ).alias("forecast_1"),
        )
    )


def seasonal_decompose_weekday(
    daily: DataFrame,
    grain_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """(slot, n_obs, seasonal): classical additive seasonal components
    by cycle slot (weekday for period 7) from a single daily series —
    trend = centered ``period``-point moving sum, detrended = value −
    trend/period, seasonal(slot) = mean of detrended over that slot.

    Parity shape: ``value_col`` must be decimal-typed (exact). The
    centered moving SUM stays decimal (no division), and the slot mean
    averages ``period·x − movsum`` — still exact decimal — so the ONLY
    double operation is the final division by (period · n_obs):
    engine-bit-identical without any fold.

    Scale shape: one ordered window pass for the moving sum (the
    series is calendar-bounded — one row per grain point, so the
    single-partition window is a dictionary-sized frame, not a data
    scan) and one ``period``-row aggregate."""
    from pyspark.sql import Window

    half = period // 2
    w = (
        Window.orderBy(grain_col)
        .rowsBetween(-half, half)
    )
    x = F.col(value_col)
    withtrend = daily.select(
        F.col(grain_col),
        x.alias("__x"),
        F.sum(x).over(w).alias("__movsum"),
        F.count(x).over(w).alias("__wn"),
    ).filter(F.col("__wn") == period)
    slot = F.dayofweek(F.col(grain_col)).cast("int")
    per = withtrend.groupBy(slot.alias("slot")).agg(
        F.count("*").alias("n_obs"),
        F.sum(F.lit(period) * F.col("__x") - F.col("__movsum")).alias("__dev"),
    )
    return per.select(
        "slot",
        "n_obs",
        trunc_dp(
            F.col("__dev").cast("double")
            / (F.lit(float(period)) * F.col("n_obs").cast("double")),
            6,
        ).alias("seasonal"),
    )


def forecast_backtest_holt(
    seqs: DataFrame,
    key: str,
    arr_col: str,
    n_backtests: int = 5,
    alpha: float = 0.5,
    beta: float = 0.3,
) -> DataFrame:
    """(key, n_backtests, mae, mape): rolling-origin backtest of the
    Holt linear forecaster over an ordered per-key series — for each
    of the last ``n_backtests`` cutoffs c, fit on points 1..c,
    forecast point c+1, score against the actual. The
    evaluate-before-you-trust step between a smoother and a
    production forecast (split_time_cv's fold logic fused with
    holt_linear_state's fold).

    ``seqs`` carries one row per key with ``arr_col`` the
    chronologically-ordered array<double> series (decimal-summed
    upstream).

    Parity shape: each cutoff's forecast is the SAME sequential fold
    as seq_holt_linear (engine-bit-identical); absolute/relative
    errors round 9 dp into DECIMAL before the per-key mean
    (associative — bigram_nll trick), so mae/mape match bit-for-bit.

    Scale shape: cutoffs explode to a constant ≤ n_backtests rows per
    key; every fold is a narrow in-array expression over the
    calendar-bounded series — no shuffle beyond the upstream array
    build."""
    arr = F.col(arr_col)
    a, b1 = F.lit(float(alpha)), F.lit(float(beta))
    cuts = seqs.filter(F.size(arr) >= 3).select(
        F.col(key),
        arr.alias("__arr"),
        F.explode(
            F.sequence(
                F.greatest(F.lit(2), F.size(arr) - n_backtests),
                F.size(arr) - 1,
            )
        ).alias("__c"),
    )
    arr2 = F.col("__arr")
    seed = F.struct(
        F.element_at(arr2, 1).alias("l"),
        (F.element_at(arr2, 2) - F.element_at(arr2, 1)).alias("b"),
    )
    tail = F.slice(arr2, 3, F.col("__c") - 2)

    def step(acc, x):
        nl = a * x + (F.lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))
        nb = b1 * (nl - acc.getField("l")) + (F.lit(1.0) - b1) * acc.getField("b")
        return F.struct(nl.alias("l"), nb.alias("b"))

    st = F.aggregate(tail, seed, step)
    fc = st.getField("l") + st.getField("b")
    actual = F.element_at(arr2, F.col("__c") + 1)
    scored = cuts.select(
        F.col(key),
        trunc_dp(F.abs(fc - actual), 9).cast("decimal(18,9)").alias("__ae"),
        trunc_dp(F.abs(fc - actual) / F.abs(actual), 9)
        .cast("decimal(18,9)")
        .alias("__ape"),
    )
    return scored.groupBy(key).agg(
        F.count("*").cast("bigint").alias("n_backtests"),
        trunc_dp(F.sum("__ae").cast("double") / F.count("*"), 6).alias("mae"),
        trunc_dp(F.sum("__ape").cast("double") / F.count("*"), 6).alias("mape"),
    )


def seasonal_anomaly(
    df: DataFrame,
    key: str,
    ts_col: str,
    order_col: str,
    value_col: str,
    min_obs: int = 30,
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonality-adjusted anomaly detection: divide each value by
    its key's hour-of-day seasonal index (mean(value|key,hour) /
    mean(value|key)), then z-score the deseasonalized residual against
    the key's residual distribution and flag |z| > threshold. The
    composition behind "alert on deviations the daily cycle does NOT
    explain" — a raw z-score fires every rush hour; this one doesn't.

    Parity shape (NOTES.md): hour/key means come from exact decimal
    sums; the residual is ONE fixed double chain
    ``value / ((s/c)/(S/C))`` shared textually with the oracle;
    residual moments are decimal sums of the double residual (the
    double->decimal cast is bit-deterministic in both engines); the
    z chain and the |round(z,4)| > threshold cut are textually
    identical on both sides.

    Scale shape: one hash agg on (key, hour) with map-side combine;
    per-key totals via a window over the |keys|x24-row AGGREGATE;
    the seasonal index table is broadcast back to the fact (never a
    shuffle of events); residual moments are a second combiner-
    friendly agg; the |keys|-row moment table broadcasts back. The
    fact is scanned, never shuffled."""
    g = F.hour(F.col(ts_col)).cast("int")
    per = df.groupBy(F.col(key).alias("__k"), g.alias("__grain")).agg(
        F.sum(F.col(value_col).cast("decimal(18,6)")).alias("__s"),
        F.count(value_col).alias("__c"),
    )
    w = Window.partitionBy("__k")
    tot = per.select(
        "__k",
        "__grain",
        "__s",
        "__c",
        F.sum("__s").over(w).alias("__st"),
        F.sum("__c").over(w).alias("__ct"),
    )
    r = df.join(
        F.broadcast(tot),
        (F.col(key) == F.col("__k")) & (g == F.col("__grain")),
    ).withColumn(
        "resid",
        F.col(value_col)
        / (
            (F.col("__s").cast("double") / F.col("__c"))
            / (F.col("__st").cast("double") / F.col("__ct"))
        ),
    )
    rd = F.col("resid").cast("decimal(18,6)")
    m = r.groupBy(F.col(key).alias("__mk")).agg(
        F.count("*").alias("__n"),
        F.sum(rd).cast("double").alias("__sx"),
        F.sum(rd * rd).cast("double").alias("__sxx"),
    )
    z = (F.col("resid") - F.col("__sx") / F.col("__n")) / F.sqrt(
        (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        / (F.col("__n") * (F.col("__n") - F.lit(1.0)))
    )
    return (
        r.join(F.broadcast(m), F.col(key) == F.col("__mk"))
        .filter(
            (F.col("__n") >= min_obs)
            & (F.col("__sxx") * F.col("__n") > F.col("__sx") * F.col("__sx"))
            & (F.abs(trunc_dp(z, 4)) > threshold)
        )
        .select(
            key,
            ts_col,
            order_col,
            value_col,
            trunc_dp(F.col("resid"), 6).alias("resid"),
            trunc_dp(z, 4).alias("zscore"),
        )
    )


def cusum_alarms(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak: str,
    value_col: str,
    period_days: int = 7,
    k_mult: float = 0.5,
    h_mult: float = 4.0,
) -> DataFrame:
    """One-sided CUSUM drift alarms (Page 1954): per key, the running
    statistic s_i = max(0, s_{i-1} + (x_i - mu - k)) against the key's
    reference mean, alarm where s_i > h — the control-chart shape that
    catches SMALL persistent shifts a pointwise z-score never trips.
    k = k_mult*sigma (allowance), h = h_mult*sigma (decision limit),
    with mu/sigma from the key's full reference window.

    The recursion is inherently sequential, so the fold runs within
    bounded monitoring periods (epoch-day arithmetic, default 7-day):
    per-(key, period) event arrays stay bounded as the corpus grows —
    the 100 TB guard — at the documented cost of a state reset on
    period boundaries (continuous carryover is the streaming
    operator's job).

    Parity shape (NOTES.md): reference moments are decimal sums with
    the fixed mu/sigma double chain; the fold seed is 0.0 on both
    engines with the identical IEEE op sequence
    ``max(0, s + ((x - mu) - kk))``; the alarm cut compares
    round(s,6) > round(h,6) on both sides.

    The fold itself runs as an Arrow-batched per-(key, period) kernel
    (guide §4.2): the former in-plan HOF fold built the running series
    with ``aggregate``+``array_append``, which copies the accumulator
    array per element — O(n²) interpreted work per group (r10 plan
    audit; 3.4 s at sf0.1, ~1 s after this change). The Python loop is
    the same op sequence in IEEE doubles, bit-for-bit: max(0, ·)
    mirrors ``greatest``'s NaN-is-greatest and null-skip semantics
    (a NULL value resets the statistic to 0 on both paths; the one
    divergence is that a NaN *payload* re-emits as NULL through the
    Arrow boundary — unreachable from the declared datasets).

    PRECONDITION (r10 ADVICE): ``(ts_col, tiebreak)`` must be unique
    within each (key, period) group. The kernel sorts with pandas
    ``sort_values`` (NaN/NaT last) where the replaced formulation used
    Spark struct ordering (nulls first, NaN greatest); the two orders
    agree on every non-null, non-NaN sort key, and the unique
    (ts, tiebreak) contract means the third struct field (the value)
    never participates in ordering — so a NULL/NaN *value* cannot
    reorder the fold. Feeding duplicate (ts, tiebreak) pairs with
    NULL/NaN values voids the cross-engine parity guarantee."""
    import pandas as pd  # noqa: F401 — worker-side dependency, checked at import
    from pyspark.sql import types as T

    dec = F.col(value_col).cast("decimal(18,6)")
    m = df.groupBy(F.col(key).alias("__k2")).agg(
        F.count(value_col).alias("__n"),
        F.sum(dec).cast("double").alias("__sx"),
        F.sum(dec * dec).cast("double").alias("__sxx"),
    )
    sigma = F.sqrt(
        (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        / (F.col("__n") * (F.col("__n") - F.lit(1.0)))
    )
    mm = m.select(
        "__k2",
        (F.col("__sx") / F.col("__n")).alias("__mu"),
        (F.lit(k_mult) * sigma).alias("__kk"),
        (F.lit(h_mult) * sigma).alias("__h"),
    )
    period = F.floor(
        F.floor(F.col(ts_col).cast("timestamp").cast("double") / 86400.0)
        / period_days
    ).cast("long")
    src = df.select(
        F.col(key),
        period.alias("__w"),
        F.col(ts_col),
        F.col(tiebreak),
        F.col(value_col).cast("double").alias("__v"),
        F.col(value_col).isNull().alias("__vnull"),
    )
    j = src.join(F.broadcast(mm), F.col(key) == F.col("__k2")).drop("__k2")
    in_fields = {f.name: f for f in j.schema.fields}
    out_schema = T.StructType(
        [
            in_fields[key],
            in_fields[ts_col],
            in_fields[tiebreak],
            T.StructField("__v", T.DoubleType()),
            T.StructField("__c", T.DoubleType()),
            T.StructField("__h", T.DoubleType()),
        ]
    )

    def _fold(pdf):
        import pandas as pd

        # array_sort(struct(ts, tiebreak, v)) field order, reproduced
        pdf = pdf.sort_values(
            [ts_col, tiebreak, "__v"], kind="mergesort", ignore_index=True
        )
        mu = float(pdf["__mu"].iloc[0])
        kk = float(pdf["__kk"].iloc[0])
        vals = pdf["__v"].to_numpy()
        nulls = pdf["__vnull"].to_numpy()
        n = len(vals)
        out = [0.0] * n
        s = 0.0
        for i in range(n):
            if nulls[i]:
                # greatest(0.0, NULL) skips the null: state resets
                s = 0.0
            else:
                s2 = s + ((float(vals[i]) - mu) - kk)
                # greatest(0.0, s2): NaN is greatest; -0.0 -> +0.0
                s = s2 if (s2 > 0.0 or s2 != s2) else 0.0
            out[i] = s
        return pd.DataFrame(
            {
                key: pdf[key],
                ts_col: pdf[ts_col],
                tiebreak: pdf[tiebreak],
                "__v": pdf["__v"].where(~pdf["__vnull"], None),
                "__c": out,
                "__h": pdf["__h"],
            }
        )

    folded = j.groupBy(key, "__w").applyInPandas(_fold, schema=out_schema)
    out = folded.select(
        key,
        F.col(ts_col),
        F.col(tiebreak),
        F.col("__v").alias("value"),
        trunc_dp(F.col("__c"), 6).alias("cusum"),
        trunc_dp(F.col("__h"), 6).alias("__hr"),
    )
    return out.filter(F.col("cusum") > F.col("__hr")).drop("__hr")


def theil_sen_trend(
    df: DataFrame, key: str, ts_col: str, value_col: str
) -> DataFrame:
    """(key, n_days, n_pairs, theil_sen_slope): robust per-key trend —
    the median of all pairwise slopes of the daily value series
    (Theil–Sen estimator, Sen 1968). Up to ~29% of the days can be
    arbitrarily corrupted without moving the estimate, which is why it
    belongs next to the OLS fit (agg.trend_fit / a16): one spend-spike
    day drags OLS but not Theil–Sen.

    Scale shape: the fact collapses to the calendar-bounded daily grid
    FIRST (one partial+final decimal agg), so the pair self-join is
    |days|^2/2 per key — bounded by the span of the calendar, never by
    fact rows; at 100 TB the pair stage is the same few-million-row
    job it is at 100 GB. The median is an explicit order-statistic
    (row_number over slope; mean of the two middles for even counts) —
    no interpolation rule to disagree on, so the value is
    oracle-hashable bit-for-bit. Slope division and the two-middle
    mean are single deterministic double ops."""
    day = F.floor(
        F.col(ts_col).cast("timestamp").cast("double") / 86400.0
    ).cast("long")
    daily = (
        df.groupBy(F.col(key).alias("__k"), day.alias("__d"))
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("__v")
        )
    )
    a = daily.select(
        F.col("__k"), F.col("__d").alias("__d1"), F.col("__v").alias("__v1")
    )
    b = daily.select(
        F.col("__k"), F.col("__d").alias("__d2"), F.col("__v").alias("__v2")
    )
    pairs = a.join(b, "__k").filter(F.col("__d1") < F.col("__d2")).select(
        "__k",
        (
            (F.col("__v2") - F.col("__v1"))
            / (F.col("__d2") - F.col("__d1")).cast("double")
        ).alias("__slope"),
    )
    w = Window.partitionBy("__k").orderBy("__slope")
    ranked = pairs.select(
        "__k",
        "__slope",
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy("__k")).alias("__n"),
    )
    mid = ranked.filter(
        (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
        | (F.col("__rn") == F.floor((F.col("__n") + 2) / 2))
    )
    days = daily.groupBy("__k").agg(F.count("*").alias("n_days"))
    med = mid.groupBy("__k").agg(
        F.max("__n").alias("n_pairs"), F.avg("__slope").alias("__med")
    )
    return (
        med.join(days, "__k")
        .select(
            F.col("__k").alias(key),
            F.col("n_days"),
            F.col("n_pairs"),
            trunc_dp(F.col("__med"), 6).alias("theil_sen_slope"),
        )
    )
