"""operators/agg.py: hypothesis tests, estimators, quantiles and sketches."""

from __future__ import annotations

import math
import random
from decimal import Decimal

from pyspark.sql import functions as F

from gcpdatapipelines_spark.operators.agg import (
    ab_ttest,
    hll_merge_estimate,
    hll_shard_sketches,
)
from tests.conftest import SF_SMOKE


def test_bootstrap_uniform_draw_evaluated_once(spark):
    """The md5 chain must appear exactly once in the physical plan's
    weight projection — the CASE ladder used to re-evaluate it per
    branch (up to 5x per exploded row)."""
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    df = spark.range(50).select(
        F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
    )
    out = bootstrap_mean_ci(df, "event_id", "value", replicates=10)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert plan.count("md5(") == 1, plan


def test_bootstrap_md5_values_unchanged_by_hoist(spark):
    """Golden pin: the hoisted-u formulation must produce the exact CI
    the inlined-u formulation produced (same md5 draws, same weights).
    Golden values recorded from the pre-hoist implementation."""
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    df = spark.range(200).select(
        F.col("id").alias("event_id"),
        (10.0 + (F.col("id") % 17) * 0.25).alias("value"),
    )
    r = bootstrap_mean_ci(df, "event_id", "value", replicates=40).first()
    # Deterministic by construction; recorded from the PRE-hoist
    # formulation at r10 (scratch parity run: old == new exactly).
    assert r["n"] == 200
    assert r["mean"] == 11.9675
    assert r["ci_lo"] == 11.822177
    assert r["ci_hi"] == 12.155082


class TestWinsorizeStats:
    def test_clamps_and_mean(self, spark):
        # 10 values 1..9 + one 1000.0 outlier, single group
        rows = [("g", float(i)) for i in range(1, 10)] + [("g", 1000.0)]
        df = spark.createDataFrame(rows, "k STRING, v DOUBLE")
        from gcpdatapipelines_spark.operators.agg import winsorize_stats

        r = winsorize_stats(df, "k", "v", 0.05, 0.95).collect()[0]
        # p95 of 1..9,1000 via the engine's exact interpolation float
        # sequence (h=(10-1)*0.95, v = lo + (h-floor(h))*(hi-lo)), then
        # floor-truncated at 4 dp (portable.trunc_dp). The truncation is
        # boundary-sensitive, so the model must share the engine's float
        # ops bit-for-bit, not an algebraic rearrangement.
        import math

        h = (10 - 1) * 0.95
        v = 9 + (h - math.floor(h)) * (1000 - 9)
        assert r.p_hi == math.floor(v * 1e4) / 1e4
        assert r.n_hi == 1 and r.n_lo == 1
        # winsorized mean uses clamped outlier, so it is far below the raw mean
        raw_mean = (sum(range(1, 10)) + 1000.0) / 10
        assert r.winsor_mean < raw_mean

    def test_no_clamping_when_uniform(self, spark):
        df = spark.createDataFrame(
            [("g", 5.0)] * 8, "k STRING, v DOUBLE"
        )
        from gcpdatapipelines_spark.operators.agg import winsorize_stats

        r = winsorize_stats(df, "k", "v").collect()[0]
        assert (r.n_lo, r.n_hi, r.winsor_mean) == (0, 0, 5.0)


class TestApproxQuantiles:
    def test_within_rank_tolerance_of_exact(self, spark):
        from gcpdatapipelines_spark.io import read_table
        from gcpdatapipelines_spark.operators.agg import (
            approx_quantiles_per_key,
            exact_quantiles,
        )

        li = read_table(spark, SF_SMOKE, "lineitem")
        probs = [0.25, 0.5, 0.75, 0.95]
        approx = {
            (r.l_returnflag, r.p): r.q
            for r in approx_quantiles_per_key(
                li, "l_returnflag", "l_extendedprice", probs
            ).collect()
        }
        exact = {
            (r.l_returnflag, r.p): r.l_extendedprice_q
            for r in exact_quantiles(
                li, "l_returnflag", ["l_extendedprice"], probs
            ).collect()
        }
        assert set(approx) == set(exact)
        # GK guarantees rank error <= 1/accuracy; on money values a
        # generous relative check suffices as the regression tripwire
        for k in exact:
            assert abs(approx[k] - exact[k]) <= max(0.02 * abs(exact[k]), 1.0), (
                k, approx[k], exact[k],
            )


def test_ab_ttest_matches_hand_welch(spark):
    import math

    a_vals = [1.0, 2.0, 3.0, 4.0]
    b_vals = [2.0, 4.0, 6.0]
    rows = [(0, v) for v in a_vals] + [(1, v) for v in b_vals]
    df = spark.createDataFrame(rows, "grp INT, value DOUBLE")
    r = ab_ttest(df, F.col("grp") == 1, "value").first()
    na, nb = len(a_vals), len(b_vals)
    ma, mb = sum(a_vals) / na, sum(b_vals) / nb
    va = sum((x - ma) ** 2 for x in a_vals) / (na - 1)
    vb = sum((x - mb) ** 2 for x in b_vals) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dof = se2**2 / ((va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1))
    assert (r.n_a, r.n_b) == (na, nb)
    assert r.mean_a == round(ma, 6) and r.mean_b == round(mb, 6)
    assert abs(r.t_stat - t) < 1e-3 and abs(r.df - dof) < 0.01


def test_hll_merge_equals_direct_sketch_and_near_exact(spark):
    rows = [(f"s{i % 4}", i % 1000) for i in range(5000)]
    df = spark.createDataFrame(rows, "shard STRING, uid BIGINT")
    merged = hll_merge_estimate(hll_shard_sketches(df, F.col("shard"), "uid")).first()
    direct = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("uid", F.lit(12))).alias("est")
    ).first()
    assert merged.n_shards == 4
    # union keeps small shard sketches in exact (sparse) mode, so it can
    # be MORE accurate than the one-pass sketch; both sit within rsd
    assert abs(merged.distinct_est - 1000) / 1000 < 0.05
    assert abs(direct.est - 1000) / 1000 < 0.05
    # re-partitioning can shift WHERE partial sketches go dense, so the
    # estimate may wiggle a few counts — but stays inside the rsd band
    again = hll_merge_estimate(
        hll_shard_sketches(df.repartition(13), F.col("shard"), "uid")
    ).first()
    assert abs(again.distinct_est - 1000) / 1000 < 0.05


def test_weighted_median_crossing_rule(spark):
    from gcpdatapipelines_spark.operators.agg import weighted_median

    # values 1..4 with weights 1,1,6,2: total 10, crossing at value 3
    rows = [("a", 1.0, 1.0, 1), ("a", 2.0, 1.0, 2), ("a", 3.0, 6.0, 3), ("a", 4.0, 2.0, 4)]
    df = spark.createDataFrame(rows, "k STRING, v DOUBLE, w DOUBLE, id BIGINT")
    r = weighted_median(df, "k", "v", "w", ["id"]).first()
    assert r.weighted_median == 3.0 and r.n == 4 and r.w_total == 10.0
    # plain median of values would say 2.5 — weights matter
    # exact half-crossing: weights 1,1 over values 1,2 -> 2*cw==tw at v=1
    df2 = spark.createDataFrame([("a", 1.0, 1.0, 1), ("a", 2.0, 1.0, 2)], "k STRING, v DOUBLE, w DOUBLE, id BIGINT")
    assert weighted_median(df2, "k", "v", "w", ["id"]).first().weighted_median == 1.0


def test_ratio_delta_method_vs_numpy(spark):
    import numpy as np

    from gcpdatapipelines_spark.operators.agg import ratio_metric_delta

    rng = np.random.RandomState(3)
    x = np.round(rng.gamma(2.0, 10.0, 200), 2)
    y = rng.poisson(5.0, 200) + 1
    rows = [(i, float(x[i]), int(y[i])) for i in range(200)]
    df = spark.createDataFrame(rows, "uid BIGINT, x DOUBLE, y BIGINT")
    r = ratio_metric_delta(df, "uid", F.col("x"), F.col("y")).first()
    n = 200
    ratio = x.sum() / y.sum()
    vx, vy = x.var(ddof=1), y.var(ddof=1)
    cxy = np.cov(x, y, ddof=1)[0, 1]
    se = np.sqrt((vx - 2 * ratio * cxy + ratio**2 * vy) / n) / y.mean()
    assert r.n_units == n
    assert abs(r.ratio - ratio) < 1e-5
    assert abs(r.se - se) < 1e-5
    assert r.ci_lo < r.ratio < r.ci_hi


def test_ratio_delta_units_without_numerator_count_as_zero(spark):
    from gcpdatapipelines_spark.operators.agg import ratio_metric_delta

    rows = [(1, 10.0, 1), (2, None, 1)]  # unit 2 has no revenue
    df = spark.createDataFrame(rows, "uid BIGINT, x DOUBLE, y BIGINT")
    r = ratio_metric_delta(df, "uid", F.col("x"), F.col("y")).first()
    assert r.n_units == 2 and r.ratio == 5.0  # 10 / 2, not 10 / 1


def test_bootstrap_ci_covers_mean_and_scales_with_n(spark):
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    rows = [(i, 10.0 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "id BIGINT, x DOUBLE")
    r = bootstrap_mean_ci(df, "id", "x", replicates=60).first()
    true_mean = sum(10.0 + (i % 7) for i in range(500)) / 500
    assert r.n == 500 and abs(r.mean - true_mean) < 1e-6
    assert r.ci_lo < true_mean < r.ci_hi
    # width roughly ~ 2*1.96*sigma/sqrt(n): sigma(uniform 0..6)=2, n=500
    width = r.ci_hi - r.ci_lo
    assert 0.1 < width < 0.8
    # deterministic under repartitioning (hash-seeded weights)
    r2 = bootstrap_mean_ci(df.repartition(7), "id", "x", replicates=60).first()
    assert (r2.ci_lo, r2.ci_hi) == (r.ci_lo, r.ci_hi)


def test_skew_kurtosis_matches_python_moments(spark):
    from gcpdatapipelines_spark.operators.agg import skew_kurtosis_per_key

    rng = random.Random(3)
    vals = [round(rng.expovariate(0.05), 2) for _ in range(400)]
    df = spark.createDataFrame([("g", Decimal(str(v))) for v in vals], "k STRING, v DECIMAL(7,2)")
    row = skew_kurtosis_per_key(df, "k", F.col("v")).collect()[0]

    n = len(vals)
    m1 = sum(vals) / n
    m2 = sum(v * v for v in vals) / n - m1 * m1
    m3 = sum(v**3 for v in vals) / n - 3 * m1 * (sum(v * v for v in vals) / n) + 2 * m1**3
    m4 = (
        sum(v**4 for v in vals) / n
        - 4 * m1 * (sum(v**3 for v in vals) / n)
        + 6 * m1 * m1 * (sum(v * v for v in vals) / n)
        - 3 * m1**4
    )
    assert row["n"] == n
    assert abs(row["mean"] - m1) < 1e-4
    assert abs(row["skewness"] - m3 / math.sqrt(m2**3)) < 1e-4
    assert abs(row["kurtosis_excess"] - (m4 / (m2 * m2) - 3.0)) < 1e-4
    # an exponential sample is right-skewed with positive excess kurtosis
    assert row["skewness"] > 0.5


def test_chi2_independence_matches_python(spark):
    from gcpdatapipelines_spark.operators.agg import chi2_independence

    rng = random.Random(13)
    rows = [
        (rng.choice("abc"), rng.choice(["x", "y"]) if rng.random() < 0.8 else "x")
        for _ in range(600)
    ]
    df = spark.createDataFrame(rows, "r STRING, c STRING")
    got = chi2_independence(df, "r", "c").collect()[0]

    from collections import Counter

    obs = Counter(rows)
    rt = Counter(r for r, _ in rows)
    ct = Counter(c for _, c in rows)
    n = len(rows)
    chi2 = sum(
        (o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
        for (r, c), o in obs.items()
    )
    assert got["n"] == n
    assert got["dof"] == (len(rt) - 1) * (len(ct) - 1)
    assert abs(got["chi2"] - chi2) < 1e-3


def test_mann_whitney_matches_python(spark):
    """U and tie-corrected z against a direct python rank computation
    (with tied values so the tie machinery is exercised)."""
    from gcpdatapipelines_spark.operators.agg import mann_whitney_u

    rng = random.Random(17)
    a = [round(rng.gauss(50, 10), 1) for _ in range(120)]
    b = [round(rng.gauss(55, 10), 1) for _ in range(140)]
    df = spark.createDataFrame(
        [(v, False) for v in a] + [(v, True) for v in b], "v DOUBLE, isb BOOLEAN"
    )
    got = mann_whitney_u(df, F.col("isb"), "v").collect()[0]

    allv = sorted(a + b)
    # average ranks
    import collections

    first = {}
    cnt = collections.Counter(allv)
    pos = 1
    for v in sorted(cnt):
        first[v] = pos
        pos += cnt[v]
    avg_rank = {v: first[v] + (cnt[v] - 1) / 2 for v in cnt}
    ra = sum(avg_rank[v] for v in a)
    na, nb = len(a), len(b)
    n = na + nb
    u = ra - na * (na + 1) / 2
    tie = sum(c**3 - c for c in cnt.values())
    var = (na * nb / 12) * ((n + 1) - tie / (n * (n - 1)))
    z = (u - na * nb / 2) / math.sqrt(var)
    assert got["n_a"] == na and got["n_b"] == nb
    assert abs(got["u_stat"] - u) < 0.6
    assert abs(got["z"] - z) < 1e-3


# ---------------------------------------------------------------------------
# mutual_info_cramers_v
# ---------------------------------------------------------------------------


def _mi_fixture(spark):
    rows = []
    # deterministic dependent joint: r in {a,b,c}, c skewed per r
    counts = {("a", "x"): 30, ("a", "y"): 10, ("b", "x"): 5,
              ("b", "y"): 40, ("c", "x"): 20, ("c", "y"): 20}
    for (r, c), n in counts.items():
        rows += [(r, c)] * n
    return spark.createDataFrame(rows, "r STRING, c STRING"), counts


def test_mutual_info_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.agg import mutual_info_cramers_v

    df, counts = _mi_fixture(spark)
    got = mutual_info_cramers_v(df, "r", "c").collect()[0]

    n = sum(counts.values())
    rt = {}
    ct = {}
    for (r, c), o in counts.items():
        rt[r] = rt.get(r, 0) + o
        ct[c] = ct.get(c, 0) + o
    mi = sum(
        (o / n) * math.log(o * n / (rt[r] * ct[c]))
        for (r, c), o in counts.items()
    )
    chi2 = sum(
        (o - rt[r] * ct[c] / n) ** 2 / (rt[r] * ct[c] / n)
        for (r, c), o in counts.items()
    )
    v = math.sqrt(chi2 / (n * (min(len(rt), len(ct)) - 1)))
    assert got["n"] == n
    assert abs(got["mi_nats"] - mi) < 1e-5
    assert abs(got["cramers_v"] - v) < 1e-5


def test_mutual_info_zero_when_independent(spark):
    from gcpdatapipelines_spark.operators.agg import mutual_info_cramers_v

    # perfectly independent joint: every (r, c) cell count = rt*ct/n
    rows = []
    for r, nr in [("a", 2), ("b", 3)]:
        for c, nc in [("x", 4), ("y", 6)]:
            rows += [(r, c)] * (nr * nc)
    df = spark.createDataFrame(rows, "r STRING, c STRING")
    got = mutual_info_cramers_v(df, "r", "c").collect()[0]
    assert abs(got["mi_nats"]) < 1e-9
    assert abs(got["cramers_v"]) < 1e-9


def test_mutual_info_deterministic_under_partitioning(spark):
    from gcpdatapipelines_spark.operators.agg import mutual_info_cramers_v

    df, _ = _mi_fixture(spark)
    a = mutual_info_cramers_v(df, "r", "c").collect()[0]
    b = mutual_info_cramers_v(df.repartition(13), "r", "c").collect()[0]
    assert a == b


# ---------------------------------------------------------------------------
# cuped_adjusted_means
# ---------------------------------------------------------------------------


def _cuped_fixture(spark):
    rng = random.Random(11)
    rows = []
    for i in range(400):
        arm = "t" if i % 2 else "c"
        x = Decimal(rng.randint(0, 10000)) / 100
        noise = Decimal(rng.randint(-2000, 2000)) / 100
        lift = Decimal("5.00") if arm == "t" else Decimal("0.00")
        y = (x * 2 + noise + lift).quantize(Decimal("0.01"))
        rows.append((i, arm, x, y))
    return (
        spark.createDataFrame(
            rows, "unit BIGINT, arm STRING, x DECIMAL(18,2), y DECIMAL(18,2)"
        ),
        rows,
    )


def test_cuped_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.agg import cuped_adjusted_means

    df, rows = _cuped_fixture(spark)
    got = {r["arm"]: r for r in cuped_adjusted_means(df, "x", "y", "arm").collect()}

    xs = [float(r[2]) for r in rows]
    ys = [float(r[3]) for r in rows]
    n = len(rows)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum(x * y for x, y in zip(xs, ys)) / n - mx * my
    var = sum(x * x for x in xs) / n - mx * mx
    theta = cov / var
    for arm in ("t", "c"):
        sub = [(float(r[2]), float(r[3])) for r in rows if r[1] == arm]
        mean_y = sum(y for _, y in sub) / len(sub)
        mean_x = sum(x for x, _ in sub) / len(sub)
        adj = mean_y - theta * (mean_x - mx)
        assert abs(got[arm]["mean_y"] - mean_y) < 1e-4
        assert abs(got[arm]["mean_y_adj"] - adj) < 1e-4
        assert abs(got[arm]["theta"] - theta) < 1e-4
    # rho2 in (0, 1]: x strongly predicts y by construction
    assert 0.5 < got["t"]["rho2"] <= 1.0


def test_cuped_preserves_weighted_mean(spark):
    """CUPED shifts each arm by theta·(mx_arm - mx); the unit-weighted
    average of adjusted means equals the raw overall mean (the
    adjustment is mean-zero overall), so no aggregate lift is
    invented."""
    from gcpdatapipelines_spark.operators.agg import cuped_adjusted_means

    df, rows = _cuped_fixture(spark)
    got = cuped_adjusted_means(df, "x", "y", "arm").collect()
    n = sum(r["n_units"] for r in got)
    w_adj = sum(r["mean_y_adj"] * r["n_units"] for r in got) / n
    my = sum(float(r[3]) for r in rows) / len(rows)
    assert abs(w_adj - my) < 1e-4


def test_cuped_reduces_arm_gap_noise(spark):
    """With y ≈ 2x + lift, the adjusted treatment-control gap must be
    closer to the planted lift (5.0) than the raw gap is (x imbalance
    between arms is the noise CUPED removes)."""
    from gcpdatapipelines_spark.operators.agg import cuped_adjusted_means

    df, _ = _cuped_fixture(spark)
    got = {r["arm"]: r for r in cuped_adjusted_means(df, "x", "y", "arm").collect()}
    raw_gap = got["t"]["mean_y"] - got["c"]["mean_y"]
    adj_gap = got["t"]["mean_y_adj"] - got["c"]["mean_y_adj"]
    assert abs(adj_gap - 5.0) <= abs(raw_gap - 5.0) + 1e-9


# ---------------------------------------------------------------------------
# two_proportion_ztest
# ---------------------------------------------------------------------------


def test_two_prop_ztest_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.agg import two_proportion_ztest

    rows = (
        [("a", True)] * 40 + [("a", False)] * 60
        + [("b", True)] * 25 + [("b", False)] * 75
    )
    df = spark.createDataFrame(rows, "arm STRING, s BOOLEAN")
    got = two_proportion_ztest(
        df, F.col("arm") == "a", F.col("s")
    ).collect()[0]
    pa, pb = 0.4, 0.25
    pool = 65 / 200
    z = (pa - pb) / math.sqrt(pool * (1 - pool) * (1 / 100 + 1 / 100))
    assert got["n_a"] == 100 and got["x_b"] == 25
    assert abs(got["z"] - z) < 1e-3


def test_two_prop_ztest_degenerate_rates_null_z(spark):
    from gcpdatapipelines_spark.operators.agg import two_proportion_ztest

    rows = [("a", True)] * 10 + [("b", True)] * 10
    df = spark.createDataFrame(rows, "arm STRING, s BOOLEAN")
    got = two_proportion_ztest(df, F.col("arm") == "a", F.col("s")).collect()[0]
    assert got["p_a"] == 1.0 and got["p_b"] == 1.0 and got["z"] is None


# --------------------------------------------------------- KS two-sample


def test_ks_two_sample_matches_python_ecdf(spark):
    import numpy as np
    from gcpdatapipelines_spark.operators.agg import ks_two_sample

    rng = np.random.RandomState(7)
    a = rng.normal(0.0, 1.0, 300)
    b = rng.normal(0.6, 1.3, 250)  # shifted AND reshaped
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    # python ECDF replay
    xs = np.sort(np.unique(np.concatenate([a, b])))
    f1 = np.searchsorted(np.sort(a), xs, side="right") / len(a)
    f2 = np.searchsorted(np.sort(b), xs, side="right") / len(b)
    d = float(np.max(np.abs(f1 - f2)))
    assert out["n1"] == 300 and out["n2"] == 250
    assert abs(out["d_stat"] - d) < 1e-6
    assert out["reject_05"] == 1


def test_ks_two_sample_accepts_same_distribution(spark):
    import numpy as np
    from gcpdatapipelines_spark.operators.agg import ks_two_sample

    rng = np.random.RandomState(11)
    a = rng.normal(0.0, 1.0, 400)
    b = rng.normal(0.0, 1.0, 400)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert out["reject_05"] == 0


# ---------------------------------------------------------------------------
# audited sketch entries (rows-only -> oracle-backed upgrades)
# ---------------------------------------------------------------------------


def test_approx_distinct_audited_in_band_and_exact(spark):
    from gcpdatapipelines_spark.operators.agg import approx_distinct_audited

    rows = [(i % 3, i % 50) for i in range(600)]
    df = spark.createDataFrame(rows, "k int, v int")
    out = {r.k: r for r in approx_distinct_audited(df, "v", "k").collect()}
    assert all(r.exact_distinct == 50 for r in out.values())
    assert all(r.hll_in_band for r in out.values())


def test_approx_quantiles_audited_contract(spark):
    from gcpdatapipelines_spark.operators.agg import approx_quantiles_audited

    rows = [("g", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.p: r for r in approx_quantiles_audited(
        df, "k", "v", [0.25, 0.5, 0.75]
    ).collect()}
    assert set(out) == {0.25, 0.5, 0.75}
    # exact interpolated quantile of 1..100 at p: 1 + 99p
    for p, r in out.items():
        assert abs(r.exact_q - (1 + 99 * p)) < 1e-9
        assert r.gk_in_band


# ---------------------------------------------------------------------------
# ks_two_sample NULL rule (ADVICE r4)
# ---------------------------------------------------------------------------


def test_ks_two_sample_ignores_nulls(spark):
    from gcpdatapipelines_spark.operators.agg import ks_two_sample

    rows = [("a", float(i)) for i in range(50)] + [("b", float(i)) for i in range(50)]
    clean = spark.createDataFrame(rows, "g string, v double")
    dirty = clean.unionByName(
        spark.createDataFrame([("a", None), ("b", None), ("b", None)], "g string, v double")
    )
    r1 = ks_two_sample(clean, "g", "v", "a", "b").collect()[0]
    r2 = ks_two_sample(dirty, "g", "v", "a", "b").collect()[0]
    # NULLs carry no mass: identical statistic AND identical group sizes
    assert (r1.n1, r1.n2, r1.d_stat) == (r2.n1, r2.n2, r2.d_stat)


def test_bootstrap_md5_mode_deterministic_and_sane(spark):
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    rows = [(i, 10.0 + (i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id bigint, value double")
    r1 = bootstrap_mean_ci(df, "event_id", "value", replicates=50).collect()[0]
    r2 = bootstrap_mean_ci(df, "event_id", "value", replicates=50).collect()[0]
    assert (r1.ci_lo, r1.ci_hi) == (r2.ci_lo, r2.ci_hi)  # deterministic
    assert r1.ci_lo <= r1.mean <= r1.ci_hi
    assert 0 < r1.ci_hi - r1.ci_lo < 1.0  # sane width for sd~2, n=400


# ---------------------------------------------------------------------------
# a45_quantile_treatment: tail-only effects visible where the mean is flat
# ---------------------------------------------------------------------------


def test_qte_sees_tail_only_treatment(spark):
    from gcpdatapipelines_spark.operators.agg import exact_quantiles

    # control: uniform 1..100; treatment: same but top decile doubled —
    # median flat, p75 shifted
    rows = [(0, float(v)) for v in range(1, 101)]
    rows += [(1, float(v) if v <= 90 else float(v) * 2) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "arm int, value double")
    q = {
        (r.arm, r.p): r.value_q
        for r in exact_quantiles(df, "arm", ["value"], [0.25, 0.5, 0.75]).collect()
    }
    assert q[(1, 0.5)] == q[(0, 0.5)]  # median untouched
    assert q[(1, 0.25)] == q[(0, 0.25)]
    assert q[(0, 0.75)] == 75.25
    assert q[(1, 0.75)] == q[(0, 0.75)]  # p75 still inside untouched range
    # the doubled decile shows up at p95-ish; use 0.95 to see it
    q2 = {
        (r.arm, r.p): r.value_q
        for r in exact_quantiles(df, "arm", ["value"], [0.95]).collect()
    }
    assert q2[(1, 0.95)] > q2[(0, 0.95)]
