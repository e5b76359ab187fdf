"""Feature engineering: smoothed target encoding and exact quantile
binning — semantics on hand-built frames plus plan shape."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gcpdatapipelines_spark.operators.features import (
    quantile_bin_summary,
    target_encode,
)


def _orders(spark):
    rows = [("a", 10.0), ("a", 20.0), ("b", 100.0)]
    return spark.createDataFrame(rows, "cat STRING, y DOUBLE")


def test_target_encode_smoothed_toward_prior(spark):
    out = {r.cat: r for r in target_encode(_orders(spark), "cat", "y", m=2.0).collect()}
    prior = 130.0 / 3.0
    import math

    def trunc4(x):  # operator emits floor-truncated 4-dp (portable.trunc_dp)
        return math.floor(x * 1e4) / 1e4

    assert out["a"].target_enc == trunc4((30.0 + 2.0 * prior) / (2 + 2.0))
    assert out["b"].target_enc == trunc4((100.0 + 2.0 * prior) / (1 + 2.0))
    assert out["a"].n_obs == 2 and out["b"].n_obs == 1


def test_target_encode_m_zero_is_plain_mean(spark):
    out = {r.cat: r.target_enc for r in target_encode(_orders(spark), "cat", "y", m=0.0).collect()}
    assert out == {"a": 15.0, "b": 100.0}


def test_quantile_bin_equal_frequency(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x DOUBLE")
    out = {r.bin: r for r in quantile_bin_summary(df, "x", nbins=4).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    assert [out[b].n_rows for b in (1, 2, 3, 4)] == [25, 25, 25, 25]
    assert out[1].lo == 1.0 and out[4].hi == 100.0
    # boundary value falls in the LOWER bin: q1 of 1..100 is 25.75 -> 25 in bin 1
    assert out[1].hi == 25.0


def test_quantile_bin_fact_never_shuffles_for_cutpoints(spark):
    df = spark.createDataFrame([(float(i),) for i in range(50)], "x DOUBLE")
    plan = (
        quantile_bin_summary(df, "x", nbins=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# woe_iv
# ---------------------------------------------------------------------------


def test_woe_iv_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.features import woe_iv

    counts = {"A": (30, 70), "B": (60, 40), "C": (10, 90)}
    rows = []
    for cat, (ev, ne) in counts.items():
        rows += [(cat, True)] * ev + [(cat, False)] * ne
    df = spark.createDataFrame(rows, "cat STRING, ev BOOLEAN")
    got = {r["cat"]: r for r in woe_iv(df, "cat", F.col("ev")).collect()}

    et = sum(ev for ev, _ in counts.values())
    nt = sum(ne for _, ne in counts.values())
    iv = 0.0
    for cat, (ev, ne) in counts.items():
        woe = math.log((ev / et) / (ne / nt))
        term = (ev / et - ne / nt) * woe
        iv += term
        assert abs(got[cat]["woe"] - woe) < 1e-5
        assert abs(got[cat]["iv_term"] - term) < 1e-5
    for r in got.values():
        assert abs(r["iv_total"] - iv) < 1e-5


def test_woe_iv_drops_zero_class_categories(spark):
    from gcpdatapipelines_spark.operators.features import woe_iv

    rows = [("A", True)] * 5 + [("A", False)] * 5 + [("Z", True)] * 4
    df = spark.createDataFrame(rows, "cat STRING, ev BOOLEAN")
    out = woe_iv(df, "cat", F.col("ev")).collect()
    assert [r["cat"] for r in out] == ["A"]
    # balanced A: woe == 0, iv == 0
    assert out[0]["woe"] == 0.0 and out[0]["iv_total"] == 0.0
