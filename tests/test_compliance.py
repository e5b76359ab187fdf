"""operators/compliance.py: k-anonymity and l-diversity audits."""

from __future__ import annotations

from gcpdatapipelines_spark.operators.compliance import k_anonymity_audit


def test_k_anonymity_flags_small_groups(spark):
    from pyspark.sql import functions as F

    rows = [("us", "m", i) for i in range(5)] + [("fr", "f", 10), ("fr", "f", 11)]
    df = spark.createDataFrame(rows, "country STRING, seg STRING, pid BIGINT")
    out = {(r.country, r.seg): r for r in k_anonymity_audit(df, ["country", "seg"], k=3).collect()}
    assert out[("us", "m")].group_size == 5 and not out[("us", "m")].violates
    assert out[("fr", "f")].group_size == 2 and out[("fr", "f")].violates


# ------------------------------------------------------- l-diversity


def test_l_diversity_flags_homogeneous_group(spark):
    """A group can be k-anonymous (size 4) yet 1-diverse — everyone
    shares the sensitive value, so membership alone leaks it."""
    from gcpdatapipelines_spark.operators.compliance import l_diversity_audit
    from pyspark.sql import functions as F

    rows = (
        [("a", "x", 100.0)] * 4          # homogeneous: 1 distinct band
        + [("b", "x", float(v)) for v in (0, 1000, 2000, 3000)]  # 4 bands
    )
    df = spark.createDataFrame(rows, "g string, seg string, bal double")
    out = {
        (r["g"], r["seg"]): r
        for r in l_diversity_audit(
            df, ["g", "seg"], F.floor(F.col("bal") / 1000.0).cast("bigint"), l=3
        ).collect()
    }
    assert out[("a", "x")]["violates"] is True
    assert out[("a", "x")]["n_sensitive"] == 1
    assert out[("b", "x")]["violates"] is False
    assert out[("b", "x")]["n_sensitive"] == 4
