"""operators/quality.py: drift, digest and audit operators."""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# snapshot_drift: expand-free profile == count(DISTINCT) semantics
# ---------------------------------------------------------------------------


def test_snapshot_drift_matches_countdistinct(spark):
    from gcpdatapipelines_spark.operators.quality import snapshot_drift

    a = spark.createDataFrame(
        [(1, "x", 1.5), (2, "x", None), (2, "y", 2.5), (None, "y", 2.5)],
        "k INT, s STRING, v DOUBLE",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.5), (3, None, 9.0)], "k INT, s STRING, v DOUBLE"
    )
    out = {
        (r["column"], r["metric"]): (r["before"], r["after"])
        for r in snapshot_drift(a, b, ["k", "s", "v"]).collect()
    }
    # n_distinct must equal count(DISTINCT c): non-null distinct values
    assert out[("k", "n_distinct")] == ("2", "2")
    assert out[("s", "n_distinct")] == ("2", "1")
    assert out[("v", "n_distinct")] == ("2", "2")
    assert out[("k", "null_rate")] == ("0.25", "0.0")
    assert out[("s", "min")] == ("x", "x")
    assert out[("v", "max")] == ("2.5", "9.0")


def test_snapshot_drift_signed_zero_matches_countdistinct(spark):
    """count(DISTINCT) treats 0.0 and -0.0 as one value; their string
    forms differ, so the unpivoted count must fold signed zero first."""
    from gcpdatapipelines_spark.operators.quality import snapshot_drift

    a = spark.createDataFrame(
        [(0.0, 0.0), (-0.0, -0.0), (1.5, 1.5), (None, None)],
        "d DOUBLE, f FLOAT",
    )
    out = {
        (r["column"], r["metric"]): r["before"]
        for r in snapshot_drift(a, a, ["d", "f"]).collect()
    }
    want = a.agg(F.countDistinct("d"), F.countDistinct("f")).first()
    assert tuple(want) == (2, 2)
    assert out[("d", "n_distinct")] == str(want[0])
    assert out[("f", "n_distinct")] == str(want[1])


def test_fk_orphan_audit_counts(spark):
    from gcpdatapipelines_spark.operators.quality import fk_orphan_audit

    child = spark.createDataFrame([(1,), (2,), (9,)], "fk BIGINT")
    parent = spark.createDataFrame([(1,), (2,)], "pk BIGINT")
    r = fk_orphan_audit([("c->p", child, "fk", parent, "pk")]).first()
    assert (r.n_child, r.n_orphans) == (3, 1)
    assert r.orphan_rate == round(1 / 3, 6)


def test_benford_first_digit_extraction(spark):
    from gcpdatapipelines_spark.operators.quality import benford_audit

    import math

    vals = [123.4, 0.00156, 1999.0, -245.0, 0.0, None, 9.81]
    df = spark.createDataFrame([(v,) for v in vals], "x DOUBLE")
    out = {r.digit: r for r in benford_audit(df, "x").collect()}
    assert {d: out[d].n for d in out} == {1: 3, 2: 1, 9: 1}  # 0/None excluded
    assert out[1].expected == math.floor(math.log10(2.0) * 1e6) / 1e6
    assert abs(sum(r.observed for r in out.values()) - 1.0) < 1e-9


# ---------------------------------------------------------------------------
# snapshot_drift
# ---------------------------------------------------------------------------


def test_snapshot_drift_identical_snapshots(spark):
    from gcpdatapipelines_spark.operators.quality import snapshot_drift

    df = spark.createDataFrame(
        [(1, "x", Decimal("1.50")), (2, None, Decimal("2.50")), (3, "y", None)],
        "id BIGINT, s STRING, v DECIMAL(18,2)",
    )
    out = snapshot_drift(df, df, ["id", "s", "v"]).collect()
    assert len(out) == 12  # 3 columns x 4 metrics
    for r in out:
        assert r["before"] == r["after"], r


def test_snapshot_drift_detects_shift(spark):
    from gcpdatapipelines_spark.operators.quality import snapshot_drift

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id BIGINT, s STRING")
    b = spark.createDataFrame([(5, "x"), (6, None)], "id BIGINT, s STRING")
    rows = {(r["column"], r["metric"]): r for r in
            snapshot_drift(a, b, ["id", "s"]).collect()}
    assert rows[("id", "min")]["before"] == "1"
    assert rows[("id", "min")]["after"] == "5"
    assert rows[("id", "max")]["after"] == "6"
    assert rows[("s", "null_rate")]["before"] == "0.0"
    assert rows[("s", "null_rate")]["after"] == "0.5"
    assert rows[("s", "n_distinct")]["after"] == "1"


# ---------------------------------------------------------------------------
# partition_digest
# ---------------------------------------------------------------------------


def test_partition_digest_order_and_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.quality import partition_digest

    rows = [(i % 4, i, f"s{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "part_key INT, id BIGINT, s STRING")
    cols = [F.col("id").cast("string"), F.col("s")]
    a = {
        (r["part"], r["n_rows"], r["digest"])
        for r in partition_digest(df, F.col("part_key"), cols).collect()
    }
    b = {
        (r["part"], r["n_rows"], r["digest"])
        for r in partition_digest(
            df.repartition(13).sort(F.col("s").desc()), F.col("part_key"), cols
        ).collect()
    }
    assert a == b and len(a) == 4


def test_partition_digest_detects_single_row_change(spark):
    from gcpdatapipelines_spark.operators.quality import partition_digest

    rows = [(1, i, f"s{i}") for i in range(50)]
    df1 = spark.createDataFrame(rows, "p INT, id BIGINT, s STRING")
    rows2 = list(rows)
    rows2[17] = (1, 17, "CHANGED")
    df2 = spark.createDataFrame(rows2, "p INT, id BIGINT, s STRING")
    cols = [F.col("id").cast("string"), F.col("s")]
    d1 = partition_digest(df1, F.col("p"), cols).collect()[0]["digest"]
    d2 = partition_digest(df2, F.col("p"), cols).collect()[0]["digest"]
    assert d1 != d2


def test_partition_digest_merge_property(spark):
    """digest(A ∪ B) == digest(A) XOR digest(B) for disjoint halves —
    the mergeability that makes the digest table incrementally
    maintainable."""
    from gcpdatapipelines_spark.operators.quality import partition_digest

    rows = [(1, i, f"s{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "p INT, id BIGINT, s STRING")
    cols = [F.col("id").cast("string"), F.col("s")]
    full = partition_digest(df, F.col("p"), cols).collect()[0]["digest"]
    da = partition_digest(
        df.filter(F.col("id") < 50), F.col("p"), cols
    ).collect()[0]["digest"]
    db = partition_digest(
        df.filter(F.col("id") >= 50), F.col("p"), cols
    ).collect()[0]["digest"]
    assert full == da ^ db
