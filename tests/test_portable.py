"""operators/portable.py: portable float finishing shared with the DuckDB oracle."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# portable.trunc_dp
# ---------------------------------------------------------------------------


def test_trunc_dp_matches_floor_model(spark):
    from gcpdatapipelines_spark.operators.portable import trunc_dp

    vals = [0.1234567, -0.1234567, 1.9999999, -2.0000001, 0.0, 554.05]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = [r.t for r in df.select(trunc_dp("x", 4).alias("t")).collect()]
    exp = [math.floor(v * 1e4) / 1e4 for v in vals]
    assert out == exp


def test_trunc_dp_truncates_toward_neg_inf(spark):
    from gcpdatapipelines_spark.operators.portable import trunc_dp

    df = spark.createDataFrame([(-1.23456,), (1.23456,)], "x double")
    out = {r.x: r.t for r in df.select("x", trunc_dp(F.col("x"), 2).alias("t")).collect()}
    assert out[-1.23456] == -1.24  # toward -inf, not toward zero
    assert out[1.23456] == 1.23


# ---------------------------------------------------------------------------
# portable.trunc_dp non-finite guard (r5 ADVICE)
# ---------------------------------------------------------------------------


def test_trunc_dp_nan_inf_passthrough_matches_duckdb(spark):
    """Spark floor(DOUBLE) returns BIGINT (NaN->0, inf saturates); the
    guard must pass NaN/±inf through unchanged and agree with the
    DuckDB twin bit-for-bit, including -0.0 normalization."""
    import math

    import duckdb

    from gcpdatapipelines_spark.operators.portable import trunc_dp, trunc_dp_sql

    vals = [1.2345678, -1.2345678, 0.0, -0.0, float("nan"),
            float("inf"), float("-inf"), 123456.789]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.y for r in df.select(trunc_dp("x", 3).alias("y")).collect()]
    want = duckdb.sql(
        "SELECT " + trunc_dp_sql("x", 3) + " AS y FROM (SELECT "
        "unnest([1.2345678, -1.2345678, 0.0, -0.0, 'nan'::DOUBLE, "
        "'inf'::DOUBLE, '-inf'::DOUBLE, 123456.789]::DOUBLE[]) AS x)"
    ).fetchall()
    want = [r[0] for r in want]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if math.isnan(w):
            assert math.isnan(g)
        else:
            assert g == w
            assert math.copysign(1.0, g) == math.copysign(1.0, w), (g, w)
