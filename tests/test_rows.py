"""operators/rows.py: dense ids and average ranks."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcpdatapipelines_spark.io import read_table
from tests.conftest import SF_SMOKE


# ---------------------------------------------------------------------------
# avg_rank2_multi_dict == avg_rank2_multi (a42_spearman rank transform)
# ---------------------------------------------------------------------------


def test_avg_rank2_dict_matches_sharded(spark):
    from gcpdatapipelines_spark.operators.rows import (
        avg_rank2_multi,
        avg_rank2_multi_dict,
    )

    li = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount")
        .limit(500)
    )
    cols = {"l_quantity": "r_q", "l_extendedprice": "r_p", "l_discount": "r_d"}
    a = avg_rank2_multi(li, cols).groupBy().agg(
        F.sum("r_q"), F.sum("r_p"), F.sum("r_d"),
        F.sum(F.col("r_q") * F.col("r_p")), F.sum(F.col("r_q") * F.col("r_d")),
        F.min("r_q"), F.max("r_q"), F.min("r_p"), F.max("r_p"),
    ).collect()[0]
    b = avg_rank2_multi_dict(li, cols).groupBy().agg(
        F.sum("r_q"), F.sum("r_p"), F.sum("r_d"),
        F.sum(F.col("r_q") * F.col("r_p")), F.sum(F.col("r_q") * F.col("r_d")),
        F.min("r_q"), F.max("r_q"), F.min("r_p"), F.max("r_p"),
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_avg_rank2_dict_tie_integers(spark):
    """2*avg_rank on a hand-checkable tied column: values [10, 10, 20]
    → avg ranks [1.5, 1.5, 3] → rank2 [3, 3, 6]."""
    from gcpdatapipelines_spark.operators.rows import avg_rank2_multi_dict

    df = spark.createDataFrame([(10,), (10,), (20,)], "x INT")
    got = sorted(
        r.r for r in avg_rank2_multi_dict(df, {"x": "r"}).select(
            F.col("r").alias("r")
        ).collect()
    )
    assert got == [3, 3, 6]


# ---------------------------------------------------------------------------
# fused multi-column average rank == chained single-column ranks
# ---------------------------------------------------------------------------


def test_avg_rank2_multi_matches_chained(spark):
    import random

    from gcpdatapipelines_spark.operators.rows import avg_rank2_multi

    rng = random.Random(5)
    rows = [
        (i, rng.randrange(8), float(rng.randrange(5)), rng.randrange(100) / 10.0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id LONG, a LONG, b DOUBLE, c DOUBLE")
    chained = df
    for col, out in [("a", "r_a"), ("b", "r_b"), ("c", "r_c")]:
        chained = avg_rank2_multi(chained, {col: out})
    fused = avg_rank2_multi(df, {"a": "r_a", "b": "r_b", "c": "r_c"})
    key = lambda r: r["id"]  # noqa: E731
    got_c = sorted(chained.select("id", "r_a", "r_b", "r_c").collect(), key=key)
    got_f = sorted(fused.select("id", "r_a", "r_b", "r_c").collect(), key=key)
    assert [tuple(r) for r in got_c] == [tuple(r) for r in got_f]


def test_avg_rank2_multi_constant_and_null_columns(spark):
    from gcpdatapipelines_spark.operators.rows import avg_rank2_multi

    df = spark.createDataFrame(
        [(1, 7.0, None), (2, 7.0, None), (3, 7.0, None)],
        "id LONG, const DOUBLE, empty DOUBLE",
    )
    out = {r["id"]: (r["rc"], r["re"]) for r in
           avg_rank2_multi(df, {"const": "rc", "empty": "re"}).collect()}
    # constant column: every row ties -> 2*avg_rank = 2*2 = 4 (lo+hi=1+3)
    assert {v[0] for v in out.values()} == {4}
    assert {v[1] for v in out.values()} == {None}


def test_dense_ids_matches_global_rank(spark):
    from gcpdatapipelines_spark.operators.rows import dense_ids

    # sparse, skewed, negative-free keys with gaps
    keys = [0, 1, 5, 6, 7, 1000, 1001, 99999, 100000, 123456789]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r["k"]: r["dense_id"] for r in dense_ids(df, "k", nshards=4).collect()}
    assert got == {k: i for i, k in enumerate(sorted(keys))}


def test_dense_ids_empty_and_single(spark):
    from gcpdatapipelines_spark.operators.rows import dense_ids

    empty = spark.createDataFrame([], "k long")
    assert dense_ids(empty, "k").count() == 0
    one = spark.createDataFrame([(7,)], "k long")
    [r] = dense_ids(one, "k").collect()
    assert r["dense_id"] == 0


# ---------------------------------------------------------------------------
# avg_rank2_multi / a42_spearman
# ---------------------------------------------------------------------------


def test_avg_rank2_matches_pandas_average_rank(spark):
    import pandas as pd

    from gcpdatapipelines_spark.operators.rows import avg_rank2_multi

    vals = [3.0, 1.0, 2.0, 2.0, 2.0, 5.0, 1.0, 7.5]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i INT, x DOUBLE")
    got = {r.i: r.r2 for r in avg_rank2_multi(df, {"x": "r2"}, nshards=3).collect()}
    want = (pd.Series(vals).rank() * 2).astype(int)
    assert got == {i: int(want[i]) for i in range(len(vals))}


def test_avg_rank2_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.rows import avg_rank2_multi

    rows = [(i, float((i * 13) % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "i INT, x DOUBLE")
    a = sorted((r.i, r.r2) for r in avg_rank2_multi(df, {"x": "r2"}).collect())
    b = sorted(
        (r.i, r.r2) for r in avg_rank2_multi(df.repartition(17), {"x": "r2"}).collect()
    )
    assert a == b
