"""As-of and bucketed range join semantics + scale-plan contracts."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark import plans as PL
from gcpdatapipelines_spark.operators.joins import as_of_join, range_join_bucketed
from gcpdatapipelines_spark.queries import SPARK_QUERIES
from tests.conftest import SF_SMOKE

T0 = dt.datetime(2024, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def _frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(10), "p1"), (1, _ts(30), "p2"), (2, _ts(5), "p3")],
        "k BIGINT, ts TIMESTAMP, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, _ts(0), 100.0), (1, _ts(10), 110.0), (1, _ts(20), 120.0), (3, _ts(1), 999.0)],
        "k BIGINT, ts TIMESTAMP, quote DOUBLE",
    )
    return left, right


def test_asof_backward_semantics(spark):
    left, right = _frames(spark)
    out = {
        r["tag"]: r["quote"]
        for r in as_of_join(left, right, "k", "ts", "ts", ["quote"]).collect()
    }
    # p1 at t=10 matches the EQUAL-ts quote (<= semantics)
    assert out == {"p1": 110.0, "p2": 120.0, "p3": None}


def test_asof_equal_ts_ties_collapse_to_max(spark):
    left = spark.createDataFrame([(1, _ts(5), "p")], "k BIGINT, ts TIMESTAMP, tag STRING")
    right = spark.createDataFrame(
        [(1, _ts(0), 1.0), (1, _ts(0), 7.0)], "k BIGINT, ts TIMESTAMP, quote DOUBLE"
    )
    (row,) = as_of_join(left, right, "k", "ts", "ts", ["quote"]).collect()
    assert row["quote"] == 7.0


def test_asof_rejects_column_clash(spark):
    left, right = _frames(spark)
    with pytest.raises(ValueError, match="collide"):
        as_of_join(left, right.withColumnRenamed("quote", "tag"), "k", "ts", "ts", ["tag"])


def test_range_join_matches_naive(spark):
    """Bucketed rewrite must equal the naive theta-join over the same
    window, including intervals spanning bucket boundaries."""
    left = spark.createDataFrame(
        [(1, _ts(70), "a"), (1, _ts(130), "b"), (2, _ts(65), "c")],
        "k BIGINT, p_ts TIMESTAMP, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, _ts(m), float(m)) for m in (5, 15, 65, 69, 125)]
        + [(2, _ts(64), 64.0), (2, _ts(66), 66.0)],
        "k BIGINT, c_ts TIMESTAMP, v DOUBLE",
    )
    got = {
        (r["tag"], r["v"])
        for r in range_join_bucketed(
            left, right, "k", "p_ts", "c_ts", "1 hour", bucket_seconds=3600
        ).collect()
    }
    naive = left.join(right, "k").filter(
        (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    want = {(r["tag"], r["v"]) for r in naive.collect()}
    assert got == want and got


def test_asof_plan_single_shuffle(spark):
    """The whole point of the union+window rewrite: ONE exchange (the
    per-key sort), never a join that materializes pairs."""
    df = SPARK_QUERIES["j6_asof_join"](spark, SF_SMOKE)
    assert PL.num_exchanges(df) == 1, PL.formatted_plan(df)
    assert PL.join_strategies(df) == []


def test_range_join_stays_hash_join(spark):
    """The bucketed equi-component must keep Catalyst off
    BroadcastNestedLoopJoin."""
    df = SPARK_QUERIES["j7_range_join"](spark, SF_SMOKE)
    strategies = set(PL.join_strategies(df))
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "CartesianProduct" not in strategies
    assert strategies, strategies


def test_asof_composite_key(spark):
    """Multi-key as-of: (k, region) must both match."""
    left = spark.createDataFrame(
        [(1, "eu", _ts(10), "p1"), (1, "us", _ts(10), "p2")],
        "k BIGINT, region STRING, ts TIMESTAMP, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, "eu", _ts(0), 5.0), (1, "us", _ts(5), 9.0)],
        "k BIGINT, region STRING, ts TIMESTAMP, quote DOUBLE",
    )
    out = {
        r["tag"]: r["quote"]
        for r in as_of_join(
            left, right, ["k", "region"], "ts", "ts", ["quote"]
        ).collect()
    }
    assert out == {"p1": 5.0, "p2": 9.0}


def test_asof_null_in_latest_right_row_preserved(spark):
    """All value columns must come from the SAME (latest) right row:
    a NULL inside that row is the answer, never backfilled from an
    older row (struct forward-fill, DuckDB ASOF semantics)."""
    left = spark.createDataFrame([(1, _ts(20), "p")], "k BIGINT, ts TIMESTAMP, tag STRING")
    right = spark.createDataFrame(
        [(1, _ts(0), 1.0, 5.0), (1, _ts(10), None, 7.0)],
        "k BIGINT, ts TIMESTAMP, quote DOUBLE, extra DOUBLE",
    )
    (row,) = as_of_join(left, right, "k", "ts", "ts", ["quote", "extra"]).collect()
    assert row["quote"] is None and row["extra"] == 7.0


def test_asof_forward_picks_next(spark):
    """Forward direction: earliest right row with right_ts >= left_ts;
    NULL when no later row exists; equal-ts matches inclusively."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(30), "b"), (2, ts(5), "c")],
        "k BIGINT, ts TIMESTAMP, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, ts(10), 100.0), (1, ts(20), 200.0), (1, ts(25), 250.0)],
        "k BIGINT, ts TIMESTAMP, quote DOUBLE",
    )
    out = {
        r.tag: r.quote
        for r in as_of_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_cols=["quote"], direction="forward",
        ).collect()
    }
    assert out["a"] == 100.0   # equal ts matches (inclusive)
    assert out["b"] is None    # nothing at or after ts(30)
    assert out["c"] is None    # key 2 has no right rows


def test_asof_forward_equal_ts_tie_breaks_greatest(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([(1, t0, "x")], "k BIGINT, ts TIMESTAMP, tag STRING")
    right = spark.createDataFrame(
        [(1, t0, 1.0), (1, t0, 9.0)], "k BIGINT, ts TIMESTAMP, quote DOUBLE"
    )
    out = as_of_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_cols=["quote"], direction="forward",
    ).collect()
    assert out[0].quote == 9.0  # same rule as backward: greatest wins


# ------------------------------------------------- interval overlap join


def _iv(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, started_at timestamp, ended_at timestamp"
    )


def test_interval_overlap_counts_each_pair_once(spark):
    """A 3-hour overlap spans multiple hourly grid buckets — the
    bucket-of-overlap-start rule must still count the pair exactly
    once, with the exact microsecond overlap."""
    from gcpdatapipelines_spark.operators.joins import interval_overlap_topk

    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def h(x):
        return t0 + dt.timedelta(hours=x)

    rows = [
        (1, h(0), h(4)),   # 10:00-14:00
        (2, h(1), h(6)),   # 11:00-16:00 -> overlap 11:00-14:00 = 3 h
        (3, h(7), h(8)),   # disjoint from both
    ]
    out = interval_overlap_topk(
        _iv(spark, rows), "user_id", "started_at", "ended_at"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u1"], r["u2"], r["n_overlaps"]) == (1, 2, 1)
    assert r["overlap_us"] == 3 * 3600 * 1_000_000


def test_interval_overlap_same_bucket_disjoint_excluded(spark):
    """Two intervals inside the same hour bucket but not intersecting
    must not pair (the grid join only proposes, the overlap predicate
    disposes)."""
    from gcpdatapipelines_spark.operators.joins import interval_overlap_topk

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, t0, t0 + dt.timedelta(minutes=10)),
        (2, t0 + dt.timedelta(minutes=20), t0 + dt.timedelta(minutes=30)),
    ]
    out = interval_overlap_topk(
        _iv(spark, rows), "user_id", "started_at", "ended_at"
    ).collect()
    assert out == []


def test_interval_overlap_plan_is_grid_equi_join(spark):
    """The overlap join must be an EQUI join on the grid bucket —
    never a nested-loop range join."""
    df = SPARK_QUERIES["j13_interval_overlap"](spark, SF_SMOKE)
    plan = PL.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert set(PL.join_strategies(df)) <= {
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"
    }
    assert len(PL.join_strategies(df)) >= 1
