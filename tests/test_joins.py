"""operators/joins.py: salted and point-in-interval joins."""

from __future__ import annotations

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# salted_join
# ---------------------------------------------------------------------------


def test_salted_join_equals_plain_join_on_skewed_keys(spark):
    from gcpdatapipelines_spark.operators.joins import salted_join

    # hot key 0 carries half the fact rows
    fact = spark.createDataFrame(
        [(i, 0 if i % 2 == 0 else i % 50) for i in range(2000)],
        "row_id BIGINT, k BIGINT",
    )
    dim = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k BIGINT, attr STRING"
    )
    got = sorted(
        (r["row_id"], r["attr"])
        for r in salted_join(fact, dim, "k", "row_id", nsalts=8).collect()
    )
    want = sorted(
        (r["row_id"], r["attr"]) for r in fact.join(dim, "k").collect()
    )
    assert got == want


def test_salted_join_spreads_hot_key_across_salts(spark):
    """Joined rows of ONE hot key must land in several shuffle
    partitions — the whole point; salting by the key itself would
    collapse them into one. Partition coalescing is off so the
    partition ids read are the salted shuffle's own."""
    from gcpdatapipelines_spark.operators.joins import salted_join

    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        fact = spark.createDataFrame(
            [(i, 0) for i in range(1000)], "row_id BIGINT, k BIGINT"
        )
        dim = spark.createDataFrame([(0, "hot")], "k BIGINT, attr STRING")
        out = salted_join(fact, dim, "k", "row_id", nsalts=8).select(
            F.spark_partition_id().alias("pid")
        )
        pids = [r["pid"] for r in out.collect()]
    finally:
        spark.conf.set(conf, before)
    assert len(pids) == 1000
    assert len(set(pids)) >= 2, set(pids)


# ---------------------------------------------------------------------------
# point_in_interval_join
# ---------------------------------------------------------------------------


def test_point_in_interval_equals_naive_inequality(spark):
    from gcpdatapipelines_spark.operators.joins import point_in_interval_join

    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(i, base + dt.timedelta(hours=7 * i)) for i in range(60)],
        "pid BIGINT, ts TIMESTAMP",
    )
    ivs = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 4)),
            (2, dt.datetime(2024, 1, 8), dt.datetime(2024, 1, 8)),
            (3, dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 15)),
        ],
        "iid BIGINT, s TIMESTAMP, e TIMESTAMP",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in point_in_interval_join(pts, "ts", ivs, "s", "e").collect()
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in pts.crossJoin(ivs)
        .filter(
            (F.col("ts") >= F.col("s"))
            & (F.col("ts") < F.col("e") + F.expr("interval 1 day"))
        )
        .collect()
    )
    assert got == want and len(want) > 0


def test_point_in_interval_plan_is_hash_join(spark):
    """The bucketed form must compile to a hash/merge EQUI join — the
    naive inequality form is nested-loop."""
    from gcpdatapipelines_spark import plans as P
    from gcpdatapipelines_spark.operators.joins import point_in_interval_join

    import datetime as dt

    pts = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 5))], "pid BIGINT, ts TIMESTAMP"
    )
    ivs = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 9))],
        "iid BIGINT, s TIMESTAMP, e TIMESTAMP",
    )
    plan = P.formatted_plan(point_in_interval_join(pts, "ts", ivs, "s", "e"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
