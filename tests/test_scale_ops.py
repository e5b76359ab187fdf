"""Scale machinery: salted joins/aggs, partitioned writes with
partition pruning, bucketed tables, approximate aggregates."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcpdatapipelines_spark import io, plans
from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import joins, skew
from tests.conftest import SF_SMOKE




def test_salted_join_matches_plain_join(spark):
    """Salting must be invisible in the result set."""
    o = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_nationkey")
    fact = o.withColumnRenamed("o_custkey", "c_custkey")
    plain = fact.join(c, "c_custkey").groupBy("c_nationkey").count()
    salted = (
        joins.salted_join(fact, c, "c_custkey", "o_orderkey", nsalts=4)
        .groupBy("c_nationkey")
        .count()
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_join_spreads_hot_key(spark):
    """A single hot key must land in several salt buckets."""
    hot = spark.range(1000).select(F.lit(1).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(1, "x")], "k INT, v STRING")
    salted = hot.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("id")), F.lit(4)).cast("int")
    )
    n_buckets = salted.select("__salt").distinct().count()
    assert n_buckets >= 2
    out = joins.salted_join(hot, dim, "k", "id", nsalts=4)
    assert out.count() == 1000


def test_salted_count_matches_plain(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    plain = {
        (r["event_type"], r["cnt"])
        for r in ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    salted = {
        (r["event_type"], r["cnt"])
        for r in skew.salted_count_per_key(ev, "event_type", salt_buckets=4).collect()
    }
    assert plain == salted


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must prune at the directory
    level (PartitionFilters), reading only matching partitions."""
    o = read_table(spark, SF_SMOKE, "orders")
    path = str(tmp_path / "orders_part")
    io.write_partitioned(o, path, ["o_orderstatus"])
    back = spark.read.parquet(path)
    filtered = back.filter(F.col("o_orderstatus") == "F")
    plan = plans.formatted_plan(filtered)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]
    want = o.filter(F.col("o_orderstatus") == "F").count()
    assert filtered.count() == want


def test_bucketed_table_join_avoids_shuffle(spark, tmp_path):
    """Joining two tables bucketed on the join key must plan zero
    exchanges — the write-time co-location pays off at read time."""
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
    o = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    io.write_bucketed(o, "t_orders_b", "o_orderkey", num_buckets=4)
    io.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "t_lineitem_b", "o_orderkey", 4
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_lineitem_b")
    with_broadcast_off = a.join(b.hint("shuffle_merge"), "o_orderkey")
    assert plans.num_exchanges(with_broadcast_off) == 0
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_approx_aggregates_close_to_exact(spark):
    """approx_count_distinct / approx_percentile: the scale substitutes
    for exact distinct/percentile; sanity-bound their error."""
    li = read_table(spark, SF_SMOKE, "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey").alias("approx_d"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_p50"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("approx_p50"),
    ).collect()[0]
    assert abs(row["approx_d"] - row["exact_d"]) / row["exact_d"] < 0.1
    assert abs(row["approx_p50"] - row["exact_p50"]) / row["exact_p50"] < 0.1


def test_range_clustered_write_disjoint_files(spark, tmp_path):
    """Each output file must cover a disjoint o_orderkey range (read
    from the real parquet footers) — that disjointness is what lets a
    range filter skip whole files at scale."""
    import glob

    import pyarrow.parquet as pq

    from gcpdatapipelines_spark.io import write_range_clustered

    path = str(tmp_path / "clustered")
    o = read_table(spark, SF_SMOKE, "orders")
    write_range_clustered(o, path, ["o_orderkey"], num_files=8)

    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.num_columns)
                if md.row_group(rg).column(i).path_in_schema == "o_orderkey"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (ranges,)
    # nothing lost in the rewrite
    assert spark.read.parquet(path).count() == o.count()


def test_salted_join_rejects_dim_preserving_how(spark):
    """Dim rows are replicated per salt bucket, so right/full outer
    would duplicate unmatched dim rows — those types must raise."""
    import pytest

    fact = read_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    dim = read_table(spark, SF_SMOKE, "customer")
    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="fact-preserving"):
            joins.salted_join(fact, dim.withColumnRenamed("c_custkey", "o_custkey"),
                              "o_custkey", "o_orderkey", how=how)


def test_salted_semi_join_matches_plain(spark):
    fact = read_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey")
    dim = (
        read_table(spark, SF_SMOKE, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    got = {
        r["o_orderkey"]
        for r in joins.salted_join(
            fact, dim, "o_custkey", "o_orderkey", how="left_semi"
        ).collect()
    }
    want = {r["o_orderkey"] for r in fact.join(dim, "o_custkey", "left_semi").collect()}
    assert got == want and got


def test_aqe_skew_join_split_fires_on_hot_key(spark):
    """AQE's skew-join split, demonstrated locally: a synthetic hot key
    whose shuffle partition carries real bytes (the payload must
    survive column pruning — aggregate over it, or Catalyst prunes the
    skew away) plus thresholds tuned below the partition size makes the
    final adaptive plan mark SortMergeJoin(skew=true). This pins the
    contract that plain joins + AQE handle hot keys at scale; salting
    (salted_join) remains the fallback for aggregations and the cases
    AQE cannot split."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.join.preferSortMergeJoin",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")

        fact = spark.range(0, 400_000).select(
            F.when(F.col("id") < 300_000, F.lit(0)).otherwise(F.col("id") % 997).alias("k"),
            F.sha2(F.concat(F.lit("pp-"), F.col("id").cast("string")), 512).alias("p"),
        )
        dim = spark.range(0, 997).select(F.col("id").alias("k"), F.lit("d").alias("d"))
        j = fact.join(dim, "k").agg(
            F.max(F.length("p")).alias("mx"), F.count("*").alias("n")
        )
        (row,) = j.toPandas().to_dict("records"),
        executed = j._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "skew=true" in executed, executed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _files_skippable(path, col, lo, hi):
    """(skippable, total): files whose footer min/max for col exclude
    [lo, hi] — what a reader's file-level pruning would skip."""
    import glob

    import pyarrow.parquet as pq

    files = sorted(glob.glob(path + "/part-*.parquet"))
    skip = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        fmin = fmax = None
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mn, mx = c.statistics.min, c.statistics.max
                    fmin = mn if fmin is None else min(fmin, mn)
                    fmax = mx if fmax is None else max(fmax, mx)
        if fmin is not None and (fmin > hi or fmax < lo):
            skip += 1
    return skip, len(files)


def test_zorder_write_skips_files_on_both_dims(spark, tmp_path):
    """Z-order must keep footer stats selective on the SECOND
    clustering column, where lexicographic range clustering degrades
    to full-range stats in every file."""
    df = spark.range(0, 100_000).select(
        (F.col("id") % 317).alias("x"),
        ((F.col("id") * 7919) % 289).alias("y"),
    )
    zpath, rpath = str(tmp_path / "z"), str(tmp_path / "r")
    io.write_zorder_clustered(df, zpath, ["x", "y"], num_files=16)
    io.write_range_clustered(df, rpath, ["x", "y"], num_files=16)

    z_skip, z_total = _files_skippable(zpath, "y", 0, 36)
    r_skip, _ = _files_skippable(rpath, "y", 0, 36)
    assert z_total >= 8
    assert z_skip > 0, "z-order produced no skippable files on the 2nd dim"
    assert z_skip > r_skip, (z_skip, r_skip)
    # x stays prunable too
    zx_skip, _ = _files_skippable(zpath, "x", 0, 39)
    assert zx_skip > 0
    # and the clustering is lossless
    got = spark.read.parquet(zpath)
    assert got.count() == 100_000
    assert got.groupBy().sum("x", "y").collect() == df.groupBy().sum("x", "y").collect()


def test_range_repartition_balances_skewed_column(spark):
    """repartitionByRange samples quantiles, so partition bounds adapt
    to a skewed distribution — partition sizes stay near-equal where a
    naive fixed-width bucketing would put most rows in one partition.
    This is the quantile-bucketed repartition the range-clustered and
    z-order writes build on."""
    # zipf-ish skew: value v appears ~ 50_000 / v times
    df = spark.range(1, 200).selectExpr(
        "explode(sequence(1, cast(50000 / id as int))) AS junk", "id AS v"
    )
    parts = (
        df.repartitionByRange(8, F.col("v"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
    )
    sizes = [r["count"] for r in parts.collect()]
    assert len(sizes) >= 6
    assert max(sizes) / (sum(sizes) / len(sizes)) < 3.0, sizes


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Spark's runtime bloom-filter join injection: a selective filter
    on the dimension side propagates to the fact side as a
    might_contain() pre-filter, pruning shuffle input before the join
    — the runtime twin of static predicate pushdown, and what keeps a
    100 TB fact scan from shuffling rows that can never match."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        # force a shuffle join (broadcast joins use their own runtime
        # filter) and let the tiny local scan qualify as application side
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = read_table(spark, SF_SMOKE, "lineitem")
        p = read_table(spark, SF_SMOKE, "part").filter(F.col("p_brand") == "Brand#23")
        j = li.join(p, li.l_partkey == p.p_partkey).agg(F.count("*").alias("n"))
        optimized = j._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
        assert "might_contain" in optimized, optimized
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quantile_repartition_splits_heavy_value(spark):
    """A single value holding ~60% of the rows defeats
    repartitionByRange (equal keys must share a partition — one
    partition ends up with 60% of the data); quantile_repartition
    scatters the heavy value across the quantile buckets it spans, so
    every partition carries ~1/Nth of the rows."""
    heavy = spark.range(6000).selectExpr("0.5D AS v")
    tail = spark.range(4000).selectExpr("1.0D + id AS v")
    df = heavy.union(tail)

    naive = (
        df.repartitionByRange(8, F.col("v"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count()
    )
    naive_max = max(r["count"] for r in naive.collect())
    assert naive_max >= 6000  # the heavy key is one straggler partition

    out = skew.quantile_repartition(df, "v", 8)
    parts = (
        out.withColumn("pid", F.spark_partition_id()).groupBy("pid").count()
    )
    sizes = [r["count"] for r in parts.collect()]
    assert sum(sizes) == 10000
    assert max(sizes) < 3000, sizes  # heavy value split, no straggler


def test_quantile_repartition_preserves_content(spark):
    df = spark.range(1000).selectExpr("cast(id % 97 as double) AS v", "id")
    out = skew.quantile_repartition(df, "v", 8)
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))
    assert out.rdd.getNumPartitions() == 8


def test_quantile_repartition_nulls_and_degenerate(spark):
    df = spark.range(100).selectExpr(
        "CASE WHEN id < 10 THEN NULL ELSE cast(id as double) END AS v", "id"
    )
    out = skew.quantile_repartition(df, "v", 4)
    assert out.count() == 100
    all_null = spark.range(50).selectExpr("cast(NULL as double) AS v", "id")
    assert skew.quantile_repartition(all_null, "v", 4).count() == 50


def test_zscore_matches_local_computation(spark):
    """Exact-decimal z-scores equal a numpy reference within fp noise."""
    import numpy as np

    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.agg import zscore_per_key

    c = read_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    got = zscore_per_key(c, "c_acctbal", ["c_mktsegment"]).toPandas()
    for seg, grp in got.groupby("c_mktsegment"):
        x = grp["c_acctbal"].to_numpy()
        want = (x - x.mean()) / x.std(ddof=1)
        assert np.allclose(grp["zscore"].to_numpy(), want, atol=1e-9)


def test_zscore_single_exchange(spark):
    from gcpdatapipelines_spark import plans as PL
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.agg import zscore_per_key

    c = read_table(spark, SF_SMOKE, "customer")
    assert PL.num_exchanges(zscore_per_key(c, "c_acctbal", ["c_mktsegment"])) == 1


def test_histogram_counts_and_clamping(spark):
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.agg import histogram_fixed_width

    li = read_table(spark, SF_SMOKE, "lineitem")
    h = histogram_fixed_width(li, "l_extendedprice", 0.0, 120000.0, 24).toPandas()
    assert h["n"].sum() == li.count()  # every row lands in a bucket
    assert h["bucket"].between(0, 23).all()
    # partial aggregation over <=nbins keys
    from gcpdatapipelines_spark import plans as PL

    assert PL.has_partial_aggregation(
        histogram_fixed_width(li, "l_extendedprice", 0.0, 120000.0, 24)
    )


def test_histogram_excludes_nulls(spark):
    """NULL values must not inflate bucket 0 (ADVICE.md: greatest/least
    skip NULLs, silently clamping a NULL index into the lowest edge)."""
    from gcpdatapipelines_spark.operators.agg import histogram_fixed_width

    df = spark.createDataFrame([(None,), (0.5,), (None,), (9.5,)], "v DOUBLE")
    h = {r["bucket"]: r["n"] for r in histogram_fixed_width(df, "v", 0.0, 10.0, 10).collect()}
    assert h == {0: 1, 9: 1}


def test_merge_partial_aggregates_equals_full_recompute(spark):
    """agg(A ∪ B) == merge(agg(A), agg(B)) — the algebraic guarantee,
    exact because sums stay decimal through the merge."""
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.agg import merge_partial_aggregates

    o = read_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("p")
    )

    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"), F.sum("p").alias("total")
        )

    a, b = o.filter(F.col("o_orderkey") % 3 == 0), o.filter(F.col("o_orderkey") % 3 != 0)
    merged = {
        r["o_orderstatus"]: (r["n"], r["total"])
        for r in merge_partial_aggregates(agg(a), agg(b), ["o_orderstatus"], ["n", "total"]).collect()
    }
    full = {r["o_orderstatus"]: (r["n"], r["total"]) for r in agg(o).collect()}
    assert merged == full


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    """50 tiny files -> byte-targeted handful; rows and values intact."""
    import glob

    from gcpdatapipelines_spark.io import compact_parquet
    from gcpdatapipelines_spark.io import read_table

    src, dst = str(tmp_path / "small"), str(tmp_path / "compact")
    o = read_table(spark, SF_SMOKE, "orders")
    o.repartition(50).write.parquet(src)
    n_small = len(glob.glob(f"{src}/part-*.parquet"))
    assert n_small == 50
    total_bytes = sum(
        __import__("os").path.getsize(p) for p in glob.glob(f"{src}/*.parquet")
    )
    n = compact_parquet(spark, src, dst, target_bytes=total_bytes // 4)
    files = glob.glob(f"{dst}/part-*.parquet")
    assert len(files) == n <= 6
    back = spark.read.parquet(dst)
    assert back.count() == o.count()
    assert back.agg(F.sum("o_orderkey")).first()[0] == o.agg(F.sum("o_orderkey")).first()[0]


def test_exact_quantiles_known_values(spark):
    from gcpdatapipelines_spark.operators.agg import exact_quantiles

    # values 1..5: p50 = 3, p25 = 2 (h = 4*0.25 = 1 -> exactly idx 1),
    # p75 = 4, and p90 interpolates h = 3.6 -> 4 + 0.6*(5-4) = 4.6
    rows = [("a", float(v)) for v in [1, 2, 3, 4, 5]] + [("b", 10.0)]
    df = spark.createDataFrame(rows, "k STRING, v DOUBLE")
    out = exact_quantiles(df, "k", ["v"], [0.25, 0.5, 0.75, 0.9])
    got = {(r.k, r.p): r.v_q for r in out.collect()}
    assert got[("a", 0.25)] == 2.0
    assert got[("a", 0.5)] == 3.0
    assert got[("a", 0.75)] == 4.0
    assert abs(got[("a", 0.9)] - 4.6) < 1e-12
    # single-value group: every quantile is that value
    assert got[("b", 0.5)] == 10.0 and got[("b", 0.9)] == 10.0


def test_exact_quantiles_multi_column_single_agg(spark):
    from gcpdatapipelines_spark.operators.agg import exact_quantiles

    rows = [("a", 1.0, 100.0), ("a", 3.0, 300.0)]
    df = spark.createDataFrame(rows, "k STRING, x DOUBLE, y DOUBLE")
    out = exact_quantiles(df, "k", ["x", "y"], [0.5])
    r = out.collect()[0]
    assert (r.x_q, r.y_q) == (2.0, 200.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # both columns share one aggregate (no second shuffle); count only
    # the AQE final plan, not the echoed initial plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") <= 1


def test_mad_outliers_flags_only_extremes(spark):
    from gcpdatapipelines_spark.operators.agg import mad_outliers

    # group a: tight cluster around 10 with one wild point
    rows = [(i, "a", 10.0 + (i % 3) * 0.5) for i in range(9)] + [(99, "a", 1000.0)]
    df = spark.createDataFrame(rows, "event_id BIGINT, event_type STRING, value DOUBLE")
    out = mad_outliers(df, "event_type", "value", ["event_id"], k=3.0).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].med == 10.5 and out[0].mad == 0.5


def test_mad_outliers_zero_mad_degenerate(spark):
    from gcpdatapipelines_spark.operators.agg import mad_outliers

    # >half identical values -> MAD 0: any deviation flags
    rows = [(1, "a", 5.0), (2, "a", 5.0), (3, "a", 5.0), (4, "a", 5.1)]
    df = spark.createDataFrame(rows, "event_id BIGINT, event_type STRING, value DOUBLE")
    out = mad_outliers(df, "event_type", "value", ["event_id"], k=3.0).collect()
    assert [r.event_id for r in out] == [4]


def test_mode_per_key_deterministic_tiebreak(spark):
    from gcpdatapipelines_spark.operators.agg import mode_per_key

    rows = [("k1", "b"), ("k1", "b"), ("k1", "a"), ("k2", "z"), ("k2", "y")]
    df = spark.createDataFrame(rows, "k STRING, v STRING")
    got = {(r.k): (r.mode, r.n) for r in mode_per_key(df, "k", "v").collect()}
    assert got["k1"] == ("b", 2)
    assert got["k2"] == ("y", 1)  # tie at 1 -> smallest value wins


def test_sliding_window_each_row_in_two_windows(spark):
    import datetime as dt

    from gcpdatapipelines_spark.operators.windows import sliding_window_agg

    t0 = dt.datetime(2024, 1, 1, 10, 30)
    df = spark.createDataFrame([(t0, "a", 1.0)], "ts TIMESTAMP, k STRING, v DOUBLE")
    out = sliding_window_agg(
        df, "ts", "2 hours", "1 hour", ["k"], [F.count("*").alias("n")]
    ).collect()
    starts = sorted(r.window_start for r in out)
    assert starts == [dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 1, 10)]
    assert all(r.n == 1 for r in out)


def test_session_table_bounds_and_conversion(spark):
    import datetime as dt

    from gcpdatapipelines_spark.operators.windows import session_table

    t0 = dt.datetime(2024, 1, 1, 12, 0)

    def _m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    rows = [
        (1, _m(0), 1, "view", 1.0),
        (1, _m(10), 2, "purchase", 5.0),
        (1, _m(90), 3, "view", 2.0),  # > 30-min gap: new session
        (2, _m(0), 4, "view", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"
    )
    out = {(r.user_id, r.sess_id): r.asDict() for r in session_table(
        df, "user_id", "ts", "event_id", "value"
    ).collect()}
    s0 = out[(1, 0)]
    assert s0["n_events"] == 2 and s0["converted"] == 1
    assert s0["duration_s"] == 600.0 and s0["total_value"] == 6.0
    s1 = out[(1, 1)]
    assert s1["n_events"] == 1 and s1["converted"] == 0 and s1["duration_s"] == 0.0
    assert out[(2, 0)]["n_events"] == 1
