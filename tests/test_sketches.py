"""Sketch-family contracts: estimator accuracy bounds, one-sided error
guarantees, merge/partitioning invariance. The bit-level parity with
DuckDB is covered by the oracle gate (test_oracle_parity); these pin
the PROBABILISTIC guarantees the oracle can't express."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gcpdatapipelines_spark.operators.sketches import (
    bloom_membership,
    countmin_estimates,
    hll_distinct,
    kmv_distinct,
)


def _keyed(spark, n, dup_every=3):
    """n rows over ~n/dup_every distinct string keys."""
    return spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % (n // dup_every)).cast("string")).alias(
            "key"
        )
    )


def test_hll_within_standard_error(spark):
    df = _keyed(spark, 9000, dup_every=3)  # 3000 distinct
    row = hll_distinct(df, "key", p=9).collect()[0]
    assert row.n_exact == 3000
    # HLL standard error = 1.04/sqrt(m) ~ 4.6% at m=512; allow 3 sigma
    assert row.rel_err < 3 * 1.04 / (512**0.5), row
    assert row.m == 512


def test_hll_small_range_correction_is_near_exact(spark):
    df = _keyed(spark, 120, dup_every=2)  # 60 distinct << 2.5 m
    row = hll_distinct(df, "key", p=9).collect()[0]
    assert row.v_empty > 0 and row.rel_err < 0.10, row


def test_hll_partitioning_invariant(spark):
    df = _keyed(spark, 5000)
    a = hll_distinct(df, "key", p=9).collect()[0]
    b = hll_distinct(df.repartition(13), "key", p=9).collect()[0]
    assert a == b  # integer register fold -> bit-identical


def test_kmv_exact_below_k(spark):
    df = _keyed(spark, 300, dup_every=3)  # 100 distinct < k=256
    row = kmv_distinct(df, "key", k=256).collect()[0]
    assert row.kth_u is None
    assert row.kmv_estimate == row.n_exact == 100 and row.rel_err == 0.0


def test_kmv_estimate_above_k(spark):
    df = _keyed(spark, 12000, dup_every=3)  # 4000 distinct
    row = kmv_distinct(df, "key", k=256).collect()[0]
    assert row.n_exact == 4000
    # KMV rel. std error ~ 1/sqrt(k-2) ~ 6.3%; allow 3 sigma
    assert row.rel_err < 0.19, row


def test_countmin_never_undercounts(spark):
    df = _keyed(spark, 6000, dup_every=5)
    rows = countmin_estimates(df, "key", depth=4, width=256, top=20).collect()
    assert len(rows) == 20
    assert all(r.cm_estimate >= r.true_n for r in rows), rows
    assert all(r.overcount == r.cm_estimate - r.true_n for r in rows)


def test_countmin_exact_when_wide(spark):
    # 40 distinct keys into 4 x 4096 counters: collisions vanishingly
    # unlikely -> estimates exact
    df = _keyed(spark, 400, dup_every=10)
    rows = countmin_estimates(df, "key", depth=4, width=4096, top=10).collect()
    assert all(r.cm_estimate == r.true_n for r in rows), rows


def test_bloom_no_false_negatives_ever(spark):
    build = spark.range(500).select(F.col("id").alias("bkey"))
    probe = spark.range(1500).select(F.col("id").alias("pkey"))  # 500 in, 1000 out
    out = {
        (r.is_member, r.bloom_hit): r.n
        for r in bloom_membership(
            build, probe, "bkey", "pkey", k=7, m_bits=1 << 14
        ).collect()
    }
    assert (True, False) not in out, out  # structural guarantee
    assert out.get((True, True)) == 500
    fp = out.get((False, True), 0)
    tn = out.get((False, False), 0)
    assert fp + tn == 1000
    # 500 keys x 7 bits in 16384 -> FP rate ~ (1-e^-0.21)^7 ~ 1e-5
    assert fp <= 5, out


def test_bloom_tiny_filter_saturates_honestly(spark):
    # m_bits=64 with 500 keys: filter saturates, everything hits —
    # still zero false negatives, FP rate -> 1 (the documented
    # degradation mode, not an error)
    build = spark.range(500).select(F.col("id").alias("bkey"))
    probe = spark.range(1000).select(F.col("id").alias("pkey"))
    out = {
        (r.is_member, r.bloom_hit): r.n
        for r in bloom_membership(
            build, probe, "bkey", "pkey", k=7, m_bits=64
        ).collect()
    }
    assert (True, False) not in out, out
    assert out.get((True, True)) == 500


# ---------------------------------------------------------------------------
# HLL dyadic scale derived from p (ADVICE r6: p<9 truncated registers)
# ---------------------------------------------------------------------------


def test_dyadic_c_matches_legacy_at_p9():
    from gcpdatapipelines_spark.operators.sketches import _dyadic_c

    assert _dyadic_c(9) == 52  # every recorded-green p=9 query is bit-stable


def test_hll_small_p_registers_not_truncated(spark):
    """At p=7 the max rho is 54 > 52: under the old hardcoded 2^52
    scale a register with rho > 52 contributed 0 instead of its
    sub-integer dyadic term. With the derived scale the fold is exact
    for every register: estimate must stay within the rsd band even
    when such registers exist (construct w=0 collisions explicitly
    via enough keys)."""
    from gcpdatapipelines_spark.operators.sketches import hll_distinct

    df = spark.range(0, 4000).select(F.col("id").cast("string").alias("k"))
    r = hll_distinct(df, "k", p=7).first()
    assert abs(r.hll_estimate - r.n_exact) / r.n_exact < 0.35  # 3+ sigma at m=128


def test_hll_rollup_guard_all_p(spark):
    """Rollup == flat estimate for p below, at, and above 9 — the
    merge identity must hold for every valid precision now that the
    scale is derived."""
    from gcpdatapipelines_spark.operators.sketches import (
        hll_distinct,
        hll_rollup,
    )

    rows = [(i % 4, f"u{i % 733}") for i in range(3000)]
    df = spark.createDataFrame(rows, "shard int, uid string")
    for p in (7, 9, 11):
        flat = hll_distinct(df, "uid", p=p).first()
        rolled = hll_rollup(df, "shard", "uid", p=p).first()
        assert rolled.hll_estimate == flat.hll_estimate, f"p={p}"


# ---------------------------------------------------------------------------
# one-pass bloom: plan shape (single scan per side)
# ---------------------------------------------------------------------------


def test_bloom_single_scan_per_side(spark):
    """The k salted bit positions must come from ONE scan of each side
    (explode over an in-row array), not k union arms — at 100 TB the
    k-arm form reads the build side 7x."""
    from gcpdatapipelines_spark.operators.sketches import bloom_membership

    build = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    probe = spark.range(250, 750).select(F.col("id").cast("string").alias("k"))
    out = bloom_membership(build, probe, "k", "k", k=7)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the k-arm union is gone: bit positions come from explode, and the
    # only logical duplication left is probe_bits feeding two consumers
    # (wanted + hits) — which AQE deduplicates at runtime (ReusedExchange,
    # asserted below), so each side's salted-bits derivation runs ONCE
    assert "Union" not in plan
    assert 2 <= plan.count("Generate explode") <= 3
    rows = {(r.is_member, r.bloom_hit): r.n for r in out.collect()}
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 1
    assert (True, False) not in rows  # no false negatives, ever
    assert rows.get((True, True), 0) == 250


def test_bloom_one_pass_matches_legacy_values(spark):
    """The explode rewrite must produce the identical audit the
    k-scan form produced (same salts, same bits) — pin the exact
    confusion counts on a fixed fixture."""
    from gcpdatapipelines_spark.operators.sketches import bloom_membership

    build = spark.range(0, 300).select(F.col("id").cast("string").alias("k"))
    probe = spark.range(0, 600).select(F.col("id").cast("string").alias("k"))
    rows = {
        (r.is_member, r.bloom_hit): r.n
        for r in bloom_membership(build, probe, "k", "k").collect()
    }
    assert rows[(True, True)] == 300
    assert rows.get((True, False), 0) == 0
    # false positives are whatever the hash family gives, but the
    # total probe universe must be conserved
    assert sum(rows.values()) == 600


# ---------------------------------------------------------------------------
# kmv_setops
# ---------------------------------------------------------------------------


def test_kmv_setops_exact_regime_and_accuracy(spark):
    """Sets smaller than k: theta = 1.0, every estimate IS the exact
    count. Overlap structure: A = 0..149, B = 100..249."""
    from gcpdatapipelines_spark.operators.sketches import kmv_setops

    a = spark.range(0, 150).select(F.col("id").alias("ka"))
    b = spark.range(100, 250).select(F.col("id").alias("kb"))
    got = {r["op"]: r for r in kmv_setops(a, b, "ka", "kb", k=256).collect()}
    assert got["a"]["exact"] == 150 and got["b"]["exact"] == 150
    assert got["union"]["exact"] == 250 and got["intersect"]["exact"] == 50
    for r in got.values():
        assert r["estimate"] == float(r["exact"])
        assert r["rel_err"] == 0.0


def test_kmv_setops_sketch_regime_bounds(spark):
    """Sets much larger than k: estimates within ~5 sigma of truth
    (sigma ≈ exact/sqrt(k-2)) and the inclusion-exclusion identity
    holds approximately."""
    from gcpdatapipelines_spark.operators.sketches import kmv_setops

    a = spark.range(0, 6000).select(F.col("id").alias("ka"))
    b = spark.range(3000, 9000).select(F.col("id").alias("kb"))
    got = {r["op"]: r for r in kmv_setops(a, b, "ka", "kb", k=256).collect()}
    for op, exact in [("a", 6000), ("b", 6000), ("union", 9000),
                      ("intersect", 3000)]:
        assert got[op]["exact"] == exact
        sigma = exact / math.sqrt(254)
        assert abs(got[op]["estimate"] - exact) < 5 * sigma, (op, got[op])


def test_kmv_setops_disjoint_intersection_zero(spark):
    from gcpdatapipelines_spark.operators.sketches import kmv_setops

    a = spark.range(0, 3000).select(F.col("id").alias("ka"))
    b = spark.range(50000, 53000).select(F.col("id").alias("kb"))
    got = {r["op"]: r for r in kmv_setops(a, b, "ka", "kb", k=128).collect()}
    assert got["intersect"]["exact"] == 0
    assert got["intersect"]["estimate"] == 0.0


# ---------------------------------------------------------------------------
# hll_merge_audit
# ---------------------------------------------------------------------------


def test_hll_merge_registers_equal_and_estimate_sane(spark):
    from gcpdatapipelines_spark.operators.sketches import hll_merge_audit

    a = spark.range(0, 4000).selectExpr("id AS ka")
    b = spark.range(3000, 8000).selectExpr("id AS kb")
    got = hll_merge_audit(a, b, "ka", "kb", p=9).collect()[0]
    assert got["registers_equal"] is True
    assert got["n_register_mismatch"] == 0
    assert got["merged_estimate"] == got["direct_estimate"]
    assert got["n_exact"] == 8000
    # p=9 -> ~4.6% stderr; 5 sigma bound
    assert abs(got["merged_estimate"] - 8000) < 8000 * 0.23


# ---------------------------------------------------------------------------
# quantile_sketch_bottomk
# ---------------------------------------------------------------------------


def test_quantile_sketch_error_bound(spark):
    """k=512 sample quantiles of a 20k-row group must land within a
    few sample-rank standard errors of the exact quantiles: for
    U(0,1000) data the p50 estimate stays within ~3*1000/(2*sqrt(k))
    ~= 66 of the truth."""
    from gcpdatapipelines_spark.operators.sketches import (
        quantile_sketch_bottomk,
    )

    rows = [("g", i, (i * 37) % 20000 / 20.0) for i in range(20000)]
    df = spark.createDataFrame(rows, "grp STRING, id BIGINT, v DOUBLE")
    got = quantile_sketch_bottomk(
        df, "grp", "v", F.col("id"), k=512
    ).collect()[0]
    assert got["n_rows"] == 20000 and got["n_sample"] == 512
    for tag in ("p25", "p5", "p75", "p95"):
        assert abs(got[f"{tag}_est"] - got[f"{tag}_exact"]) < 70.0, (
            tag,
            got,
        )


def test_quantile_sketch_mergeability(spark):
    """bottom-k(A union B) == bottom-k(bottom-k(A) union bottom-k(B)):
    sketching shards independently then merging gives the identical
    sample, hence identical estimates."""
    from gcpdatapipelines_spark.operators.sketches import (
        quantile_sketch_bottomk,
    )

    rows = [("g", i, float((i * 131) % 9973)) for i in range(8000)]
    df = spark.createDataFrame(rows, "grp STRING, id BIGINT, v DOUBLE")
    a = df.filter(F.col("id") < 4000)
    b = df.filter(F.col("id") >= 4000)

    def with_u(frame):
        u = (
            F.conv(
                F.substring(
                    F.md5(F.col("id").cast("string").cast("binary")), 1, 15
                ),
                16,
                10,
            ).cast("long")
            / F.lit(float(1 << 60))
        ).alias("__u")
        return frame.select("grp", "v", u)

    def rank_k(frame, k=256):
        from pyspark.sql import Window

        w = Window.partitionBy("grp").orderBy("__u")
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    direct = {
        (r["grp"], r["v"], round(r["__u"], 15))
        for r in rank_k(with_u(df)).collect()
    }
    merged = {
        (r["grp"], r["v"], round(r["__u"], 15))
        for r in rank_k(
            rank_k(with_u(a)).unionByName(rank_k(with_u(b)))
        ).collect()
    }
    assert direct == merged and len(direct) == 256


def test_quantile_sketch_small_group_is_exact(spark):
    """A group smaller than k samples every row: estimates equal the
    exact quantiles bit-for-bit."""
    from gcpdatapipelines_spark.operators.sketches import (
        quantile_sketch_bottomk,
    )

    rows = [("g", i, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "grp STRING, id BIGINT, v DOUBLE")
    got = quantile_sketch_bottomk(
        df, "grp", "v", F.col("id"), k=512
    ).collect()[0]
    assert got["n_sample"] == 100
    for tag in ("p25", "p5", "p75", "p95"):
        assert got[f"{tag}_est"] == got[f"{tag}_exact"], got


# ---------------------------------------------------------------------------
# hll_sliding_distinct
# ---------------------------------------------------------------------------


def test_hll_sliding_wau_accuracy_and_exact_parity(spark):
    """Per-day 7-day HLL estimates track the exact rolling distinct
    count within the p=9 error envelope (1.04/sqrt(512) ~ 4.6% rsd;
    assert a generous 4-sigma band), and the audit column equals an
    independently-computed exact WAU."""
    from datetime import datetime, timedelta

    from gcpdatapipelines_spark.operators.sketches import (
        hll_sliding_distinct,
    )

    base = datetime(2024, 3, 1)
    rows = [
        (base + timedelta(days=d, hours=u % 24), (d * 131 + u * 7) % 900)
        for d in range(20)
        for u in range(250)
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, user_id BIGINT")
    got = {
        r["day"]: r for r in hll_sliding_distinct(df, "user_id", "ts").collect()
    }
    assert len(got) == 20
    # independent exact model
    from collections import defaultdict

    by_day = defaultdict(set)
    for ts, u in rows:
        by_day[ts.date()].add(u)
    for day, r in got.items():
        exact = len(
            set().union(
                *(
                    by_day.get(day - timedelta(days=i), set())
                    for i in range(7)
                )
            )
        )
        assert r["n_exact"] == exact, (day, r, exact)
        assert r["rel_err"] < 0.19, r


def test_hll_sliding_wau_partitioning_invariant(spark):
    """md5 registers + max-merge + dyadic fold: the estimate is
    bit-identical under any repartitioning/ordering."""
    from datetime import datetime, timedelta

    from gcpdatapipelines_spark.operators.sketches import (
        hll_sliding_distinct,
    )

    base = datetime(2024, 3, 1)
    rows = [
        (base + timedelta(days=d), (d * 17 + u) % 400)
        for d in range(10)
        for u in range(120)
    ]
    df = spark.createDataFrame(rows, "ts TIMESTAMP, user_id BIGINT")
    a = {
        (r["day"], r["wau_hll"], r["n_exact"])
        for r in hll_sliding_distinct(df, "user_id", "ts").collect()
    }
    b = {
        (r["day"], r["wau_hll"], r["n_exact"])
        for r in hll_sliding_distinct(
            df.repartition(17).sortWithinPartitions("user_id"),
            "user_id",
            "ts",
        ).collect()
    }
    assert a == b


# ---------------------------------------------------------------------------
# hll_rollup: md5-mode mergeable rollup (a26 upgrade)
# ---------------------------------------------------------------------------


def test_hll_rollup_matches_single_sketch_estimate(spark):
    """Merging per-shard registers must equal the flat hll_distinct
    estimate over the union — max is associative, so the rollup can
    never change the registers."""
    from gcpdatapipelines_spark.operators.sketches import (
        hll_distinct,
        hll_rollup,
    )

    rows = [(i % 5, f"user{i % 911}") for i in range(5000)]
    df = spark.createDataFrame(rows, "shard int, uid string")
    flat = hll_distinct(df, "uid", p=7).first()
    rolled = hll_rollup(df, "shard", "uid", p=7).first()
    assert rolled.n_shards == 5
    assert rolled.n_exact == flat.n_exact == 911
    assert rolled.hll_estimate == flat.hll_estimate
    assert rolled.v_empty == flat.v_empty


def test_hll_rollup_estimate_within_rsd(spark):
    from gcpdatapipelines_spark.operators.sketches import hll_rollup

    rows = [(i % 3, i % 1777) for i in range(6000)]
    df = spark.createDataFrame(rows, "shard int, uid long")
    r = hll_rollup(df, "shard", "uid", p=9).first()
    # rsd ~ 1.04/sqrt(512) ~ 4.6%; allow 3 sigma
    assert abs(r.hll_estimate - 1777) / 1777 < 0.14
    assert r.rel_err == abs(r.hll_estimate - 1777) / 1777 or r.rel_err >= 0


def test_hll_rollup_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.sketches import hll_rollup

    rows = [(i % 4, f"k{i % 300}") for i in range(2000)]
    df = spark.createDataFrame(rows, "shard int, uid string")
    a = hll_rollup(df, "shard", "uid", p=8).first()
    b = hll_rollup(df.repartition(13), "shard", "uid", p=8).first()
    assert a == b
