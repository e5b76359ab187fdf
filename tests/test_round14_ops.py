"""Round-9 (14th build pass) additions: BLAS thread pinning and the
round-8 advisor's tier-parity edge cases.

- driver + kernel BLAS pools pinned to 1 thread (oversubscription /
  co-tenancy collapse insurance; PySpark already pins workers via
  OMP_NUM_THREADS=1, the pin makes the property explicit and covers
  the driver, which otherwise keeps a 32-thread pool)
- kcenter local tier replicates Spark's floor(NaN)->BIGINT 0 on
  zero-norm (NaN-cosine) vectors
- SRP axes mode mirrors the SQL engines' NaN-greatest order (bit=1)
- bfs_levels dedups duplicate source rows identically in both tiers
"""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow



# ---------------------------------------------------------------------------
# BLAS pinning
# ---------------------------------------------------------------------------


def test_driver_blas_pinned_to_one_thread(spark):
    """get_spark pins the driver-side OpenBLAS pool: every driver-side
    numpy solve in the engine is bounded index metadata where a
    machine-wide pool is pure sync overhead (and the r8 bench-variance
    suspect for the OPQ family)."""
    from gcpdatapipelines_spark.blas import blas_thread_counts, pin_blas_threads

    pin_blas_threads()  # idempotent: second call is a no-op
    counts = blas_thread_counts()
    assert counts, "expected at least one loaded BLAS runtime"
    assert all(v == 1 for v in counts.values()), counts


def test_worker_blas_pinned_to_one_thread(spark):
    """Kernels call pin_blas_threads() defensively; combined with
    PySpark's own OMP_NUM_THREADS=spark.task.cpus default, every
    Python worker must report a single-thread BLAS pool."""
    def kern(batches):
        import pandas as pd

        from gcpdatapipelines_spark.blas import blas_thread_counts, pin_blas_threads

        pin_blas_threads()
        counts = list(blas_thread_counts().values())
        for _ in batches:
            pass
        yield pd.DataFrame({"n": [max(counts) if counts else -1]})

    rows = (
        spark.range(8)
        .repartition(4)
        .mapInPandas(kern, "n INT")
        .collect()
    )
    assert rows and all(r["n"] == 1 for r in rows), rows


# ---------------------------------------------------------------------------
# kcenter portable: NaN / zero-norm vector tier parity
# ---------------------------------------------------------------------------


def test_kcenter_portable_nan_vector_bit_identical(spark):
    """A zero-norm vector would make cos = 0/0 — an ANSI
    DIVIDE_BY_ZERO in the distributed tier and a Python
    ZeroDivisionError in the local replay. Both tiers now apply the
    production kernels' guard (norm 0 -> 1.0, so cos = 0.0) and must
    stay bit-identical, reporting 0.0 (never NaN) for the zero
    vector."""
    import random

    from gcpdatapipelines_spark.operators.similarity import (
        diverse_kcenter_portable,
    )

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    rows.append((20, [0.0] * 8))  # zero-norm: NaN cosine to everything
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    loc = [tuple(r) for r in diverse_kcenter_portable(df, k=6, dim=8).collect()]
    dist = [
        tuple(r)
        for r in diverse_kcenter_portable(
            df, k=6, dim=8, local_threshold=0
        ).collect()
    ]
    assert loc == dist and len(loc) == 6
    # the zero-norm vector's reported score, when selected, is 0.0 not
    # NaN (Spark floor semantics) — and with 20 random vectors whose
    # pairwise |cos| is almost surely > 0 it IS selected early
    by_id = {r[1]: r[2] for r in loc}
    if 20 in by_id:
        assert by_id[20] == 0.0 and not math.isnan(by_id[20])


# ---------------------------------------------------------------------------
# SRP axes mode: NaN coordinate follows the SQL NaN-greatest order
# ---------------------------------------------------------------------------


def test_srp_axes_nan_bit_matches_sql_sign_test(spark):
    """numpy NaN >= 0 is False, but BOTH SQL engines (Spark, DuckDB)
    order NaN above every double, so the oracle's per-coordinate sign
    test yields bit = 1. The kernel must mirror that or a NaN
    coordinate flips signature bits vs the registered oracle."""
    from gcpdatapipelines_spark.operators.similarity import srp_signatures

    v = [1.0, float("nan"), -3.0, 4.0, -1.0, float("nan"), 1.0, -1.0]
    df = spark.createDataFrame([(1, v)], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    row = srp_signatures(df, nbits=8, bands=2, mode="axes").collect()[0]
    # bits (NaN -> 1): 1,1,0,1 | 0,1,1,0  ->  band_0 = 0b1101, band_1 = 0b0110
    assert (row["band_0"], row["band_1"]) == (0b1101, 0b0110)
    # and that equals Spark SQL's own sign test on the same data
    sql_bits = spark.createDataFrame(
        [(x,) for x in v], "x DOUBLE"
    ).selectExpr("CASE WHEN x >= 0 THEN 1 ELSE 0 END AS b").collect()
    got = [r["b"] for r in sql_bits]
    want_band0 = sum(b << (3 - i) for i, b in enumerate(got[:4]))
    want_band1 = sum(b << (3 - i) for i, b in enumerate(got[4:]))
    assert (row["band_0"], row["band_1"]) == (want_band0, want_band1)


# ---------------------------------------------------------------------------
# shared token cache: its doc_id partitioning feeds consumers shuffle-free
# ---------------------------------------------------------------------------


def test_doc_tokens_cache_partitioning_feeds_groupby(spark, sf_dir):
    """The _doc_tokens prep repartitions by doc_id ONCE at cache fill;
    every consumer aggregating on doc_id must reuse that partitioning
    with ZERO additional exchanges (the r8 change's whole point — one
    cheap narrow-row shuffle before a many-pass cache). The registry
    re-persists an entry an earlier test's spark.catalog.clearCache()
    dropped, so the plan always has an InMemoryRelation to anchor on."""
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark import queries as Q

    toks = Q._doc_tokens(spark, sf_dir)
    agg = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    # consumer side = everything above the cached relation: no shuffle
    outer = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in outer, outer
    # and the cache itself carries the doc_id hash partitioning
    assert "hashpartitioning(doc_id" in plan


# ---------------------------------------------------------------------------
# fused rotate+encode kernel matches the two-step composition
# ---------------------------------------------------------------------------


def test_pq_encode_rotated_matches_composition(spark):
    """pq_encode_rotated (one Arrow kernel, BLAS argmin) must assign
    the same codes as pq_encode(rotate_vectors(X, R), cb) — the
    d2 expansion drops the per-row ||x||^2 constant, which cannot
    change an argmin, and ties break to the lowest cent_id in both.
    Caveat (and why the seed is FIXED): the expansion and the fold
    round differently, so a vector within ~1 ulp of equidistant to two
    centroids could flip argmin between the forms — measure-zero on
    continuous data, and the OPQ entry is rows-only/recall-gated, so
    exact equality is asserted on this seeded corpus only."""
    import numpy as np

    from gcpdatapipelines_spark.operators.similarity import (
        opq_train_sample,
        pq_encode,
        pq_encode_rotated,
        rotate_vectors,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    R, cb = opq_train_sample(df, sample_n=64, m=4, ksub=8, iters=2, kmeans_iter=4)
    fused = {
        r["vec_id"]: list(r["code"])
        for r in pq_encode_rotated(df, R, cb).collect()
    }
    twostep = {
        r["vec_id"]: list(r["code"])
        for r in pq_encode(rotate_vectors(df, R), cb).collect()
    }
    assert fused == twostep and len(fused) == 80


# ---------------------------------------------------------------------------
# seeded IVF: deterministic cells, planted duplicate lands at rank 1
# ---------------------------------------------------------------------------


def test_ivf_topk_seeded_plan_no_cartesian(spark, sf_dir):
    """The seeded IVF plan's scale contract: seed fan-outs and the
    probe-list candidate join are BROADCASTS (bounded index metadata),
    never a CartesianProduct over corpus-sized sides."""
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.similarity import ivf_topk_seeded

    emb = read_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    out = ivf_topk_seeded(emb, qs, nlist=16, nprobe=4, k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Broadcast" in plan


def test_ivf_topk_seeded_zero_norm_vector_no_crash(spark):
    """A zero-norm embedding must not raise ANSI DIVIDE_BY_ZERO: both
    the operator and its oracle guard norm 0 -> 1.0 (cos = 0.0)."""
    import numpy as np

    from gcpdatapipelines_spark.operators.similarity import ivf_topk_seeded
    from pyspark.sql import functions as F2

    rng = np.random.default_rng(17)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(20)]
    rows.append((20, [0.0] * 8))
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    qs = df.filter(F2.col("vec_id") < 2).select(
        F2.col("vec_id").alias("q_id"), F2.col("embedding").alias("q_vec")
    )
    out = ivf_topk_seeded(df, qs, nlist=4, nprobe=2, k=5).collect()
    assert out and all(r["vec_id"] != r["q_id"] for r in out)


def test_ivf_topk_seeded_finds_planted_duplicate(spark):
    import numpy as np

    from gcpdatapipelines_spark.operators.similarity import ivf_topk_seeded

    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((40, 8))
    vecs[37] = vecs[2]  # exact duplicate of query vector 2
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    from pyspark.sql import functions as F2

    qs = df.filter(F2.col("vec_id") < 3).select(
        F2.col("vec_id").alias("q_id"), F2.col("embedding").alias("q_vec")
    )
    out = ivf_topk_seeded(df, qs, nlist=8, nprobe=3, k=5).collect()
    got = {(r["q_id"], r["rnk"]): (r["vec_id"], r["sim"]) for r in out}
    # a duplicate shares its twin's cell by construction, so the probe
    # always finds it; cos(x, x) floors to exactly 1.0
    assert got[(2, 1)][0] == 37 and got[(2, 1)][1] == 1.0
    # self never returned
    assert all(r["vec_id"] != r["q_id"] for r in out)
    # deterministic: a second run returns the identical rows
    again = {(r["q_id"], r["rnk"]): (r["vec_id"], r["sim"])
             for r in ivf_topk_seeded(df, qs, nlist=8, nprobe=3, k=5).collect()}
    assert got == again


# ---------------------------------------------------------------------------
# bfs_levels: duplicate sources dedup identically in both tiers
# ---------------------------------------------------------------------------


def test_size_tier_boundary_edges(spark):
    """Threshold-boundary insurance (r8 verdict #7): at exactly
    local_threshold edges the LOCAL tier runs; at threshold-1 (i.e.
    one more edge than the threshold) the DISTRIBUTED loop runs —
    and both return identical results either side of the boundary."""
    from gcpdatapipelines_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (0, 6)], "u LONG, v LONG"
    )
    n = edges.count()
    # exactly-at-threshold -> local; one-below -> distributed
    local_cc = {tuple(r) for r in G.connected_components(
        edges, src="u", dst="v", local_threshold=n).collect()}
    dist_cc = {tuple(r) for r in G.connected_components(
        edges, src="u", dst="v", local_threshold=n - 1).collect()}
    assert local_cc == dist_cc and local_cc
    local_mod = {tuple(r) for r in G.modularity(
        edges, G.label_propagation(edges, 2), local_threshold=n).collect()}
    dist_mod = {tuple(r) for r in G.modularity(
        edges, G.label_propagation(edges, 2), local_threshold=n - 1).collect()}
    assert local_mod == dist_mod and local_mod


def test_modularity_local_tier_bit_identical(spark):
    """modularity's local tier must replay the distributed plan's
    integer counts and IEEE double chain bit-for-bit — including the
    label-sorted q_total fold and trunc_dp's floor."""
    import random

    from gcpdatapipelines_spark.operators import graph as G

    rng = random.Random(31)
    edges = spark.createDataFrame(
        sorted({(min(a, b), max(a, b))
                for a, b in ((rng.randrange(60), rng.randrange(60))
                             for _ in range(150)) if a != b}),
        "u LONG, v LONG",
    )
    labels = G.label_propagation(edges, iterations=2)
    tiered = {tuple(r) for r in G.modularity(edges, labels).collect()}
    dist = {
        tuple(r)
        for r in G.modularity(edges, labels, local_threshold=0).collect()
    }
    assert tiered == dist and tiered
    # one q_total across all rows
    assert len({r[-1] for r in tiered}) == 1


def test_bfs_duplicate_sources_tier_parity(spark):
    from gcpdatapipelines_spark.operators import graph as G

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (7, 8)], "u LONG, v LONG"
    )
    # source 0 listed three times, 7 twice
    srcs = spark.createDataFrame(
        [(0,), (0,), (0,), (7,), (7,)], "node LONG"
    )
    tiered = sorted(
        tuple(r) for r in G.bfs_levels(edges, srcs, max_depth=2).collect()
    )
    dist = sorted(
        tuple(r)
        for r in G.bfs_levels(
            edges, srcs, max_depth=2, local_threshold=0
        ).collect()
    )
    assert tiered == dist
    # exactly one row per reached node — duplicates never multiply
    nodes = [n for n, _ in tiered]
    assert len(nodes) == len(set(nodes))
    assert dict(tiered)[0] == 0 and dict(tiered)[2] == 2 and dict(tiered)[8] == 1
