"""Round-8(13th build pass) additions: oracle upgrades for the last
upgradeable rows-only entries and the no-conf-writes invariant.

- mm_phash_neardup: kind-scoped md5 SimHash banding (kinded oracle)
- sample_pack_sequences: per-shard FFD restated as a recursive CTE
- sim_srp_lsh: deterministic coordinate-axis hyperplane family
- operators must never write session confs (r7 verdict #5)
"""

from __future__ import annotations

import pathlib

import pytest

from pyspark.sql import functions as F

from gcpdatapipelines_spark.operators.similarity import (

    srp_lsh_pairs,
    srp_signatures,
)

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow

PKG = pathlib.Path(__file__).resolve().parents[1] / "gcpdatapipelines_spark"


# ---------------------------------------------------------------------------
# no global conf writes from inside operators
# ---------------------------------------------------------------------------


def test_no_session_conf_writes_in_operators():
    """An operator silently flipping a session-wide OPTIMIZER conf is
    a landmine for co-resident workloads; the session factory owns all
    performance-conf decisions. Allowed exceptions, by name: the two
    correctness-mandatory source confs in io.read_table (UTC session
    tz + nanosAsLong — the driver builds its own session, and without
    them TIMESTAMP(NANOS)/NTZ scans decode wrong values; both are
    idempotent value pins, documented in the docstring, never
    performance knobs)."""
    allowed = {
        "io.py": {
            'spark.conf.set("spark.sql.session.timeZone", "UTC")',
            'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")',
        }
    }
    offenders = []
    for p in PKG.rglob("*.py"):
        if p.name == "session.py":
            continue
        for line in p.read_text().splitlines():
            if ".conf.set(" in line and line.strip() not in allowed.get(p.name, set()):
                offenders.append((p.name, line.strip()))
    assert offenders == []


# ---------------------------------------------------------------------------
# srp axes mode: deterministic sign-bit signatures
# ---------------------------------------------------------------------------


def test_srp_axes_signature_bits(spark):
    # dim=8, nbits=8, 2 bands of 4 bits: bit i = [v_i >= 0], big-endian
    # fold within band.
    v = [1.0, -2.0, 3.0, -4.0, 0.0, -1.0, 1.0, 1.0]
    # bits: 1,0,1,0 | 1,0,1,1  ->  band_0 = 0b1010 = 10, band_1 = 0b1011 = 11
    df = spark.createDataFrame([(1, v)], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    row = srp_signatures(df, nbits=8, bands=2, mode="axes").collect()[0]
    assert (row["band_0"], row["band_1"]) == (10, 11)


def test_srp_axes_requires_enough_dims(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="axes"):
        srp_signatures(df, nbits=8, bands=2, mode="axes").collect()


def test_srp_axes_pairs_subset_of_exact(spark, embeddings_small=None):
    # 6 vectors in dim 8: two exact duplicates must pair; precision is
    # exact (every returned pair really clears the threshold).
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((6, 8))
    vecs[5] = vecs[0]  # planted duplicate
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = srp_lsh_pairs(
        df, threshold=0.95, nbits=8, bands=2, mode="axes", floor_sim=True
    ).collect()
    pairs = {(r.id_1, r.id_2) for r in out}
    assert (0, 5) in pairs
    for r in out:
        assert r.sim >= 0.95


# ---------------------------------------------------------------------------
# foreign-session conf repair: the driver builds its OWN SparkSession
# ---------------------------------------------------------------------------


def test_engine_confs_repinned_on_foreign_session(spark):
    """With constraint inference enabled, Catalyst's canonicalization
    recurses over the unrolled 64-term chains and overflows the
    analysis stack BEFORE any task runs (measured r8) — so operators
    and the catalog's table loader must re-pin the conf on sessions
    the engine did not build. session.ensure_engine_confs is the one
    write site; this simulates the driver's session by flipping the
    conf on."""
    from gcpdatapipelines_spark.operators.similarity import (
        _check_constraint_propagation,
    )
    from gcpdatapipelines_spark.session import ensure_engine_confs

    key = "spark.sql.constraintPropagation.enabled"
    try:
        spark.conf.set(key, "true")
        ensure_engine_confs(spark)
        assert spark.conf.get(key) == "false"
        spark.conf.set(key, "true")
        _check_constraint_propagation(spark)  # operator-side entry
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "false")


# ---------------------------------------------------------------------------
# fused multi-column average rank == chained single-column ranks
# ---------------------------------------------------------------------------


def test_avg_rank2_multi_matches_chained(spark):
    import random

    from gcpdatapipelines_spark.operators.rows import avg_rank2, avg_rank2_multi

    rng = random.Random(5)
    rows = [
        (i, rng.randrange(8), float(rng.randrange(5)), rng.randrange(100) / 10.0)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id LONG, a LONG, b DOUBLE, c DOUBLE")
    chained = df
    for col, out in [("a", "r_a"), ("b", "r_b"), ("c", "r_c")]:
        chained = avg_rank2(chained, col, out)
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


# ---------------------------------------------------------------------------
# size-tiered connected components: local union-find == distributed stars
# ---------------------------------------------------------------------------


def test_cc_local_tier_matches_distributed(spark):
    import random

    from gcpdatapipelines_spark.operators import graph as G

    rng = random.Random(13)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(45)]
    edges = [e for e in edges if e[0] != e[1]]
    pairs = spark.createDataFrame(edges, "id_1 LONG, id_2 LONG")
    tiered = {
        (r["node"], r["component"])
        for r in G.connected_components(pairs).collect()
    }
    distributed = {
        (r["node"], r["component"])
        for r in G.connected_components(pairs, local_threshold=0).collect()
    }
    assert tiered == distributed and tiered


def test_cc_empty_pairs(spark):
    from gcpdatapipelines_spark.operators import graph as G

    pairs = spark.createDataFrame([], "id_1 LONG, id_2 LONG")
    assert G.connected_components(pairs).collect() == []


def _random_edges(seed, n_nodes=50, n_edges=70):
    import random

    rng = random.Random(seed)
    es = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    return [e for e in es if e[0] != e[1]]


def test_label_prop_local_tier_matches_distributed(spark):
    from gcpdatapipelines_spark.operators import graph as G

    edges = spark.createDataFrame(_random_edges(3), "u LONG, v LONG")
    tiered = {(r["node"], r["label"])
              for r in G.label_propagation(edges, iterations=3).collect()}
    dist = {(r["node"], r["label"])
            for r in G.label_propagation(edges, iterations=3, local_threshold=0).collect()}
    assert tiered == dist and tiered


def test_pagerank_exact_local_tier_matches_distributed(spark):
    from gcpdatapipelines_spark.operators import graph as G

    pairs = spark.createDataFrame(_random_edges(4), "u LONG, v LONG")
    tiered = {(r["node"], r["rank_e12"])
              for r in G.pagerank_exact_scaled(pairs, iters=6).collect()}
    dist = {(r["node"], r["rank_e12"])
            for r in G.pagerank_exact_scaled(pairs, iters=6, local_threshold=0).collect()}
    assert tiered == dist and tiered


def test_bfs_local_tier_matches_distributed(spark):
    from gcpdatapipelines_spark.operators import graph as G

    edges = spark.createDataFrame(_random_edges(6), "u LONG, v LONG")
    srcs = spark.createDataFrame([(0,), (7,)], "node LONG")
    tiered = {(r["node"], r["depth"])
              for r in G.bfs_levels(edges, srcs, max_depth=3).collect()}
    dist = {(r["node"], r["depth"])
            for r in G.bfs_levels(edges, srcs, max_depth=3, local_threshold=0).collect()}
    assert tiered == dist and tiered


def test_kcenter_portable_local_tier_bit_identical(spark):
    """The local replay of the portable greedy must match the codegen
    chain BIT-FOR-BIT (ids AND reported floor-9dp scores), including a
    duplicate vector (cos exactly 1) and near-parallel pairs."""
    import random

    from gcpdatapipelines_spark.operators.similarity import (
        diverse_kcenter_portable,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    rows.append((30, list(rows[0][1])))  # exact duplicate of vec 0
    df = spark.createDataFrame(rows, "vec_id BIGint, embedding ARRAY<DOUBLE>")
    loc = [tuple(r) for r in diverse_kcenter_portable(df, k=6, dim=8).collect()]
    dist = [
        tuple(r)
        for r in diverse_kcenter_portable(
            df, k=6, dim=8, local_threshold=0
        ).collect()
    ]
    assert loc == dist and len(loc) == 6


def test_kcore_local_tier_matches_distributed(spark):
    from gcpdatapipelines_spark.operators import graph as G

    pairs = spark.createDataFrame(_random_edges(5, 40, 120), "u LONG, v LONG")
    tiered = {(r["node"], r["degree"])
              for r in G.kcore(pairs, k=3).collect()}
    dist = {(r["node"], r["degree"])
            for r in G.kcore(pairs, k=3, local_threshold=0).collect()}
    assert tiered == dist and tiered


# ---------------------------------------------------------------------------
# winnowing: exchange BEFORE the fan-out
# ---------------------------------------------------------------------------


def test_winnowing_exchanges_before_explode_not_after(spark):
    """The window's mandatory doc_id exchange must move to the small
    pre-explode doc rows (repartition by doc_id), not shuffle the ~300x
    larger gram rows: exactly two exchanges total — the doc_id
    repartition and the distinct's (doc_id, fingerprint) agg exchange —
    and the window consumes the repartition's partitioning directly."""
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.text import winnowing_fingerprints

    d = read_table(spark, "/root/testdata/sf0.001", "documents")
    out = winnowing_fingerprints(d, "doc_id", "text", k=20, window=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one explicit repartition on doc_id (pre-explode; AQE renders the
    # later distinct exchange only at runtime), and the window itself
    # adds NO exchange — no shuffle key ever contains the gram hash
    assert "REPARTITION_BY_NUM" in plan and "hashpartitioning(doc_id" in plan
    assert plan.count("Exchange") <= 2, plan
    assert "hashpartitioning(h#" not in plan and "hashpartitioning(pos" not in plan


# ---------------------------------------------------------------------------
# FFD oracle sanity: the catalog Spark packer obeys the invariants the
# recursive-CTE oracle enforces pair-for-pair at the driver
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_recursive_cte_oracle(spark):
    """Cross-engine parity at test scale: the applyInPandas FFD kernel
    and the DuckDB recursive CTE assign the identical (shard, bin) to
    every doc."""
    import duckdb

    from gcpdatapipelines_spark import queries as qmod

    sf_dir = "/root/testdata/sf0.001"
    spark_out = (
        qmod.SPARK_QUERIES["sample_pack_sequences"](spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    duck_out = (
        con.sql(qmod.ORACLE_SQL["sample_pack_sequences"])
        .df()
        .sort_values(["doc_id"])
        .reset_index(drop=True)
    )
    assert len(spark_out) == len(duck_out) > 0
    for col in ["shard", "doc_id", "n_tokens", "bin_id"]:
        assert list(spark_out[col]) == list(duck_out[col]), col
