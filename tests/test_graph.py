"""operators/graph.py: components, label propagation, PageRank, BFS,
k-core, modularity and neighbour similarity, including local-tier
vs distributed parity."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import graph as G
from gcpdatapipelines_spark.operators.graph import degree_histogram
from tests.conftest import SF_SMOKE


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, "id_1 LONG, id_2 LONG")
    return {
        (r["node"], r["component"])
        for r in G.connected_components(pairs).collect()
    }


def test_cc_single_chain(spark):
    # transitive closure: 1-2, 2-3, 3-4 is ONE component rooted at 1
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_cc_two_components_any_orientation(spark):
    got = _cc(spark, [(2, 1), (1, 2), (5, 6), (7, 6), (2, 2)])
    assert got == {(1, 1), (2, 1), (5, 5), (6, 5), (7, 5)}


def test_cc_long_path_exceeds_round_count(spark):
    # a 64-node path needs label propagation across 63 hops — far more
    # than the handful of star rounds, which must still converge
    # (log^2 n rounds, not diameter rounds)
    n = 64
    got = _cc(spark, [(i, i + 1) for i in range(n)])
    assert got == {(i, 0) for i in range(n + 1)}


def test_cc_brute_force_parity_random_graph(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(40))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
    edges = [e for e in edges if e[0] != e[1]]

    # brute-force union-find oracle
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {
        (v, find(v)) for v in nodes if any(v in e for e in edges)
    }
    assert _cc(spark, edges) == want


def test_cluster_assignments_singletons_and_canonicals(spark):
    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id LONG, text STRING")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_1 LONG, id_2 LONG")
    out = G.cluster_assignments(df, pairs, "doc_id")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out.collect()}
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (2, True),
        3: (1, False),
        4: (4, True),
        5: (1, False),
    }
    # exactly one canonical per cluster
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(F.sum(F.col("is_canonical").cast("int")).alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_cluster)


def test_cluster_assignments_broadcast_valve(spark):
    """Small component maps broadcast; past the size valve (or with
    broadcasting disabled) the label join falls back to a shuffle —
    both paths produce identical labels (VERDICT r2 #8)."""
    from gcpdatapipelines_spark import plans as PL

    df = spark.createDataFrame([(i, f"d{i}") for i in range(6)], "doc_id LONG, text STRING")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_1 LONG, id_2 LONG")
    small = G.cluster_assignments(df, pairs, "doc_id")
    assert any("Broadcast" in s for s in PL.join_strategies(small))
    valved = G.cluster_assignments(df, pairs, "doc_id", broadcast_threshold=0)
    strategies = [s for s in PL.join_strategies(valved)]
    assert strategies and not any("BroadcastHashJoin" in s for s in strategies)
    assert {(r["doc_id"], r["cluster_id"]) for r in valved.collect()} == {
        (r["doc_id"], r["cluster_id"]) for r in small.collect()
    }


def test_cc_fixture_documents_clusters(spark):
    """End-to-end over the documents fixture: clusters from jaccard
    pairs must be consistent with the pair set (every pair inside one
    cluster) and reflexively complete (every doc labeled)."""
    from gcpdatapipelines_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, SF_SMOKE, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=5, threshold=0.5)
    out = G.cluster_assignments(docs, pairs, "doc_id")
    assert out.count() == docs.count()
    lbl = out.select("doc_id", "cluster_id")
    both = (
        pairs.join(lbl.withColumnRenamed("doc_id", "id_1"), "id_1")
        .withColumnRenamed("cluster_id", "c1")
        .join(lbl.withColumnRenamed("doc_id", "id_2"), "id_2")
        .withColumnRenamed("cluster_id", "c2")
    )
    assert both.filter(F.col("c1") != F.col("c2")).count() == 0


# ---------------------------------------------------------------------------
# triangle counting + PageRank
# ---------------------------------------------------------------------------


def test_triangle_counts_k4_plus_tail(spark):
    from gcpdatapipelines_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4} (4 triangles, each node in 3) + tail 4-5-6 (none)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "u BIGINT, v BIGINT")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_orientation_invariance_and_dedup(spark):
    from gcpdatapipelines_spark.operators.graph import triangle_counts

    # duplicate + reversed + self-loop edges must not change counts
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    df = spark.createDataFrame(edges, "u BIGINT, v BIGINT")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_no_cartesian(spark):
    from gcpdatapipelines_spark.operators.graph import triangle_counts

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "u BIGINT, v BIGINT")
    plan = triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _dense_pagerank(edges, damping=0.85, iters=200):
    """Reference dense power iteration over the symmetrized graph."""
    import numpy as np

    nodes = sorted({x for e in edges for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for u, v in edges:
        adj[idx[u]][idx[v]] = adj[idx[v]][idx[u]] = 1.0
    out = adj.sum(axis=1)
    m = adj / out[:, None]
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        r = (1 - damping) / n + damping * (m.T @ r)
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_dense_solver(spark):
    from gcpdatapipelines_spark.operators.graph import pagerank_exact_scaled

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u BIGINT, v BIGINT")
    got = {
        r.node: r.rank_e12 / 1e12
        for r in pagerank_exact_scaled(df, iters=200).collect()
    }
    want = _dense_pagerank(edges)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def _int_model_pagerank(edges, iters=10, scale=10**12, d_num=85, d_den=100):
    """Pure-python restatement of pagerank_exact_scaled's integer
    recurrence — the bit-exact reference the distributed run must hit
    EXACTLY (not approximately)."""
    sym = set()
    for u, v in edges:
        if u != v:
            sym.add((min(u, v), max(u, v)))
    adj: dict[int, list[int]] = {}
    for u, v in sym:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    n = len(adj)
    base = (d_den - d_num) * scale // (d_den * n)
    r = {u: scale // n for u in adj}
    for _ in range(iters):
        contrib = {u: 0 for u in adj}
        for u, nbrs in adj.items():
            c = r[u] // len(nbrs)
            for v in nbrs:
                contrib[v] += c
        r = {u: base + (d_num * contrib[u]) // d_den for u in adj}
    return r


def test_pagerank_exact_scaled_matches_integer_model(spark):
    from gcpdatapipelines_spark.operators.graph import pagerank_exact_scaled

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 1), (6, 1)]
    df = spark.createDataFrame(edges, "u BIGINT, v BIGINT")
    got = {r.node: r.rank_e12 for r in pagerank_exact_scaled(df, iters=10).collect()}
    want = _int_model_pagerank(edges, iters=10)
    assert got == want  # bit-exact, not approximate


def test_pagerank_exact_scaled_tracks_float_ranks(spark):
    """The quantized iteration stays within ~1e-9 of the float
    iteration at the same iteration count (quantization bound << rank
    resolution)."""
    from gcpdatapipelines_spark.operators.graph import pagerank_exact_scaled

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u BIGINT, v BIGINT")
    exact = {r.node: r.rank_e12 / 1e12 for r in pagerank_exact_scaled(df, iters=10).collect()}
    flt = _dense_pagerank(edges, iters=10)
    assert set(exact) == set(flt)
    for k in flt:
        assert abs(exact[k] - flt[k]) < 1e-9


def test_pagerank_exact_scaled_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.graph import pagerank_exact_scaled

    edges = [(i, (i * 7) % 23 + 100) for i in range(60)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, "u BIGINT, v BIGINT")
    a = sorted((r.node, r.rank_e12) for r in pagerank_exact_scaled(df, iters=5).collect())
    b = sorted(
        (r.node, r.rank_e12)
        for r in pagerank_exact_scaled(df.repartition(13), iters=5).collect()
    )
    assert a == b


def test_cluster_best_pick_longest(spark):
    """Quality-aware canonical: the longest member of each component
    is kept (policy window over cluster_assignments)."""
    from pyspark.sql import Window
    from gcpdatapipelines_spark.operators.graph import cluster_assignments

    docs = spark.createDataFrame(
        [(1, 50), (2, 80), (3, 70), (9, 10)], "doc_id BIGINT, n_chars BIGINT"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_1 BIGINT, id_2 BIGINT")
    assigned = cluster_assignments(docs, pairs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    out = assigned.select(
        "doc_id", "cluster_id", (F.row_number().over(w) == 1).alias("is_kept")
    )
    got = {r.doc_id: (r.cluster_id, r.is_kept) for r in out.collect()}
    assert got[2] == (1, True)  # longest of {1,2,3} kept, cluster id = min
    assert got[1] == (1, False) and got[3] == (1, False)
    assert got[9] == (9, True)  # singleton keeps itself


# ---------------------------------------------------------------------------
# adamic_adar_topk
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.graph import adamic_adar_topk  # noqa: E402


def test_adamic_adar_path_graph(spark):
    # Path 1-2-3: only non-edge pair at distance 2 is (1,3) via center 2
    # with deg(2)=2 -> score = 1/ln(2).
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u BIGINT, v BIGINT")
    out = adamic_adar_topk(edges, k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.n_common) == (1, 3, 1)
    import math

    assert r.aa_score == round(round(1.0 / math.log(2.0), 12), 6)


def test_adamic_adar_excludes_existing_edges_and_sums_centers(spark):
    # Square 1-2-3-4-1 plus diagonal 1-3: pair (2,4) shares centers 1,3
    # (deg 3 each) -> 2/ln(3); pairs joined by an edge never appear.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "u BIGINT, v BIGINT"
    )
    rows = adamic_adar_topk(edges, k=10).collect()
    got = {(r.u, r.v): r for r in rows}
    assert set(got) == {(2, 4)}
    import math

    assert got[(2, 4)].n_common == 2
    assert got[(2, 4)].aa_score == round(2 * round(1.0 / math.log(3.0), 12), 6)


def test_adamic_adar_plan_no_cartesian(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "u BIGINT, v BIGINT")
    plan = adamic_adar_topk(edges)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, never a global sort


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.graph import kcore  # noqa: E402


def _py_kcore(edge_list, k):
    edges = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    while True:
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        pruned = {e for e in edges if e[0] in keep and e[1] in keep}
        if pruned == edges:
            break
        edges = pruned
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    return {n: d for n, d in deg.items() if d >= k}


def test_kcore_matches_python_model(spark):
    # triangle with a pendant chain: 2-core = the triangle only
    edge_list = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edge_list, "u BIGINT, v BIGINT")
    got = {r.node: r.degree for r in kcore(df, k=2).collect()}
    assert got == _py_kcore(edge_list, 2) == {1: 2, 2: 2, 3: 2}


def test_kcore_cascading_peel(spark):
    # star: hub has degree 5 but every leaf has 1 -> k=2 empties it all
    edge_list = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edge_list, "u BIGINT, v BIGINT")
    assert kcore(df, k=2).count() == 0


def test_kcore_random_graph_vs_model(spark):
    import random

    rng = random.Random(7)
    edge_list = [(rng.randrange(15), rng.randrange(15)) for _ in range(40)]
    df = spark.createDataFrame(edge_list, "u BIGINT, v BIGINT")
    got = {r.node: r.degree for r in kcore(df, k=3).collect()}
    assert got == _py_kcore(edge_list, 3)


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


def test_kcore_local_tier_matches_distributed(spark):
    from gcpdatapipelines_spark.operators import graph as G

    pairs = spark.createDataFrame(_random_edges(5, 40, 120), "u LONG, v LONG")
    tiered = {(r["node"], r["degree"])
              for r in G.kcore(pairs, k=3).collect()}
    dist = {(r["node"], r["degree"])
            for r in G.kcore(pairs, k=3, local_threshold=0).collect()}
    assert tiered == dist and tiered


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


class TestDegreeHistogram:
    def test_path_graph(self, spark):
        # path 1-2-3-4: degrees 1,2,2,1 -> {1: 2 nodes, 2: 2 nodes}
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (2, 1)], "u BIGINT, v BIGINT"
        )  # (2,1) dupes (1,2) after normalization
        got = {r.degree: r.n_nodes for r in degree_histogram(edges).collect()}
        assert got == {1: 2, 2: 2}


def test_bfs_levels_matches_python(spark):
    from collections import deque

    from gcpdatapipelines_spark.operators.graph import bfs_levels

    rng = random.Random(23)
    nodes = list(range(40))
    edges = {tuple(sorted(rng.sample(nodes, 2))) for _ in range(70)}
    edf = spark.createDataFrame(sorted(edges), "u BIGINT, v BIGINT")
    src = spark.createDataFrame([(0,)], "node BIGINT")

    got = {r["node"]: r["depth"] for r in bfs_levels(edf, src, max_depth=4).collect()}

    adj: dict = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    want, q = {0: 0}, deque([0])
    while q:
        u = q.popleft()
        if want[u] >= 4:
            continue
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    assert got == want


# ---------------------------------------------------------------------------
# modularity
# ---------------------------------------------------------------------------


def test_modularity_two_cliques(spark):
    """Two disjoint triangles with perfect labels: Q = 2·(3/6 − (6/12)²)
    = 0.5 — the textbook value."""
    from gcpdatapipelines_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)],
        "u BIGINT, v BIGINT",
    )
    labels = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)],
        "node BIGINT, label BIGINT",
    )
    out = modularity(edges, labels).collect()
    assert all(abs(r["q_total"] - 0.5) < 1e-9 for r in out)
    for r in out:
        assert r["n_nodes"] == 3 and r["intra_edges"] == 3
        assert r["deg_sum"] == 6
        assert abs(r["term"] - 0.25) < 1e-9


def test_modularity_single_community_is_zero(spark):
    """Everything in one community: e_c = m and d_c = 2m ⇒ Q = 0."""
    from gcpdatapipelines_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "u BIGINT, v BIGINT"
    )
    labels = spark.createDataFrame(
        [(n, 0) for n in range(1, 5)], "node BIGINT, label BIGINT"
    )
    out = modularity(edges, labels).collect()
    assert len(out) == 1
    assert abs(out[0]["q_total"]) < 1e-9


def test_modularity_penalizes_split_communities(spark):
    """Splitting a clique across labels must lower Q vs keeping it
    whole."""
    from gcpdatapipelines_spark.operators.graph import modularity

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)],
        "u BIGINT, v BIGINT",
    )
    good = spark.createDataFrame(
        [(n, 1 if n <= 3 else 2) for n in range(1, 7)],
        "node BIGINT, label BIGINT",
    )
    bad = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2), (5, 2), (6, 1)],
        "node BIGINT, label BIGINT",
    )
    q_good = modularity(edges, good).collect()[0]["q_total"]
    q_bad = modularity(edges, bad).collect()[0]["q_total"]
    assert q_good > q_bad


# ---------------------------------------------------------------------------
# kcore bounded mode (strict=False): fixed-round peel == fixpoint when
# converged; never raises when not
# ---------------------------------------------------------------------------


def test_kcore_bounded_equals_fixpoint_when_converged(spark):
    from gcpdatapipelines_spark.operators.graph import kcore

    # triangle + pendant chain: 2-core = the triangle, peel depth 2
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    fix = {(r.node, r.degree) for r in kcore(df, k=2).collect()}
    bounded = {
        (r.node, r.degree)
        for r in kcore(df, k=2, max_iter=10, strict=False).collect()
    }
    assert bounded == fix == {(1, 2), (2, 2), (3, 2)}


def test_kcore_bounded_never_raises_on_deep_chain(spark):
    from gcpdatapipelines_spark.operators.graph import kcore

    # path graph: 2-core is empty, peeling eats one node per end per
    # round — depth ~ n/2 > max_iter, strict would raise
    n = 12
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "u long, v long"
    )
    out = kcore(df, k=2, max_iter=2, strict=False).collect()
    # partial peel after 2 rounds still reports only nodes with deg>=2
    assert all(r.degree >= 2 for r in out)


def test_kcore_unrolled_sql_matches_spark(spark):
    import duckdb

    from gcpdatapipelines_spark.operators.graph import (
        kcore,
        kcore_unrolled_sql,
    )

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 4), (5, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r.node, r.degree)
        for r in kcore(df, k=2, max_iter=8, strict=False).collect()
    }
    vals = ", ".join(f"({u}, {v})" for u, v in edges)
    sql = kcore_unrolled_sql(
        f"e AS (SELECT DISTINCT least(c0, c1) AS u, greatest(c0, c1) AS v "
        f"FROM (VALUES {vals}) t(c0, c1))",
        k=2,
        rounds=8,
    )
    oracle = {
        (int(n), int(d)) for n, d in duckdb.sql(sql).fetchall()
    }
    assert got == oracle


# ---------------------------------------------------------------------------
# jaccard_neighbors_topk
# ---------------------------------------------------------------------------


def test_jaccard_neighbors_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.graph import jaccard_neighbors_topk

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 4)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r.u, r.v): (r.n_common, r.deg_u, r.deg_v, r.jaccard_ppm)
        for r in jaccard_neighbors_topk(df, k=100).collect()
    }

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        common = len(adj[a] & adj[b])
        if common:
            union = len(adj[a]) + len(adj[b]) - common
            want[(a, b)] = (
                common,
                len(adj[a]),
                len(adj[b]),
                common * 1_000_000 // union,
            )
    assert got == want


def test_jaccard_topk_cut_deterministic(spark):
    from gcpdatapipelines_spark.operators.graph import jaccard_neighbors_topk

    edges = [(i, (i * 3 + 1) % 40) for i in range(40)] + [
        (i, (i * 7 + 2) % 40) for i in range(40)
    ]
    df = spark.createDataFrame(
        [(u, v) for u, v in edges if u != v], "u long, v long"
    )
    a = [tuple(r) for r in jaccard_neighbors_topk(df, k=10).collect()]
    b = [
        tuple(r)
        for r in jaccard_neighbors_topk(df.repartition(11), k=10).collect()
    ]
    assert a == b and len(a) == 10
