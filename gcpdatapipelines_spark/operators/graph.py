"""Distributed connected components over near-dup pair graphs.

The missing last step of every dedup pipeline: detectors (fingerprint /
Jaccard / MinHash / SimHash — operators/dedup.py) emit PAIRS, but what
a training-data pipeline keeps is one canonical document per GROUP, and
groups are the transitive closure of the pair relation (A~B, B~C puts
A,C in one group even when A~C was never emitted).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014) — the
standard shuffle-bounded CC for exactly this setting:

- large-star(u): connect every strictly-larger neighbor of u to
  m(u) = min(neighborhood(u) + {u});
- small-star(u): connect every strictly-smaller neighbor, and u
  itself, to the same m(u).

Both steps are a symmetrize + groupBy-min + equi-join — pure DataFrame
ops, partitioned by node id, no driver-side graph state. The edge set
converges to a star forest (every node points at its component
minimum) in O(log^2 n) rounds; real near-dup graphs (dense clusters,
tiny diameter) converge in 2-3. Per-round lineage is truncated with
localCheckpoint so the plan does not grow with the iteration count —
at 100 TB substitute a reliable checkpoint dir.

Convergence is detected from the round's aggregate signature
(edge count + commutative hash-sum), computed on the SAME action that
materializes the round — one job per round, no extra passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .portable import trunc_dp


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of each undirected edge, self-loops dropped."""
    return (
        edges.filter(F.col("u") != F.col("v"))
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
    )


def _min_over_neighborhood(sym: DataFrame) -> DataFrame:
    """m(u) = min over the closed neighborhood (neighbors + u itself)."""
    return (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least(F.col("__mn"), F.col("u")).alias("m"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = _symmetrize(edges)
    m = _min_over_neighborhood(sym)
    # (v, m(u)) for every neighbor v > u: larger nodes re-attach to the
    # locally-known minimum. Canonical direction (first > second) holds
    # because v > u >= m(u).
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    sym = _symmetrize(edges)
    lower = sym.filter(F.col("v") < F.col("u"))
    m = (
        lower.groupBy("u")
        .agg(F.min("v").alias("m"))  # strictly-smaller neighbors, so m < u
    )
    with_m = lower.join(m, "u")
    # u itself and each smaller neighbor attach to m; (u, m) keeps the
    # canonical direction, neighbor edges (v, m) need v != m only.
    self_edges = with_m.select("u", F.col("m").alias("v")).distinct()
    nbr_edges = (
        with_m.filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )
    return self_edges.union(nbr_edges).distinct()


def _signature(edges: DataFrame) -> tuple:
    """(count, commutative hash-sum) — order-insensitive edge-set id,
    computed in the single action that also materializes the round."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # commutative + ANSI-overflow-free (sum of hashes can overflow
        # long); edges are distinct so no pair cancels its twin
        F.expr("bit_xor(xxhash64(u, v))").alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _collect_if_small(edges: DataFrame, threshold: int):
    """The size-tier gate shared by every iterative graph op: the
    materialized edge list if it holds <= ``threshold`` rows (a few MB
    — index-metadata scale), else None. Edge sets are pairs-scale, not
    corpus-scale; below the threshold the iteration's per-round job
    overhead (join + agg + checkpoint x rounds) dwarfs the actual
    work, and the integer/ordinal state of these ops replays
    bit-identically on the driver. Above it, the distributed loop is
    the 100 TB path, chosen automatically."""
    if not threshold:
        return None
    head = edges.limit(threshold + 1).collect()
    return head if len(head) <= threshold else None


def _local_components(spark, rows) -> DataFrame:
    """Driver-side union-find over a collected edge list, component =
    min reachable id (union always attaches the larger root under the
    smaller; path compression preserves roots). Bit-identical output
    contract to the distributed star loop."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r["u"], r["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    out = [(n, find(n)) for n in parent]
    return spark.createDataFrame(out, "node LONG, component LONG")


def connected_components(
    pairs: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``, where
    component = the minimum node id reachable through the pair graph.

    ``pairs`` is any near-dup pair frame (undirected; duplicates and
    orientation don't matter). Nodes with no pair are absent — callers
    keep singletons with a left join + coalesce(component, id).

    Size-tiered: the edge set is materialized once (it is the SMALL
    side of any dedup pipeline — pairs, not corpus), and when it holds
    <= ``local_threshold`` edges (~a few MB) the components are solved
    with driver-side union-find in one pass — identical output, and
    none of the ~log^2(n) alternating-star rounds whose 6+ shuffles
    each are pure fixed overhead at this size (measured: 185 edges
    cost ~4 s distributed, ~0.2 s tiered). Past the threshold the
    Kiveris large/small-star loop runs unchanged — that is the 100 TB
    path, chosen automatically. ``local_threshold=0`` forces it."""
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    head = _collect_if_small(edges, local_threshold)
    if head is not None:
        return _local_components(pairs.sparkSession, head)
    sig = _signature(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        new_sig = _signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # Fixpoint is a star forest: every non-root points straight at its
    # component minimum; roots are the minima themselves.
    non_roots = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return non_roots.union(roots).distinct()


def cluster_assignments(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 25,
    broadcast_threshold: int | None = 8_000_000,
) -> DataFrame:
    """Every row of ``df`` labeled with its near-dup cluster id
    (cluster = min member id; singletons are their own cluster) plus
    ``is_canonical`` — the keep-one-per-group selector a dedup
    pipeline actually consumes.

    The join against the CC output is broadcast only while the
    component map stays under ``broadcast_threshold`` rows (counted on
    the already-checkpointed star forest — one cheap job). Component
    maps are pair-graph-sized, normally << corpus-sized, but an
    adversarial near-dup corpus (every document paired) makes them
    corpus-scale, where an unconditional broadcast OOMs the driver;
    past the valve the join falls back to a hash shuffle that AQE may
    still re-plan. ``None`` disables broadcasting outright."""
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    comp = comp.withColumnRenamed("node", "__node")
    if broadcast_threshold is not None and comp.count() <= broadcast_threshold:
        comp = F.broadcast(comp)
    out = (
        df.join(
            comp,
            df[id_col] == F.col("__node"),
            "left",
        )
        .withColumn(
            "cluster_id", F.coalesce(F.col("component"), df[id_col]).cast("long")
        )
        .drop("__node", "component")
    )
    return out.withColumn(
        "is_canonical", (F.col(id_col) == F.col("cluster_id")).cast("boolean")
    )


def triangle_counts(pairs: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """(node, n_triangles): each node's triangle participation count in
    the undirected graph — the standard cohesion/spam-cluster signal
    over co-occurrence graphs.

    Degree-oriented node-iterator (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011): every
    edge is directed from its lexicographically-smaller (degree, id)
    endpoint to the larger, wedges are generated from the common LOW
    endpoint, and a wedge counts iff its closing edge exists. The
    orientation bounds out-degree by O(sqrt(m)), so the wedge join —
    the only super-linear step — never explodes on skewed (celebrity-
    node) graphs the way id-ordering does. All steps are equi-joins /
    partial aggs partitioned on node ids; each triangle is found
    exactly once.
    """
    edges = (
        pairs.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg")).withColumnRenamed("u", "n")
    # orient: (deg, id) of u < (deg, id) of v  =>  s=u, t=v else swapped
    e = (
        edges.join(deg.select(F.col("n").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("deg").alias("dv")), "v")
    )
    u_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # cached: the oriented edge list feeds BOTH wedge sides and the
    # closing-edge probe — uncached, each consumer re-runs the
    # degree-join pipeline (edge-list-sized, same footprint as the
    # input; callers at 100 TB swap in a reliable checkpoint)
    d = e.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_lower, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).cache()
    e1 = d.select(F.col("s"), F.col("t").alias("b"), F.col("dt").alias("db"))
    e2 = d.select(F.col("s"), F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = e1.join(e2, "s").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = d.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).select(
        F.col("s").alias("a"), "b", "c"
    )
    # ONE execution of the wedge join: explode each triangle into its
    # three member nodes (narrow) instead of a 3-way self-union that
    # would re-run the join per branch
    nodes = tri.select(
        F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("node")
    )
    return nodes.groupBy("node").agg(F.count("*").alias("n_triangles"))


def adamic_adar_topk(
    pairs: DataFrame,
    src: str = "u",
    dst: str = "v",
    k: int = 50,
) -> DataFrame:
    """Top-k link predictions by Adamic–Adar score: for each NON-edge
    node pair at distance 2, score = sum over common neighbors w of
    1/ln(deg(w)) — rare shared neighbors count more. The classic
    recommend-a-connection / related-items primitive over
    co-occurrence graphs.

    Parity shape (NOTES.md): per-wedge contributions are ONE fixed
    double expression ``round(1/ln(deg), 12)`` cast to DECIMAL(18,12)
    before the per-pair sum — decimal sums are associative, so the
    score is independent of partitioning and bit-identical across
    engines; the final round(6) + (u, v) tiebreak makes the top-k cut
    deterministic. Wedge centers have degree >= 2, so ln(deg) > 0.

    Scale shape: degrees are one partial-agg pass; wedges come from
    ONE self-equi-join of the symmetrized adjacency on the center
    (bounded by max degree — same envelope as triangle counting; on
    skew-heavy graphs cap or sample celebrity neighborhoods upstream);
    existing edges leave via a left-anti equi-join; the pair score is
    a map-side-combinable hash agg and the cut is a TakeOrdered — no
    global sort, no cartesian anywhere."""
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    # adjacency annotated with the CENTER's degree: (center w, neighbor n, deg w)
    adj = sym.select(F.col("u").alias("w"), F.col("v").alias("n")).join(
        deg.select(F.col("u").alias("w"), "deg"), "w"
    )
    a = adj.select("w", F.col("n").alias("na"), "deg")
    b = adj.select("w", F.col("n").alias("nb"))
    wedges = a.join(b, "w").filter(F.col("na") < F.col("nb"))
    contrib = F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 12).cast(
        "decimal(18,12)"
    )
    scored = (
        wedges.select(F.col("na").alias("u"), F.col("nb").alias("v"), contrib.alias("c"))
        .groupBy("u", "v")
        .agg(
            F.sum("c").alias("__s"),
            F.count("*").alias("n_common"),
        )
        .join(edges, ["u", "v"], "left_anti")
        .select(
            "u",
            "v",
            "n_common",
            F.round(F.col("__s").cast("double"), 6).alias("aa_score"),
        )
    )
    return scored.orderBy(
        F.col("aa_score").desc(), F.col("u"), F.col("v")
    ).limit(k)


def degree_histogram(
    pairs: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """(degree, n_nodes): the degree distribution of an undirected
    graph — the first diagnostic run on any similarity/co-occurrence
    graph (a heavy tail here predicts skewed joins downstream; the
    dedup pair graph's histogram decides whether the component map
    fits a broadcast, see :func:`cluster_assignments`).

    Two partial+final hash aggregates, both map-side combinable:
    per-node degree over the exploded endpoints (narrow explode, no
    self-join), then node count per degree. The second agg's keyspace
    is tiny (distinct degrees), so the whole thing is two cheap
    shuffles regardless of graph size."""
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    nodes = edges.select(
        F.explode(F.array(F.col("u"), F.col("v"))).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def _local_pagerank_exact(
    spark, rows, damping_num: int, damping_den: int, iters: int, scale: int
) -> DataFrame:
    """Driver-side replay of the scaled-integer power iteration —
    Python ``//`` on the nonnegative BIGINT states is the same
    operation as Spark's ``DIV``, so every round is bit-identical to
    the distributed loop by construction."""
    from collections import defaultdict

    canon = {(min(r["u"], r["v"]), max(r["u"], r["v"])) for r in rows}
    out_edges: list[tuple[int, int]] = []
    outdeg: dict[int, int] = defaultdict(int)
    for u, v in canon:
        out_edges.append((u, v))
        out_edges.append((v, u))
        outdeg[u] += 1
        outdeg[v] += 1
    n = len(outdeg)
    if n == 0:
        return spark.createDataFrame([], "node LONG, rank_e12 LONG")
    base = ((damping_den - damping_num) * scale) // (damping_den * n)
    ranks = {u: scale // n for u in outdeg}
    for _ in range(iters):
        contrib: dict[int, int] = defaultdict(int)
        for u, v in out_edges:
            r = ranks.get(u)
            if r is not None:
                contrib[v] += r // outdeg[u]
        ranks = {
            v: base + (damping_num * c) // damping_den
            for v, c in contrib.items()
        }
    return spark.createDataFrame(
        sorted(ranks.items()), "node LONG, rank_e12 LONG"
    )


def pagerank_exact_scaled(
    pairs: DataFrame,
    src: str = "u",
    dst: str = "v",
    damping_num: int = 85,
    damping_den: int = 100,
    iters: int = 10,
    scale: int = 10**12,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, rank_e12) — PageRank power iteration over the UNDIRECTED
    graph (each edge contributes both directions, so there are no
    dangling nodes), carried entirely in SCALED INTEGER arithmetic:
    ranks are BIGINTs in units of 1/``scale``, per-edge contributions
    are integer divisions ``rank DIV outdeg``, and the damped update
    is ``base + (d_num * sum) DIV d_den``. Every operation is exactly
    defined on the input bits — no float reassociation anywhere — so
    the result is bit-identical on ANY engine and ANY partitioning,
    which is what makes PageRank oracle-checkable at all (a float
    power iteration reassociates its sums across partitionings).
    Quantization error vs the real-valued iteration is bounded by one
    unit per division per round (< iters * (deg+2) / scale per node —
    ~1e-10 at the default scale), far below rank-ordering resolution;
    tests pin ``rank_e12 / scale`` within 1e-9 of a dense float
    solver.

    Plan shape: ranks and out-degree edges share one HashPartitioning
    on u sized to the graph (not to spark.sql.shuffle.partitions), so
    the rank⋈edges join is co-partitioned and the only shuffle per
    round is the groupBy(dst) the algorithm needs. Lineage is
    truncated every THIRD round with localCheckpoint (each checkpoint
    is an eager barrier job — per-round truncation spent ~20% of wall
    on barriers at local[32]; three join+agg rounds of lineage stay
    well inside catalyst's comfort zone and the values are
    bit-identical either way). Fixed-iteration by construction (integer states admit no
    residual tolerance). Size-tiered like :func:`connected_components`:
    <= ``local_threshold`` canonical edges replay the identical
    integer iteration on the driver (Python // == Spark DIV on the
    nonnegative states); parity pinned in tests."""
    sym = (
        pairs.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        # materialize BEFORE the size probe (the CC/kcore pattern) so
        # the above-threshold path reuses these blocks instead of
        # recomputing the cast/filter/distinct pipeline from scratch
        .localCheckpoint()
    )
    head = _collect_if_small(sym, local_threshold)
    if head is not None:
        return _local_pagerank_exact(
            pairs.sparkSession, head, damping_num, damping_den, iters, scale
        )
    out_edges = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = out_edges.groupBy("u").agg(F.count("*").alias("outdeg"))
    n = deg.count()
    base = ((damping_den - damping_num) * scale) // (damping_den * n)
    parts = max(2, min(4096, n // 250_000 + 2))
    edges = (
        out_edges.join(deg, "u")
        .select("u", "v", F.col("outdeg").cast("long").alias("outdeg"))
        .repartition(parts, "u")
        .localCheckpoint()
    )
    ranks = (
        deg.select("u", F.lit(scale // n).cast("long").alias("r"))
        .repartition(parts, "u")
        .localCheckpoint()
    )
    for i in range(iters):
        contrib = (
            edges.join(ranks, "u")
            .groupBy("v")
            .agg(F.sum(F.expr("r DIV outdeg")).alias("c"))
        )
        ranks = (
            contrib.select(
                F.col("v").alias("u"),
                (
                    F.lit(base)
                    + F.expr(f"({damping_num} * c) DIV {damping_den}")
                ).cast("long").alias("r"),
            )
            .repartition(parts, "u")
        )
        if i % 3 == 2 or i == iters - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select(F.col("u").alias("node"), F.col("r").alias("rank_e12"))


def _local_kcore(
    spark, rows, k: int, max_iter: int, strict: bool
) -> DataFrame:
    """Driver-side replay of the bounded peel — same stopping rule
    (fixpoint, empty, or round budget; strict raises on budget
    exhaustion) over the same canonical distinct edge set, so the
    surviving (node, within-core degree) table is bit-identical."""
    from collections import defaultdict

    edges = {(min(r["u"], r["v"]), max(r["u"], r["v"])) for r in rows}
    for _ in range(max_iter):
        if not edges:
            break
        deg: dict[int, int] = defaultdict(int)
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= k}
        pruned = {(u, v) for u, v in edges if u in keep and v in keep}
        if len(pruned) == len(edges):
            break
        edges = pruned
    else:
        if strict:
            raise RuntimeError(f"kcore: no fixpoint in {max_iter} rounds")
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    out = sorted((n, d) for n, d in deg.items() if d >= k)
    return spark.createDataFrame(out, "node LONG, degree LONG")


def kcore(
    pairs: DataFrame,
    k: int = 3,
    src: str = "u",
    dst: str = "v",
    max_iter: int = 50,
    strict: bool = True,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, degree): the k-core of the undirected graph — the
    maximal subgraph where every node keeps at least ``k`` neighbors
    INSIDE the subgraph, with each survivor's within-core degree.
    The density filter behind community mining and spam-ring
    detection (a node with many low-commitment neighbors still falls
    out when they do — plain degree thresholding can't do that).

    Iterative peeling: drop all nodes of degree < k, recompute
    degrees, repeat to fixpoint. Monotone — the node set only
    shrinks — so it converges in at most |V| rounds and in practice
    a handful; each round is one hash-agg degree count + one
    semi-join, with localCheckpoint truncating lineage like
    :func:`connected_components`. The fixpoint test is a cheap
    count() (a 1-value job, not a data transfer).

    With ``strict=False`` the semantics become a bounded
    ``max_iter``-round peel: peeling is idempotent at fixpoint, so
    the result equals the true k-core whenever the graph converges
    within the budget, and otherwise is the deterministic partial
    peel — exactly what :func:`kcore_unrolled_sql` expresses, making
    the pair oracle-hashable at any data scale."""
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    head = _collect_if_small(edges, local_threshold)
    if head is not None:
        # size tier (see _collect_if_small): integer peel replays
        # bit-identically on the driver
        return _local_kcore(pairs.sparkSession, head, k, max_iter, strict)
    n_edges = edges.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("u")
        pruned = (
            edges.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            # join keys migrate to the front — re-fix the column ORDER,
            # because the symmetrizing union above is positional
            .select("u", "v")
            .localCheckpoint()
        )
        n_pruned = pruned.count()
        if n_pruned == n_edges:
            break
        edges, n_edges = pruned, n_pruned
    else:
        if strict:
            raise RuntimeError(f"kcore: no fixpoint in {max_iter} rounds")
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.groupBy("u")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= k)
        .select(F.col("u").alias("node"), "degree")
    )


def kcore_unrolled_sql(
    edges_cte: str, k: int = 3, rounds: int = 16
) -> str:
    """DuckDB twin of the bounded peel (``kcore(strict=False,
    max_iter=rounds)``): ``rounds`` textually-unrolled
    degree-filter stages over the edge CTE. Peeling is idempotent at
    fixpoint, so any budget >= the data's convergence depth (8 at
    sf0.01, 2× margin here) reproduces the true k-core bit-for-bit.

    ``edges_cte`` is a named CTE body like ``"e AS (SELECT u, v ...)"``
    whose output is the deduped undirected edge list with u < v.

    Every stage is AS MATERIALIZED: each round references the previous
    edge set several times (degree union + two IN filters), so plain
    inlining would expand the plan exponentially in ``rounds`` (the
    first attempt died opening ~5^16 parquet scans)."""
    parts = [
        f"WITH {edges_cte.strip()}, e0 AS MATERIALIZED (SELECT u, v FROM e)"
    ]
    for i in range(rounds):
        parts.append(
            f""", d{i} AS MATERIALIZED (
        SELECT n, count(*) AS deg
        FROM (SELECT u AS n FROM e{i} UNION ALL SELECT v AS n FROM e{i}) s
        GROUP BY 1
    ), e{i + 1} AS MATERIALIZED (
        SELECT u, v FROM e{i}
        WHERE u IN (SELECT n FROM d{i} WHERE deg >= {k})
          AND v IN (SELECT n FROM d{i} WHERE deg >= {k})
    )"""
        )
    parts.append(
        f""", dfin AS (
        SELECT n, count(*) AS deg
        FROM (SELECT u AS n FROM e{rounds}
              UNION ALL SELECT v AS n FROM e{rounds}) s
        GROUP BY 1
    )
    SELECT n AS node, CAST(deg AS BIGINT) AS degree
    FROM dfin WHERE deg >= {k}"""
    )
    return "".join(parts)


def bfs_levels(
    edges: DataFrame,
    source_nodes: DataFrame,
    max_depth: int = 4,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, depth): minimum hop distance from a source node set over
    an undirected edge list, bounded at ``max_depth`` — the reach /
    blast-radius primitive (recall expansion from a seed set,
    contamination spread through a near-dup graph).

    Level-synchronous frontier expansion: each round joins ONLY the
    current frontier (never the visited set) against the symmetrized
    edges, dedups, and anti-joins out already-visited nodes, so round
    k's work is proportional to frontier_k x degree — the textbook
    distributed BFS. ``localCheckpoint`` truncates the growing plan
    lineage per round (the CC/kcore pattern). A fixed depth bound
    keeps the round count deterministic with NO per-round driver
    probes; an exhausted frontier makes the remaining rounds no-ops.

    ``source_nodes``: one column ``node``. Returns every node with
    min-distance <= max_depth (sources at depth 0). Size-tiered like
    :func:`connected_components` (integer levels replay exactly)."""
    # Dedup sources at entry: the local tier's depth_of dict dedups
    # implicitly, so without this the distributed path's output row
    # multiplicity would depend on which size tier ran.
    sources = source_nodes.select("node").distinct()
    # Materialize before the size probe (CC/kcore pattern) so the
    # above-threshold path reuses the blocks instead of recomputing.
    base = edges.select("u", "v").localCheckpoint()
    head = _collect_if_small(base, local_threshold)
    if head is not None:
        srcs = [r["node"] for r in sources.collect()]
        from collections import defaultdict

        nbrs = defaultdict(set)
        for r in head:
            nbrs[r["u"]].add(r["v"])
            nbrs[r["v"]].add(r["u"])
        depth_of = {s: 0 for s in srcs}
        frontier = set(srcs)
        for depth in range(1, max_depth + 1):
            nxt = set()
            for u in frontier:
                nxt |= nbrs[u] - depth_of.keys()
            for v in nxt:
                depth_of[v] = depth
            frontier = nxt
        return edges.sparkSession.createDataFrame(
            sorted(depth_of.items()), "node LONG, depth INT"
        )
    sym = base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
    levels = sources.select("node", F.lit(0).alias("depth")).localCheckpoint()
    frontier = levels.select("node")
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(levels, "node", "left_anti")
            .select("node", F.lit(depth).alias("depth"))
            .localCheckpoint()
        )
        levels = levels.union(nxt).localCheckpoint()
        frontier = nxt.select("node")
    return levels


def _local_label_propagation(spark, rows, iterations: int) -> DataFrame:
    """Driver-side replay of the deterministic synchronous vote:
    every round each node adopts its neighbors' most frequent label
    (smallest label on ties), all nodes updating together. Pure
    integer/ordinal state — bit-identical to the distributed rounds
    (multi-edges vote multiply in both, matching the un-distinct
    edge join)."""
    from collections import Counter, defaultdict

    nbrs: dict[int, list[int]] = defaultdict(list)
    for r in rows:
        u, v = r["u"], r["v"]
        nbrs[u].append(v)
        nbrs[v].append(u)
    labels = {n: n for n in nbrs}
    for _ in range(iterations):
        new = {}
        for u, vs in nbrs.items():
            cnt = Counter(labels[v] for v in vs)
            new[u] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return spark.createDataFrame(
        sorted(labels.items()), "node LONG, label LONG"
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, label): synchronous label propagation community detection
    with a DETERMINISTIC vote — each round every node adopts its
    neighbors' most frequent label, smallest label winning ties — for
    a FIXED number of rounds. Unlike classic randomized-order LPA,
    this variant is a pure function of the graph, so it is
    engine-reproducible and oracle-checkable (the oracle unrolls the
    same rounds as CTE layers).

    Per round: one edge-to-labels equi-join co-partitioned on the
    node key, one partial-agg vote count, one per-node rank — all
    hash-shuffle shapes that survive 100 TB graphs (the vote table is
    |edges| rows, never node x node). The iteration partitioning is
    right-sized to the graph (the pagerank rule: a fixed per-task
    floor makes wide default partitioning pure overhead on small
    graphs), edges are hash-partitioned ONCE on the vote key so each
    round's join is co-partitioned, and localCheckpoint truncates the
    iterative lineage (the CC/kcore/pagerank pattern). Size-tiered
    like :func:`connected_components`: <= ``local_threshold`` edges
    replay the identical integer vote on the driver (the rounds are
    pure per-round overhead at that size); the distributed loop is
    the at-scale path, parity-pinned in tests."""
    from pyspark.sql import Window

    # Materialize before the size probe (CC/kcore pattern) so the
    # above-threshold path reuses the blocks instead of recomputing.
    base = edges.select("u", "v").localCheckpoint()
    head = _collect_if_small(base, local_threshold)
    if head is not None:
        return _local_label_propagation(edges.sparkSession, head, iterations)

    n = base.count()
    parts = max(2, min(4096, n // 250_000 + 2))
    sym = (
        base
        .union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .select(F.col("v").alias("node"), F.col("u"))
        .repartition(parts, "node")
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .repartition(parts, "node")
        .localCheckpoint()
    )
    w = Window.partitionBy("u").orderBy(F.col("__c").desc(), F.col("label"))
    for _ in range(iterations):
        votes = (
            sym.join(labels, "node")
            .groupBy(F.col("u"), F.col("label"))
            .agg(F.count("*").alias("__c"))
        )
        labels = (
            votes.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("u").alias("node"), "label")
            .repartition(parts, "node")
            .localCheckpoint()
        )
    return labels


def _local_modularity(spark, edge_rows, label_rows) -> DataFrame:
    """Driver-side replay of :func:`modularity`'s exact arithmetic:
    integer counts (join multiplicity replicated, so duplicate label
    rows behave identically to the distributed joins), per-community
    double terms in the identical op order (cast, divide, multiply,
    subtract are all IEEE-defined on their operand bits), trunc_dp's
    NaN/inf-guarded floor, and the label-sorted left fold for
    q_total."""
    import math
    from collections import defaultdict

    def trunc6(x: float) -> float:
        if math.isnan(x) or math.isinf(x):
            return x
        return math.floor(x * 1000000.0) / 1000000.0

    m = len(edge_rows)
    node_labels: dict[int, list[int]] = defaultdict(list)
    for r in label_rows:
        node_labels[r["node"]].append(r["label"])
    deg: dict[int, int] = defaultdict(int)
    intra: dict[int, int] = defaultdict(int)
    for r in edge_rows:
        u, v = r["u"], r["v"]
        deg[u] += 1
        deg[v] += 1
        for lu in node_labels.get(u, ()):
            for lv in node_labels.get(v, ()):
                if lu == lv:
                    intra[lu] += 1
    n_nodes: dict[int, int] = defaultdict(int)
    deg_sum: dict[int, int] = defaultdict(int)
    for r in label_rows:
        n_nodes[r["label"]] += 1
        deg_sum[r["label"]] += deg.get(r["node"], 0)
    cells = []
    for label in n_nodes:
        ie = intra.get(label, 0)
        half = float(deg_sum[label]) / (2.0 * float(m))
        term = float(ie) / float(m) - half * half
        cells.append((label, n_nodes[label], ie, deg_sum[label], term))
    acc = 0.0
    for _, _, _, _, t in sorted(cells):  # labels unique: label-sorted fold
        acc = acc + t
    q_total = trunc6(acc)
    rows = [
        (label, nn, ie, ds, trunc6(t), q_total)
        for label, nn, ie, ds, t in cells
    ]
    return spark.createDataFrame(
        rows,
        "label LONG, n_nodes BIGINT, intra_edges BIGINT, "
        "deg_sum BIGINT, term DOUBLE, q_total DOUBLE",
    )


def modularity(
    edges: DataFrame, labels: DataFrame, local_threshold: int = 100_000
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    edge list: per community c, term_c = e_c/m − (d_c/(2m))², Q = Σ
    term_c — the standard "is this clustering better than random"
    score for label-propagation / CC output.

    ``edges``: (u, v) canonical u < v, one row per undirected edge.
    ``labels``: (node, label).

    Parity shape: e_c (intra edges), d_c (community degree sums) and
    m are exact integers; the per-community double terms fold over
    the label-sorted term array (NOTES.md fold parity), so Q is
    bit-identical across engines.

    Scale shape: two label-broadcast (or hash) joins to tag edge
    endpoints, one degree aggregate, one |communities|-sized frame
    for everything after; the 1-row m total broadcasts. Size-tiered
    like the rest of the graph family: <= ``local_threshold`` edges
    AND labels replay the identical integer counts + IEEE double
    chain on the driver (at that size the 4-pass plan is pure job
    overhead — measured ~4 s on a 3.9k-edge graph); parity pinned in
    tests."""
    head_edges = _collect_if_small(edges.select("u", "v"), local_threshold)
    if head_edges is not None and len(head_edges) > 0:
        head_labels = (
            labels.select("node", "label").limit(local_threshold + 1).collect()
        )
        if len(head_labels) <= local_threshold:
            return _local_modularity(
                edges.sparkSession, head_edges, head_labels
            )
    m = edges.agg(F.count("*").alias("__m"))
    lu = labels.select(
        F.col("node").alias("u"), F.col("label").alias("__lu")
    )
    lv = labels.select(
        F.col("node").alias("v"), F.col("label").alias("__lv")
    )
    tagged = edges.join(lu, "u").join(lv, "v")
    intra = (
        tagged.filter(F.col("__lu") == F.col("__lv"))
        .groupBy(F.col("__lu").alias("label"))
        .agg(F.count("*").alias("intra_edges"))
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("__d"))
    )
    comm = (
        labels.join(deg, "node", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_nodes"),
            F.coalesce(F.sum("__d"), F.lit(0)).alias("deg_sum"),
        )
    )
    cells = (
        comm.join(intra, "label", "left")
        .withColumn("intra_edges", F.coalesce("intra_edges", F.lit(0)))
        .crossJoin(F.broadcast(m))
    )
    half = F.col("deg_sum").cast("double") / (
        F.lit(2.0) * F.col("__m").cast("double")
    )
    # explicit product, not pow(x, 2): libm pow is not guaranteed to be
    # bit-equal to x*x, and the oracle twin writes the product
    term = (
        F.col("intra_edges").cast("double") / F.col("__m").cast("double")
        - half * half
    )
    scored = cells.select(
        "label",
        "n_nodes",
        "intra_edges",
        "deg_sum",
        trunc_dp(term, 6).alias("term"),
        term.alias("__t"),
    )
    q = scored.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("label"), F.col("__t")))
        ).alias("__ts")
    ).select(
        trunc_dp(
            F.aggregate(
                F.col("__ts"), F.lit(0.0), lambda a, x: a + x.getField("__t")
            ),
            6,
        ).alias("q_total")
    )
    return scored.drop("__t").crossJoin(F.broadcast(q))


def jaccard_neighbors_topk(
    pairs: DataFrame,
    src: str = "u",
    dst: str = "v",
    k: int = 25,
) -> DataFrame:
    """Top-k node pairs by neighborhood Jaccard similarity
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)| — the set-overlap companion to
    :func:`adamic_adar_topk` (Adamic–Adar weights rare hubs; Jaccard
    asks how interchangeable two nodes are, the substitute-product /
    duplicate-entity signal). Existing edges are NOT excluded: an
    adjacent pair with near-identical neighborhoods is exactly what a
    merge-candidates list wants.

    The score is carried as exact-integer parts-per-million
    (common * 1_000_000 div (deg_a + deg_b - common)) — no doubles
    anywhere, so the pair is oracle-hashable bit-for-bit and the top-k
    cut under the (score, u, v) tiebreak is fully deterministic.

    Scale shape: same envelope as triangle/Adamic–Adar counting — one
    partial-agg degree pass, ONE self-equi-join of the adjacency on
    the shared-neighbor center (bounded by max degree; cap celebrity
    neighborhoods upstream on skew-heavy graphs), a map-side-combinable
    pair count, two broadcast-sized degree joins, and a TakeOrdered
    cut — no global sort, no cartesian."""
    edges = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .distinct()
    )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    a = sym.select(F.col("v").alias("w"), F.col("u").alias("na"))
    b = sym.select(F.col("v").alias("w"), F.col("u").alias("nb"))
    common = (
        a.join(b, "w")
        .filter(F.col("na") < F.col("nb"))
        .groupBy(F.col("na").alias("u"), F.col("nb").alias("v"))
        .agg(F.count("*").alias("n_common"))
    )
    scored = (
        common.join(deg.select(F.col("u"), F.col("deg").alias("deg_u")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("deg").alias("deg_v")), "v"
        )
        .select(
            "u",
            "v",
            "n_common",
            F.col("deg_u"),
            F.col("deg_v"),
            F.expr(
                "CAST(n_common * 1000000 div (deg_u + deg_v - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )
    return scored.orderBy(
        F.col("jaccard_ppm").desc(), F.col("u"), F.col("v")
    ).limit(k)
