"""Similarity search over embedding columns (north-star extension;
fixture table ``embeddings`` with array<float> vectors).

Four tiers, all pure DataFrame ops unless noted:

- brute-force cosine top-k: the correctness baseline. Query vectors are
  broadcast; the scan side computes dot products with built-in
  higher-order functions (zip_with/aggregate — JVM-side, no Python).
  Cost O(n_queries * n_vectors): right up to ~10^4 queries at 100 TB
  scan widths, and the oracle-checkable reference for recall.

- IVF (inverted-file) top-k: the ANN scale path. A coarse quantizer
  (lowest-id sample, or k-means|| via ivf_build_kmeans — build and
  probe both max-cosine) partitions vectors into nlist cells; queries
  probe only the nprobe nearest cells, cutting the scanned fraction to
  ~nprobe/nlist. Recall measured against brute force in tests.

- pair scans (near-dup): embedding_neardup_pairs_codegen is the exact
  O(n^2) scan (codegen-unrolled scorer, bit-identical to the lambda
  form embedding_neardup_pairs, which is retained as the test oracle).
  The scale paths restrict candidates first and reuse the same
  scoring: semdedup_pairs_seeded scores within seeded cells (the
  SemDeDup approximation), neardup_pairs_blas_int8 runs one exact
  int8 dgemm per cell, and srp_lsh_pairs bands sign-random-projection
  signatures.

- PQ (product quantization): m-subspace k-means codebooks compress
  each vector to m small ints; queries rank by ADC lookup sums without
  ever touching the original vectors — the ~m-bytes-per-row scan that
  makes billion-scale ANN affordable. Recall-tested vs exact L2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .portable import trunc_dp

def _check_constraint_propagation(spark) -> None:
    """Pin constraintPropagation=false via the session module's single
    conf-write site. This is CORRECTNESS-mandatory, not tuning: with
    inference on, Catalyst's constraint canonicalization recurses over
    the unrolled 64-term chains and overflows the analysis stack
    before a single task runs (measured r8, dim=64) — the same
    driver-builds-its-own-session gap io.read_table pins UTC/nanos
    for. session.get_spark sets it at build; this covers foreign
    sessions. Idempotent; results are never affected."""
    from ..session import ensure_engine_confs

    ensure_engine_confs(spark)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def with_unit_vectors(df: DataFrame, vec_col: str, out_col: str = "unit_vec") -> DataFrame:
    """Pre-normalize vectors (cast to double, divide by L2 norm) so
    cosine reduces to a dot product at query time.

    The norm is divided in through ``zip_with(v, array_repeat(norm,
    size))`` so the dim-term norm fold appears exactly ONCE in the
    expression tree — a ``transform(v, x -> x / _norm(v))`` lambda
    would re-inline the fold per ELEMENT (the quadratic
    shared-expression trap, NOTES.md)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norms = F.array_repeat(_norm(v), F.size(v))
    return df.withColumn(out_col, F.zip_with(v, norms, lambda x, y: x / y))


def _with_vec_norm(df: DataFrame, vec_col: str, out_vec: str, out_norm: str) -> DataFrame:
    """Cast to float64 and attach the L2 norm ONCE per vector. Pair
    scoring then costs a single dot product: cosine(a,b) =
    dot(a,b)/(norm_a*norm_b), arithmetically identical to computing the
    norms inline (same sqrt-of-sequential-self-dot), but O(n) instead
    of O(n^2) norm evaluations across a pair join."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(out_vec, v).withColumn(out_norm, _norm(F.col(out_vec)))


def cosine(a, b):
    """Cosine similarity of two array columns, computed in float64."""
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    return _dot(da, db) / (_norm(da) * _norm(db))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries is broadcast (it is small by construction); ranking is a
    per-query window — one shuffle on q_id, k rows kept per query.
    Deterministic: similarity rounded to 6 digits before ranking, id
    tiebreak."""
    v = _with_vec_norm(vectors, vec_col, "__v", "__vn")
    q = _with_vec_norm(queries, q_vec_col, "__q", "__qn")
    joined = v.crossJoin(F.broadcast(q))
    scored = joined.select(
        q_id_col,
        id_col,
        trunc_dp(
            _dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col(q_id_col) != F.col(id_col))
    from pyspark.sql import Window

    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "sim", "rnk")
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_1 < id_2, sim >=
    threshold). O(n^2) scoring — correct baseline; at scale restrict
    candidates first (IVF cells or LSH buckets) and reuse the same
    scoring. Norms are precomputed per vector (not per pair), so each
    pair costs exactly one dot product."""
    vn = _with_vec_norm(vectors, vec_col, "__v", "__vn")
    a = vn.select(
        F.col(id_col).alias("id_1"), F.col("__v").alias("v1"), F.col("__vn").alias("n1")
    )
    b = vn.select(
        F.col(id_col).alias("id_2"), F.col("__v").alias("v2"), F.col("__vn").alias("n2")
    )
    pairs = a.crossJoin(b).filter(F.col("id_1") < F.col("id_2"))
    return (
        pairs.select(
            "id_1",
            "id_2",
            F.round(
                _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _widened(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, [extra...], e0..e{dim-1}, nrm): the vector spread into
    scalar double columns plus its L2 norm, with the self-dot summed
    LEFT-TO-RIGHT so the norm is bit-identical to the sequential list
    fold (_norm). ``extra_cols`` are column NAMES carried through.

    All expressions are SQL strings parsed in one selectExpr each —
    building dim Column objects through py4j costs a JVM round-trip
    per node and dominates operator build time at dim=64."""
    x_exprs = [f"CAST({vec_col}[{i}] AS DOUBLE) AS e{i}" for i in range(dim)]
    wide = vectors.selectExpr(id_col, *(extra_cols or []), *x_exprs)
    self_dot = " + ".join(f"e{i} * e{i}" for i in range(dim))
    return wide.selectExpr("*", f"sqrt({self_dot}) AS nrm")


def _unrolled_pair_sim_sql(dim: int) -> str:
    """``round(dot(a*, b*) / (n1*n2), 6) AS sim`` as a codegen-friendly
    scalar chain over widened columns a0../b0.. (SQL string form)."""
    pair_dot = " + ".join(f"a{i} * b{i}" for i in range(dim))
    return f"round(({pair_dot}) / (n1 * n2), 6) AS sim"


def _unrolled_pair_sim_floor_sql(dim: int) -> str:
    """Floor-truncated variant of :func:`_unrolled_pair_sim_sql`:
    ``floor(sim * 1e6) / 1e6`` — uniquely defined on the identical
    left-to-right chain bits on every engine build (portable.trunc_dp
    rationale), unlike decimal-place round whose implementation varies
    per build.

    The outer CAST(... AS DOUBLE) is load-bearing: in Spark SQL the
    literal ``1000000.0`` is DECIMAL(8,1), so ``floor(...) /
    1000000.0`` types as DECIMAL(30,9) — which pandas renders as
    object(Decimal) while the DuckDB twin's DOUBLE renders float64; a
    dtype-sensitive driver hash flips on every row even though the
    rational values are identical (the local gate coerces to float64
    and can never catch it). CAST of the exact m/1e6 decimal to double
    is correctly rounded and bit-equal to DuckDB's double division of
    the same rational."""
    pair_dot = " + ".join(f"a{i} * b{i}" for i in range(dim))
    return (
        f"CAST(floor((({pair_dot}) / (n1 * n2)) * 1000000.0)"
        f" / 1000000.0 AS DOUBLE) AS sim"
    )


def _wide_sides(wide: DataFrame, id_col: str, dim: int, cell_col: str | None = None):
    """The two join sides of a pair scan over a widened frame."""
    a = wide.selectExpr(
        *([f"{cell_col} AS cell_a"] if cell_col else []),
        f"{id_col} AS id_1",
        "nrm AS n1",
        *[f"e{i} AS a{i}" for i in range(dim)],
    )
    b = wide.selectExpr(
        *([f"{cell_col} AS cell_b"] if cell_col else []),
        f"{id_col} AS id_2",
        "nrm AS n2",
        *[f"e{i} AS b{i}" for i in range(dim)],
    )
    return a, b


def embedding_neardup_pairs_codegen(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Exact near-dup pair scan with the dot product unrolled into
    scalar column arithmetic.

    Higher-order functions (aggregate/zip_with) are interpreted per
    element — outside whole-stage codegen. Widening the fixed-dim
    vector into dim scalar columns turns the pair score into a plain
    arithmetic expression that codegen compiles, ~2x faster and far
    less variant than the lambda form at sf0.1. The addition chain is
    left-to-right exactly like the sequential list fold, so results
    stay bit-identical to embedding_neardup_pairs and the DuckDB
    oracle.

    This is the exact O(n^2) scan — at scale restrict candidates
    first (semdedup_pairs_seeded, srp_lsh_pairs) and reuse the same
    scoring.

    Requires spark.sql.constraintPropagation disabled (the session
    factory's default): Catalyst's constraint inference is super-linear
    in the depth of the 64-term arithmetic chain and stalls the
    optimizer; the conf only affects optimization effort, never
    results. Foreign sessions found with it enabled are silently
    re-pinned through session.ensure_engine_confs — the single module
    that owns conf writes; operators never flip confs themselves."""
    _check_constraint_propagation(vectors.sparkSession)
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    wide = _widened(vectors, id_col, vec_col, dim)
    a, b = _wide_sides(wide, id_col, dim)
    return (
        a.crossJoin(b)
        .filter(F.col("id_1") < F.col("id_2"))
        .selectExpr("id_1", "id_2", _unrolled_pair_sim_sql(dim))
        .filter(F.col("sim") >= threshold)
    )


def _assign_nearest(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Assign each vector to its max-cosine centroid — as an
    Arrow-batched BLAS matmul (the SRP-signature pattern): the centroid
    set is bounded index metadata (nlist rows), so its unit matrix is
    closed over as a numpy literal in a mapInPandas kernel, and each
    Arrow batch computes all nlist cosines in one dgemm. No shuffle,
    scales with the scan, and — unlike the previous 1024-term scalar
    codegen chain — no one-time janino compile (~8 s per session at
    nlist=16, dim=64; BLAS does the same arithmetic in microseconds).
    The earlier crossJoin + window-argmax form shuffled corpus x nlist
    rows just to pick a max; both rewrites avoid that.

    Assignment quality only affects probe choice downstream (IVF
    cells, k-means iterations), never an exact score, so the fp
    reassociation difference between BLAS and scalar chains is
    immaterial. Ties break to the lowest cent_id (np.argmax takes
    the first max over the cent_id-sorted matrix — same contract as
    the old window orderBy). Returns (id, vec, cent_id, __cs)."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    cents = sorted(centroids.collect(), key=lambda r: r["cent_id"])
    if not cents:
        raise ValueError("empty centroid set")
    C = np.asarray([[float(x) for x in r["cent_vec"]] for r in cents], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    cn[cn == 0] = 1.0
    Cu = C / cn[:, None]
    cent_ids = np.asarray([int(r["cent_id"]) for r in cents])
    cent_id_type = centroids.schema["cent_id"].dataType

    src = vectors.select(id_col, vec_col)
    out_schema = StructType(
        list(src.schema.fields)
        + [StructField("cent_id", cent_id_type), StructField("__cs", DoubleType())]
    )

    def kernel(batches):
        for pdf in batches:
            X = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            xn = np.linalg.norm(X, axis=1)
            xn[xn == 0] = 1.0
            cs = (X / xn[:, None]) @ Cu.T
            idx = np.argmax(cs, axis=1)
            out = pdf.copy()
            out["cent_id"] = cent_ids[idx]
            out["__cs"] = cs[np.arange(len(idx)), idx]
            yield out

    return src.mapInPandas(kernel, schema=out_schema)


def semdedup_assign_seeded(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> DataFrame:
    """The seeded-quantizer assignment HALF of semdedup_pairs_seeded:
    (original vector columns + cent_id), persisted. Threshold-free —
    the cell structure depends only on (corpus, nlist) — so one
    materialized assignment serves every within-cell consumer
    (sim_embedding_neardup, dedup_semantic_keep, and future scans at
    other thresholds). At 100 TB this IS the step you run once per
    corpus snapshot and write to the warehouse; queries.py caches it
    session-scoped for exactly that cost model."""
    v = vectors.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    seeds = (
        v.orderBy(id_col)
        .limit(nlist)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col("__v").alias("cent_vec"),
            _norm(F.col("__v")).alias("__cnorm"),
        )
    )
    # assignment: n x nlist broadcast fan-out, cosine rounded to 6 dp
    # (absorbs fold-order reassociation between engines), argmax via a
    # lexicographic struct max — one partial+final agg keyed on id.
    scored = (
        v.withColumn("__vn", _norm(F.col("__v")))
        .crossJoin(F.broadcast(seeds))
        .select(
            F.col(id_col),
            F.col("cent_id"),
            trunc_dp(
                _dot(F.col("__v"), F.col("cent_vec"))
                / (F.col("__vn") * F.col("__cnorm")),
                6,
            ).alias("__cs"),
        )
    )
    assign = scored.groupBy(id_col).agg(
        F.max(F.struct(F.col("__cs"), (-F.col("cent_id")).alias("__nc"))).alias(
            "__m"
        )
    ).select(F.col(id_col), (-F.col("__m.__nc")).alias("cent_id"))
    # persisted: the assignment subtree feeds BOTH sides of the
    # within-cell self-join — without it the n x nlist fan-out and its
    # argmax agg execute twice.
    return vectors.select(id_col, vec_col).join(assign, id_col).persist()


def semdedup_pairs_seeded(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    dim: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup within-cell pair scan (Abbas et al. 2303.09540): the
    corpus is partitioned into ``nlist`` cells and high-cosine pairs
    are scored ONLY within each cell — the deliberate SemDeDup
    approximation that caps the pair space at sum(c_i^2)/2 instead of
    n^2/2. At 100 TB this is the recipe: one narrow assignment pass,
    one equi self-join hash-partitioned by cell (never a cartesian,
    never a cost-based flat fallback — the fallback branch does not
    exist on this path), skew bounded by the largest cell.

    The quantizer here is ORACLE-EXPRESSIBLE by construction: cells
    are the ``nlist`` lowest-id vectors, and each vector goes to its
    max-cosine seed with the cosine rounded to 6 dp before the argmax
    (ties → lowest cent_id), so DuckDB reproduces the exact same
    assignment and the whole approximate pipeline hash-checks
    end-to-end. Production callers chasing recall swap in trained
    k-means centroids (ivf_build_kmeans) — that only changes WHICH
    cells exist, not the mechanics; the within-cell scan and its cost
    bound are identical.

    Returns (id_1 < id_2, sim) with sim from the same codegen-unrolled
    left-to-right chain as the exact scan. Pass ``assigned`` (a frame
    from :func:`semdedup_assign_seeded`, same nlist) to reuse a
    materialized assignment across consumers — identical results, the
    n x nlist fan-out and argmax agg just run once per corpus."""
    _check_constraint_propagation(vectors.sparkSession)
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    if assigned is None:
        assigned = semdedup_assign_seeded(vectors, id_col, vec_col, nlist)
    wide = _widened(assigned, id_col, vec_col, dim, extra_cols=["cent_id"])
    a, b = _wide_sides(wide, id_col, dim, cell_col="cent_id")
    return (
        a.join(b, F.col("cell_a") == F.col("cell_b"))
        .filter(F.col("id_1") < F.col("id_2"))
        .selectExpr("id_1", "id_2", _unrolled_pair_sim_floor_sql(dim))
        .filter(F.col("sim") >= threshold)
    )


def neardup_pairs_blas_int8(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int = 16,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Engine-parity BLAS pair scan: int8-quantized within-cell dgemm.

    A float dgemm reassociates float sums, so its output could only
    be rows-only in the oracle catalog. This kernel removes that
    irreducibility instead of working around it:
    each vector is max-abs-quantized to integral values in [-127, 127]
    (``floor(x * 127.0 / mx)``), so every partial sum of the dot
    product is INTEGRAL (|dot| <= dim * 127^2 << 2^53) and therefore
    exact in float64 IN ANY SUMMATION ORDER — the kernel still runs a
    real numpy dgemm, yet its output is bit-deterministic and the
    whole pipeline (seeded assignment, quantization, scoring) restates
    in plain SQL — the same playbook as the md5 hash family.

    Candidates are the seeded WITHIN-CELL blocks (semdedup_assign --
    the SQL-proven quantizer), one dgemm per cell via applyInPandas:
    pair space sum(c_i^2)/2, shuffle hash-partitioned by cell, skew
    bounded by the largest cell. Scoring: sim = floor(1e6 * dot /
    (sqrt(naa) * sqrt(nbb))) / 1e6 + 0.0 with zero-norm guarded to
    0.0; identical expression text in the DuckDB twin."""
    if assigned is None:
        assigned = semdedup_assign_seeded(vectors, id_col, vec_col, nlist)
    src = assigned.select(
        F.col("cent_id"),
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__vec"),
    )

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_1": pd.Series(dtype="int64"),
                "id_2": pd.Series(dtype="int64"),
                "sim": pd.Series(dtype="float64"),
            }
        )
        if pdf.empty:
            return empty
        V = np.stack(pdf["__vec"].to_numpy()).astype(np.float64)
        # max-abs scale, zero-vector guarded to 1.0 (mirrors the CASE
        # in the oracle); quantize with the same op order as the SQL
        # text: (x * 127.0) / mx, then floor
        mx = np.abs(V).max(axis=1)
        mx[mx == 0.0] = 1.0
        Q = np.floor((V * 127.0) / mx[:, None])
        S = Q @ Q.T  # integral-valued float64: exact in any order
        n = np.diag(S).copy()
        denom = np.sqrt(n)[:, None] * np.sqrt(n)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = np.floor((S / denom) * 1000000.0) / 1000000.0 + 0.0
        zero = n == 0.0
        sims[zero, :] = 0.0
        sims[:, zero] = 0.0
        ia, jb = np.nonzero(np.triu(sims >= threshold, k=1))
        if ia.size == 0:
            return empty
        ids = pdf["__id"].to_numpy()
        ida, idb = ids[ia], ids[jb]
        id1 = np.minimum(ida, idb)
        id2 = np.maximum(ida, idb)
        return pd.DataFrame(
            {
                "id_1": id1.astype("int64"),
                "id_2": id2.astype("int64"),
                "sim": sims[ia, jb],
            }
        )

    return src.groupBy("cent_id").applyInPandas(
        kernel, schema="id_1 BIGINT, id_2 BIGINT, sim DOUBLE"
    )


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str, clip: float = 1.0
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column plus
    per-vector reconstruction-error QA — the 4× storage/bandwidth cut
    applied before shipping a corpus-scale vector index (int8 dot
    kernels, smaller shuffle payloads).

    q_i = floor(clamp(x_i, ±clip) * 127/clip + 0.5) — explicit
    floor(x+0.5) instead of round() so Spark and any oracle engine
    agree on every tie without relying on a shared rounding mode.
    Emits the quantized array, the EXACT integer squared norm (the
    int8 dot-product self-term), and mean/max absolute reconstruction
    error from a fixed left-to-right fold (engine-identical: 0+e1 ==
    e1 in IEEE754, so a 0-seeded left fold matches a seedless one).

    Scale shape: fully narrow, all codegen expressions — no shuffle,
    no UDF; the quantized corpus writes back columnar at ~1 byte per
    dimension."""
    scale = 127.0 / clip
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    q = F.transform(
        v,
        lambda x: F.floor(
            F.least(F.greatest(x, F.lit(-clip)), F.lit(clip)) * scale + F.lit(0.5)
        ).cast("int"),
    )
    t = df.select(F.col(id_col), v.alias("__v"), q.alias("qvec"))
    errs = F.zip_with(
        F.col("qvec"), F.col("__v"),
        lambda qi, x: F.abs(qi.cast("double") / scale - x),
    )
    qnorm = F.aggregate(
        F.col("qvec"), F.lit(0).cast("bigint"),
        lambda acc, qi: acc + qi.cast("bigint") * qi.cast("bigint"),
    )
    err_sum = F.aggregate(errs, F.lit(0.0), lambda acc, e: acc + e)
    err_max = F.aggregate(errs, F.lit(0.0), lambda acc, e: F.greatest(acc, e))
    return t.select(
        id_col,
        "qvec",
        qnorm.alias("qnorm_sq"),
        trunc_dp(err_sum / F.size(F.col("qvec")), 9).alias("qerr_mean"),
        trunc_dp(err_max, 9).alias("qerr_max"),
    )


def ivf_build_kmeans(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """IVF with k-means|| centroids (Spark ML KMeans, fixed seed):
    trained cells are balanced around the data's actual structure, so
    probing nprobe cells recovers more of the true top-k than the
    sample quantizer at the same scan fraction. Same (assignments,
    centroids) contract as ivf_build; recall is compared in tests.

    Metric-unified: KMeans is fit on UNIT vectors (euclidean k-means
    on the unit sphere == spherical/cosine k-means up to the centroid
    mean), the learned centers are re-normalized, and assignment uses
    the same max-cosine rule as ivf_topk's probe — so build and query
    agree on the metric and recall does not leak to a euclidean/cosine
    mismatch."""
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = with_unit_vectors(vectors, vec_col, "__u").withColumn(
        "__features", array_to_vector(F.col("__u"))
    )
    model = KMeans(k=nlist, seed=seed, featuresCol="__features", predictionCol="__cell").fit(
        feats
    )

    def _unit(c):
        n = math.sqrt(sum(float(x) * float(x) for x in c)) or 1.0
        return [float(x) / n for x in c]

    centroids = vectors.sparkSession.createDataFrame(
        [(i, _unit(c)) for i, c in enumerate(model.clusterCenters())],
        "cent_id INT, cent_vec ARRAY<DOUBLE>",
    )
    assignments = _assign_nearest(vectors, centroids, id_col, vec_col).select(
        id_col, vec_col, "cent_id"
    )
    return assignments, centroids


def ivf_build(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic IVF index: centroids = the nlist lowest-id vectors
    (a seeded sample stand-in; ivf_build_kmeans is the trained
    upgrade — the assignment/probe machinery is identical). Returns
    (assignments, centroids); assignments carry each vector's
    nearest-centroid id."""
    centroids = (
        vectors.orderBy(id_col)
        .limit(nlist)
        .select(
            F.col(id_col).alias("cent_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cent_vec"),
        )
    )
    assignments = _assign_nearest(vectors, centroids, id_col, vec_col).select(
        id_col, vec_col, "cent_id"
    )
    return assignments, centroids


def pq_build(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Product-quantization codebooks: the D-dim vector space is split
    into ``m`` contiguous subspaces of D/m dims; each subspace gets its
    own ``ksub``-centroid k-means codebook (Jégou et al.'s PQ — the
    standard 8-64x embedding compression for billion-scale ANN).

    Returns ONE small frame (sub_id, cent_id, cent_vec) — m*ksub rows,
    broadcastable everywhere downstream. Training runs m Spark ML
    KMeans fits over sliced subvectors; the corpus is scanned per fit
    but never collected."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(vectors.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    rows = []
    for sub in range(m):
        feats = vectors.select(
            array_to_vector(
                F.transform(
                    F.slice(F.col(vec_col), sub * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                )
            ).alias("__features")
        )
        model = KMeans(
            k=ksub,
            seed=seed + sub,
            maxIter=max_iter,
            featuresCol="__features",
            predictionCol="__c",
        ).fit(feats)
        for cid, cent in enumerate(model.clusterCenters()):
            rows.append((sub, cid, [float(x) for x in cent]))
    return vectors.sparkSession.createDataFrame(
        rows, "sub_id INT, cent_id INT, cent_vec ARRAY<DOUBLE>"
    )


def _sq_l2(a, b):
    """Squared L2 distance of two array columns (float64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sub_d2(
    df: DataFrame, codebooks: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub_id, cent_id, d2): squared L2 from each vector's sub_id-th
    slice to every centroid of that subspace — the ONE place the
    plan-side subspace slicing lives, shared by encode (window path)
    and the ADC LUT so they can never drift apart. Each codebook row
    sizes its own slice (``size(cent_vec)``) inside the plan, so
    building the frame runs no Spark job."""
    dsub = F.size("cent_vec")
    sub_vec = F.slice(F.col(vec_col), F.col("sub_id") * dsub + 1, dsub)
    return df.crossJoin(F.broadcast(codebooks)).select(
        F.col(id_col),
        "sub_id",
        "cent_id",
        _sq_l2(F.transform(sub_vec, lambda x: x.cast("double")), F.col("cent_vec")).alias("d2"),
    )


def _pq_grid(rows, where: str):
    """Validate collected codebook rows (sub_id, cent_id, cent_vec) as
    the DENSE grid every PQ kernel assumes — sub_ids 0..m-1, cent_ids
    0..ksub-1 per sub, one dsub for every centroid — and return
    (by_sub, m, ksub, dsub). Driver-side only: no Spark job. A ragged
    codebook would otherwise encode against the wrong subspace slices
    silently, or fail deep in numpy."""
    by: dict[int, dict[int, list[float]]] = {}
    for r in rows:
        by.setdefault(r.sub_id, {})[r.cent_id] = list(r.cent_vec)
    m = len(by)
    if not m or sorted(by) != list(range(m)):
        raise ValueError(f"{where}: sub_ids not dense 0..{m - 1}: {sorted(by)}")
    ksub = len(by[0])
    dsub = len(by[0][0]) if ksub else 0
    for s in range(m):
        if sorted(by[s]) != list(range(ksub)):
            raise ValueError(f"{where}: sub {s} cent_ids not dense 0..{ksub - 1}")
        bad = [c for c in range(ksub) if len(by[s][c]) != dsub]
        if bad:
            raise ValueError(f"{where}: sub {s} centroids {bad} have dim != {dsub}")
    return by, m, ksub, dsub


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    literal_max_entries: int = 4096,
    entries: list | None = None,
) -> DataFrame:
    """Encode each vector as m codebook indices: per subspace, the
    nearest (squared-L2) centroid. Returns (id, code ARRAY<INT>).

    Default path: the codebook is bounded index metadata (m·ksub
    rows), so it collects to driver-side LITERALS and the whole encode
    becomes one narrow selectExpr — per subspace, an ``aggregate``
    fold over ``named_struct(d2, cid)`` candidates picking the first
    minimum. ZERO shuffles, zero joins, zero windows: the corpus scan
    IS the encode, which is the shape a 100 TB encode needs (the
    join+window formulation shuffles the exploded corpus twice).
    The d2 arithmetic is the identical zip_with/aggregate fold as
    :func:`_sq_l2` and the tie rule (lowest cent_id on equal d2)
    matches the window path bit-for-bit — parity is pinned in
    tests/test_similarity.py.

    Codebooks larger than ``literal_max_entries`` (not index metadata
    any more) fall back to the broadcast-join + window path; pass
    ``literal_max_entries=0`` to force it.

    ``entries``: pre-collected codebook rows (sub_id, cent_id,
    cent_vec) — callers holding a session-scoped codebook artifact
    (index metadata, the OPQ-training precedent) skip the count() and
    collect() jobs this function otherwise runs per call (r11). The
    literal path raises ValueError unless the rows form a dense
    m x ksub grid of equal-length sub-vectors."""
    if entries is not None:
        rows = list(entries)
        n_entries = len(rows)
    else:
        n_entries = codebooks.count()
    if literal_max_entries and n_entries <= literal_max_entries:
        if entries is None:
            rows = codebooks.collect()
        by_sub, m, ksub, dsub = _pq_grid(rows, "pq_encode")
        sub_exprs = []
        for sub in range(m):
            cands = []
            for cid in range(ksub):
                lits = ", ".join(f"{v!r}D" for v in by_sub[sub][cid])
                d2 = (
                    f"aggregate(zip_with(slice(__v, {sub * dsub + 1}, {dsub}), "
                    f"array({lits}), (x, y) -> (x - y) * (x - y)), "
                    f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
                )
                cands.append(f"named_struct('d', {d2}, 'i', {cid})")
            sub_exprs.append(
                "aggregate(array(" + ", ".join(cands) + "), "
                "named_struct('d', CAST('Infinity' AS DOUBLE), 'i', -1), "
                "(acc, x) -> IF(x.d < acc.d, x, acc)).i"
            )
        code = "array(" + ", ".join(sub_exprs) + ")"
        t = vectors.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
        return t.selectExpr(id_col, f"{code} AS code")

    from pyspark.sql import Window

    scored = _sub_d2(vectors, codebooks, id_col, vec_col)
    w = Window.partitionBy(id_col, "sub_id").orderBy("d2", "cent_id")
    best = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(id_col, "sub_id", "cent_id")
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("sub_id"), F.col("cent_id")))
            ),
            lambda s: s.getField("cent_id"),
        ).alias("code")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC):
    dist(q, x) ~ sum_m ||q_m - cent[m][code_m(x)]||^2, read from a
    per-query lookup table (:func:`_sub_d2`: no metadata job).

    The LUT (q x m x ksub rows) is a broadcast join of the query
    subvectors against the codebooks; the corpus side only explodes
    its m-int code — the original vectors are never touched at query
    time, which is the entire point of PQ at 100 TB: the scan reads
    ~m bytes per row. Rows-only in the oracle catalog (ANN candidate
    quality is recall-tested against brute force)."""
    from pyspark.sql import Window

    lut = _sub_d2(queries, codebooks, q_id_col, q_vec_col)
    code_rows = codes.select(
        id_col, F.posexplode(F.col("code")).alias("sub_id", "cent_id")
    )
    partial = code_rows.join(F.broadcast(lut), ["sub_id", "cent_id"])
    dists = partial.groupBy(q_id_col, id_col).agg(
        F.round(F.sum("d2"), 6).alias("adc_dist")
    )
    if exclude_self:
        dists = dists.filter(F.col(q_id_col) != F.col(id_col))
    w = Window.partitionBy(q_id_col).orderBy(F.col("adc_dist"), F.col(id_col))
    return (
        dists.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "adc_dist", "rnk")
    )


def pq_decode(
    codes: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    out_col: str = "recon",
) -> DataFrame:
    """Reconstruct each PQ-coded vector: per subspace, the centroid the
    code points at, concatenated in subspace order. (id, recon
    ARRAY<DOUBLE>). Inverse of pq_encode up to quantization error —
    used by OPQ training and by anyone inspecting what the index
    actually stores. One broadcast join + one per-id fold."""
    rows = codes.select(id_col, F.posexplode(F.col("code")).alias("sub_id", "cent_id"))
    joined = rows.join(F.broadcast(codebooks), ["sub_id", "cent_id"])
    return joined.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sub_id"), F.col("cent_vec")))
                ),
                lambda s: s.getField("cent_vec"),
            )
        ).alias(out_col)
    )


def rotate_vectors(
    vectors: DataFrame,
    rotation,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Apply a fixed D x D rotation matrix (driver-side index metadata,
    like SRP's hyperplanes) to every vector: one Arrow-batched numpy
    matmul per batch via mapInPandas — narrow, batch-local, no shuffle,
    scales with the scan. Returns (id, vec_col ARRAY<DOUBLE>)."""
    import numpy as np

    R = np.asarray(rotation, dtype=np.float64)
    src = vectors.select(F.col(id_col).cast("long").alias(id_col), vec_col)
    out_schema = f"{id_col} BIGINT, {vec_col} ARRAY<DOUBLE>"

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            rot = V @ R
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), vec_col: list(rot)})

    return src.mapInPandas(project, schema=out_schema)


def _cross_correlation(pairs: DataFrame, a_col: str, b_col: str, dim: int):
    """C = Σ_i a_i b_iᵀ (D x D) over a joined (a, b) frame:
    per-partition numpy partial sums via
    mapInPandas, then the ≤ num-partitions partial matrices (D*D
    doubles each — bounded index metadata, NOTES.md) are summed on the
    driver. The data itself is never collected."""
    import numpy as np

    def part(batches):
        import pandas as pd

        acc = np.zeros((dim, dim))
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[a_col]])
            B = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[b_col]])
            acc += A.T @ B
            seen = True
        if seen:
            yield pd.DataFrame({"c": [acc.ravel().tolist()]})

    parts = pairs.select(a_col, b_col).mapInPandas(part, schema="c ARRAY<DOUBLE>")
    C = np.zeros((dim, dim))
    for r in parts.collect():
        C += np.asarray(r["c"], dtype=np.float64).reshape(dim, dim)
    return C


def opq_train(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    seed: int = 42,
    kmeans_iter: int = 10,
):
    """Optimized Product Quantization (Ge et al., CVPR 2013, OPQ_NP):
    learn an orthogonal rotation R that aligns the data with PQ's
    contiguous-subspace split before quantizing — correlated or
    unbalanced dimensions are PQ's worst case, and a rotation is free
    at query time (rotate the query once).

    Alternating minimization: (1) fit PQ codebooks on X R, (2) encode +
    decode to get the reconstruction X̂, (3) solve the orthogonal
    Procrustes problem min_R ||X R - X̂||_F via SVD of Xᵀ X̂ (a D x D
    driver-side solve — the distributed work is one cross-correlation
    scan per iteration). Returns (R, codebooks) where codebooks are fit
    on the final rotation; encode with
    ``pq_encode(rotate_vectors(X, R), codebooks)`` and query with
    ``pq_topk`` on queries rotated the same way.

    Training cost is iters x (m KMeans fits + an encode/decode pass) —
    a build step, too heavy for the bench catalog (like pq_build);
    recall/MSE-tested in tests."""
    import numpy as np

    dim = len(vectors.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    R = np.eye(dim)
    src = vectors.select(F.col(id_col).cast("long").alias(id_col), vec_col)
    codebooks = None
    for _ in range(max(1, iters)):
        rot = rotate_vectors(src, R, id_col, vec_col)
        codebooks = pq_build(
            rot, id_col, vec_col, m=m, ksub=ksub, seed=seed, max_iter=kmeans_iter
        )
        recon = pq_decode(
            pq_encode(rot, codebooks, id_col, vec_col), codebooks, id_col
        )
        pairs = src.join(recon, id_col)
        C = _cross_correlation(pairs, vec_col, "recon", dim)
        U, _, Vt = np.linalg.svd(C)
        R = U @ Vt
    # codebooks were fit on the PREVIOUS R; refit once on the final one
    # so the returned pair is self-consistent
    rot = rotate_vectors(src, R, id_col, vec_col)
    codebooks = pq_build(
        rot, id_col, vec_col, m=m, ksub=ksub, seed=seed, max_iter=kmeans_iter
    )
    return R, codebooks


def opq_train_sample(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 256,
    m: int = 4,
    ksub: int = 16,
    iters: int = 3,
    seed: int = 42,
    kmeans_iter: int = 8,
):
    """Sample-trained OPQ: run the Ge et al. alternating minimization
    entirely in numpy on a bounded deterministic sample (the
    ``sample_n`` lowest-id vectors), returning (R, codebooks) with the
    same contract as :func:`opq_train`.

    This is the 100 TB division of labor: codebook/rotation TRAINING is
    sample-scale work that belongs on the driver (or a GPU box) — the
    sample is bounded index metadata, like IVF centroids — while the
    corpus-scale work (rotate, encode, ADC scan) stays distributed.
    :func:`opq_train` is the fully-distributed variant for when even
    the training set must not be collected; this one makes OPQ cheap
    enough to sit in the query catalog."""
    import numpy as np

    rows = (
        vectors.orderBy(id_col)
        .limit(sample_n)
        .select(F.transform(F.col(vec_col), lambda x: x.cast("double")))
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    def _kmeans(data, k, km_seed):
        idx = np.random.RandomState(km_seed).permutation(len(data))[:k]
        C = data[idx].copy()
        for _ in range(max(1, kmeans_iter)):
            d2 = ((data[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for j in range(k):
                pts = data[assign == j]
                if len(pts):
                    C[j] = pts.mean(0)
        return C

    def _fit_codebooks(Xr):
        return [
            _kmeans(Xr[:, s * dsub : (s + 1) * dsub], ksub, seed + s)
            for s in range(m)
        ]

    R = np.eye(dim)
    for _ in range(max(1, iters)):
        Xr = X @ R
        cbs = _fit_codebooks(Xr)
        Xhat = np.empty_like(Xr)
        for s, C in enumerate(cbs):
            seg = Xr[:, s * dsub : (s + 1) * dsub]
            assign = ((seg[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            Xhat[:, s * dsub : (s + 1) * dsub] = C[assign]
        U, _, Vt = np.linalg.svd(X.T @ Xhat)
        R = U @ Vt
    cbs = _fit_codebooks(X @ R)
    cb_rows = [
        (s, j, [float(x) for x in C[j]]) for s, C in enumerate(cbs) for j in range(ksub)
    ]
    cb_df = vectors.sparkSession.createDataFrame(
        cb_rows, "sub_id INT, cent_id INT, cent_vec ARRAY<DOUBLE>"
    )
    return R, cb_df


def pq_encode_rotated(
    vectors: DataFrame,
    rotation,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    entries: list | None = None,
) -> DataFrame:
    """Fused rotate + PQ-encode as ONE Arrow kernel: X -> X R -> per-
    subspace argmin against the codebook, yielding (id, code
    ARRAY<INT>) without materializing the rotated corpus.

    This is the OPQ/BLAS tier's encode (sim_opq_topk — rows-only by
    design): the composition ``pq_encode(rotate_vectors(X, R), cb)``
    pays a full Arrow round trip for the rotated vectors plus the
    parse/analyze/janino cost of the m*ksub-way unrolled aggregate
    expression — several COLD seconds per session that a bench's
    min-of-N never amortizes once the codegen cache evicts it (286
    unique plans per pass). Here both steps are two numpy matmuls per
    Arrow batch; the codebook (m*ksub rows — bounded index metadata)
    ships in the task closure. d2 uses the ||c||^2 - 2 x.c expansion
    (the per-row ||x||^2 constant cannot change an argmin); ties break
    to the lowest cent_id like the oracle-checkable SQL path. Keep
    :func:`pq_encode` for oracle-backed PQ entries — its fold
    arithmetic is the engine-portable one.

    ``entries``: pre-collected codebook rows — skips the per-call
    collect() job when the caller holds a session-scoped codebook
    artifact (r11)."""
    import numpy as np

    rows = list(entries) if entries is not None else codebooks.collect()
    # This kernel builds one (m, ksub, dsub) ndarray, so it needs the
    # dense grid; _pq_grid rejects a ragged codebook loudly up front.
    by, m, ksub, dsub = _pq_grid(rows, "pq_encode_rotated")
    C = np.asarray(
        [[by[s][c] for c in range(ksub)] for s in range(m)], dtype=np.float64
    )
    R = np.asarray(rotation, dtype=np.float64)
    src = vectors.select(F.col(id_col).cast("long").alias(id_col), vec_col)

    def kern(batches):
        import pandas as pd

        cn2 = (C**2).sum(-1)  # (m, ksub)
        for pdf in batches:
            if pdf.empty:
                continue
            V = (
                np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                @ R
            )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for s in range(m):
                xs = V[:, s * dsub : (s + 1) * dsub]
                d2 = cn2[s][None, :] - 2.0 * (xs @ C[s].T)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "code": list(codes)}
            )

    return src.mapInPandas(kern, f"{id_col} BIGINT, code ARRAY<INT>")


def ivf_topk_seeded(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Deterministic engine-parity IVF top-k — the sim_srp_lsh
    axes-mode playbook applied to IVF: cells are the ``nlist``
    lowest-id vectors (bounded, seedless, engine-reproducible — the
    semdedup_pairs_seeded quantizer), every cosine in the pipeline
    (corpus assignment, query probe ranking, final candidate scoring)
    is floor-truncated to 6 dp before any argmax/rank, and ties break
    to the lowest id. The ENTIRE approximate pipeline — which cells
    exist, who lives where, which cells each query probes, the final
    ranking — restates in plain SQL and hash-checks end to end.
    Production keeps the trained-kmeans path (ivf_build + ivf_topk,
    recall-pinned vs brute force; exhaustive twin oracle-proven by
    sim_ivf_exhaustive) — swapping quantizers changes WHICH cells
    exist, never the scan mechanics.

    Scale shape: assignment = broadcast-seed fan-out + one partial+
    final argmax agg; probe selection = per-query window over nlist
    rows; candidates = equi-join on cent_id with the tiny probe list
    broadcast; final scoring = one corpus-side equi-join on id. No
    cartesian anywhere; the scanned fraction is ~nprobe/nlist."""
    from pyspark.sql import Window

    cand, v, q = ivf_seeded_candidates(
        vectors, queries, id_col, vec_col, q_id_col, q_vec_col, nlist, nprobe
    )
    pair = cand.join(v.select(id_col, "__v", "__vn"), id_col).join(
        F.broadcast(q.select(q_id_col, "__q", "__qn")), q_id_col
    )
    final = pair.select(
        q_id_col,
        id_col,
        trunc_dp(
            _dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("sim"),
    )
    if exclude_self:
        final = final.filter(F.col(q_id_col) != F.col(id_col))
    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        final.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "sim", "rnk")
    )


def ivf_seeded_candidates(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    nlist: int = 16,
    nprobe: int = 4,
):
    """The candidate step of the seeded IVF scan, alone: (q_id,
    vec_id) rows for every vector living in one of a query's nprobe
    probed cells, plus the normed corpus/query frames for scoring.
    Returns (candidates, v, q). Scale probes and the growth tests
    count the candidate frame — its size is ~nprobe/nlist of n per
    query, never n^2; :func:`ivf_topk_seeded` scores exactly it."""
    from pyspark.sql import Window

    def _guard(df):
        # zero-norm guard, mirrored in the registered oracle SQL: a
        # zero vector's cosine to everything is 0.0, not an ANSI
        # DIVIDE_BY_ZERO (the kcenter-portable convention)
        return df.withColumn(
            "__vn",
            F.when(F.col("__vn") == 0.0, F.lit(1.0)).otherwise(F.col("__vn")),
        )

    v = _guard(_with_vec_norm(vectors, vec_col, "__v", "__vn"))
    seeds = (
        v.orderBy(id_col)
        .limit(nlist)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col("__v").alias("__c"),
            F.col("__vn").alias("__cn"),
        )
    )
    scored = v.crossJoin(F.broadcast(seeds)).select(
        id_col,
        "cent_id",
        trunc_dp(
            _dot(F.col("__v"), F.col("__c")) / (F.col("__vn") * F.col("__cn")), 6
        ).alias("__cs"),
    )
    assign = (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("__cs"), (-F.col("cent_id")).alias("__nc"))
            ).alias("__m")
        )
        .select(F.col(id_col), (-F.col("__m.__nc")).alias("cent_id"))
    )
    q = _with_vec_norm(queries, q_vec_col, "__q", "__qn").withColumn(
        "__qn",
        F.when(F.col("__qn") == 0.0, F.lit(1.0)).otherwise(F.col("__qn")),
    )
    qscore = q.crossJoin(F.broadcast(seeds)).select(
        q_id_col,
        "cent_id",
        trunc_dp(
            _dot(F.col("__q"), F.col("__c")) / (F.col("__qn") * F.col("__cn")), 6
        ).alias("__cs"),
    )
    wq = Window.partitionBy(q_id_col).orderBy(
        F.col("__cs").desc(), F.col("cent_id")
    )
    probes = (
        qscore.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(q_id_col, "cent_id")
    )
    cand = assign.join(F.broadcast(probes), "cent_id").select(q_id_col, id_col)
    return cand, v, q


def ivf_topk(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    k: int = 10,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k: score each query against only the vectors in its
    nprobe nearest IVF cells. The cell join is an equi-join on cent_id,
    so the big side shuffles once on cell id — the scanned fraction is
    ~nprobe/nlist instead of 1."""
    from pyspark.sql import Window

    q_cells = queries.crossJoin(F.broadcast(centroids)).select(
        q_id_col,
        q_vec_col,
        "cent_id",
        cosine(F.col(q_vec_col), F.col("cent_vec")).alias("cs"),
    )
    wq = Window.partitionBy(q_id_col).orderBy(F.col("cs").desc(), F.col("cent_id"))
    probes = (
        q_cells.withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= nprobe)
        .select(q_id_col, q_vec_col, "cent_id")
    )
    an = _with_vec_norm(assignments, vec_col, "__v", "__vn")
    pn = _with_vec_norm(probes, q_vec_col, "__q", "__qn")
    cand = an.join(F.broadcast(pn), "cent_id")
    scored = cand.select(
        q_id_col,
        id_col,
        trunc_dp(
            _dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("sim"),
    )
    if exclude_self:
        scored = scored.filter(F.col(q_id_col) != F.col(id_col))
    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "sim", "rnk")
    )


def srp_signatures(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 32,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
    mode: str = "gaussian",
) -> DataFrame:
    """Signed-random-projection (hyperplane) LSH signatures for cosine
    similarity (Charikar, STOC 2002): bit i = [dot(v, h_i) >= 0] for
    nbits seeded-Gaussian hyperplanes; P(bits agree) = 1 - angle/pi.
    Bits pack into ``bands`` integer band keys (nbits/bands bits each)
    for banded candidate generation — the embedding-space sibling of
    MinHash banding on shingles.

    The projection is a dense (batch x dim) @ (dim x nbits) matmul —
    exactly the shape vectorized BLAS exists for — so it runs as an
    Arrow-batched mapInPandas: one numpy matmul + sign + bit-pack per
    batch, the seeded hyperplane matrix shipped in the task closure
    (nbits x dim doubles — index metadata, not data). The scalar-SQL
    alternative (nbits x dim literal multiply-adds unrolled into one
    selectExpr) produces a ~60 KB expression whose analysis/codegen
    costs tens of driver seconds at dim=64 — measured, not guessed.
    Narrow one-pass op: no shuffle, batch-local, scales with the scan.
    Output: (id, band_0..band_{bands-1}).

    ``mode="axes"`` swaps the seeded-Gaussian hyperplanes for the
    first ``nbits`` coordinate axes (bit i = [v_i >= 0], requires
    dim >= nbits) — the deterministic engine-parity family: the exact
    signature, banding, and candidate set restate in plain SQL (a sign
    test per coordinate), the same sign-disagreement playbook as
    sim_binary_hamming. Recall analysis is unchanged (axes are fixed
    hyperplanes; for embeddings with no preferred orientation the
    collision probability is the same 1 - angle/pi). Production keeps
    "gaussian"."""
    import numpy as np

    if nbits % bands:
        raise ValueError(f"nbits={nbits} must be divisible by bands={bands}")
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    if mode == "axes":
        if dim < nbits:
            raise ValueError(f"mode='axes' needs dim >= nbits, got {dim} < {nbits}")
        H = np.eye(dim, nbits)
    elif mode == "gaussian":
        rng = np.random.default_rng(seed)
        H = rng.standard_normal((dim, nbits))
    else:
        raise ValueError(f"unknown srp mode: {mode!r}")
    r = nbits // bands
    weights = (1 << np.arange(r - 1, -1, -1)).astype(np.int64)
    src = vectors.select(F.col(id_col).cast("long").alias(id_col), vec_col)
    out_schema = f"{id_col} BIGINT, " + ", ".join(f"band_{b} INT" for b in range(bands))

    axes = mode == "axes"

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            # axes mode tests each coordinate's sign DIRECTLY: dot with
            # e_i would let one non-finite coordinate poison every bit
            # (x * 0.0 = NaN), diverging from the oracle's per-coordinate
            # test — and the matmul is pointless for an identity H.
            # NaN coordinate: numpy NaN >= 0 is False, but BOTH SQL
            # engines order NaN above every double (DuckDB 'NaN' >= 0
            # and Spark double('NaN') >= 0 are TRUE — verified), so
            # mirror the NaN-greatest total order explicitly: bit = 1.
            if axes:
                sub = V[:, :nbits]
                bits = np.logical_or(sub >= 0.0, np.isnan(sub))
            else:
                bits = (V @ H) >= 0.0
            packed = bits.reshape(len(pdf), bands, r).astype(np.int64) @ weights
            out = {id_col: pdf[id_col].to_numpy()}
            for b in range(bands):
                out[f"band_{b}"] = packed[:, b].astype(np.int32)
            yield pd.DataFrame(out)

    return src.mapInPandas(project, schema=out_schema)


def srp_candidate_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 32,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 1000,
    mode: str = "gaussian",
    signatures: DataFrame | None = None,
) -> DataFrame:
    """The candidate step of SRP-LSH, alone: distinct (id_1 < id_2)
    pairs sharing any band key after the degenerate-bucket cap. Scale
    probes and the planted-duplicate growth tests count this frame;
    :func:`srp_lsh_pairs` scores exactly it (never more).

    ``signatures``: a precomputed (persisted) srp_signatures frame for
    the same (vectors, nbits, bands, seed, mode) — callers with a
    corpus-scoped cache skip rebuilding the signature table per call."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    # persisted: the (id, bands ints) frame is tiny, but WITHOUT the
    # materialization boundary Catalyst inlines the nbits x dim literal
    # dot products into every stack branch and BOTH self-join sides —
    # the optimizer then chews on ~bands x 2 copies of a 2048-term
    # expression (tens of seconds of pure driver/codegen time at
    # dim=64; the same shared-expression trap as NOTES.md's array
    # lambdas). At 100 TB this is the materialize-the-signature-table
    # step a real pipeline runs anyway.
    sig = (
        signatures
        if signatures is not None
        else srp_signatures(
            vectors, id_col, vec_col, nbits=nbits, bands=bands, seed=seed,
            dim=dim, mode=mode,
        ).persist()
    )
    stack = ", ".join(f"{b}, band_{b}" for b in range(bands))
    melted = sig.selectExpr(id_col, f"stack({bands}, {stack}) AS (band_idx, band_val)")
    if max_bucket is not None:
        from pyspark.sql import Window

        melted = melted.withColumn(
            "__bn",
            F.count(F.lit(1)).over(Window.partitionBy("band_idx", "band_val")),
        ).filter(F.col("__bn") <= max_bucket)
    a = melted.select(
        "band_idx", "band_val", F.col(id_col).alias("id_1")
    )
    b = melted.select(
        "band_idx", "band_val", F.col(id_col).alias("id_2")
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def srp_lsh_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nbits: int = 32,
    bands: int = 8,
    seed: int = 42,
    dim: int | None = None,
    max_bucket: int | None = 1000,
    mode: str = "gaussian",
    floor_sim: bool = False,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs via SRP-LSH banding + exact verification: docs
    sharing ANY band key become candidates; candidates (and ONLY
    candidates) are scored with the codegen-unrolled exact cosine and
    kept at sim >= threshold. Precision is exact by construction;
    recall is the banding amplification 1 - (1 - p^r)^bands with
    p = 1 - acos(threshold)/pi (at the defaults and t=0.95: ~0.9998),
    measured against the exact scan in tests.

    Scale shape: band self-joins are equi-joins hash-partitioned on
    (band index, band key) — the all-pairs space is never declared.
    ``max_bucket`` drops degenerate band buckets (e.g. the all-zeros
    key near-zero vectors share) whose quadratic blocks would dominate
    cost for no selectivity, the same guardrail as ``max_df`` in the
    shingle joins; None disables. Candidate pairs are distinct-ed
    BEFORE verification so each pair is scored once, and the verify
    join runs on the widened scalar columns (same bit-identical scorer
    as the exact scan).

    ``mode="axes"`` selects the deterministic coordinate-axis
    hyperplane family (see :func:`srp_signatures`) and ``floor_sim``
    the 6-dp floor-truncated engine-portable scorer — together they
    make the ENTIRE pipeline (signatures, banding, bucket cap,
    candidate set, verify) restatable in plain SQL, which is how the
    catalog hash-checks this operator against DuckDB.
    """
    _check_constraint_propagation(vectors.sparkSession)
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    cand = srp_candidate_pairs(
        vectors, id_col, vec_col, nbits=nbits, bands=bands, seed=seed,
        dim=dim, max_bucket=max_bucket, mode=mode, signatures=signatures,
    )
    wide = _widened(vectors, id_col, vec_col, dim)
    sa, sb = _wide_sides(wide, id_col, dim)
    sim_sql = (
        _unrolled_pair_sim_floor_sql(dim) if floor_sim
        else _unrolled_pair_sim_sql(dim)
    )
    return (
        cand.join(sa, "id_1")
        .join(sb, "id_2")
        .selectExpr("id_1", "id_2", sim_sql)
        .filter(F.col("sim") >= threshold)
    )


def label_centroids_long(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Per-class mean embedding (the class centroid / prototype), in
    long form: one (label, pos, mean_val) row per dimension.

    posexplode + one partial+final hash aggregate on (label, pos): the
    shuffle carries only |labels| x dim partially-summed rows after
    map-side combine, never the corpus. Sums run in decimal(18,9)
    (exact for float32 inputs after the deterministic cast), so the
    centroid is bit-identical across engines; one double division at
    the end. Repack to arrays with :func:`pack_centroids`."""
    ex = vectors.select(label_col, F.posexplode(F.col(vec_col)).alias("__p0", "__x"))
    return (
        ex.groupBy(label_col, (F.col("__p0") + 1).alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("__x").cast("decimal(18,9)")).cast("double")
                / F.count("*"),
                ndigits,
            ).alias("mean_val")
        )
    )


def pack_centroids(
    long_df: DataFrame, label_col: str = "label"
) -> DataFrame:
    """(label, pos, mean_val) rows -> (label, centroid ARRAY<DOUBLE>)
    with positions restored in order (sort inside the array — stable
    under any partitioning)."""
    packed = F.struct(F.col("pos"), F.col("mean_val").alias("__v"))
    return long_df.groupBy(label_col).agg(
        F.transform(F.array_sort(F.collect_list(packed)), lambda s: s.getField("__v"))
        .alias("centroid")
    )


def norm_stats_per_label(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Embedding QA: min/mean/max L2 norm per class — the cheap drift
    check that catches an unnormalized batch or a collapsed encoder
    before anything downstream consumes the vectors. Each row computes
    its norm once (JVM-side float64 dot); the mean sums decimals so the
    stat is engine-exact."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x))
    with_norm = vectors.select(label_col, norm.alias("__norm"))
    return with_norm.groupBy(label_col).agg(
        F.round(F.min("__norm"), ndigits).alias("min_norm"),
        F.round(
            F.sum(F.col("__norm").cast("decimal(18,9)")).cast("double") / F.count("*"),
            ndigits,
        ).alias("mean_norm"),
        F.round(F.max("__norm"), ndigits).alias("max_norm"),
    )


def pq_build_sample(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Deterministic sample codebooks: centroid j of every subspace is
    the j-th lowest-id vector's subvector (the random-sample quantizer
    baseline; :func:`pq_build` is the k-means-trained upgrade with the
    identical (sub_id, cent_id, cent_vec) contract). Zero training
    cost and engine-reproducible, which makes the FULL encode + ADC
    pipeline oracle-checkable — the same trick ivf_build plays for
    sim_ivf_exhaustive. ``dim``: pass when known to skip the metadata
    job (r11)."""
    if dim is None:
        dim = len(vectors.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    seeds = (
        vectors.orderBy(id_col)
        .limit(ksub)
        .select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        )
    )
    from pyspark.sql import Window

    rn = F.row_number().over(Window.orderBy(F.col(id_col))) - 1
    ranked = seeds.select((rn).alias("cent_id"), "__v")
    return ranked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("sub_id"),
                    F.slice(F.col("__v"), s * dsub + 1, dsub).alias("cent_vec"),
                ),
            )
        ).alias("__e"),
        "cent_id",
    ).select(
        F.col("__e.sub_id").alias("sub_id"), "cent_id", F.col("__e.cent_vec").alias("cent_vec")
    )


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    q_label_col: str = "q_label",
    k: int = 5,
) -> DataFrame:
    """(q_id, vec_id, sim, rnk): per query, the k most-similar vectors
    with a DIFFERENT label — hard-negative mining for contrastive /
    metric-learning training (the negatives nearest the anchor teach
    the most; random negatives are trivially separable). Exact scan
    form, same contract as :func:`brute_force_topk`: the label filter
    runs BEFORE ranking, so every returned row is a true negative.

    Determinism/parity: norms computed once per vector, similarity
    rounded to 6 dp before the rank, (sim desc, id) tiebreak — shares
    brute_force_topk's oracle pattern with the label predicate added.

    Scale shape: the query/anchor side broadcasts (bounded by
    construction); candidate generation at corpus scale swaps in the
    IVF probe exactly as it does for top-k — the ranking contract
    stays identical."""
    from pyspark.sql import Window

    v = _with_vec_norm(vectors, vec_col, "__v", "__vn")
    q = _with_vec_norm(queries, q_vec_col, "__q", "__qn")
    joined = v.crossJoin(F.broadcast(q)).filter(
        F.col(label_col) != F.col(q_label_col)
    )
    scored = joined.select(
        q_id_col,
        id_col,
        trunc_dp(
            _dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__vn")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "sim", "rnk")
    )


def _local_kcenter_portable(spark, rows, id_col, vec_col, k, dim) -> DataFrame:
    """Driver-side replay of the portable greedy farthest-point
    traversal. Every float op mirrors the codegen chain EXACTLY —
    left-assoc dot folds, correctly-rounded sqrt/div/mul (IEEE-defined,
    so Python == JVM bit-for-bit), greatest with Spark's NaN-greatest
    ordering, floor(x*1e9)/1e9 — so the selected set and reported
    scores are bit-identical to the distributed rounds."""
    import math

    def dot(a, b):
        acc = a[0] * b[0]
        for i in range(1, len(a)):
            acc = acc + a[i] * b[i]
        return acc

    def div(a, b):
        # IEEE-754 double division: Python raises on x / 0.0 where the
        # JVM returns NaN (0/0) or signed infinity (x/0) — a zero-norm
        # vector hits exactly the 0/0 case.
        if b != 0.0:
            return a / b
        if a == 0.0 or math.isnan(a):
            return float("nan")
        return float("inf") * math.copysign(1.0, a) * math.copysign(1.0, b)

    vecs = {}
    for r in rows:
        e = [float(x) for x in r[vec_col][:dim]]
        nrm = math.sqrt(dot(e, e))
        # zero-norm guard, the production kernels' convention
        # (xn[xn == 0] = 1.0): cos to a zero vector is 0.0, not a
        # NaN/ANSI-divide-by-zero — mirrored in the distributed tier
        vecs[r[id_col]] = (e, 1.0 if nrm == 0.0 else nrm)

    def greatest(a, b):  # Spark orders NaN above every double
        if math.isnan(a) or math.isnan(b):
            return float("nan")
        return b if b > a else a

    first_id = min(vecs)
    sel = [(0, first_id, None)]
    selected = {first_id}
    best = {}  # id -> running max cosine to the selected set (unfloored)
    for rnd in range(1, k):
        newest_id = sel[-1][1]
        sv, snrm = vecs[newest_id]
        cand = []
        for vid, (e, nrm) in vecs.items():
            if vid in selected:
                continue
            cos = div(dot(e, sv), nrm * snrm)
            b = greatest(best[vid], cos) if vid in best else cos
            best[vid] = b
            if math.isnan(b):
                # Spark's floor(DOUBLE) returns BIGINT and casts NaN to
                # long 0, so the distributed tier scores a NaN __best
                # (zero-norm vector: cos = 0/0) as __cs = 0.0 and sorts
                # it as 0.0 — replicate exactly (verified:
                # floor(double('NaN')*1e9)/1e9 = 0.0, typeof bigint).
                cs = 0.0
            elif math.isinf(b):
                # Spark's BIGINT floor saturates ±inf to Long.MAX/MIN
                # (verified: floor(double('Infinity')*1e9)/1e9 =
                # 9223372036.854776); Python math.floor(inf) raises.
                cs = (
                    9223372036854775807 if b > 0 else -9223372036854775808
                ) / 1000000000.0
            else:
                cs = math.floor(b * 1000000000.0) / 1000000000.0
            cand.append((cs, vid))
        if not cand:
            break
        cs, vid = min(cand)
        sel.append((rnd, vid, cs))
        selected.add(vid)
    return spark.createDataFrame(
        sel, f"rank INT, {id_col} BIGINT, max_cos_to_prior DOUBLE"
    )


def diverse_kcenter_portable(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(rank, id, max_cos_to_prior): greedy farthest-point traversal —
    the 2-approximation to k-center — selecting k maximally-diverse
    vectors: each round adds the corpus point LEAST similar (max
    cosine) to everything already selected. The diversity-curation
    primitive behind coreset selection and eval-set de-clustering
    (near-duplicate prototypes never both get picked).

    Deterministic: the seed is the minimum id; each round breaks ties
    (equal truncated similarity) toward the smaller id, so the
    selection is reproducible under any partitioning.

    Each round's corpus scan is a CODEGEN unrolled left-to-right dot
    chain against LITERAL selected vectors (no Arrow dgemm — BLAS
    reassociates sums, which would make the result rows-only), with
    the max-cosine floor-truncated to 9 dp before the (cs ASC, id)
    argmin cut. Every double op is the identical sequential chain
    DuckDB's list_inner_product computes, so a k-step unrolled-CTE
    oracle hash-checks the whole traversal end to end.

    Scale shape: selected set = bounded driver metadata, each round
    ONE codegen scan + a 1-row TakeOrdered, no shuffle, no
    Python workers. k driver-synchronized rounds is the greedy's
    inherent data dependency.

    Incremental fold (r7 perf): the running max-cos-to-selected is
    carried as a ``__best`` column and each round folds in ONLY the
    newest center — ``greatest()`` on doubles is exact and
    order-insensitive, so ``greatest(best, cos_new)`` is bit-identical
    to re-evaluating ``greatest(cos_0..cos_r)`` from scratch (the
    unchanged k-round unrolled-CTE oracle keeps proving it end to
    end), while the per-round expression drops from 64·r to 64 terms:
    O(n·k) total instead of O(n·k²). Each round localCheckpoints the
    narrow (id, e*, nrm, __best) frame so the next round scans
    materialized blocks instead of replaying the whole fold lineage
    (which would silently restore the O(n·k²) cost at every action);
    blocks are RDD-owned and GC-reclaimed after the call.

    Size-tiered (r8, the connected_components policy): <=
    ``local_threshold`` vectors replay the identical float chain on
    the driver — every op in the scorer is IEEE-defined on its
    operand bits (left-assoc folds, correctly-rounded sqrt/div), so
    Python == JVM codegen bit-for-bit; parity pinned in tests and by
    the unchanged unrolled-CTE oracle. The k driver-synchronized
    scans remain the at-scale path."""
    head = None
    if local_threshold:
        sample = vectors.select(id_col, vec_col).limit(local_threshold + 1).collect()
        if len(sample) <= local_threshold:
            head = sample
    if head is not None:
        return _local_kcenter_portable(
            vectors.sparkSession, head, id_col, vec_col, k, dim
        )
    # Zero-norm guard (the production kernels' xn[xn == 0] = 1.0
    # convention): a zero vector's cosine to everything is 0.0. Without
    # it the per-round division is an ANSI DIVIDE_BY_ZERO at runtime;
    # the local tier applies the identical guard, keeping the tiers
    # bit-identical on degenerate inputs.
    wide = (
        _widened(vectors, id_col, vec_col, dim)
        .withColumn("nrm", F.when(F.col("nrm") == 0.0, F.lit(1.0)).otherwise(F.col("nrm")))
        .persist()
    )
    first = wide.orderBy(F.col(id_col)).limit(1).collect()[0]
    sel = [
        (
            0,
            first[id_col],
            None,
            [float(first[f"e{i}"]) for i in range(dim)],
            float(first["nrm"]),
        )
    ]
    keep = [id_col, *[f"e{i}" for i in range(dim)], "nrm"]
    cur = wide
    have_best = False
    for rnd in range(1, k):
        # cosine vs the NEWEST selected literal vector only:
        # left-to-right chain, constants folded at plan time
        _, newest_id, _, sv, snrm = sel[-1]
        dot = " + ".join(
            f"e{i} * CAST({sv[i]!r} AS DOUBLE)" for i in range(dim)
        )
        cos = f"(({dot}) / (nrm * CAST({snrm!r} AS DOUBLE)))"
        best = f"greatest(__best, {cos})" if have_best else cos
        cur = (
            cur.filter(F.col(id_col) != F.lit(newest_id))
            .selectExpr(*keep, f"{best} AS __best")
            .localCheckpoint()
        )
        have_best = True
        nxt = (
            cur.selectExpr(
                *keep,
                "floor(__best * 1000000000.0) / 1000000000.0 AS __cs",
            )
            .orderBy(F.col("__cs").asc(), F.col(id_col))
            .limit(1)
            .collect()[0]
        )
        sel.append(
            (
                rnd,
                nxt[id_col],
                float(nxt["__cs"]),
                [float(nxt[f"e{i}"]) for i in range(dim)],
                float(nxt["nrm"]),
            )
        )
    wide.unpersist()
    return vectors.sparkSession.createDataFrame(
        [(r, i, c) for r, i, c, _, _ in sel],
        f"rank INT, {id_col} BIGINT, max_cos_to_prior DOUBLE",
    )


def mmr_rerank(
    vectors: DataFrame,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cand: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """(rank, id, rel, mmr) — Maximal Marginal Relevance reranking
    (Carbonell & Goldstein, SIGIR 1998): from the top-``n_cand``
    cosine candidates of one query, greedily select ``k`` maximizing
    ``lam*rel - (1-lam)*max_sim_to_selected`` — the
    relevance-vs-redundancy trade every RAG/retrieval stack applies
    after ANN recall.

    Scale shape: the candidate cut is the DISTRIBUTED brute-force
    scorer (one corpus scan, floor-6dp sims, id tiebreak); the greedy
    then runs driver-side over the ``n_cand`` collected candidates —
    bounded index metadata, the same contract as
    diverse_kcenter_portable's selected set. Fully deterministic AND
    engine-portable: pair cosines are plain left-to-right float64
    folds (== DuckDB list_inner_product bit-for-bit), floor-truncated
    to 6 dp, so an unrolled-CTE oracle restates the whole traversal."""
    one_minus = 0.3 if lam == 0.7 else (1.0 - lam)  # spell literals, not
    # derived constants (NOTES float-literal trap): 1.0-0.7 is a
    # DIFFERENT double from the literal 0.3 the oracle writes
    qs = vectors.filter(F.col(id_col) == query_id).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    cand_ids = brute_force_topk(vectors, qs, id_col, vec_col, k=n_cand)
    cands = (
        cand_ids.join(vectors.select(id_col, vec_col), id_col)
        .select(id_col, "sim", vec_col)
        .collect()
    )

    def _f6(x: float) -> float:
        import math

        return math.floor(x * 1000000.0) / 1000000.0

    def _dotp(a, b):
        s = 0.0
        for i in range(len(a)):
            s = s + a[i] * b[i]
        return s

    import math

    cl = [
        (r[id_col], float(r["sim"]), [float(x) for x in r[vec_col]])
        for r in cands
    ]
    nrm = {cid: math.sqrt(_dotp(v, v)) for cid, _, v in cl}
    first = min(cl, key=lambda c: (-c[1], c[0]))
    sel = [(0, first[0], first[1], lam * first[1])]
    chosen = {first[0]}
    sel_vecs = [(first[0], first[2])]
    for rnd in range(1, k):
        best = None
        for cid, rel, v in cl:
            if cid in chosen:
                continue
            ms = max(
                _f6(_dotp(v, sv) / (nrm[cid] * nrm[sid]))
                for sid, sv in sel_vecs
            )
            mmr = lam * rel - one_minus * ms
            key = (-mmr, cid)
            if best is None or key < best[0]:
                best = (key, cid, rel, mmr, v)
        _, cid, rel, mmr, v = best
        sel.append((rnd, cid, rel, mmr))
        chosen.add(cid)
        sel_vecs.append((cid, v))
    return vectors.sparkSession.createDataFrame(
        sel, f"rank INT, {id_col} BIGINT, rel DOUBLE, mmr DOUBLE"
    )


def binary_signatures(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """(id, w_0, w_1, ...): 1-bit-per-dimension sign quantization of an
    embedding, packed into 32-bit words carried as BIGINTs — 32 bytes
    of float32 per dimension become 1 bit, the 32x compression that
    lets a billion-vector index sit in RAM.

    The packing is an unrolled fixed-dim integer expression (NOTES.md:
    higher-order functions are interpreted — unroll fixed-dim hot
    loops), entirely JVM-side codegen; one narrow pass, no shuffle,
    no Python."""
    if dim % 32:
        raise ValueError("dim must be a multiple of 32")
    words = []
    for w in range(dim // 32):
        terms = " + ".join(
            f"IF({vec_col}[{w * 32 + j}] > 0D, {1 << (31 - j)}L, 0L)"
            for j in range(32)
        )
        words.append(f"({terms}) AS w_{w}")
    return vectors.selectExpr(f"{id_col}", *words)


def binary_hamming_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    k: int = 10,
    rerank: int = 50,
    dim: int = 64,
) -> DataFrame:
    """Two-stage ANN: Hamming distance over 1-bit sign signatures
    selects ``rerank`` candidates per query (integer xor + bit_count —
    the cheapest possible scan), then exact cosine reranks the
    candidates to the final top-k. The binary-quantization retrieval
    shape (e.g. faiss IndexBinaryFlat + refine): the full-precision
    vectors are touched only for |q| x rerank rows.

    Approximate by design (a true neighbor can fall outside the
    Hamming candidate set) but fully DETERMINISTIC and
    oracle-expressible: the sign binarization, the (hamming, id)
    candidate cut, and the floor-truncated cosine rerank are all
    engine-reproducible (a Hamming distance over sign bits is just
    the count of sign disagreements), so the catalog entry
    hash-checks end-to-end; recall@k against brute_force_topk stays
    pinned in tests."""
    from pyspark.sql import Window

    nwords = dim // 32
    vs = binary_signatures(vectors, id_col, vec_col, dim)
    qs = binary_signatures(
        queries.select(
            F.col(q_id_col), F.col(q_vec_col).alias("__qv")
        ),
        q_id_col,
        "__qv",
        dim,
    ).select(F.col(q_id_col), *[F.col(f"w_{w}").alias(f"qw_{w}") for w in range(nwords)])
    ham = None
    for w in range(nwords):
        t = F.bit_count(F.col(f"w_{w}").bitwiseXOR(F.col(f"qw_{w}")))
        ham = t if ham is None else ham + t
    cand = (
        vs.crossJoin(F.broadcast(qs))
        .filter(F.col(q_id_col) != F.col(id_col))
        .select(q_id_col, id_col, ham.alias("hamming"))
    )
    w_h = Window.partitionBy(q_id_col).orderBy(F.col("hamming"), F.col(id_col))
    short = (
        cand.withColumn("__r", F.row_number().over(w_h))
        .filter(F.col("__r") <= rerank)
        .select(q_id_col, id_col, "hamming")
    )
    v = _with_vec_norm(vectors, vec_col, "__v", "__vn")
    q = _with_vec_norm(
        queries.select(F.col(q_id_col).alias("__qid2"), F.col(q_vec_col)),
        q_vec_col,
        "__q",
        "__qn",
    )
    scored = (
        short.join(v.select(id_col, "__v", "__vn"), id_col)
        .join(
            F.broadcast(q.select("__qid2", "__q", "__qn")),
            short[q_id_col] == F.col("__qid2"),
        )
        .select(
            q_id_col,
            id_col,
            "hamming",
            trunc_dp(
                _dot(F.col("__q"), F.col("__v")) / (F.col("__qn") * F.col("__vn")), 6
            ).alias("sim"),
        )
    )
    w_s = Window.partitionBy(q_id_col).orderBy(F.col("sim").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w_s))
        .filter(F.col("rnk") <= k)
        .select(q_id_col, id_col, "hamming", "sim", "rnk")
    )


def matryoshka_prefix_audit(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    prefix_dims: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Matryoshka (MRL) truncation audit: per group, the mean fraction
    of each vector's norm captured by its first d dimensions, for each
    candidate prefix width — the go/no-go table for serving truncated
    embeddings (Kusupati et al. 2205.13147: prefix-heavy norm ⇒
    prefix cosine approximates full cosine).

    Rows (group, dims, n_vecs, mean_norm_frac): norm_frac =
    ||v[:d]|| / ||v||. Parity shape: the per-vector fraction is one
    double chain rounded to 9 dp into DECIMAL(18,9) before the group
    sum (associative — the bigram_nll trick), so the mean is
    bit-identical across engines. Narrow per-vector arithmetic + one
    hash aggregate per prefix width; widths unioned (constant
    fan-out)."""
    group = (
        F.col(label_col).cast("string") if label_col else F.lit("all")
    ).alias("group")
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    full = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    )
    out = None
    for d in prefix_dims:
        pre = F.sqrt(
            F.aggregate(
                F.slice(v, 1, d), F.lit(0.0), lambda a, x: a + x * x
            )
        )
        frac = trunc_dp(pre / full, 9).cast("decimal(18,9)")
        g = (
            vectors.select(group, frac.alias("__f"))
            .groupBy("group")
            .agg(
                F.count("*").alias("n_vecs"),
                trunc_dp(
                    F.sum("__f").cast("double") / F.count("*"), 6
                ).alias("mean_norm_frac"),
            )
            .select(
                "group",
                F.lit(d).alias("dims"),
                "n_vecs",
                "mean_norm_frac",
            )
        )
        out = g if out is None else out.unionByName(g)
    return out
