"""operators/similarity.py: brute-force exactness, IVF/SRP/PQ/OPQ
recall and parity, quantization and pair scans."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row, functions as F

from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import similarity as S
from gcpdatapipelines_spark.operators.similarity import (
    quantize_int8,
    srp_lsh_pairs,
    srp_signatures,
)
from tests.conftest import SF_SMOKE, jobs_started_by


def test_brute_force_known_nearest(spark):
    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
        ]
    )
    qs = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = S.brute_force_topk(vecs, qs, k=2).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rnk"])] == [1, 2]
    assert out[0]["sim"] <= 1.0


def test_embedding_neardup_threshold(spark):
    vecs = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[1.0, 0.001]),
            Row(vec_id=2, embedding=[0.0, 1.0]),
        ]
    )
    pairs = S.embedding_neardup_pairs(vecs, threshold=0.99).collect()
    assert {(p["id_1"], p["id_2"]) for p in pairs} == {(0, 1)}


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=4/nlist=8 must recover a decent fraction of the
    exact top-10 on the fixture embeddings (recall floor deliberately
    loose — the lowest-id seeds are a stand-in, not trained cells)."""
    emb = read_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in S.brute_force_topk(emb, qs, k=10).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in S.ivf_topk_seeded(emb, qs, nlist=8, nprobe=4, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall@10 {recall:.2f} unexpectedly low"


def test_ivf_assignment_covers_all_vectors(spark):
    """Probing every cell (nprobe == nlist) makes every vector a
    candidate of every query: each vector lives in exactly one cell."""
    emb = read_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand, _v, _q = S.ivf_seeded_candidates(emb, qs, nlist=8, nprobe=8)
    got = [(r["q_id"], r["vec_id"]) for r in cand.collect()]
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    assert sorted(got) == sorted((q, i) for q in range(3) for i in ids)
    assert len(got) == 1500


def test_codegen_neardup_bit_identical_to_lambda(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    lam = {
        (r["id_1"], r["id_2"]): r["sim"]
        for r in S.embedding_neardup_pairs(emb, threshold=0.3).collect()
    }
    cg = {
        (r["id_1"], r["id_2"]): r["sim"]
        for r in S.embedding_neardup_pairs_codegen(emb, threshold=0.3).collect()
    }
    assert lam == cg and lam


def _clustered_vectors(spark, per_cluster=40, dim=8):
    """Three tight clusters around orthogonal axes + planted near-dups;
    at threshold 0.95 only intra-cluster pairs qualify."""
    rows = []
    vid = 0
    # interleave clusters across ids so the lowest-id centroid sample
    # (the deterministic quantizer) spans all clusters
    for i in range(per_cluster):
        for axis in range(3):
            v = [0.0] * dim
            v[axis] = 1.0
            v[(axis + 3) % dim] = 0.001 * (i % 7)  # tiny jitter
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_codegen_equals_exact_clustered_high_threshold(spark):
    vecs = _clustered_vectors(spark)
    exact = {
        (r["id_1"], r["id_2"]): r["sim"]
        for r in S.embedding_neardup_pairs(vecs, threshold=0.95).collect()
    }
    cg = {
        (r["id_1"], r["id_2"]): r["sim"]
        for r in S.embedding_neardup_pairs_codegen(vecs, threshold=0.95).collect()
    }
    assert cg == exact and cg


def test_pq_codebook_and_code_shapes(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    cb = S.pq_build_sample(emb, m=8, ksub=16)
    assert cb.count() == 8 * 16
    codes = S.pq_encode(emb, cb)
    row = codes.first()
    assert len(row["code"]) == 8
    assert all(0 <= c < 16 for c in row["code"])
    assert codes.count() == emb.count()


def test_pq_identical_vectors_share_codes(spark):
    from pyspark.sql import Row

    base = [float(i % 7) / 7 for i in range(16)]
    # the two lowest ids seed the sample codebook with distinct centroids
    vecs = spark.createDataFrame(
        [Row(vec_id=0, embedding=base), Row(vec_id=1, embedding=[x + 3.0 for x in base]),
         Row(vec_id=2, embedding=base)]
    )
    cb = S.pq_build_sample(vecs, m=4, ksub=2)
    codes = {r["vec_id"]: r["code"] for r in S.pq_encode(vecs, cb).collect()}
    assert codes[0] == codes[2] != codes[1]


def test_pq_encode_and_topk_reject_inconsistent_metadata(spark):
    """Caller-supplied codebook rows are checked on the driver: a
    ragged ``entries`` grid raises ValueError before any Spark job
    runs. (pq_topk takes no codebook metadata: it sizes its slices
    inside the plan, see test_pq_topk_build_runs_no_job.)"""
    vecs = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 1.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    grid = [Row(sub_id=s, cent_id=c, cent_vec=[float(c), 0.0]) for s in (0, 1) for c in (0, 1)]
    cb = spark.createDataFrame(grid, "sub_id INT, cent_id INT, cent_vec ARRAY<DOUBLE>")
    ragged = {
        "cent_ids not dense": grid[:3],  # sub 1 lacks centroid 1
        "sub_ids not dense": [r for r in grid if r.sub_id == 1],
        "have dim": grid[:3] + [Row(sub_id=1, cent_id=1, cent_vec=[1.0])],
    }
    sc = spark.sparkContext
    sc.setJobGroup("pq_metadata_check", "driver-side validation only")
    try:
        for msg, entries in ragged.items():
            with pytest.raises(ValueError, match=msg):
                S.pq_encode(vecs, cb, entries=entries)
        assert list(sc.statusTracker().getJobIdsForGroup("pq_metadata_check")) == []
    finally:
        sc.setJobGroup(None, None)
    codes = S.pq_encode(vecs, cb, entries=grid).collect()
    assert [list(r.code) for r in codes] == [[1, 0]]


def test_pq_topk_build_runs_no_job(spark):
    """Building the ADC top-k plan runs no Spark job: each codebook row
    sizes its own subspace slice inside the plan, so no first() probes
    the codebook for m or dsub. The codebook here is Spark-computed
    (not a local relation), the case where a probe would be a job."""
    emb = read_table(spark, SF_SMOKE, "embeddings")
    cb = S.pq_build_sample(emb, m=4, ksub=4)
    rows = cb.collect()
    codes = S.pq_encode(emb, cb, entries=rows)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top, jobs = jobs_started_by(spark, lambda: S.pq_topk(codes, cb, qs, k=3))
    assert jobs == 0
    # the in-plan slicing scores like a driver-side ADC over the
    # collected codebook
    cent = {(r.sub_id, r.cent_id): r.cent_vec for r in rows}
    code = {r.vec_id: r.code for r in codes.collect()}
    dsub = len(rows[0].cent_vec)

    def adc(q_vec, vec_id):
        return sum(
            (float(x) - y) ** 2
            for s, c in enumerate(code[vec_id])
            for x, y in zip(q_vec[s * dsub:(s + 1) * dsub], cent[(s, c)])
        )

    got = sorted(top.collect(), key=lambda r: (r.q_id, r.rnk))
    for q in qs.collect():
        mine = [r for r in got if r.q_id == q.q_id]
        best = sorted(adc(q.q_vec, v) for v in code if v != q.q_id)[:3]
        assert [r.adc_dist for r in mine] == pytest.approx(best, abs=1e-6)
        for r in mine:
            assert r.adc_dist == pytest.approx(adc(q.q_vec, r.vec_id), abs=1e-6)


def test_pq_topk_recall_vs_exact_l2(spark):
    """ADC ranking must recover a meaningful slice of the exact
    squared-L2 top-10 (random-ish fixture embeddings are the hard
    case for PQ; chance level is 10/500 = 0.02)."""
    from pyspark.sql import Window

    emb = read_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cb = S.pq_build_sample(emb, m=8, ksub=16)
    codes = S.pq_encode(emb, cb)
    approx = {
        (r["q_id"], r["vec_id"]) for r in S.pq_topk(codes, cb, qs, k=10).collect()
    }
    v = emb.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    q = qs.select("q_id", F.transform("q_vec", lambda x: x.cast("double")).alias("q"))
    d = (
        v.crossJoin(F.broadcast(q))
        .select("q_id", "vec_id", S._sq_l2(F.col("q"), F.col("v")).alias("d2"))
        .filter(F.col("q_id") != F.col("vec_id"))
    )
    w = Window.partitionBy("q_id").orderBy("d2", "vec_id")
    exact = {
        (r["q_id"], r["vec_id"])
        for r in d.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 10).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.2, f"PQ recall@10 {recall:.2f} below floor"


def test_srp_signatures_shape_and_determinism(spark):
    vecs, n = _planted_vectors(spark)  # dim 16, sign-balanced
    s1 = S.srp_signatures(vecs, nbits=16, bands=4)
    assert s1.columns == ["vec_id", "band_0", "band_1", "band_2", "band_3"]
    rows = {r["vec_id"]: tuple(r)[1:] for r in s1.collect()}
    rows2 = {
        r["vec_id"]: tuple(r)[1:]
        for r in S.srp_signatures(vecs.repartition(3), nbits=16, bands=4).collect()
    }
    assert rows == rows2 and len(rows) == n  # a pure function of each vector
    # 4 bits per band, and the keys spread over more than one bucket
    assert all(0 <= b <= 15 for sig in rows.values() for b in sig)
    assert len({sig[0] for sig in rows.values()}) > 1


def test_srp_rejects_uneven_bands(spark):
    vecs = _clustered_vectors(spark)
    import pytest

    with pytest.raises(ValueError):
        S.srp_signatures(vecs, nbits=10, bands=4)


def test_srp_axes_finds_every_sign_preserving_neardup(spark):
    """Recall pin for sim_srp_lsh's configuration (64 bits, 4 bands,
    axes mode, floor scorer). Each planted twin keeps every coordinate's
    sign but rescales its magnitude (cosine ~0.9, never an exact
    duplicate), so all four band keys agree and banding must surface
    every twin; verification then scores it at its true cosine."""
    import numpy as np

    emb = read_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    rng = np.random.default_rng(11)
    twins, want = [], {}
    for r in emb.orderBy("vec_id").limit(8).collect():
        v = np.asarray(r["embedding"], dtype=np.float32)
        twin = (v * rng.uniform(0.2, 1.8, v.size)).astype(np.float32)
        assert np.array_equal(np.signbit(twin), np.signbit(v))
        cos = float(v.astype(np.float64) @ twin / (np.linalg.norm(v) * np.linalg.norm(twin)))
        assert 0.8 < cos < 0.97, cos
        twins.append((r["vec_id"] + 100_000, twin.tolist()))
        want[(r["vec_id"], r["vec_id"] + 100_000)] = cos
    corpus = emb.unionByName(spark.createDataFrame(twins, emb.schema))
    out = S.srp_lsh_pairs(corpus, threshold=0.75, nbits=64, bands=4)
    got = {(r["id_1"], r["id_2"]): r["sim"] for r in out.collect()}
    missing = sorted(set(want) - set(got))
    assert not missing, f"sign-preserving twins not found: {missing}"
    for pair, cos in want.items():
        assert got[pair] == pytest.approx(cos, abs=1e-5)


def test_srp_lsh_pairs_subset_and_recall(spark):
    """Verified SRP candidates must be a SUBSET of the exact pair set
    (precision 1.0 by construction) with near-total recall at a
    near-dup threshold on planted clusters. The data is sign-balanced,
    so banding (not one shared bucket) separates the clusters."""
    vecs, n = _planted_vectors(spark, dim=64)
    exact = {
        (r["id_1"], r["id_2"]): r["sim"]
        for r in S.embedding_neardup_pairs(vecs, threshold=0.95).collect()
    }
    got = {
        (r["id_1"], r["id_2"]): r["sim"]
        for r in S.srp_lsh_pairs(vecs, threshold=0.95).collect()
    }
    assert set(got) <= set(exact)
    assert len(got) >= 0.9 * len(exact) and exact
    # banding pruned: the candidate set is far from all pairs
    n_cand = S.srp_candidate_pairs(vecs).count()
    assert n_cand < 0.05 * n * (n - 1) // 2, n_cand
    # the same unrolled cosine, floored to 6 dp where the oracle rounds:
    # at most one 6-dp step below it
    assert all(0 <= exact[k] - v <= 1e-6 + 1e-12 for k, v in got.items())


def test_srp_max_bucket_caps_degenerate_bands(spark):
    """The axes family's degenerate case: every coordinate of the
    clustered vectors is >= 0, so all 120 share one signature and
    banding alone selects all pairs. With a tiny cap that bucket trips
    the guardrail and the candidate set empties — the cap is a real
    cost ceiling, not advisory."""
    vecs = _clustered_vectors(spark)
    uncapped = S.srp_candidate_pairs(vecs, nbits=8, bands=2, max_bucket=None)
    assert uncapped.count() == 120 * 119 // 2
    got = S.srp_lsh_pairs(
        vecs, threshold=0.95, nbits=8, bands=2, max_bucket=2
    ).count()
    assert got == 0


def _correlated_vecs(spark, n=400, dim=16, seed=7):
    """Synthetic worst case for contiguous-subspace PQ: strongly
    decaying per-dim energy mixed by a fixed dense rotation, so the
    identity subspace split quantizes badly until OPQ un-mixes it."""
    import numpy as np

    rng = np.random.default_rng(seed)
    scales = np.exp(-np.arange(dim) / 2.0)
    Z = rng.standard_normal((n, dim)) * scales
    Q, _ = np.linalg.qr(rng.standard_normal((dim, dim)))
    X = Z @ Q
    return spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )


def _mse(spark, vecs, R, cb):
    """Mean squared reconstruction error of the rotated vectors: each
    code's centroids, read from the collected codebook rows and
    concatenated in subspace order, against X R."""
    import numpy as np

    cent = {(r.sub_id, r.cent_id): r.cent_vec for r in cb.collect()}
    rot = S.rotate_vectors(vecs, R)
    errs = []
    for r in S.pq_encode(rot, cb).join(rot, "vec_id").collect():
        recon = np.concatenate([cent[(s, c)] for s, c in enumerate(r.code)])
        errs.append(((np.asarray(r.embedding) - recon) ** 2).sum())
    return float(np.mean(errs))


def test_opq_beats_plain_pq_on_correlated_data(spark):
    """The learned rotation must cut reconstruction MSE vs identity-
    rotation PQ on dimension-mixed data — the objective OPQ directly
    minimizes (Ge et al. 2013, Table 1 shape)."""
    import numpy as np

    vecs = _correlated_vecs(spark)
    cb_plain = S.pq_build_sample(vecs, m=4, ksub=8)
    mse_plain = _mse(spark, vecs, np.eye(16), cb_plain)
    R, cb_opq = S.opq_train_sample(vecs, m=4, ksub=8, iters=2, kmeans_iter=10)
    mse_opq = _mse(spark, vecs, R, cb_opq)
    assert mse_opq < mse_plain * 0.9, (mse_opq, mse_plain)
    # the codebooks are fit in the learned frame: the same codebooks
    # without the rotation reconstruct worse (an identity R would tie)
    mse_unrotated = _mse(spark, vecs, np.eye(16), cb_opq)
    assert mse_opq < mse_unrotated * 0.9, (mse_opq, mse_unrotated)


def test_label_centroids_match_numpy(spark):
    import numpy as np

    emb = read_table(spark, SF_SMOKE, "embeddings")
    got = S.label_centroids_long(emb, "label", "embedding").toPandas()
    pdf = emb.toPandas()
    for label, grp in pdf.groupby("label"):
        want = np.mean(np.stack(grp["embedding"].map(np.asarray)), axis=0)
        g = got[got["label"] == label].sort_values("pos")["mean_val"].to_numpy()
        assert np.allclose(g, want, atol=2e-6), label


def test_norm_stats_bounds(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    out = S.norm_stats_per_label(emb, "label", "embedding").collect()
    assert out
    for r in out:
        assert 0 < r["min_norm"] <= r["mean_norm"] <= r["max_norm"]


def test_opq_end_to_end_retrieval_via_pq_topk(spark):
    """The full OPQ query path — encode rotated corpus, rotate the
    queries the same way, ADC top-k — must beat (or match) plain PQ's
    recall@10 vs exact L2 on dimension-mixed data."""
    import numpy as np

    vecs = _correlated_vecs(spark)
    queries = vecs.limit(8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    def exact_topk():
        got = {}
        pdf = vecs.toPandas()
        X = np.stack(pdf["embedding"].map(np.asarray))
        ids = pdf["vec_id"].to_numpy()
        for q in queries.collect():
            qv = np.asarray(q["q_vec"])
            d = ((X - qv) ** 2).sum(axis=1)
            order = np.argsort(d, kind="stable")
            got[q["q_id"]] = {
                int(ids[i]) for i in order if ids[i] != q["q_id"]
            } and {int(ids[i]) for i in order[:11] if ids[i] != q["q_id"]}
        return got

    def recall(codes, cb, qdf):
        want = exact_topk()
        got = S.pq_topk(codes, cb, qdf, k=10)
        hits = tot = 0
        rows = got.collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
        for qid, w in want.items():
            w = set(list(w)[:10])
            hits += len(w & by_q.get(qid, set()))
            tot += len(w)
        return hits / tot

    cb_plain = S.pq_build_sample(vecs, m=4, ksub=8)
    r_plain = recall(S.pq_encode(vecs, cb_plain), cb_plain, queries)

    R, cb_opq = S.opq_train_sample(vecs, m=4, ksub=8, iters=2, kmeans_iter=10)
    rot_corpus = S.rotate_vectors(vecs, R)
    rot_queries = S.rotate_vectors(queries, R, id_col="q_id", vec_col="q_vec")
    r_opq = recall(S.pq_encode(rot_corpus, cb_opq), cb_opq, rot_queries)

    # rotation is distance-preserving, so exact neighbors are unchanged;
    # OPQ codes approximate those distances better on mixed dims
    assert r_opq >= r_plain - 0.02, (r_opq, r_plain)
    # sanity floor: far above chance (10/400 = 0.025) for 8-centroid,
    # 4-subspace codes on 16 dims — absolute recall is codebook-bounded
    assert r_opq > 0.3, r_opq


def test_pq_build_sample_contract_and_determinism(spark):
    from gcpdatapipelines_spark.operators.similarity import (
        pq_build_sample,
        pq_encode,
        pq_topk,
    )

    emb_small = read_table(spark, SF_SMOKE, "embeddings")
    cb = pq_build_sample(emb_small, m=4, ksub=4)
    rows = cb.collect()
    # m*ksub rows, dsub-length centroids, ids in range
    assert len(rows) == 16
    assert all(len(r.cent_vec) == len(emb_small.first().embedding) // 4 for r in rows)
    assert {r.sub_id for r in rows} == {0, 1, 2, 3}
    assert {r.cent_id for r in rows} == {0, 1, 2, 3}
    # centroid j == subvector of the j-th lowest-id vector
    low = [r.embedding for r in emb_small.orderBy("vec_id").limit(4).collect()]
    d = len(low[0]) // 4
    for r in rows:
        want = [float(x) for x in low[r.cent_id][r.sub_id * d:(r.sub_id + 1) * d]]
        assert r.cent_vec == want
    # the ADC pipeline runs on the sample codebook with the same contract
    codes = pq_encode(emb_small, cb)
    qs = emb_small.limit(1).selectExpr("vec_id AS q_id", "embedding AS q_vec")
    out = pq_topk(codes, cb, qs, k=3).collect()
    assert len(out) == 3 and [r.rnk for r in out] == [1, 2, 3]


# ---------------------------------------------------------------------------
# hard_negatives
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.similarity import hard_negatives  # noqa: E402


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    rows = [
        (1, [1.0, 0.0], 0),   # anchor
        (2, [0.99, 0.1], 0),  # same label: excluded though nearest
        (3, [0.9, 0.4], 1),   # hardest negative
        (4, [0.0, 1.0], 1),   # easy negative
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT")
    qs = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    out = hard_negatives(emb, qs, k=2).collect()
    assert [(r.vec_id, r.rnk) for r in out] == [(3, 1), (4, 2)]
    assert all(r.vec_id != 2 for r in out)


# ---------------------------------------------------------------------------
# diverse_kcenter
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.similarity import diverse_kcenter_portable  # noqa: E402


def test_diverse_kcenter_picks_the_spread(spark):
    # two tight clusters + one outlier: k=3 must take one per group
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1: never picked at k=3
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.999, 0.01]),   # near-dup of 3
        (5, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = diverse_kcenter_portable(emb, k=3, dim=3).collect()
    picked = {r.vec_id for r in out}
    assert out[0].vec_id == 1 and out[0].rank == 0  # deterministic seed
    assert picked == {1, 3, 5} or picked == {1, 5, 3}
    assert 2 not in picked and 4 not in picked
    # each later pick records its similarity to the already-selected set
    assert all(r.max_cos_to_prior is not None for r in out if r.rank > 0)


def test_diverse_kcenter_deterministic_under_partitioning(spark):
    # many tied vectors: the id tiebreak must decide, in the distributed
    # rounds as well as the driver replay
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    def picks(df, **kw):
        out = diverse_kcenter_portable(df, k=5, dim=3, **kw).collect()
        return [(r.rank, r.vec_id) for r in out]

    a = picks(emb)
    assert a == picks(emb.repartition(9))
    assert a == picks(emb.repartition(9), local_threshold=0)


def test_diverse_kcenter_portable_local_tier_matches_distributed_on_fixture(spark):
    """The driver replay and the distributed codegen rounds select the
    same traversal with bit-identical scores on the dim-64 fixture."""
    emb = read_table(spark, SF_SMOKE, "embeddings")
    a = [tuple(r) for r in diverse_kcenter_portable(emb, k=5).collect()]
    b = [tuple(r) for r in diverse_kcenter_portable(emb, k=5, local_threshold=0).collect()]
    assert a == b and len(a) == 5


def test_diverse_kcenter_portable_partitioning_invariant(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings")
    a = [
        (r.rank, r.vec_id, r.max_cos_to_prior)
        for r in diverse_kcenter_portable(emb, k=4).collect()
    ]
    b = [
        (r.rank, r.vec_id, r.max_cos_to_prior)
        for r in diverse_kcenter_portable(emb.repartition(9), k=4).collect()
    ]
    assert a == b


# ---------------------------------------------------------------------------
# SemDeDup within-cell pair scan (the scale-safe semantic-dedup recipe)
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.similarity import (  # noqa: E402
    embedding_neardup_pairs_codegen,
    semdedup_pairs_seeded,
)


def _interleaved_cluster_vecs(spark, n_clusters=4, per_cluster=20, dim=8):
    """Tight unit clusters with ids INTERLEAVED across clusters, so the
    nlist lowest-id seed vectors cover every cluster and the seeded
    quantizer maps each cluster to its own cell."""
    import math

    rows = []
    for j in range(per_cluster):
        for c in range(n_clusters):
            base = [1.0 if i == c else 0.0 for i in range(dim)]
            eps = 0.001 * (j % 7)
            v = [x + (eps if i == (c + 1) % dim else 0.0) for i, x in enumerate(base)]
            nrm = math.sqrt(sum(x * x for x in v))
            rows.append((j * n_clusters + c, [x / nrm for x in v]))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")


def test_semdedup_equals_exact_when_cells_cover_clusters(spark):
    """With seeds covering every cluster and a near-dup threshold, all
    qualifying pairs are intra-cluster == intra-cell, so the SemDeDup
    approximation loses nothing and matches the exact O(n^2) scan."""
    vecs = _interleaved_cluster_vecs(spark)
    got = {
        (r.id_1, r.id_2)
        for r in semdedup_pairs_seeded(vecs, threshold=0.95, nlist=4).collect()
    }
    want = {
        (r.id_1, r.id_2)
        for r in embedding_neardup_pairs_codegen(vecs, threshold=0.95).collect()
    }
    assert got == want and len(want) > 0


def test_semdedup_is_subset_of_exact_on_diffuse_data(spark):
    """On diffuse data (no cluster structure) the within-cell scan is a
    SUBSET of the exact pairs (pure precision, recall = the documented
    approximation) — never a false positive."""
    rows = [
        (i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(6)])
        for i in range(60)
    ]
    vecs = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = {
        (r.id_1, r.id_2)
        for r in semdedup_pairs_seeded(vecs, threshold=0.8, nlist=8).collect()
    }
    want = {
        (r.id_1, r.id_2)
        for r in embedding_neardup_pairs_codegen(vecs, threshold=0.8).collect()
    }
    assert got <= want and len(want) > 0


def test_semdedup_deterministic_under_partitioning(spark):
    vecs = _interleaved_cluster_vecs(spark)
    a = sorted(
        (r.id_1, r.id_2, r.sim)
        for r in semdedup_pairs_seeded(vecs, threshold=0.95, nlist=4).collect()
    )
    b = sorted(
        (r.id_1, r.id_2, r.sim)
        for r in semdedup_pairs_seeded(
            vecs.repartition(7), threshold=0.95, nlist=4
        ).collect()
    )
    assert a == b and a


# ---------------------------------------------------------------------------
# SRP 64/4: planted duplicates survive the widened banding
# ---------------------------------------------------------------------------


def test_srp_64_4_planted_duplicates(spark):
    from gcpdatapipelines_spark.operators.similarity import srp_lsh_pairs

    emb = read_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    # plant an exact duplicate of vec 0 with a fresh id
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = srp_lsh_pairs(emb.unionByName(dup), threshold=0.4, nbits=64, bands=4)
    rows = {(r.id_1, r.id_2): r.sim for r in out.collect()}
    assert rows.get((0, 100000)) == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# srp axes mode: deterministic sign-bit signatures
# ---------------------------------------------------------------------------


def test_srp_axes_signature_bits(spark):
    # dim=8, nbits=8, 2 bands of 4 bits: bit i = [v_i >= 0], big-endian
    # fold within band.
    v = [1.0, -2.0, 3.0, -4.0, 0.0, -1.0, 1.0, 1.0]
    # bits: 1,0,1,0 | 1,0,1,1  ->  band_0 = 0b1010 = 10, band_1 = 0b1011 = 11
    df = spark.createDataFrame([(1, v)], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    row = srp_signatures(df, nbits=8, bands=2).collect()[0]
    assert (row["band_0"], row["band_1"]) == (10, 11)


def test_srp_axes_requires_enough_dims(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(ValueError, match="axes"):
        srp_signatures(df, nbits=8, bands=2).collect()


def test_srp_axes_pairs_subset_of_exact(spark, embeddings_small=None):
    # 6 vectors in dim 8: two exact duplicates must pair; precision is
    # exact (every returned pair really clears the threshold).
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((6, 8))
    vecs[5] = vecs[0]  # planted duplicate
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    out = srp_lsh_pairs(df, threshold=0.95, nbits=8, bands=2).collect()
    pairs = {(r.id_1, r.id_2) for r in out}
    assert (0, 5) in pairs
    for r in out:
        assert r.sim >= 0.95


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
    row = srp_signatures(df, nbits=8, bands=2).collect()[0]
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


def test_seeded_assignment_zero_norm_vector_no_crash(spark):
    """The within-cell scans share ivf_topk_seeded's zero-norm guard: a
    zero vector's cosine to every seed is 0.0, so it lands in the
    lowest cent_id, and the int8 pair scan scores it 0.0 — hand model
    for nlist=2 (seeds = vectors 0 and 1)."""
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 1.0, 0.0, 0.0]),
        (4, [0.5, 0.1, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cells = {
        r["vec_id"]: r["cent_id"]
        for r in S.semdedup_assign_seeded(df, nlist=2).collect()
    }
    assert cells == {0: 0, 1: 1, 2: 0, 3: 1, 4: 1}
    pairs = sorted(
        tuple(r) for r in S.neardup_pairs_blas_int8(df, threshold=0.0, nlist=2).collect()
    )
    assert pairs == [(0, 2, 0.0), (1, 3, 0.707106), (1, 4, 0.98117), (3, 4, 0.830365)]


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


def _planted_vectors(spark, n_clusters=20, dup_per_cluster=4, n_unique=80, dim=16):
    """Embeddings with planted clusters: members of a cluster are the
    same unit direction with a tiny deterministic wiggle; uniques are
    spread directions. No numpy randomness — everything derives from
    ids, so the fixture is reproducible."""
    import math

    rows = []
    vec_id = 0
    for c in range(n_clusters):
        for d in range(dup_per_cluster):
            # multiplicative wiggle: preserves every coordinate's SIGN
            # (so SRP signatures collide exactly) and keeps the norm
            # nonzero (c+1 avoids the all-zeros sin(0) vector)
            v = [
                math.sin(0.7 * (c + 1) * (i + 1)) * (1.0 + 0.001 * d)
                for i in range(dim)
            ]
            rows.append((vec_id, [float(x) for x in v]))
            vec_id += 1
    for u in range(n_unique):
        # chaotic deterministic mix — cos(1.3*u*i) has PERIODIC sign
        # structure along i that clusters LSH band keys; this spreads
        # signs ~uniformly so uniques don't bucket together
        v = [
            math.sin(((u * 1000003 + i * 7919) % 10007) * 0.61803 + 0.5)
            for i in range(dim)
        ]
        rows.append((vec_id, [float(x) for x in v]))
        vec_id += 1
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"), vec_id


def test_srp_candidates_linear_on_planted_dups(spark):
    """SRP band candidates on planted embedding clusters: every
    same-direction pair collides in all bands (identical sign
    pattern), yet the candidate frame stays far from all-pairs.

    Key width matters for the linear-growth property: r bits per band
    gives 2^r buckets, so r must scale with log2(n) to hold bucket
    occupancy (hence candidates-per-row) constant — this test runs
    8-bit band keys (256 buckets/band) on dim-64 embeddings; the
    catalog's entry runs the default 16-bit keys (64 bits, 4 bands)."""
    from gcpdatapipelines_spark.operators.similarity import srp_candidate_pairs

    vecs, n = _planted_vectors(spark, dim=64)  # axes mode needs dim >= nbits
    n_cand = srp_candidate_pairs(
        vecs, "vec_id", "embedding", nbits=64, bands=8, dim=64
    ).count()
    n_planted_pairs = 20 * (4 * 3 // 2)
    all_pairs = n * (n - 1) // 2
    assert n_cand >= n_planted_pairs
    assert n_cand <= 8 * n, (n_cand, n)
    assert n_cand < 0.2 * all_pairs, (n_cand, all_pairs)


def test_ivf_candidates_bounded_by_probe_fraction(spark):
    """Seeded IVF candidates are exactly the probed-cell members:
    bounded by nq * n (linear in the corpus per query), and in
    expectation ~nprobe/nlist of it."""
    from gcpdatapipelines_spark.operators.similarity import ivf_seeded_candidates

    vecs, n = _planted_vectors(spark)
    qs = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cand, _v, _q = ivf_seeded_candidates(vecs, qs, nlist=16, nprobe=4)
    n_cand = cand.count()
    assert 0 < n_cand <= 3 * n, (n_cand, n)


def test_semdedup_assigned_injection_parity(spark):
    """semdedup_pairs_seeded(assigned=precomputed) returns the exact
    same pair set as the self-building path."""
    from gcpdatapipelines_spark.operators.similarity import (
        semdedup_assign_seeded,
        semdedup_pairs_seeded,
    )

    vecs, _ = _planted_vectors(spark, n_clusters=8, dup_per_cluster=3, n_unique=20)
    base = semdedup_pairs_seeded(vecs, threshold=0.4, nlist=8)
    assigned = semdedup_assign_seeded(vecs, nlist=8)
    inj = semdedup_pairs_seeded(vecs, threshold=0.4, nlist=8, assigned=assigned)
    b = sorted(map(tuple, base.collect()))
    i = sorted(map(tuple, inj.collect()))
    assert b == i and len(b) > 0


def test_srp_signatures_injection_parity(spark):
    """srp_lsh_pairs(signatures=precomputed) matches the self-building
    path pair-for-pair."""
    from gcpdatapipelines_spark.operators.similarity import (
        srp_lsh_pairs,
        srp_signatures,
    )

    vecs, _ = _planted_vectors(spark, n_clusters=8, dup_per_cluster=3,
                               n_unique=20, dim=32)
    kw = dict(threshold=0.4, nbits=32, bands=8)
    base = srp_lsh_pairs(vecs, **kw)
    sig = srp_signatures(vecs, "vec_id", "embedding", nbits=32, bands=8).persist()
    inj = srp_lsh_pairs(vecs, **kw, signatures=sig)
    b = sorted(map(tuple, base.collect()))
    i = sorted(map(tuple, inj.collect()))
    assert b == i and len(b) > 0
    sig.unpersist()


def test_neardup_blas_int8_matches_python_model(spark):
    """The int8-quantized within-cell dgemm (the engine-parity BLAS
    tier) reproduces a pure-python per-pair model bit-for-bit: max-abs
    quantization makes every partial sum integral, so numpy's matmul
    order cannot change the result."""
    import math

    from gcpdatapipelines_spark.operators.similarity import (
        neardup_pairs_blas_int8,
        semdedup_assign_seeded,
    )

    vecs, _ = _planted_vectors(spark, n_clusters=6, dup_per_cluster=3, n_unique=15)
    nlist, threshold = 4, 0.4
    got = sorted(
        (r["id_1"], r["id_2"], r["sim"])
        for r in neardup_pairs_blas_int8(
            vecs, threshold=threshold, nlist=nlist
        ).collect()
    )
    # python model: same seeded assignment, same quantization text
    assign = {
        r["vec_id"]: r["cent_id"]
        for r in semdedup_assign_seeded(vecs, nlist=nlist).collect()
    }
    data = {r["vec_id"]: list(r["embedding"]) for r in vecs.collect()}

    def quant(v):
        mx = max(abs(x) for x in v) or 1.0
        return [math.floor(x * 127.0 / mx) for x in v]

    exp = []
    ids = sorted(data)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if assign[a] != assign[b]:
                continue
            qa, qb = quant(data[a]), quant(data[b])
            dot = 0.0
            na = 0.0
            nb = 0.0
            for x, y in zip(qa, qb):
                dot += x * y
                na += x * x
                nb += y * y
            if na == 0 or nb == 0:
                continue
            sim = math.floor((dot / (math.sqrt(na) * math.sqrt(nb))) * 1e6) / 1e6 + 0.0
            if sim >= threshold:
                exp.append((a, b, sim))
    assert got == sorted(exp) and len(got) > 0


def test_pq_encode_rotated_rejects_ragged_codebook(spark):
    """r9 advice: a codebook violating the dense (m, ksub, dsub) grid
    contract raises a clear ValueError up front."""
    import numpy as np

    from gcpdatapipelines_spark.operators.similarity import pq_encode_rotated

    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0])], "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    # sub 1 has 2 centroids, sub 0 has 1 -> ragged
    cb = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (1, 0, [0.0, 0.0]), (1, 1, [1.0, 1.0])],
        "sub_id INT, cent_id INT, cent_vec ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="cent_ids not dense"):
        pq_encode_rotated(vecs, np.eye(4), cb)
    # non-dense sub ids
    cb2 = spark.createDataFrame(
        [(0, 0, [0.0, 0.0]), (2, 0, [0.0, 0.0])],
        "sub_id INT, cent_id INT, cent_vec ARRAY<DOUBLE>",
    )
    with pytest.raises(ValueError, match="sub_ids not dense"):
        pq_encode_rotated(vecs, np.eye(4), cb2)


class TestQuantizeInt8:
    def test_roundtrip_and_clip(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 1.0, -1.0, 0.5, 2.0, -3.0])],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        r = quantize_int8(df, "vec_id", "embedding", clip=1.0).collect()[0]
        # 0.5*127+0.5 = 64.0 -> floor 64; out-of-range clips to ±127
        assert r.qvec == [0, 127, -127, 64, 127, -127]
        assert r.qnorm_sq == 127 * 127 * 4 + 64 * 64
        assert r.qerr_max >= r.qerr_mean >= 0.0
        # clipped elements dominate the error: |127/127 - 2.0| = 1.0
        assert r.qerr_max == 2.0  # | -127/127 - (-3.0) |

    def test_error_small_in_range(self, spark):
        df = spark.createDataFrame(
            [(1, [0.1, -0.2, 0.33])], "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
        r = quantize_int8(df, "vec_id", "embedding", clip=1.0).collect()[0]
        assert r.qerr_max <= 0.5 / 127 + 1e-9  # half-step bound in range


class TestOpqSampleTrained:
    def test_rotation_orthogonal_and_catalog_shape(self, spark):
        import numpy as np

        from gcpdatapipelines_spark.operators.similarity import opq_train_sample
        from gcpdatapipelines_spark.queries import sim_opq_topk

        emb = spark.createDataFrame(
            [
                (i, [float((i * 7 + j * 3) % 5) - 2.0 for j in range(16)])
                for i in range(40)
            ],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        )
        R, cb = opq_train_sample(
            emb, sample_n=32, m=4, ksub=4, iters=1, kmeans_iter=3
        )
        assert np.allclose(R.T @ R, np.eye(16), atol=1e-8)
        assert cb.count() == 4 * 4
        out = sim_opq_topk(spark, SF_SMOKE)
        rows = out.collect()
        assert len(rows) == 3 * 10  # 3 queries x top-10
        assert {r.q_id for r in rows} == {0, 1, 2}
        # ranks are 1..10 per query, distances non-decreasing in rank
        per_q = {}
        for r in rows:
            per_q.setdefault(r.q_id, []).append((r.rnk, r.adc_dist))
        for q, lst in per_q.items():
            lst.sort()
            assert [t[0] for t in lst] == list(range(1, 11))
            dists = [t[1] for t in lst]
            assert dists == sorted(dists)


class TestPqEncodeLiteralPath:
    def test_matches_join_path_bitwise(self, spark):
        from gcpdatapipelines_spark.io import read_table
        from gcpdatapipelines_spark.operators import similarity as S

        emb = read_table(spark, SF_SMOKE, "embeddings")
        cb = S.pq_build_sample(emb, m=4, ksub=16)
        fast = {r.vec_id: r.code for r in S.pq_encode(emb, cb).collect()}
        join = {
            r.vec_id: r.code
            for r in S.pq_encode(emb, cb, literal_max_entries=0).collect()
        }
        assert fast == join and len(fast) > 0

    def test_literal_path_no_exchange(self, spark):
        from gcpdatapipelines_spark import plans as P
        from gcpdatapipelines_spark.io import read_table
        from gcpdatapipelines_spark.operators import similarity as S

        emb = read_table(spark, SF_SMOKE, "embeddings")
        cb = S.pq_build_sample(emb, m=4, ksub=16)
        assert P.num_exchanges(S.pq_encode(emb, cb)) == 0


def test_binary_hamming_recall_vs_bruteforce(spark):
    """The 1-bit + rerank path must recover most true top-10 neighbors
    (recall@10 >= 0.6 on random-ish data with rerank=50)."""
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.similarity import (
        binary_hamming_topk,
        brute_force_topk,
    )
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(emb, qs, k=10).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in binary_hamming_topk(emb, qs, k=10, rerank=50).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"recall@10 = {recall}"


# ---------------------------------------------------------------------------
# matryoshka_prefix_audit
# ---------------------------------------------------------------------------


def test_matryoshka_norm_fractions(spark):
    from gcpdatapipelines_spark.operators.similarity import (
        matryoshka_prefix_audit,
    )

    # vector with all mass in first 8 dims vs spread evenly over 32
    front = [1.0] * 8 + [0.0] * 24
    flat = [1.0] * 32
    df = spark.createDataFrame(
        [(1, front, 0), (2, flat, 1)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT",
    )
    got = {
        (r["group"], r["dims"]): r["mean_norm_frac"]
        for r in matryoshka_prefix_audit(
            df, label_col="label", prefix_dims=(8, 16, 32)
        ).collect()
    }
    assert got[("0", 8)] == 1.0
    assert abs(got[("1", 8)] - math.sqrt(8 / 32)) < 1e-6
    assert abs(got[("1", 16)] - math.sqrt(16 / 32)) < 1e-6
    assert got[("1", 32)] == 1.0
    # fractions are monotone in dims
    assert got[("1", 8)] <= got[("1", 16)] <= got[("1", 32)]


def test_mmr_rerank_diversifies(spark):
    """MMR must (a) keep the most relevant candidate first, (b) never
    repeat an id, (c) produce scores that are lam*rel - (1-lam)*maxsim
    against the selected prefix (recomputed in the test)."""
    import math

    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.similarity import mmr_rerank

    emb = read_table(spark, SF_SMOKE, "embeddings")
    out = mmr_rerank(emb, query_id=0, k=6, n_cand=15).collect()
    assert [r.rank for r in out] == list(range(6))
    ids = [r.vec_id for r in out]
    assert len(set(ids)) == 6
    assert out[0].mmr == 0.7 * out[0].rel
    # mmr = 0.7*rel - 0.3*maxsim with |maxsim| <= 1 (a NEGATIVE max
    # cosine to the selected set is a diversity bonus, so mmr may
    # exceed 0.7*rel)
    for r in out[1:]:
        assert 0.7 * r.rel - 0.3 - 1e-12 <= r.mmr <= 0.7 * r.rel + 0.3 + 1e-12
        assert not math.isnan(r.mmr)
