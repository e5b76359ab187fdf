"""Round-10 (15th build pass) additions.

- Candidate-growth pins for the banded dedup/ANN families (r9 verdict
  #2): on a planted-duplicate fixture the candidate-pair frame each
  operator verifies must stay O(k*n), never approach the all-pairs
  n*(n-1)/2 — the property that makes the 100 TB claim ("candidates
  grow ~linearly") falsifiable at test scale.
- Shared-prep injection parity: the cached-index paths added in r10
  (seeded cell assignment, winnowing fingerprint table, OPQ
  artifacts) must return results identical to the
  self-building paths.
- pq_encode_rotated rejects ragged/non-dense codebooks loudly (r9
  advice) instead of failing deep inside numpy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow



def _planted_docs(spark, n_clusters=40, dup_per_cluster=4, n_unique=120):
    """Corpus with planted near-duplicate clusters: each cluster shares
    one base sentence with a tiny per-member suffix tweak; uniques are
    all distinct word streams. Vocabulary is wide so unrelated docs
    share almost no 5-gram shingles."""
    rows = []
    doc_id = 0
    for c in range(n_clusters):
        base = " ".join(f"w{c}x{i} token{c} common{i}" for i in range(12))
        for d in range(dup_per_cluster):
            rows.append((doc_id, f"{base} tail{c} variant{d}"))
            doc_id += 1
    for u in range(n_unique):
        rows.append((doc_id, " ".join(f"u{u}q{i} solo{u}z{i}" for i in range(14))))
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING"), doc_id


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


def test_minhash_lsh_candidates_linear_on_planted_dups(spark):
    """LSH band-bucket candidates on the planted corpus stay O(k*n):
    every planted intra-cluster pair is found (recall of the banding at
    near-identical Jaccard ~ 1), and the candidate count never
    approaches all-pairs."""
    from gcpdatapipelines_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
    )

    docs, n = _planted_docs(spark)
    banded = lsh_band_keys(docs, "doc_id", "text", 5, 64, 16)
    n_cand = lsh_candidate_pairs(banded, "doc_id").count()
    n_planted_pairs = 40 * (4 * 3 // 2)  # clusters x C(dup,2)
    all_pairs = n * (n - 1) // 2
    assert n_cand >= n_planted_pairs  # banding finds the planted dups
    assert n_cand <= 6 * n, (n_cand, n)  # linear, with headroom
    assert n_cand < 0.1 * all_pairs, (n_cand, all_pairs)


def test_srp_candidates_linear_on_planted_dups(spark):
    """SRP band candidates on planted embedding clusters: every
    same-direction pair collides in all bands (identical sign
    pattern), yet the candidate frame stays far from all-pairs.

    Key width matters for the linear-growth property: r bits per band
    gives 2^r buckets, so r must scale with log2(n) to hold bucket
    occupancy (hence candidates-per-row) constant — this test runs the
    production shape (8-bit band keys = 256 buckets/band on dim-64
    embeddings); the catalog's oracle entry keeps the narrower 4-bit
    keys that DuckDB restates."""
    from gcpdatapipelines_spark.operators.similarity import srp_candidate_pairs

    vecs, n = _planted_vectors(spark, dim=64)  # axes mode needs dim >= nbits
    n_cand = srp_candidate_pairs(
        vecs, "vec_id", "embedding", nbits=64, bands=8, mode="axes", dim=64
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


def test_phash_candidates_kind_scoped_and_linear(spark):
    """Two-word-signature banding candidates: planted exact payload
    duplicates collide; the kind column partitions the space; count
    stays O(k*n)."""
    from gcpdatapipelines_spark.operators.dedup import (
        banded_two_word_candidates,
    )

    rows = []
    for i in range(300):
        base = i // 3  # triplets share a signature AND a kind
        # Knuth-multiplier spread over the FULL 32-bit word: both
        # 16-bit chunks of each word vary, so unrelated signatures
        # land in distinct band buckets (a %65536 fixture left the
        # high chunks all-zero = one degenerate bucket per band)
        rows.append(
            (
                i,
                ["image", "audio", "video"][base % 3],
                base * 2654435761 % (1 << 32),
                (base * 40503 + 12345) * 2246822519 % (1 << 32),
            )
        )
    sig = spark.createDataFrame(
        rows, "asset_id BIGINT, kind STRING, sig_hi BIGINT, sig_lo BIGINT"
    )
    cand, keys = banded_two_word_candidates(sig, "asset_id", "kind")
    assert keys == ["kind"]
    pdf = cand.toPandas()
    n = 300
    # all 100 planted triplets collide (3 pairs each), chance chunk
    # collisions between distinct signatures stay rare
    n_planted = ((pdf["id_1"] // 3) == (pdf["id_2"] // 3)).sum()
    assert n_planted == 300, n_planted
    assert len(pdf) <= 6 * n, len(pdf)


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


def test_fingerprint_overlap_injection_parity(spark):
    """fingerprint_overlap_pairs(fingerprints=precomputed) matches the
    self-building path."""
    from gcpdatapipelines_spark.operators.text import (
        fingerprint_overlap_pairs,
        winnowing_fingerprints,
    )

    docs, _ = _planted_docs(spark, n_clusters=10, dup_per_cluster=3, n_unique=20)
    kw = dict(k=20, window=8, min_shared=5)
    base = fingerprint_overlap_pairs(docs, "doc_id", "text", **kw)
    fp = winnowing_fingerprints(docs, "doc_id", "text", 20, 8).persist()
    inj = fingerprint_overlap_pairs(docs, "doc_id", "text", **kw, fingerprints=fp)
    b = sorted(map(tuple, base.collect()))
    i = sorted(map(tuple, inj.collect()))
    assert b == i and len(b) > 0
    fp.unpersist()


def test_two_word_banding_bucket_cap(spark):
    """max_bucket drops a planted degenerate chunk bucket (all rows
    sharing one 16-bit piece) the way max_df/max_bucket do in the
    shingle and SRP joins; default None keeps today's exact behavior."""
    from gcpdatapipelines_spark.operators.dedup import banded_two_word_pairs

    # 60 rows all share sig_lo (one degenerate bucket on chunks 0-1);
    # sig_hi words are spread, with one planted near-identical pair
    rows = [
        (i, 7, (i * 2654435761 + 17) % (1 << 32)) for i in range(60)
    ]
    rows.append((60, 7, rows[0][2]))  # exact dup of row 0's sig_hi
    sig = spark.createDataFrame(rows, "doc_id BIGINT, sig_lo BIGINT, sig_hi BIGINT")
    uncapped = banded_two_word_pairs(sig, "doc_id", max_hamming=3).count()
    capped = banded_two_word_pairs(
        sig, "doc_id", max_hamming=3, max_bucket=10
    ).count()
    # uncapped: the shared-sig_lo bucket pairs everything (verify then
    # trims to hamming<=3); capped: only the planted dup survives via
    # its non-degenerate sig_hi chunks
    assert capped == 1, capped
    assert uncapped >= capped


def test_srp_signatures_injection_parity(spark):
    """srp_lsh_pairs(signatures=precomputed) matches the self-building
    path pair-for-pair."""
    from gcpdatapipelines_spark.operators.similarity import (
        srp_lsh_pairs,
        srp_signatures,
    )

    vecs, _ = _planted_vectors(spark, n_clusters=8, dup_per_cluster=3,
                               n_unique=20, dim=32)
    kw = dict(threshold=0.4, nbits=32, bands=8, mode="axes", floor_sim=True)
    base = srp_lsh_pairs(vecs, **kw)
    sig = srp_signatures(vecs, "vec_id", "embedding", nbits=32, bands=8,
                         mode="axes").persist()
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


# ---------------------------------------------------------------------------
# engine-session codegen-cache confs (r10 cold-pass work)
# ---------------------------------------------------------------------------


def test_engine_session_codegen_cache_confs(spark):
    """Engine-built sessions must carry the first-run-latency confs
    from the r10 cold-pass profiling: a widened janino class cache
    (default 100 entries evicts cross-query shared fragments — 4453
    vs 3116 unique compiles over the catalog cold pass) and constant
    generated-class names (the per-plan stage ID otherwise defeats
    the source-keyed compile cache: 3116 -> 2653). Both change
    compile-cache behavior only, never results."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_jaccard_prefix_candidates_lossless(spark):
    """Prefix-filter theorem pin (r10, the 6th probed family): the
    candidate frame of the exact SSJoin contains EVERY pair with
    J >= t (lossless — unlike LSH banding there is no recall trade),
    while still pruning far below all-pairs on the planted corpus."""
    from gcpdatapipelines_spark.operators.dedup import (
        doc_shingles,
        jaccard_prefix_candidates,
        ngram_jaccard_pairs,
    )

    docs, n = _planted_docs(spark)
    sh = doc_shingles(docs, "doc_id", "text", 5).cache()
    t = 0.5
    cand = set(
        (r.id_1, r.id_2)
        for r in jaccard_prefix_candidates(sh, "doc_id", t).collect()
    )
    truth = set(
        (r.id_1, r.id_2)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", 5, t, shingles=sh
        ).collect()
    )
    assert truth, "fixture must plant pairs above threshold"
    assert truth <= cand, sorted(truth - cand)[:5]  # lossless
    all_pairs = n * (n - 1) // 2
    assert len(cand) < 0.1 * all_pairs, (len(cand), all_pairs)
