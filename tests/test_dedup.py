"""operators/dedup.py: exact, fingerprint, n-gram Jaccard and
containment, MinHash-LSH, SimHash, banded two-word candidates and
incremental near-dup admission."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import dedup as D
from tests.conftest import SF_SMOKE, planted_docs


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, ["aaa", "bbb", "aaa", "aaa"])
    out = {r["text"]: r for r in D.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out["aaa"]["doc_id"] == 0 and out["aaa"]["n_copies"] == 3
    assert out["bbb"]["n_copies"] == 1


def test_fingerprint_collapses_formatting(spark):
    df = _docs(spark, ["Hello,  World!", "hello world", "other text"])
    out = D.fingerprint_dedup(df, "text", "doc_id").collect()
    assert len(out) == 2  # the two formatting variants share a fingerprint
    groups = {r["doc_id"]: r["n_copies"] for r in out}
    assert groups[0] == 2


def test_ngram_jaccard_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content with no overlap whatsoever in any way"
    df = _docs(spark, [base, near, far])
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p["id_1"], p["id_2"]) == (0, 1) and 0.3 <= p["jaccard"] < 1.0


def test_ngram_jaccard_identical_docs(spark):
    df = _docs(spark, ["same words here exactly", "same words here exactly"])
    pairs = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.9).collect()
    assert len(pairs) == 1 and pairs[0]["jaccard"] == 1.0


def test_minhash_lsh_recall_on_fixture(spark):
    """LSH candidates must recover the high-similarity pairs the exact
    Jaccard finds (the S-curve guarantees j>=0.8 pairs collide w.h.p.)."""
    docs = read_table(spark, SF_SMOKE, "documents")
    exact = {
        (r["id_1"], r["id_2"])
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", 5, 0.8).collect()
    }
    lsh = {
        (r["id_1"], r["id_2"])
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text", 5, threshold=0.8).collect()
    }
    assert lsh <= exact or not exact  # verified candidates never exceed exact
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} below 0.9 ({len(exact)} true pairs)"


def test_minhash_lsh_planted_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and " * 5
    df = _docs(spark, [
        base,
        base + "with one extra tail clause",
        "entirely different text about columnar shuffles " * 6,
    ])
    got = {
        (r.id_1, r.id_2)
        for r in D.minhash_lsh_pairs(df, "doc_id", "text", n=5, threshold=0.5).collect()
    }
    assert (0, 1) in got and all(2 not in p for p in got)


def test_simhash_identical_docs_zero_hamming(spark):
    df = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta", "unrelated thing"])
    sig = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in D.simhash_md5(df, "doc_id", "text").collect()
    }
    assert sig[0] == sig[1]
    pairs = D.simhash_pairs_md5(df, "doc_id", "text", max_hamming=0).collect()
    assert {(p["id_1"], p["id_2"]) for p in pairs} == {(0, 1)}


def test_simhash_deterministic(spark):
    df = _docs(spark, ["some stable content for hashing"])
    a = D.simhash_md5(df, "doc_id", "text").collect()[0]
    b = D.simhash_md5(df, "doc_id", "text").collect()[0]
    assert (a["sig_hi"], a["sig_lo"]) == (b["sig_hi"], b["sig_lo"])


def test_simhash_pairs_planted_pair(spark):
    # 40 distinct tokens: one extra token flips only bits whose vote
    # margin was exactly +-1 — a handful of the 64 (each bit's margin
    # is a 40-step random walk), comfortably under the pigeonhole cut
    base = " ".join(f"word{i}" for i in range(40))
    df = _docs(spark, [
        base,
        base + " extra",  # one extra token: tiny Hamming drift
        "totally unrelated corpus about broadcast joins " * 5,
    ])
    got = {
        (r.id_1, r.id_2): r.hamming
        for r in D.simhash_pairs_md5(df, "doc_id", "text", max_hamming=8).collect()
    }
    assert (0, 1) in got and all(2 not in p for p in got)


def test_fuzzy_pairs_blocked_semantics(spark):
    from gcpdatapipelines_spark.operators.dedup import fuzzy_pairs_blocked

    df = spark.createDataFrame(
        [
            (1, "spark engine"),
            (2, "spark enginX"),   # distance 1, same block
            (3, "spark engin"),    # distance 1 from id 1
            (4, "Xpark engine"),   # distance 1 BUT different first char -> blocked out
            (5, "totally other"),
        ],
        "id BIGINT, name STRING",
    )
    out = {
        (r["id_1"], r["id_2"]): r["distance"]
        for r in fuzzy_pairs_blocked(df, "id", "name", max_distance=2).collect()
    }
    assert out[(1, 2)] == 1 and out[(1, 3)] == 1 and out[(2, 3)] == 1
    assert (1, 4) not in out  # blocking trade-off: first char differs
    assert all(k[0] < k[1] for k in out)


def test_fuzzy_pairs_blocked_never_cartesian(spark):
    from gcpdatapipelines_spark import plans as PL
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.dedup import fuzzy_pairs_blocked

    p = read_table(spark, SF_SMOKE, "part").select("p_partkey", "p_name")
    strategies = set(PL.join_strategies(fuzzy_pairs_blocked(p, "p_partkey", "p_name")))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


# ---------------------------------------------------------------------------
# duplicated-span detection
# ---------------------------------------------------------------------------


def _span_docs(spark):
    # doc 1 and doc 2 share the 6-token run "one two three four five six"
    # (two overlapping duplicated 5-grams -> ONE merged 6-token span);
    # doc 3 is all-unique text; doc 4 is too short for a 5-gram.
    rows = [
        (1, "one two three four five six unique1a unique1b unique1c"),
        (2, "prefix2a prefix2b one two three four five six tail2a"),
        (3, "only in this document nothing shared here at all"),
        (4, "tiny doc"),
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_duplicated_spans_merges_overlapping_ngrams(spark):
    from gcpdatapipelines_spark.operators.dedup import duplicated_spans

    out = {
        r.doc_id: r.asDict()
        for r in duplicated_spans(_span_docs(spark), "doc_id", "text", n=5).collect()
    }
    # the shared 6-token run = positions {1,2} (doc1) -> one span of 6 tokens
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 6
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 6
    assert out[3]["n_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert out[3]["dup_frac"] == 0.0
    assert 4 not in out  # < n tokens: no shingle, excluded
    import math

    assert out[1]["dup_frac"] == math.floor((6 / 9) * 1e6) / 1e6


def test_duplicated_spans_two_separate_spans(spark):
    from gcpdatapipelines_spark.operators.dedup import duplicated_spans

    rows = [
        (1, "a b c d e GAPX GAPY GAPZ v w x y z"),
        (2, "a b c d e other2 tokens2 here2 v w x y z"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r.asDict() for r in duplicated_spans(df, "doc_id", "text", n=5).collect()}
    # "a b c d e" and "v w x y z" both duplicated, separated by a gap
    assert out[1]["n_spans"] == 2 and out[1]["dup_tokens"] == 10


def test_duplicated_spans_no_pair_join_plan(spark):
    from gcpdatapipelines_spark.operators.dedup import duplicated_spans

    plan = (
        duplicated_spans(_span_docs(spark), "doc_id", "text", n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# prefix-filtered exact Jaccard (All-Pairs / SSJoin)
# ---------------------------------------------------------------------------


def test_jaccard_prefix_equals_exact_all_pairs(spark):
    from gcpdatapipelines_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )
    from gcpdatapipelines_spark.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    for t in (0.3, 0.5):
        exact = {
            (r.id_1, r.id_2, r.jaccard)
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", 5, t).collect()
        }
        pruned = {
            (r.id_1, r.id_2, r.jaccard)
            for r in jaccard_prefix_pairs(docs, "doc_id", "text", 5, t).collect()
        }
        assert pruned == exact  # lossless by the prefix theorem


def test_jaccard_prefix_join_is_smaller_than_full(spark):
    from gcpdatapipelines_spark.operators.dedup import doc_shingles, jaccard_prefix_pairs
    from gcpdatapipelines_spark.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    sh = doc_shingles(docs, "doc_id", "text", 5).cache()
    n_all = sh.count()
    # the prefix side of the candidate join carries ~(1-t) of each
    # doc's shingles; at t=0.5 that's about half the full frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("__n_sh"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("__df", "shingle")),
        )
        .join(sizes, "doc_id")
    )
    plen = F.col("__n_sh") - F.ceil(F.lit(0.5) * F.col("__n_sh")) + 1
    n_pref = ranked.filter(F.col("__rn") <= plen).count()
    assert n_pref < 0.6 * n_all


def test_sorted_neighborhood_finds_adjacent_neardups(spark):
    from gcpdatapipelines_spark.operators.dedup import sorted_neighborhood_pairs

    # a/b share 9 of 10 tokens -> same smallest-3 block, adjacent in
    # the sorted order, jaccard 9/11 ~ 0.818; c is disjoint vocabulary
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    c = "zulu yankee xray whiskey victor uniform tango sierra romeo quebec"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    out = sorted_neighborhood_pairs(
        df, "doc_id", "text", window=4, threshold=0.5
    ).collect()
    pairs = {(r["id_1"], r["id_2"]): r["jaccard"] for r in out}
    assert (1, 2) in pairs and abs(pairs[(1, 2)] - 9 / 11) < 1e-6
    assert all(3 not in p for p in pairs)


def test_sorted_neighborhood_window_bound_is_honest(spark):
    """Five identical-block docs with window=2: only adjacent ranks
    pair — the O(n*w) bound is real, not a hidden all-pairs."""
    from gcpdatapipelines_spark.operators.dedup import sorted_neighborhood_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [(i, base + f" word{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted_neighborhood_pairs(
        df, "doc_id", "text", window=2, threshold=0.1
    ).collect()
    # 5 docs, window 2 -> exactly 4 adjacent pairs, never 10
    assert len(out) == 4


# ---------------------------------------------------------------------------
# Two-word banding: 1-bit multi-probe candidates == 16-bit chunk candidates
# after verify (mm_phash_neardup / dedup_simhash)
# ---------------------------------------------------------------------------


def _verify(cand, max_hamming=3, keys=()):
    ham = F.bit_count(F.col("hi_1").bitwiseXOR(F.col("hi_2"))) + F.bit_count(
        F.col("lo_1").bitwiseXOR(F.col("lo_2"))
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", *keys, "hamming")
    )


def _sig_fixture(spark):
    """Signatures with planted structure: exact dup, 1-bit dup, 3-bit
    dup, 4-bit near-miss (must NOT pair at max_hamming=3), and a pair
    sharing one 16-bit chunk but hamming 8 (old-banding candidate that
    verify rejects — probe banding never even emits it)."""
    base = 0x12345678
    rows = [
        (1, "a", base, 0x0000FFFF),
        (2, "a", base, 0x0000FFFF),            # hamming 0 vs 1
        (3, "a", base ^ 1, 0x0000FFFF),        # hamming 1 vs 1
        (4, "a", base ^ 0x80000000, 0x0000FFFF ^ 3),  # hamming 3 vs 1
        (5, "a", base ^ 0x11, 0x0000FFFF ^ 0x11),     # hamming 4 vs 1
        (6, "b", base, 0x0000FFFF),            # same sig, other kind
        # shares ONLY the low hi-chunk (0x5678) with 1: hamming 8 in
        # the hi word, 32 in the lo word — old-banding candidate,
        # never a probe candidate, rejected by verify either way
        (7, "a", 0x99995678, 0xFFFF0000),
    ]
    return spark.createDataFrame(
        rows, "asset_id BIGINT, kind STRING, sig_hi BIGINT, sig_lo BIGINT"
    )


def test_probe_candidates_match_chunk_pipeline_kinded(spark):
    from gcpdatapipelines_spark.operators.dedup import (
        banded_two_word_candidates,
        banded_two_word_probe_candidates,
    )

    sig = _sig_fixture(spark)
    old_cand, keys = banded_two_word_candidates(sig, "asset_id", "kind")
    new_cand, keys2 = banded_two_word_probe_candidates(sig, "asset_id", "kind")
    assert keys == keys2 == ["kind"]
    old = {tuple(r) for r in _verify(old_cand, 3, ["kind"]).collect()}
    new = {tuple(r) for r in _verify(new_cand, 3, ["kind"]).collect()}
    assert new == old
    assert (1, 2, "a", 0) in new and (1, 3, "a", 1) in new and (1, 4, "a", 3) in new
    assert all(p[:2] != (1, 5) for p in new)      # hamming 4 rejected
    assert all(p[:2] != (1, 6) for p in new)      # cross-kind never pairs
    # probe banding is strictly more selective pre-verify: the
    # chunk-only collision (1,7) is an old candidate but not a probe one
    old_pairs = {(r.id_1, r.id_2) for r in old_cand.collect()}
    new_pairs = {(r.id_1, r.id_2) for r in new_cand.collect()}
    assert (1, 7) in old_pairs and (1, 7) not in new_pairs


def test_probe_candidates_match_chunk_pipeline_unkinded(spark):
    from gcpdatapipelines_spark.operators.dedup import (
        banded_two_word_candidates,
        banded_two_word_probe_candidates,
    )

    sig = _sig_fixture(spark).drop("kind")
    old_cand, _ = banded_two_word_candidates(sig, "asset_id")
    new_cand, _ = banded_two_word_probe_candidates(sig, "asset_id")
    assert {tuple(r) for r in _verify(new_cand).collect()} == {
        tuple(r) for r in _verify(old_cand).collect()
    }


def test_banded_pairs_cap_path_still_uses_chunks(spark):
    """max_bucket (a recall-trading scale knob) keeps the 16-bit chunk
    path — the probe scheme has no bucket notion; semantics pinned by
    test_two_word_banding_bucket_cap, routing pinned here."""
    from gcpdatapipelines_spark.operators.dedup import banded_two_word_pairs

    sig = _sig_fixture(spark).drop("kind")
    # both paths agree when the cap is far above every bucket size
    uncapped = {tuple(r) for r in banded_two_word_pairs(sig, "asset_id").collect()}
    capped = {
        tuple(r)
        for r in banded_two_word_pairs(sig, "asset_id", max_bucket=10_000).collect()
    }
    assert uncapped == capped


# ---------------------------------------------------------------------------
# jaccard prefix: candidate-anchored verify == full formulation
# ---------------------------------------------------------------------------


def test_jaccard_prefix_equals_ngram_jaccard_on_fixture(spark):
    from gcpdatapipelines_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, SF_SMOKE, "documents")
    exact = {
        tuple(r)
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 5, 0.5).collect()
    }
    pref = {
        tuple(r)
        for r in jaccard_prefix_pairs(docs, "doc_id", "text", 5, 0.5).collect()
    }
    assert pref == exact and len(exact) > 0


# ---------------------------------------------------------------------------
# incremental_neardup materialize mode (ADVICE r6: unbounded cache)
# ---------------------------------------------------------------------------


def test_incremental_neardup_materialize_no_cachemanager_entry(spark):
    """materialize=True must not register a CacheManager entry (the
    per-micro-batch leak): localCheckpoint blocks are RDD-owned and
    GC-reclaimed; cache() entries are not."""
    from gcpdatapipelines_spark.operators.dedup import incremental_neardup

    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i % 7} padded for shingles")
         for i in range(40)],
        "doc_id long, text string",
    )
    admitted, delta = incremental_neardup(
        docs, None, "doc_id", "text", materialize=True
    )
    n_admitted = admitted.count()
    n_delta = delta.count()
    assert n_admitted > 0 and n_delta > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_neardup_materialize_matches_cache_mode(spark):
    """Both sharing strategies are physical-only: identical admit set."""
    from gcpdatapipelines_spark.operators.dedup import incremental_neardup

    docs = spark.createDataFrame(
        [(i, f"document body {i % 5} with enough shingle text to band")
         for i in range(30)],
        "doc_id long, text string",
    )
    a1, _ = incremental_neardup(docs, None, "doc_id", "text")
    a2, _ = incremental_neardup(docs, None, "doc_id", "text", materialize=True)
    assert sorted(r.doc_id for r in a1.collect()) == sorted(
        r.doc_id for r in a2.collect()
    )


def test_minhash_lsh_candidates_linear_on_planted_dups(spark):
    """LSH band-bucket candidates on the planted corpus stay O(k*n):
    every planted intra-cluster pair is found (recall of the banding at
    near-identical Jaccard ~ 1), and the candidate count never
    approaches all-pairs."""
    from gcpdatapipelines_spark.operators.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
    )

    docs, n = planted_docs(spark)
    banded = lsh_band_keys(docs, "doc_id", "text", 5, 64, 16)
    n_cand = lsh_candidate_pairs(banded, "doc_id").count()
    n_planted_pairs = 40 * (4 * 3 // 2)  # clusters x C(dup,2)
    all_pairs = n * (n - 1) // 2
    assert n_cand >= n_planted_pairs  # banding finds the planted dups
    assert n_cand <= 6 * n, (n_cand, n)  # linear, with headroom
    assert n_cand < 0.1 * all_pairs, (n_cand, all_pairs)


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

    docs, n = planted_docs(spark)
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


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment = 1.0
    (fires) while Jaccard = |small|/|big| stays below any useful
    threshold — the asymmetric detector's reason to exist."""
    from gcpdatapipelines_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    small = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, small), (2, small + " " + filler)],
        "doc_id BIGINT, text STRING",
    )
    cont = ngram_containment_pairs(
        df, "doc_id", "text", n=5, threshold=0.9
    ).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    jac = ngram_jaccard_pairs(
        df, "doc_id", "text", n=5, threshold=0.3
    ).collect()
    assert jac == []


# ---------------------------------------------------------------------------
# containment report
# ---------------------------------------------------------------------------


def test_containment_report_quote_detection(spark):
    from gcpdatapipelines_spark.operators.dedup import containment_report

    quoted = "alpha beta gamma delta epsilon zeta eta theta"
    big = quoted + " plus a very long unique continuation " + \
        " ".join(f"tok{i}" for i in range(40))
    rows = [
        (1, quoted),               # fully inside doc 2
        (2, big),
        (3, " ".join(f"other{i}" for i in range(30))),  # shares nothing
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in containment_report(
        df, "doc_id", "text", n=5, threshold=0.6
    ).collect()}
    assert out[1].best_container == 2
    assert out[1].containment == 1.0 and out[1].contained
    # the big doc is NOT contained in the small quote
    assert not out[2].contained
    # isolated doc: no container, containment 0
    assert out[3].best_container is None
    assert out[3].containment == 0.0 and not out[3].contained


# ---------------------------------------------------------------------------
# md5-mode hash families (engine-parity MinHash / SimHash / bootstrap)
# ---------------------------------------------------------------------------


def test_minhash_perm_constants_are_valid(spark):
    from gcpdatapipelines_spark.operators.dedup import (
        _MINHASH_P,
        minhash_perm_constants,
    )

    consts = minhash_perm_constants(64)
    assert len(consts) == 64 and len(set(consts)) == 64
    assert all(0 < a < _MINHASH_P and 0 <= b < _MINHASH_P for a, b in consts)


def test_simhash_md5_signature_words_are_32bit(spark):
    from gcpdatapipelines_spark.operators.dedup import simhash_md5

    df = spark.createDataFrame(
        [(1, "some words for hashing here")], "doc_id bigint, text string"
    )
    r = simhash_md5(df, "doc_id", "text").collect()[0]
    assert 0 <= r.sig_hi < 2**32 and 0 <= r.sig_lo < 2**32


# ---------------------------------------------------------------------------
# incremental_neardup: precomputed-keys fast path == compute-fresh path
# ---------------------------------------------------------------------------


def test_incremental_precomputed_keys_path_identical(spark):
    from gcpdatapipelines_spark.operators.dedup import (
        incremental_neardup,
        lsh_band_keys,
    )

    docs = [
        (i, f"the quick brown fox {i} jumps over the lazy dog number {i%7}")
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    corpus = df.filter("doc_id < 30")
    inc = df.filter("doc_id >= 30")
    state = lsh_band_keys(corpus, "doc_id", "text")
    fresh, _ = incremental_neardup(inc, state, "doc_id", "text")
    pre = lsh_band_keys(inc, "doc_id", "text")
    fast, _ = incremental_neardup(inc, state, "doc_id", "text", precomputed_keys=pre)
    assert sorted(r.doc_id for r in fresh.collect()) == sorted(
        r.doc_id for r in fast.collect()
    )
