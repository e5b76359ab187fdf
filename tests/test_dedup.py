"""Dedup operator semantics: exact, fingerprint, n-gram Jaccard,
MinHash-LSH recall, SimHash."""

from __future__ import annotations

import pytest

from pyspark.sql import Row

from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators import dedup as D
from tests.conftest import SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(rows)])


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, ["aaa", "bbb", "aaa", "aaa"])
    out = {r["text"]: r for r in D.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out["aaa"]["doc_id"] == 0 and out["aaa"]["n_copies"] == 3
    assert out["bbb"]["n_copies"] == 1


@pytest.mark.slow
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


@pytest.mark.slow
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
