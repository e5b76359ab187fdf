"""operators/text.py: tokenizing, chunking, retrieval scoring and
winnowing fingerprints."""

from __future__ import annotations

from pyspark.sql import Row

from gcpdatapipelines_spark.operators import text as T
from gcpdatapipelines_spark.operators.text import chunk_overlap
from tests.conftest import SF_SMOKE, planted_docs


def _one(spark, text):
    return spark.createDataFrame([Row(doc_id=0, text=text)])


def test_token_stats_counts(spark):
    out = T.token_stats(_one(spark, "Hello world, 42 times!"), "doc_id", "text").collect()[0]
    assert out["n_chars"] == 22
    assert out["n_words"] == 4  # Hello, world, 42, times
    # tokens: Hello | world | , | 42 | times | !
    assert out["n_tokens"] == 6


def test_quality_keep_flag(spark):
    good = (
        "the quick brown fox jumps over the lazy dog and runs to the hills "
        "for a while longer here and then comes back home for dinner"
    )
    bad = "!!! ??? *** !!! ??? ***"
    rows = {
        r["doc_id"]: r
        for r in T.quality_score(
            spark.createDataFrame(
                [Row(doc_id=0, text=good), Row(doc_id=1, text=bad)]
            ),
            "doc_id",
            "text",
        ).collect()
    }
    assert rows[0]["keep"] == 1
    assert rows[1]["keep"] == 0
    assert rows[1]["punct_ratio"] > 0.5


def test_langid_english(spark):
    out = T.lang_scores(
        _one(spark, "the cat and the dog went to the park in a hurry"), "doc_id", "text"
    ).collect()[0]
    assert out["pred_lang"] == "en" and out["en_hits"] >= 4


def test_langid_german(spark):
    out = T.lang_scores(
        _one(spark, "der hund und die katze ist ein tier nicht mit"), "doc_id", "text"
    ).collect()[0]
    assert out["pred_lang"] == "de"


def test_langid_cjk(spark):
    out = T.lang_scores(_one(spark, "这是一个中文句子"), "doc_id", "text").collect()[0]
    assert out["pred_lang"] == "zh" and out["zh_hits"] >= 5


def test_langid_unknown(spark):
    out = T.lang_scores(_one(spark, "zzz qqq xxx"), "doc_id", "text").collect()[0]
    assert out["pred_lang"] == "und"


def test_winnowing_same_text_same_fingerprints(spark):
    from pyspark.sql import Row
    from gcpdatapipelines_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [Row(doc_id=0, text="the quick brown fox jumps over the lazy dog"),
         Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
         Row(doc_id=2, text="completely unrelated writing with other words")]
    )
    fp = winnowing_fingerprints(df, "doc_id", "text")
    sets = {
        r["doc_id"]: set()
        for r in df.collect()
    }
    for r in fp.collect():
        sets[r["doc_id"]].add(r["fingerprint"])
    assert sets[0] == sets[1] and sets[0]
    assert sets[0] != sets[2]


def test_winnowing_robust_to_small_edit(spark):
    from pyspark.sql import Row
    from gcpdatapipelines_spark.operators.text import winnowing_fingerprints

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    edited = base.replace("lazy", "late")
    df = spark.createDataFrame([Row(doc_id=0, text=base), Row(doc_id=1, text=edited)])
    fp = winnowing_fingerprints(df, "doc_id", "text")
    sets = {0: set(), 1: set()}
    for r in fp.collect():
        sets[r["doc_id"]].add(r["fingerprint"])
    inter = len(sets[0] & sets[1])
    union = len(sets[0] | sets[1])
    assert inter / union > 0.5, (inter, union)


def test_fingerprint_overlap_pairs_finds_near_dups(spark):
    from pyspark.sql import Row
    from gcpdatapipelines_spark.operators.text import fingerprint_overlap_pairs

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    df = spark.createDataFrame(
        [Row(doc_id=0, text=base),
         Row(doc_id=1, text=base.replace("dog", "cat")),
         Row(doc_id=2, text="nothing in common with those documents at all here")]
    )
    pairs = {(r["id_1"], r["id_2"]) for r in
             fingerprint_overlap_pairs(df, "doc_id", "text", min_shared=5).collect()}
    assert (0, 1) in pairs and (0, 2) not in pairs


def test_redact_emails_and_numbers(spark):
    out = T.redact(
        _one(spark, "mail bob.smith@example.com or call 555 1234 x7"), "text"
    ).collect()[0]
    assert out["redacted"] == "mail <email> or call <num> <num> x<num>"


def test_redact_plain_text_unchanged(spark):
    out = T.redact(_one(spark, "no pii here at all"), "text").collect()[0]
    assert out["redacted"] == "no pii here at all"


def test_vocab_topk_order_and_ties(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(doc_id=0, text="b b b a a c"), Row(doc_id=1, text="a c d")]
    )
    rows = [(r["token"], r["n"]) for r in T.vocab_topk(df, "text", k=3).collect()]
    assert rows == [("a", 3), ("b", 3), ("c", 2)]  # tie a/b broken by token


def test_pack_chunks_crosses_boundaries(spark):
    """Docs pack end-to-end per shard; a doc straddling a chunk
    boundary lands in both chunks; empty docs emit nothing."""
    from pyspark.sql import functions as F

    # one shard (num_shards=1): 'a b c' = 3 tokens each, chunk size 4
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f"), (2, ""), (3, "g h i")],
        "doc_id BIGINT, text STRING",
    )
    out = T.pack_chunks(docs, "doc_id", "text", chunk_tokens=4, num_shards=1)
    got = {(r["doc_id"], r["chunk_id"]) for r in out.collect()}
    # offsets: doc0 [0,3) -> chunk 0; doc1 [3,6) -> chunks 0,1;
    # doc2 empty -> none; doc3 [6,9) -> chunks 1,2
    assert got == {(0, 0), (1, 0), (1, 1), (3, 1), (3, 2)}
    starts = {r["doc_id"]: r["start_tok"] for r in out.collect()}
    assert starts == {0: 0, 1: 3, 3: 6}


def test_pack_chunks_shards_independent(spark):
    """Offsets restart per shard: with num_shards=2, even and odd ids
    each pack from offset 0."""
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "c d"), (2, "e f"), (3, "g h")],
        "doc_id BIGINT, text STRING",
    )
    out = T.pack_chunks(docs, "doc_id", "text", chunk_tokens=100, num_shards=2)
    rows = {r["doc_id"]: (r["shard"], r["start_tok"]) for r in out.collect()}
    assert rows == {0: (0, 0), 2: (0, 2), 1: (1, 0), 3: (1, 2)}


def test_tfidf_surfaces_distinctive_term(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "the bird flew over the hill"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = T.tfidf_top_terms(docs, "doc_id", "text", k=1).collect()
    top = {r["doc_id"]: r["token"] for r in out}
    # 'the'/'on'/'sat' are shared -> low idf; the unique nouns win
    assert top[1] in {"cat", "mat"}
    assert top[2] in {"dog", "log"}
    assert top[3] in {"bird", "flew", "hill", "over"}


def test_contamination_fractions(spark):
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark.operators.dedup import doc_shingles

    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (10, bench_text),  # benchmark doc (id % 10 == 0)
            (11, bench_text),  # fully contaminated candidate
            (12, "one two three four five six"),  # clean candidate
        ],
        "doc_id BIGINT, text STRING",
    )
    sh = doc_shingles(docs, "doc_id", "text", 5)
    out = {
        r["doc_id"]: r["contamination"]
        for r in T.contamination_overlap(
            sh, "doc_id", (F.col("doc_id") % 10) == 0
        ).collect()
    }
    assert out[11] == 1.0
    assert out[12] == 0.0
    assert 10 not in out  # benchmark side excluded from candidates


def test_repetition_stats_hand_computed(spark):
    # "a b a b a": 5 words, 2 distinct, top word "a" x3,
    # bigrams: "a b","b a","a b","b a" -> top bigram x2
    out = T.repetition_stats(_one(spark, "a b a b a"), "doc_id", "text").collect()[0]
    assert out["n_words"] == 5
    assert out["dup_word_frac"] == 0.6
    assert out["top_word_frac"] == 0.6
    assert out["top_bigram_frac"] == 0.4
    assert out["keep"] == 0


def test_repetition_stats_unique_doc_keeps(spark):
    out = T.repetition_stats(
        _one(spark, "one two three four five six seven eight"), "doc_id", "text"
    ).collect()[0]
    assert out["dup_word_frac"] == 0.0
    assert out["top_word_frac"] == 0.125
    assert out["keep"] == 1


def test_repetition_stats_single_word(spark):
    # no bigrams at all: fraction coalesces to 0, doc still present
    out = T.repetition_stats(_one(spark, "solo"), "doc_id", "text").collect()[0]
    assert out["n_words"] == 1
    assert out["top_bigram_frac"] == 0.0


def test_unigram_surprisal_hand_computed(spark):
    import math

    # corpus: "a a b" + "a c" -> counts a=3, b=1, c=1, total=5
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id BIGINT, text STRING"
    )
    out = {
        r["doc_id"]: r for r in T.unigram_surprisal(docs, "doc_id", "text").collect()
    }
    ln = math.log
    s_a = round(ln(5 / 3), 6)
    s_b = round(ln(5 / 1), 6)
    # doc 1: (2*s_a + s_b) / 3, each term rounded then decimal-summed
    exp1 = round((round(2 * s_a, 6) + round(s_b, 6)) / 3, 6)
    exp2 = round((round(s_a, 6) + round(s_b, 6)) / 2, 6)
    assert out[1]["n_tok"] == 3
    assert out[2]["n_tok"] == 2
    assert abs(out[1]["surprisal"] - exp1) < 1e-9
    assert abs(out[2]["surprisal"] - exp2) < 1e-9


def test_unigram_surprisal_rare_tokens_score_higher(spark):
    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "the quetzalcoatl zyzzyva obelisk"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {
        r["doc_id"]: r["surprisal"]
        for r in T.unigram_surprisal(docs, "doc_id", "text").collect()
    }
    assert out[2] > out[1]


# ---------------------------------------------------------------------------
# bigram_nll
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.text import bigram_nll  # noqa: E402


def test_bigram_nll_hand_model(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")],
        "doc_id BIGINT, text STRING",
    )
    out = {r.doc_id: r for r in bigram_nll(docs, "doc_id", "text", k=0.5).collect()}
    # corpus bigrams: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b)
    # c(a,b)=3, c(b,a)=1, c(a,.)=3, c(b,.)=1, V=3 (a, b, x)
    lp_ab = round(math.log((3 + 0.5) / (3 + 0.5 * 3)), 9)
    lp_ba = round(math.log((1 + 0.5) / (1 + 0.5 * 3)), 9)
    assert out[1].n_bigrams == 3
    assert out[1].nll == round(-(2 * lp_ab + lp_ba) / 3, 6)
    assert out[2].n_bigrams == 1
    assert out[2].nll == round(-lp_ab, 6)
    assert 3 not in out  # single-token doc has no bigrams


def test_bigram_nll_plan_no_window_no_cartesian(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id BIGINT, text STRING")
    plan = bigram_nll(docs, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # bigrams come from the narrow transform


# ---------------------------------------------------------------- line dedup


def test_line_dedup_keeps_first_occurrence_only(spark):
    # 8-token lines; doc 1 repeats doc 0's first line verbatim, then
    # has a unique line. The repeat must be dropped FROM DOC 1 (doc 0
    # is the first owner by (doc_id, pos)).
    line_a = "a b c d e f g h"
    line_b = "p q r s t u v w"
    line_c = "x y z x y z x y"
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{line_a} {line_b}"),
            Row(doc_id=1, text=f"{line_a} {line_c}"),
        ]
    )
    rows = {
        r["doc_id"]: r for r in T.line_dedup(df, "doc_id", "text").collect()
    }
    assert rows[0]["n_lines"] == 2 and rows[0]["n_dropped"] == 0
    assert rows[0]["clean_text"] == f"{line_a} {line_b}"
    assert rows[1]["n_lines"] == 2 and rows[1]["n_dropped"] == 1
    assert rows[1]["clean_text"] == line_c


def test_line_dedup_intra_doc_and_gutted(spark):
    # the same line twice WITHIN one doc dedups to one copy; a doc
    # made entirely of already-seen lines is gutted to empty text
    line_a = "a b c d e f g h"
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=f"{line_a} {line_a}"),
            Row(doc_id=1, text=line_a),
        ]
    )
    rows = {
        r["doc_id"]: r for r in T.line_dedup(df, "doc_id", "text").collect()
    }
    assert rows[0]["n_kept"] == 1 and rows[0]["clean_text"] == line_a
    assert rows[1]["n_kept"] == 0 and rows[1]["clean_text"] == ""


def test_line_dedup_partial_tail_line(spark):
    # 10 tokens -> one full 8-token line + one 2-token tail line
    df = spark.createDataFrame([Row(doc_id=0, text="a b c d e f g h i j")])
    out = T.line_dedup(df, "doc_id", "text").collect()[0]
    assert out["n_lines"] == 2 and out["n_kept"] == 2
    assert out["clean_text"] == "a b c d e f g h i j"


# --------------------------------------------------------------- gopher gate


def test_gopher_rules_flags(spark):
    # 60 words incl. >=2 gopher stopwords, mean word length in range
    good = " ".join(
        ["the", "and", "that", "have"] + ["word"] * 56
    )
    short = "tiny doc with few words"  # fails word-count bound
    df = spark.createDataFrame(
        [Row(doc_id=0, text=good), Row(doc_id=1, text=short)]
    )
    rows = {
        r["doc_id"]: r for r in T.gopher_rules(df, "doc_id", "text").collect()
    }
    g = rows[0]
    assert g["n_words"] == 60 and g["f_word_count"] == 1
    assert g["f_mean_len"] == 1 and g["f_alpha"] == 1
    assert g["stop_hits"] == 4 and g["f_stopwords"] == 1
    assert g["keep"] == 1
    s = rows[1]
    assert s["f_word_count"] == 0 and s["keep"] == 0
    # "with" is a gopher stopword; only 1 distinct hit -> rule fails
    assert s["stop_hits"] == 1 and s["f_stopwords"] == 0


def test_gopher_symbol_and_mean_len_rules(spark):
    hashy = " ".join(["#tag"] * 60)  # 60 hashes / 60 words = 1.0 > 0.1
    longw = " ".join(["supercalifragilistic"] * 60)  # mean len 20 > 10
    df = spark.createDataFrame(
        [Row(doc_id=0, text=hashy), Row(doc_id=1, text=longw)]
    )
    rows = {
        r["doc_id"]: r for r in T.gopher_rules(df, "doc_id", "text").collect()
    }
    assert rows[0]["f_symbol"] == 0
    assert rows[1]["f_mean_len"] == 0 and rows[1]["keep"] == 0


# ---------------------------------------------------------------------------
# winnowing: the k-gram hash must stay inside codegen (no interpreted HOF)
# ---------------------------------------------------------------------------


def test_winnowing_hashes_in_codegen_not_hof(spark):
    """The per-gram hash must be a plain per-row expression after an
    explode of the position range — a higher-order transform() lambda
    is INTERPRETED row-by-row and dominated the operator at ~300
    grams/doc (r7: 6.5 -> 4.2 s solo at sf0.1 from this change
    alone)."""
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.text import winnowing_fingerprints

    d = read_table(spark, SF_SMOKE, "documents")
    out = winnowing_fingerprints(d, "doc_id", "text", k=20, window=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "transform(" not in plan  # no interpreted HOF on the hot path
    assert "explode(sequence(" in plan
    # and the gram hashing semantics: first/last full windows included
    rows = out.groupBy().count().first()[0]
    assert rows > 0


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

    d = read_table(spark, SF_SMOKE, "documents")
    out = winnowing_fingerprints(d, "doc_id", "text", k=20, window=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one explicit repartition on doc_id (pre-explode; AQE renders the
    # later distinct exchange only at runtime), and the window itself
    # adds NO exchange — no shuffle key ever contains the gram hash
    assert "REPARTITION_BY_NUM" in plan and "hashpartitioning(doc_id" in plan
    assert plan.count("Exchange") <= 2, plan
    assert "hashpartitioning(h#" not in plan and "hashpartitioning(pos" not in plan


def test_fingerprint_overlap_injection_parity(spark):
    """fingerprint_overlap_pairs(fingerprints=precomputed) matches the
    self-building path."""
    from gcpdatapipelines_spark.operators.text import (
        fingerprint_overlap_pairs,
        winnowing_fingerprints,
    )

    docs, _ = planted_docs(spark, n_clusters=10, dup_per_cluster=3, n_unique=20)
    kw = dict(k=20, window=8, min_shared=5)
    base = fingerprint_overlap_pairs(docs, "doc_id", "text", **kw)
    fp = winnowing_fingerprints(docs, "doc_id", "text", 20, 8).persist()
    inj = fingerprint_overlap_pairs(docs, "doc_id", "text", **kw, fingerprints=fp)
    b = sorted(map(tuple, base.collect()))
    i = sorted(map(tuple, inj.collect()))
    assert b == i and len(b) > 0
    fp.unpersist()


class TestChunkOverlap:
    def _doc(self, spark, n_tokens):
        text = " ".join(f"w{i:03d}" for i in range(1, n_tokens + 1))
        return spark.createDataFrame([(1, text)], "doc_id BIGINT, text STRING")

    def test_short_doc_single_chunk(self, spark):
        out = chunk_overlap(self._doc(spark, 10), "doc_id", "text", 64, 48).collect()
        assert len(out) == 1
        assert out[0].chunk_tokens == 10 and out[0].start_tok == 1

    def test_overlap_and_tail(self, spark):
        # 100 tokens, window 64 stride 48: chunks at 1 (1-64) and 49 (49-100)
        out = sorted(
            chunk_overlap(self._doc(spark, 100), "doc_id", "text", 64, 48).collect(),
            key=lambda r: r.start_tok,
        )
        assert [(r.start_tok, r.chunk_tokens) for r in out] == [(1, 64), (49, 52)]
        # the overlap region (tokens 49-64) appears in both chunks
        assert out[0].chunk_text.split()[48:] == out[1].chunk_text.split()[:16]

    def test_no_redundant_tail(self, spark):
        # 60 tokens: chunk 1 covers 1-60 entirely; start 49 must NOT emit
        out = chunk_overlap(self._doc(spark, 60), "doc_id", "text", 64, 48).collect()
        assert [(r.start_tok, r.chunk_tokens) for r in out] == [(1, 60)]


class TestInvertedIndex:
    def test_postings_sorted_and_banded(self, spark):
        docs = spark.createDataFrame(
            [
                (3, "apple banana"),
                (1, "apple apple cherry"),
                (2, "apple banana durian"),
            ],
            "doc_id BIGINT, text STRING",
        )
        from gcpdatapipelines_spark.operators.text import inverted_index

        out = {r.token: r for r in
               inverted_index(docs, "doc_id", "text", min_df=2).collect()}
        # 'apple' in all 3 docs (repeats collapse), postings sorted
        assert out["apple"].df == 3 and out["apple"].postings == [1, 2, 3]
        assert out["banana"].df == 2 and out["banana"].postings == [2, 3]
        # singletons dropped by min_df
        assert "cherry" not in out and "durian" not in out

    def test_max_df_cap(self, spark):
        docs = spark.createDataFrame(
            [(i, "stop word" if i else "stop") for i in range(4)],
            "doc_id BIGINT, text STRING",
        )
        from gcpdatapipelines_spark.operators.text import inverted_index

        out = {r.token for r in
               inverted_index(docs, "doc_id", "text", 2, max_df=3).collect()}
        assert out == {"word"}  # 'stop' df=4 exceeds the cap


class TestSparseCosine:
    def test_identical_docs_most_similar(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "apple banana cherry"),
                (1, "apple banana cherry"),
                (2, "durian elderberry fig"),
                (3, "apple zebra yak"),
            ],
            "doc_id BIGINT, text STRING",
        )
        from gcpdatapipelines_spark.operators.text import sparse_cosine_topk

        out = sparse_cosine_topk(docs, "doc_id", "text", query_max_id=1, k=3)
        rows = sorted(out.collect(), key=lambda r: r.rnk)
        # doc 1 is word-identical to query doc 0 -> rank 1, cosine 1.0
        assert rows[0].doc_id == 1 and abs(rows[0].cos_sim - 1.0) < 1e-9
        # doc 2 shares no tokens -> absent from candidates entirely
        assert all(r.doc_id != 2 for r in rows)


class TestHashingFeatures:
    def test_counts_and_width(self, spark):
        from gcpdatapipelines_spark.operators.text import hashing_features

        docs = spark.createDataFrame(
            [(1, "apple apple banana"), (2, "apple")],
            "doc_id BIGINT, text STRING",
        )
        out = {r.doc_id: r.features for r in
               hashing_features(docs, "doc_id", "text", dim=16).collect()}
        assert len(out[1]) == 16 and len(out[2]) == 16
        assert sum(out[1]) == 3 and sum(out[2]) == 1
        # same token -> same slot: doc1's apple slot holds 2, doc2's 1
        import hashlib
        slot = int(hashlib.md5(b"apple").hexdigest()[:8], 16) % 16
        assert out[1][slot] == 2 and out[2][slot] == 1


def test_bm25_matches_python_model(spark):
    import math

    from gcpdatapipelines_spark.operators.text import bm25_topk

    corpus = {
        1: "spark join fast table spark",
        2: "join window stream",
        3: "table row filter value",
        4: "spark spark spark spark window",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    terms = ["spark", "window"]
    got = {r["doc_id"]: r["bm25"] for r in bm25_topk(df, "doc_id", "text", terms).collect()}

    toks = {d: t.split() for d, t in corpus.items()}
    n, avgdl = len(toks), sum(map(len, toks.values())) / len(toks)
    dfreq = {t: sum(t in v for v in toks.values()) for t in terms}
    exp = {}
    for d, v in toks.items():
        s = 0.0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += round(idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len(v) / avgdl)), 9)
        if s:
            exp[d] = round(s, 6)
    assert got == exp
    # doc 4 (4x spark) must outrank doc 1 (2x spark) despite saturation
    assert got[4] > got[1]


# ---------------------------------------------------------------------------
# rake_keywords
# ---------------------------------------------------------------------------


def test_rake_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.text import rake_keywords

    docs = [
        (1, "deep learning of the deep neural network"),
        (2, "neural network training and deep learning"),
    ]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    got = {
        r["phrase"]: (r["n_occur"], r["rake_score"])
        for r in rake_keywords(df, "doc_id", "text", top=10).collect()
    }

    # phrases: doc1 -> [deep learning], [deep neural network]
    #          doc2 -> [neural network training], [deep learning]
    phrases = [
        ["deep", "learning"],
        ["deep", "neural", "network"],
        ["neural", "network", "training"],
        ["deep", "learning"],
    ]
    freq, deg = {}, {}
    for p in phrases:
        for w in p:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(p)
    score = {w: deg[w] / freq[w] for w in freq}
    want = {}
    for p in phrases:
        text = " ".join(p)
        s = round(sum(score[w] for w in p), 6)
        n, _ = want.get(text, (0, s))
        want[text] = (n + 1, s)
    assert got == want


def test_rake_top_k_ordering(spark):
    from gcpdatapipelines_spark.operators.text import rake_keywords

    docs = [(i, "alpha beta gamma of delta") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    out = rake_keywords(df, "doc_id", "text", top=1).collect()
    assert len(out) == 1
    # "alpha beta gamma" (len 3, score 9) beats "delta" (score 1)
    assert out[0]["phrase"] == "alpha beta gamma"
    assert out[0]["n_occur"] == 5


# ---------------------------------------------------------------------------
# winnowing md5 mode (oracle-expressible fingerprints)
# ---------------------------------------------------------------------------


def test_winnowing_md5_mode_same_pairs_semantics(spark):
    from gcpdatapipelines_spark.operators.text import fingerprint_overlap_pairs

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        (1, base),
        (2, base + " with a tiny suffix edit"),
        (3, "completely different content about spark shuffles " * 6),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_1, r.id_2)
        for r in fingerprint_overlap_pairs(
            df, "doc_id", "text", k=8, window=4, min_shared=5,
            max_df=None,
        ).collect()
    }
    assert (1, 2) in got
    assert all(3 not in pair for pair in got)


def test_winnowing_md5_fingerprints_are_hex_strings(spark):
    from gcpdatapipelines_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame([(1, "abcdefghijklmnop")], "doc_id bigint, text string")
    rows = winnowing_fingerprints(df, "doc_id", "text", k=4, window=2).collect()
    assert rows and all(
        isinstance(r.fingerprint, str) and len(r.fingerprint) == 16 for r in rows
    )
