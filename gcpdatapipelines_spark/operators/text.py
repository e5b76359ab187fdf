"""Text-analysis operators for training-data pipelines (north-star
extension; fixture table ``documents``).

All scalar, all built-in expressions (regexp_count/length/arithmetic)
— they run inside whole-stage codegen and are trivially
oracle-expressible. Patterns are kept to the regex subset where Java
(Spark) and RE2 (DuckDB) agree, so both engines count identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .portable import trunc_dp

TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
WORD_PATTERN = "[A-Za-z0-9]+"

# small built-in stopword lists for the n-gram language heuristic;
# deliberately tiny and hard-coded so the oracle SQL can inline them
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "por"],
}

EN_STOPWORDS = STOPWORDS["en"]


def token_count(col: Column) -> Column:
    """BPE-ish token count: alpha runs, digit runs, and single
    punctuation marks each count as one token."""
    return F.regexp_count(col, F.lit(TOKEN_PATTERN))


def word_count(col: Column) -> Column:
    return F.regexp_count(col, F.lit(WORD_PATTERN))


def _stopword_hits(col: Column, words: list[str]) -> Column:
    """Occurrences of any listed stopword, word-boundary delimited."""
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document token statistics."""
    t = F.col(text_col)
    return df.select(
        id_col,
        F.length(t).alias("n_chars"),
        word_count(t).alias("n_words"),
        token_count(t).alias("n_tokens"),
        F.round(F.length(t) / F.greatest(word_count(t), F.lit(1)), 4).alias(
            "chars_per_word"
        ),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic quality signals: length, punctuation/digit density,
    stopword ratio, and a composite keep-flag — the shape of a
    pretraining quality filter (thresholds are demo values)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.greatest(word_count(t), F.lit(1))
    punct = F.regexp_count(t, F.lit(r"[^A-Za-z0-9\s]"))
    digits = F.regexp_count(t, F.lit("[0-9]"))
    stop = _stopword_hits(t, EN_STOPWORDS)
    out = df.select(
        id_col,
        n_chars.alias("n_chars"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(digits / F.greatest(n_chars, F.lit(1)), 6).alias("digit_ratio"),
        F.round(stop / n_words, 6).alias("stopword_ratio"),
    )
    return out.withColumn(
        "keep",
        (
            (F.col("n_chars") >= 100)
            & (F.col("punct_ratio") < 0.1)
            & (F.col("digit_ratio") < 0.3)
        ).cast("int"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 7,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken's MOSS): hash every character k-gram,
    keep the minimum hash of each sliding window of ``window`` hashes,
    dedupe. Near-duplicate documents share most selected fingerprints
    even under edits, and the selected set is position-robust.

    Fingerprints are the first 16 hex chars of md5(k-gram), window
    minima taken lexicographically. Winnowing only needs a CONSISTENT
    hash order, not a specific hash — and md5 is the one hash both
    Spark and DuckDB compute identically, which makes the whole
    select-minima pipeline oracle-checkable end-to-end (the seeded IVF
    quantizer's trick applied to fingerprinting).

    Shape: explode the POSITION range first (codegen), then hash each
    k-gram as a plain per-row expression — higher-order ``transform``
    lambdas are INTERPRETED in Spark, and at ~300 grams/doc the
    interpreted md5 closure dominated the whole operator (r7 measured:
    the explode-then-compute form runs the identical 1.4M-hash
    workload at sf0.1 in a fraction of the time because the md5+substr
    stays inside WholeStageCodegen). The exploded text column is
    projected away before the window's doc-keyed exchange, so only
    (id, pos, hash) ever shuffles. One output row per
    (doc, fingerprint)."""
    from pyspark.sql import Window

    # Exchange BEFORE the fan-out: the window below requires a doc_id
    # hash exchange anyway, but left to Catalyst it lands AFTER the
    # explode and shuffles ~(L-k) gram rows per doc (~40x the text
    # bytes). Repartitioning the raw docs by doc_id first (a) moves
    # that mandatory exchange to the small pre-explode rows and (b)
    # parallelizes the explode+hash fan-out, which Spark otherwise
    # under-partitions because scan splits are sized by input BYTES
    # (one 600 KB parquet = one core doing 1.4M md5s — measured 3 s of
    # the operator's 4.4 s at sf0.1). Explicit partition count so AQE
    # doesn't coalesce the small exchange back to one partition.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(n_parts, F.col(id_col))

    t = F.col(text_col)
    n_grams = F.greatest(F.length(t) - (k - 1), F.lit(1))
    grams = df.select(
        id_col,
        t.alias("__t"),
        # __n (grams per doc) is pure arithmetic on length(text) — carry
        # it from the scan instead of a second whole-partition count()
        # window, which cost a full extra WindowExec pass over every
        # exploded row (same partitioning, different frame, so Catalyst
        # could not fuse it with the min() window)
        n_grams.alias("__n"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("pos"),
    )
    gram = F.col("__t").substr(F.col("pos"), F.lit(k))
    exploded = grams.select(id_col, "pos", "__n", F.md5(gram).substr(1, 16).alias("h"))
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    mins = exploded.select(
        id_col, F.col("pos"), F.col("__n"),
        F.min("h").over(w).alias("fingerprint"),
    )
    # windows that extend past the end are partial; keep them only when
    # the doc has fewer hashes than one window. pos is 1-BASED (it is
    # the substr offset), so the last full window starts at
    # pos == __n - window + 1.
    valid = mins.filter(
        (F.col("pos") <= F.col("__n") - window + 1) | (F.col("__n") < window)
    )
    return valid.select(id_col, "fingerprint").distinct()


def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 7,
    window: int = 4,
    min_shared: int = 10,
    max_df: int | None = 20,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints —
    equi-join on fingerprint, count shared per pair.

    ``max_df`` drops fingerprints appearing in more than max_df
    documents before the self-join: boilerplate k-grams (headers,
    shared vocabulary) carry no near-dup signal but square the join
    output — the same stop-shingle skew treatment as
    dedup.ngram_jaccard_pairs. Set None to disable.

    ``fingerprints``: a precomputed (persisted) winnowing_fingerprints
    frame for the same (df, k, window) — three consumers
    (df-cap counts + both self-join sides) read it, so callers with a
    corpus-scoped cache (the queries._winnowing_fp prep) skip the triple
    recompute. Identical results either way."""
    # deliberately NOT cached operator-internally: an internal cache()
    # cannot unpersist under the lazy return contract, and measured
    # repeated catalog calls degraded as entries accumulated (r8:
    # 4.9 -> 10 s by call 3) while warm uncached runs hold ~2.2 s after
    # the pre-explode repartition. Session-scoped caching belongs to
    # the caller via the ``fingerprints`` parameter.
    fp = (
        fingerprints
        if fingerprints is not None
        else winnowing_fingerprints(df, id_col, text_col, k, window)
    )
    if max_df is not None:
        keep = (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("fingerprint")
        )
        fp = fp.join(keep, "fingerprint")
    a = fp.select(F.col(id_col).alias("id_1"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_2"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def vocab_topk(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency, ties broken by
    token text (deterministic). explode -> partial-agg count -> global
    TakeOrdered(k) — the count shuffle is one row per DISTINCT token
    (map-side combined), and the top-k never sorts the full vocabulary:
    each partition keeps k candidates, the driver merges."""
    from .dedup import tokens

    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(k)
    )


def redact(df: DataFrame, text_col: str, out_col: str = "redacted") -> DataFrame:
    """Scrub numbers and email-shaped spans to typed placeholders —
    the PII-hygiene pass of a corpus pipeline, as two JVM-side
    regexp_replace ops (patterns stay in the Java/RE2 common subset so
    the DuckDB oracle reproduces them exactly)."""
    emails = F.regexp_replace(
        F.col(text_col), r"[A-Za-z0-9.]+@[A-Za-z0-9.]+", "<email>"
    )
    return df.withColumn(out_col, F.regexp_replace(emails, r"[0-9]+", "<num>"))


def pack_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    num_shards: int = 8,
) -> DataFrame:
    """Sequence packing (concat-then-chunk): lay documents end-to-end
    in id order and assign each to every fixed-size context window it
    overlaps — the layout step of LLM-pretraining tokenization.

    Scale shape: offsets are computed WITHIN hash shards
    (``pmod(id, num_shards)``), so the running-sum window partitions
    by shard instead of forcing a global single-partition sort; each
    shard packs independently, exactly how sharded pretraining
    pipelines pack per output file. One row per (doc, chunk_id);
    zero-token documents occupy no window and emit nothing.
    """
    from pyspark.sql import Window

    n_tok = token_count(F.col(text_col)).cast("long")
    t = df.select(
        id_col,
        F.pmod(F.col(id_col), F.lit(num_shards)).alias("shard"),
        n_tok.alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    start = F.col("cum") - F.col("n_tok")
    return (
        c.filter(F.col("n_tok") > 0)
        .select(
            id_col,
            "shard",
            "n_tok",
            start.alias("start_tok"),
            F.explode(
                F.sequence(
                    F.floor(start / chunk_tokens).cast("long"),
                    F.floor((F.col("cum") - 1) / chunk_tokens).cast("long"),
                )
            ).alias("chunk_id"),
        )
    )


def chunk_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking WITH overlap: split each document into
    token windows of ``window`` tokens every ``stride`` tokens — the
    retrieval/embedding-index chunking shape (overlap preserves
    context across chunk boundaries), complementary to
    :func:`pack_chunks` which packs for pretraining without overlap.

    Chunk starts are 1, 1+stride, 2*stride+1, … ; a start is kept only
    if it's the first OR the previous chunk did not already reach the
    document's end (so short docs emit exactly one chunk and the tail
    is covered exactly once). Output: one row per (doc, chunk) with
    the chunk text re-joined by single spaces, its token count, and
    the start offset — everything a downstream embedder needs.

    Scale shape: fully narrow — tokenize, generate starts per row
    (``sequence`` + ``filter`` + ``explode``), slice. No shuffle at
    all; parallelism is the input partitioning. Chunk counts are
    ~n_tokens/stride per doc, so output size is linear with bounded
    constant."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    t = df.select(
        id_col, toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter(F.col("__n") > 0)
    starts = F.filter(
        F.sequence(F.lit(1), F.col("__n"), F.lit(stride)),
        lambda s: (s == 1) | (s - stride + window - 1 < F.col("__n")),
    )
    c = t.select(
        id_col,
        F.col("__n").alias("n_tokens"),
        F.explode(starts).alias("start_tok"),
        F.col("__toks"),
    )
    chunk = F.slice(F.col("__toks"), F.col("start_tok"), window)
    return c.select(
        id_col,
        ((F.col("start_tok") - 1) / stride).cast("bigint").alias("chunk_id"),
        "start_tok",
        F.size(chunk).alias("chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_df: int | None = None,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Token → sorted posting list with document frequency — the
    retrieval-side inverted index (and the exact-match complement of
    the embedding ANN tier). ``min_df``/``max_df`` bound the posting
    lists the same way the dedup tier caps stop-shingles: ultra-rare
    tokens are noise, ultra-common ones are stopwords whose postings
    would be corpus-sized rows.

    Scale shape: distinct (token, doc) pairs (one shuffle), then one
    grouped collect with the sort INSIDE the array (sort_array over
    the collected ids — deterministic regardless of partitioning).
    The df filter applies before any downstream join ships postings
    around. Pass ``tokens_df`` (id, __toks) to reuse a shared
    tokenization."""
    if tokens_df is None:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
        )
        tokens_df = df.select(id_col, toks.alias("__toks"))
    pairs = tokens_df.select(
        id_col, F.explode("__toks").alias("token")
    ).distinct()
    g = pairs.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sort_array(F.collect_list(F.col(id_col))).alias("postings"),
    )
    cond = F.col("df") >= min_df
    if max_df is not None:
        cond = cond & (F.col("df") <= max_df)
    return g.filter(cond)


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document: tf = in-doc term count,
    idf = ln(N / df_t), ranked per doc by rounded score (desc) with
    token-text tiebreak so the cut is deterministic and engine-stable.

    Shape: explode -> (doc, token) counts -> token document
    frequencies (one partial-agg shuffle each, both map-side
    combined) -> per-doc top-k window. The corpus size N is a one-row
    aggregate joined as a broadcast literal — no driver round-trip in
    the plan's hot path."""
    from pyspark.sql import Window

    from .dedup import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tok.select(id_col, "token").distinct().groupBy("token").agg(
        F.count("*").alias("df_t")
    )
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            trunc_dp(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "token", "tf", "tfidf", "rnk")
    )


def hashing_features(
    df: DataFrame, id_col: str, text_col: str, dim: int = 64
) -> DataFrame:
    """Feature-hashing (hashing-trick) bag-of-words: each token buckets
    into ``dim`` slots by a PORTABLE hash (first 8 hex digits of md5,
    parsed base-16 — identical in every engine, unlike xxhash/murmur
    defaults), and the document becomes a fixed-width count vector.
    The vocabulary-free text featurizer: no dictionary build, no OOV,
    memory O(dim) per doc — the 100 TB alternative to a fitted
    CountVectorizer.

    Shape: explode → one partial+final count on (doc, slot) → one
    per-doc fold into the dense array (map lookup per slot, no second
    shuffle beyond the doc-keyed agg)."""
    from .dedup import tokens as _tokens

    tok = df.select(
        F.col(id_col), F.explode(_tokens(F.col(text_col))).alias("token")
    )
    idx = (
        F.conv(F.substring(F.md5(F.col("token").cast("binary")), 1, 8), 16, 10)
        .cast("long") % dim
    ).cast("int")
    g = tok.select(id_col, idx.alias("slot")).groupBy(id_col, "slot").agg(
        F.count("*").alias("n")
    )
    m = g.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("slot"), F.col("n")))
        ).alias("__m")
    )
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("__m"), i.cast("int")), F.lit(0)),
    )
    return m.select(id_col, feats.alias("features"))


def tfidf_weights(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, token, w): per-document TF-IDF weights as DECIMAL(12,6) —
    tf·ln(n_docs/df_t) rounded to 6 dp then cast exact, so any
    downstream sum/product over the weights is associative
    (decimal-exact) and bit-portable across engines. The shared base
    of :func:`tfidf_top_terms` ranking and sparse cosine similarity."""
    from .dedup import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tok.select(id_col, "token").distinct().groupBy("token").agg(
        F.count("*").alias("df_t")
    )
    n_docs = df.select(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            trunc_dp(F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6)
            .cast("decimal(12,6)")
            .alias("w"),
        )
    )


def sparse_cosine_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_max_id: int,
    k: int = 10,
    weights_df: DataFrame | None = None,
) -> DataFrame:
    """Top-k most-similar documents per query document by TF-IDF
    cosine, computed through the inverted index — the classic sparse
    similarity join: candidates come from shared tokens (equi-join on
    token), never from a doc×doc cartesian, and a pair's dot product
    only ever touches the tokens the two documents share.

    Portability: weights are 6-dp decimals (:func:`tfidf_weights`), so
    dots and squared norms are EXACT decimal sums in any order; the
    only float ops are one sqrt per document (IEEE-correctly-rounded
    in every engine) and one final division, and ranking uses the
    ROUNDED cosine + id tiebreak (NOTES.md rank rule).

    Scale shape: the query side (docs with id < ``query_max_id``) is
    broadcast into the token join, the corpus side shuffles once on
    token and once on the (q, doc) pair group; corpus norms co-key
    with the pair table on the doc id. Hot stop-tokens should be
    df-capped upstream for open-ended corpora (same lever as
    :func:`inverted_index`'s max_df) — candidate count is
    Σ_t q_df(t)·df(t).

    ``weights_df``: a precomputed (ideally persisted) tfidf_weights
    frame — the weights table is referenced THREE times below (norms,
    query side, corpus side) and itself reads the token frame twice,
    so an uncached call re-derives the tokenize+tf+df pipeline ~6x
    (r11; the materialized-index shape every shared prep here uses)."""
    from pyspark.sql import Window

    wts = (
        weights_df
        if weights_df is not None
        else tfidf_weights(df, id_col, text_col)
    )
    norms = wts.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    q = wts.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("q_id"), "token", F.col("w").alias("qw")
    )
    pairs = F.broadcast(q).join(wts, "token").filter(
        F.col("q_id") != F.col(id_col)
    )
    dots = pairs.groupBy("q_id", id_col).agg(
        F.sum(F.col("qw") * F.col("w")).cast("double").alias("dot")
    )
    qn = norms.filter(F.col(id_col) < query_max_id).select(
        F.col(id_col).alias("q_id"), F.col("nrm").alias("q_nrm")
    )
    scored = (
        dots.join(norms, id_col)
        .join(F.broadcast(qn), "q_id")
        .select(
            "q_id",
            id_col,
            trunc_dp(F.col("dot") / (F.col("q_nrm") * F.col("nrm")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", id_col, "cos_sim", "rnk")
    )


def unigram_surprisal(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document mean unigram surprisal under the corpus's own
    unigram language model: score(d) = (1/|d|) Σ_t -ln p(t), with
    p(t) = count(t) / total tokens. High-surprisal documents are
    improbable under the corpus distribution — gibberish, boilerplate
    markup, wrong-language shards — and low-surprisal ones are
    near-pure stopword runs; both tails are standard pretraining
    quality cuts (the cheap stand-in for a trained-LM perplexity
    filter, cf. CCNet's fasttext+KenLM stage).

    Scale shape: (doc, token) counts are one partial-agg shuffle; the
    LM itself is a second partial agg over that frame keyed by token
    (vocab-bounded, NOT corpus-bounded); the join back to tf is a
    plain equi-join on token that AQE broadcasts whenever the vocab is
    small enough. The corpus total is a one-row broadcast literal.
    Nothing here is O(corpus²) and no Python touches the hot path.

    Float parity: each term is rounded to 6 dp THEN summed as
    DECIMAL(28,6) — exact and associative — so the per-doc mean is
    bit-identical across engines regardless of partial-agg order
    (NOTES.md money-sum rule, applied to ln terms).

    Returns (id, n_tok, surprisal)."""
    from .dedup import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    )
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    lm = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = lm.select(F.sum("cnt").alias("total"))
    term = (
        tf.join(lm, "token")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("total") * F.lit(1.0) / F.col("cnt")), 6
            )
            .cast("decimal(28,6)")
            .alias("term"),
        )
    )
    return term.groupBy(id_col).agg(
        F.sum("tf").alias("n_tok"),
        F.round(F.sum("term").cast("double") / F.sum("tf"), 6).alias("surprisal"),
    )


def contamination_overlap(
    shingles: DataFrame,
    id_col: str,
    bench_pred,
) -> DataFrame:
    """Benchmark-contamination scan: for every candidate document, the
    fraction of its distinct n-gram shingles that appear in ANY
    benchmark document (``bench_pred`` marks the benchmark side —
    e.g. a held-out eval set joined into the corpus).

    The n-gram containment test is the standard pretraining
    decontamination check. Scale shape: the benchmark shingle set is
    tiny next to the corpus — broadcast to the candidate side as a
    left join on shingle (distinct both sides, so no fanout), then one
    per-doc aggregation. The corpus never self-joins.

    ``shingles``: an (id, shingle) frame (dedup.doc_shingles output,
    distinct per doc), so the tokenize+shingle scan is shared with the
    dedup family."""
    bench = (
        shingles.filter(bench_pred)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    cand = shingles.filter(~bench_pred)
    marked = cand.join(F.broadcast(bench), "shingle", "left")
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.coalesce(F.sum("__hit"), F.lit(0)).alias("n_hit"),
        F.round(F.coalesce(F.sum("__hit"), F.lit(0)) / F.count("*"), 6).alias(
            "contamination"
        ),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    duplicate-word fraction, most-frequent-unigram fraction, and
    most-frequent-bigram fraction, plus a composite keep-flag
    (thresholds are demo values). Repetition filters are the standard
    complement to the density heuristics in :func:`quality_score`.

    Scale shape: ONE corpus scan, ONE shuffle. Tokens are posexploded
    (never a computed array fed to per-element lambdas — that
    re-inlines the split quadratically, NOTES.md), repartitioned by
    doc once, bigrams derived with a per-doc ``lead`` window, and the
    two term spaces unpivoted (``stack``) into a single (doc, kind,
    term) frame — hash partitioning on doc_id satisfies both
    downstream groupBys, so neither adds an exchange, and there is no
    branch that would rescan the corpus (a naive two-branch
    unigram/bigram plan scans it twice: column pruning makes the
    branches' exchanges non-identical, defeating ReusedExchange).
    """
    from pyspark.sql import Window

    words = df.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word")
    ).repartition(F.col(id_col))
    w = Window.partitionBy(id_col).orderBy("pos")
    terms = (
        words.withColumn("__nxt", F.lead("word").over(w))
        .select(
            id_col,
            F.expr(
                "stack(2, 'u', word, 'b',"
                " CASE WHEN __nxt IS NULL THEN NULL"
                " ELSE concat(word, ' ', __nxt) END) AS (kind, term)"
            ),
        )
        .filter(F.col("term").isNotNull())
    )
    tcnt = terms.groupBy(id_col, "kind", "term").agg(F.count("*").alias("c"))
    is_u = F.col("kind") == "u"
    stats = tcnt.groupBy(id_col).agg(
        F.sum(F.when(is_u, F.col("c"))).alias("n_words"),
        F.count(F.when(is_u, F.lit(1))).alias("n_distinct"),
        F.max(F.when(is_u, F.col("c"))).alias("top_cnt"),
        F.coalesce(F.max(F.when(~is_u, F.col("c"))), F.lit(0)).alias("top2_cnt"),
    )
    out = stats.select(
        id_col,
        F.col("n_words"),
        F.round(F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(F.col("top_cnt") / F.col("n_words"), 6).alias("top_word_frac"),
        F.round(F.col("top2_cnt") / F.col("n_words"), 6).alias("top_bigram_frac"),
    )
    return out.withColumn(
        "keep",
        (
            (F.col("dup_word_frac") <= 0.7)
            & (F.col("top_word_frac") <= 0.2)
            & (F.col("top_bigram_frac") <= 0.2)
        ).cast("int"),
    )


def lang_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    extra_cols: list | None = None,
) -> DataFrame:
    """n-gram/stopword language-ID heuristic over {en,de,fr,es} plus a
    CJK-codepoint signal for zh. Emits per-language hit counts and the
    argmax prediction ('und' when nothing fires). ``extra_cols``:
    additional columns/expressions carried through the projection, so
    composites (e.g. per-language dedup) stay a single corpus scan
    instead of self-joining two derivations."""
    t = F.col(text_col)
    hits = {lang: _stopword_hits(t, words) for lang, words in STOPWORDS.items()}
    cjk = F.regexp_count(t, F.lit(r"[一-鿿]"))
    out = df.select(
        id_col,
        *(extra_cols or []),
        *[hits[lang].alias(f"{lang}_hits") for lang in STOPWORDS],
        cjk.alias("zh_hits"),
    )
    langs = [*STOPWORDS.keys(), "zh"]
    best = F.greatest(*[F.col(f"{lang}_hits") for lang in langs])
    # built reversed so the earliest language in `langs` wins ties —
    # same precedence as a SQL CASE listing languages in order
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((F.col(f"{lang}_hits") == best) & (best > 0), lang).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a bag of query terms
    (Robertson/Sparck Jones; the Lucene-default scoring form with
    +1-smoothed idf, so weights stay positive) — the missing sibling
    of tfidf/sparse-cosine: length-normalized term saturation.

    Scale shape: corpus stats (dl, tf, df) are three partial-agg
    passes over the exploded token stream, all shuffling on token or
    doc id; the scalar (n_docs, avgdl) row rides a broadcast-scalar
    cross join; scoring touches only (doc, query-term) matches —
    O(docs x |terms|) rows, never the full vocabulary.

    Float parity (NOTES rules): each per-term contribution is ONE
    fixed double expression (identical text in the DuckDB oracle),
    rounded to 9 dp and cast DECIMAL(18,9) BEFORE the per-doc sum, so
    the only reassociating step is over exact decimals; the final
    round(...,6) then compares bit-identically. Rank cut on the
    rounded score with an id tiebreak."""
    from .dedup import tokens

    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
    dl = tok.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    hits = tok.filter(F.col("token").isin(*terms))
    tf = hits.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = (
        hits.select(id_col, "token")
        .distinct()
        .groupBy("token")
        .agg(F.count("*").alias("df_t"))
    )
    contrib_expr = (
        "floor((ln((CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5) + 1.0)"
        f" * tf * ({k1!r} + 1.0)"
        f" / (tf + {k1!r} * (1.0 - {b!r} + {b!r} * dl / avgdl)))"
        " * 1000000000.0) / 1000000000.0"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("c", F.expr(contrib_expr).cast("decimal(18,9)"))
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum("c"), 6).cast("double").alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def bigram_nll(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: float = 0.5,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(id, n_bigrams, nll): per-document mean negative log-likelihood
    under the corpus' own add-k-smoothed bigram language model —
    P(w2|w1) = (c(w1,w2) + k) / (c(w1,.) + k*V). The classic cheap
    quality/outlier score (CCNet-style LM filtering without an
    external model): boilerplate scores low, token soup scores high.
    Reported as mean NLL rather than perplexity — exp() is not
    correctly-rounded across libm implementations, ln rounded to 9 dp
    before the sum is.

    Float parity (NOTES rules): each bigram's log-probability is ONE
    fixed double expression rounded to 9 dp into DECIMAL(18,9) before
    the per-doc sum (associative), then one final rounded division.

    Scale shape: bigrams come from a NARROW indexed-transform over the
    token array (no window, no self-join — each doc emits its own
    adjacent pairs); the count tables are map-side-combinable hash
    aggregates; scoring is two dictionary equi-joins plus one
    broadcast-scalar vocabulary row. Docs with < 2 tokens drop out
    (no bigrams, as a model would treat them).

    ``tokens_df``: reuse a persisted ``dedup.doc_tokens`` frame
    ((id, __toks)) instead of re-tokenizing."""
    from .dedup import doc_tokens

    toks = tokens_df if tokens_df is not None else doc_tokens(df, id_col, text_col)
    bi = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(slice(__toks, 1, size(__toks) - 1),"
                " (x, i) -> named_struct('w1', x, 'w2', __toks[i + 1]))"
            )
        ).alias("b"),
    ).select(id_col, F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # c(w1, .) is by definition the rollup of the pair counts — derive
    # it from the c2 dictionary instead of a second full pass over the
    # bigram stream (r10: one fewer explode+aggregate of the corpus)
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = toks.select(F.explode("__toks").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    term = F.expr(
        f"floor((ln((c2 + {k!r}) / (c1 + {k!r} * v))) * 1000000000.0)"
        " / 1000000000.0"
    ).cast("decimal(18,9)")
    # Score each DISTINCT pair once on the |V|^2-bounded dictionary,
    # then attach by equi-join — the old shape evaluated the ln() term
    # per bigram OCCURRENCE (corpus-sized) and dragged the stream
    # through two dictionary joins (r10: ~1.5M ln() calls -> ~1k at
    # sf0.1; identical values, the per-doc sum consumes the same
    # 9-dp-rounded decimals either way).
    pair_score = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("w1", "w2", term.alias("c"))
    )
    scored = bi.join(pair_score, ["w1", "w2"]).select(
        F.col(id_col), F.col("c")
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        trunc_dp((-F.sum("c").cast("double")) / F.count("*"), 6).alias("nll"),
    )


RAKE_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
    "was", "were", "be", "been", "for", "on", "with", "as", "by",
    "at", "it", "its", "this", "that", "from", "but", "not", "we",
    "you", "they",
)


def rake_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top: int = 20,
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs, a word
    scores deg(w)/freq(w) (deg = summed length of the phrases its
    occurrences sit in), a phrase scores the sum of its word scores —
    returns the ``top`` phrases by (score desc, phrase asc) with
    corpus occurrence counts.

    Parity shape: word scores are one integer-ratio double; the
    phrase sum folds the scores in WORD-POSITION order (in-array
    aggregate over the idx-sorted score list — double addition
    reassociates, so the fold order is part of the contract, NOTES.md
    fold parity). Identical phrase text ⇒ identical score, so the
    final per-phrase max is deterministic.

    Scale shape: phrase building is one doc-keyed window pass
    (gaps-and-islands on token positions); word stats are a
    partial+final aggregate over the vocabulary; the top-k compiles
    to TakeOrderedAndProject — per-partition heads, never a global
    sort."""
    from pyspark.sql import Window

    from .dedup import doc_tokens

    toks = tokens_df if tokens_df is not None else doc_tokens(df, id_col, text_col)
    pos = toks.select(
        id_col, F.posexplode("__toks").alias("__i", "__tok")
    )
    ns = pos.filter(~F.col("__tok").isin(*stopwords)).withColumn(
        "__grp",
        F.col("__i")
        - F.row_number().over(
            Window.partitionBy(id_col).orderBy("__i")
        ),
    )
    ph = ns.groupBy(id_col, "__grp").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__i", "__tok"))),
            lambda s: s.getField("__tok"),
        ).alias("__words"),
        F.count("*").alias("__plen"),
    )
    pw = ph.select(
        id_col,
        "__grp",
        "__plen",
        F.posexplode("__words").alias("__idx", "__w"),
    )
    ws = pw.groupBy("__w").agg(
        (
            F.sum("__plen").cast("double") / F.count("*")
        ).alias("__wscore")
    )
    scored = (
        pw.join(ws, "__w")
        .groupBy(id_col, "__grp")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__idx", "__wscore"))
                    ),
                    lambda s: s.getField("__wscore"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__score"),
        )
    )
    ph2 = ph.select(
        id_col, "__grp", F.concat_ws(" ", "__words").alias("__phrase")
    )
    final = (
        scored.join(ph2, [id_col, "__grp"])
        .groupBy(F.col("__phrase").alias("phrase"))
        .agg(
            F.count("*").alias("n_occur"),
            trunc_dp(F.max("__score"), 6).alias("rake_score"),
        )
    )
    return final.orderBy(F.col("rake_score").desc(), F.col("phrase")).limit(top)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_tokens: int = 8,
) -> DataFrame:
    """C4-style cross-corpus line deduplication (Raffel et al. 2019,
    arXiv:1910.10683 §2.2): segment every document into fixed-width
    token "lines", keep exactly the FIRST occurrence of each distinct
    line corpus-wide (ordered by (doc_id, position)), and reassemble
    each document from its surviving lines.

    Shape for 100 TB: line generation is fully narrow (one in-row
    slice chain, no explode of token arrays through a shuffle); global
    first-owner election is a hash aggregate ``min(struct(doc, pos))
    GROUP BY md5(line)`` — map-side partial aggregation absorbs
    hyper-duplicated lines (the skew case a row_number window cannot
    combine away) — followed by one equi-join back on the line hash
    (the agg output is already hash-partitioned on the join key, so
    Catalyst reuses the exchange) and one per-document reassembly agg.
    No pair joins, nothing driver-side.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    src = df.select(id_col, toks.alias("__t")).filter(F.size("__t") > 0)
    n_lines = F.ceil(F.size("__t") / F.lit(line_tokens)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.array_join(
            F.slice(F.col("__t"), i * line_tokens + 1, F.lit(line_tokens)),
            " ",
        ),
    )
    ln = src.select(id_col, F.posexplode(lines).alias("pos", "line"))
    ln = ln.withColumn("__lh", F.md5(F.col("line")))
    owners = ln.groupBy("__lh").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "__o"
        )
    )
    j = ln.join(owners, "__lh")
    kept = (F.col(id_col) == F.col("__o.d")) & (F.col("pos") == F.col("__o.p"))
    out = (
        j.groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_lines"),
            F.sum(kept.cast("int")).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(kept, F.struct("pos", "line")))
                    ),
                    lambda s: s.getField("line"),
                ),
                " ",
            ).alias("clean_text"),
        )
        .withColumn("n_dropped", (F.col("n_lines") - F.col("n_kept")).cast("int"))
    )
    return out.select(id_col, "n_lines", "n_kept", "n_dropped", "clean_text")


def gopher_rules(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446
    Table A1) — the word-level subset that applies to single-line
    documents: word-count bounds, mean word length in [3, 10], symbol
    ratio (# / ellipsis per word) <= 0.1, >= 80% of words contain an
    alphabetic character, and >= 2 distinct required stopwords. Emits
    one row per document with each rule's flag plus the composite keep
    bit, so downstream sampling can attribute every rejection.

    Fully narrow: in-row splits and counts only, zero shuffles; every
    ratio is one fixed double chain shared textually with the oracle.
    """
    t = F.col(text_col)
    words = F.filter(F.split(t, " "), lambda x: x != "")
    src = df.select(id_col, t.alias("__txt"), words.alias("__w"))
    n_words = F.size("__w")
    denom = F.greatest(n_words, F.lit(1))
    word_chars = F.length(F.replace(F.col("__txt"), F.lit(" "), F.lit("")))
    mean_len = word_chars / denom
    n_alpha = F.size(F.filter(F.col("__w"), lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = n_alpha / denom
    n_hash = F.length("__txt") - F.length(
        F.replace(F.col("__txt"), F.lit("#"), F.lit(""))
    )
    n_ellipsis = (
        F.length("__txt")
        - F.length(F.replace(F.col("__txt"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis) / denom
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(F.col("__w"), F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = src.select(
        id_col,
        n_words.alias("n_words"),
        trunc_dp(mean_len, 4).alias("mean_word_len"),
        trunc_dp(alpha_ratio, 4).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        ((n_words >= 50) & (n_words <= 100000)).cast("int").alias("f_word_count"),
        ((mean_len >= 3.0) & (mean_len <= 10.0)).cast("int").alias("f_mean_len"),
        (symbol_ratio <= 0.1).cast("int").alias("f_symbol"),
        (alpha_ratio >= 0.8).cast("int").alias("f_alpha"),
        (stop_hits >= 2).cast("int").alias("f_stopwords"),
    )
    return flags.withColumn(
        "keep",
        (
            F.col("f_word_count")
            * F.col("f_mean_len")
            * F.col("f_symbol")
            * F.col("f_alpha")
            * F.col("f_stopwords")
        ).cast("int"),
    )
