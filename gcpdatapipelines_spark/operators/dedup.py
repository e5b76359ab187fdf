"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its only dedup surface is a sketched
beam.Distinct, schema_generator.ipynb cell 23 — SURVEY.md §2.6); these
are the north-star extensions. All tiers are pure DataFrame ops — no
Python on the hot path — and each is designed for the 100 TB regime:

- exact:        one hash-aggregate shuffle on the dedup key.
- normalized:   same, after a whitespace/punct/case normalization, so
                formatting-only variants collapse (md5 content
                fingerprint doubles as a compact join key).
- n-gram Jaccard: shingle -> explode distinct -> self-join on shingle
                -> per-pair intersection counts. The self-join is
                shuffle-partitioned by shingle; a document-frequency
                cap drops stop-shingles that would create join skew.
- MinHash+LSH:  64-perm signatures from md5 + a universal-hash
                permutation family (JVM-side), banded into (band,
                bucket) keys; only bucket collisions are candidate
                pairs, so the pair space never materializes O(n^2).
                Candidates are then verified with the exact Jaccard.
- SimHash:      64-bit signature from md5 token hashes, carried as two
                32-bit words; near-dup pairs via 1-bit multi-probe or
                16-bit chunk banding (Hamming<=3 guarantee by
                pigeonhole).

Every hash family here is md5-based, the one hash every SQL engine
computes identically, so each pipeline hash-checks end to end against
its DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .portable import trunc_dp

# ---------------------------------------------------------------------------
# exact + normalized
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id representative per duplicate group.
    Deterministic (unlike dropDuplicates' arbitrary pick) and a single
    partial-agg shuffle on the dedup key."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def normalize_text(col):
    """Canonical text form: lowercase, strip non-alphanumerics to single
    spaces, trim. Collapses formatting-only near-duplicates."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def content_fingerprint(col):
    """md5 of the normalized text — a compact dedup/join key. md5 keeps
    the oracle checkable (DuckDB md5 produces the identical hex)."""
    return F.md5(normalize_text(col).cast("binary"))


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Normalized-fingerprint dedup: group by md5(normalized text)."""
    return (
        df.withColumn("fp", content_fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard
# ---------------------------------------------------------------------------


def tokens(col):
    """Lowercased alphanumeric tokens, empties removed. Both sides of
    the oracle (Spark split / DuckDB string_split_regex) produce this
    identical list."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"), lambda x: x != "")


def _shingle_expr(tok_col: str, n: int):
    """Distinct word n-grams of the token array (n tokens joined by a
    space); docs shorter than n tokens yield their whole text as the
    single shingle."""
    toks = F.col(tok_col)
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks) — the tokenized corpus. Materialize (persist) this
    once when several detectors run over the same corpus: tokenization
    is the shared prefix of shingling (Jaccard/MinHash) and token
    hashing (SimHash)."""
    return df.select(id_col, tokens(F.col(text_col)).alias("__toks"))


def doc_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(id, shingle) rows, one per distinct n-gram per document.
    ``tokens_df``: reuse a precomputed (ideally persisted) doc_tokens
    frame instead of re-tokenizing."""
    toks = tokens_df if tokens_df is not None else doc_tokens(df, id_col, text_col)
    return toks.select(id_col, F.explode(_shingle_expr("__toks", n)).alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    ``max_df`` (scale knob): drop shingles appearing in more than
    max_df documents before the self-join — stop-shingles contribute
    negligible Jaccard signal but dominate join skew at scale. Leave
    None for oracle-exact semantics.

    ``shingles``: pass a precomputed (id, shingle) frame (ideally
    cached) to share the tokenize+shingle scan with another consumer —
    minhash_lsh_pairs does this for its verify stage.

    Returns (id_1, id_2, jaccard) with id_1 < id_2, jaccard rounded to
    6 digits for hash-stable comparison.
    """
    sh = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n).cache()
    if max_df is not None:
        keep = sh.groupBy("shingle").count().filter(F.col("count") <= max_df)
        sh = sh.join(keep.select("shingle"), "shingle")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))

    a = sh.select(F.col(id_col).alias("id_1"), "shingle")
    b = sh.select(F.col(id_col).alias("id_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("n_inter"))
    )
    sz1 = sizes.select(F.col(id_col).alias("id_1"), F.col("n_sh").alias("n_1"))
    sz2 = sizes.select(F.col(id_col).alias("id_2"), F.col("n_sh").alias("n_2"))
    return (
        inter.join(sz1, "id_1")
        .join(sz2, "id_2")
        .withColumn(
            "jaccard",
            trunc_dp(
                F.col("n_inter") / (F.col("n_1") + F.col("n_2") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def jaccard_prefix_candidates(
    sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """The candidate frame of the prefix-filtered SSJoin (exact
    code-move out of :func:`jaccard_prefix_pairs`, the same
    candidate-step extraction as ``lsh_candidate_pairs`` /
    ``srp_candidate_pairs`` so probes and tests count it directly):
    distinct (id_1 < id_2) document pairs whose PREFIXES — each doc's
    p = |d| - ceil(t*|d|) + 1 globally-rarest shingles — share a
    shingle. By the prefix-filter theorem this set contains EVERY pair
    with J >= t (lossless, unlike LSH banding), pinned by
    test_jaccard_prefix_candidates_lossless."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n_sh"))
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("__df", "shingle")
            ),
        )
        .join(sizes, id_col)
    )
    plen = F.col("__n_sh") - F.ceil(F.lit(float(threshold)) * F.col("__n_sh")) + 1
    pref = ranked.filter(F.col("__rn") <= plen).select(id_col, "shingle")
    pa = pref.select(F.col(id_col).alias("id_1"), "shingle")
    pb = pref.select(F.col(id_col).alias("id_2"), "shingle")
    return (
        pa.join(pb, "shingle")
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (Chaudhuri et
    al. SSJoin / Bayardo et al. All-Pairs, WWW 2007) — the lossless
    scale path the all-shingles self-join can't be: each document only
    exposes its p = |d| - ceil(t*|d|) + 1 globally-rarest shingles,
    and two documents are candidates iff those prefixes share a
    shingle. The prefix theorem guarantees every pair with
    J >= t collides (NO false negatives — unlike LSH this is exact,
    so the output EQUALS ngram_jaccard_pairs'), while stop-shingles
    sort to the ends of the global (df, shingle) order and almost
    never enter a prefix — the join's skew and size collapse without
    a max_df recall trade-off.

    Candidates are then re-scored with the exact Jaccard ANCHORED ON
    THE CANDIDATE PAIRS (r11): each candidate pair joins its two
    complete per-doc shingle sets and counts the overlap — scores
    identical to the full corpus run because per-doc shingle sets are
    never restricted.

    Cost shape: one shingle-df aggregate (partial-agg), one per-doc
    window for prefix ranks, a prefix-only equi-join (the pruned pair
    generator), then a verify that touches candidate pairs ONLY. The
    r10 shape instead semi-joined the corpus to candidate DOCS and
    re-ran the full all-shingles self-join over them — re-colliding
    every shingle pair of candidate docs (a superset of the candidate
    pairs) and paying a final pair join to trim back; its plan carried
    the candidate subtree 5x (1,671 formatted lines, 195 exchange
    references — r10 verdict #7's cold-pass analyze/codegen cost).
    The r10 final `candidates JOIN exact` was also provably redundant:
    by the prefix-filter theorem every pair with J >= t (trunc_dp(J,6)
    >= t implies exact J >= t) IS a candidate pair, so the verified
    output alone already equals ngram_jaccard_pairs' — equality stays
    pinned by test_prefix_filter_lossless_any_corpus and the oracle
    twin. Everything keys on shingle or doc id — no cartesian
    anywhere."""
    sh = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n).cache()
    candidates = jaccard_prefix_candidates(sh, id_col, threshold).cache()
    return _verify_pairs_exact_jaccard(candidates, sh, id_col, threshold)


def _verify_pairs_exact_jaccard(
    candidates: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify ANCHORED ON the (id_1, id_2) candidate
    pairs: each pair joins its two complete per-doc shingle sets and
    counts the overlap, then sizes attach and trunc_dp(J, 6) >=
    threshold filters. Scores are identical to a full-corpus exact
    Jaccard (per-doc shingle sets are never restricted); only
    candidate pairs are ever touched. Shared by the prefix-filter and
    MinHash-LSH pipelines (r11) — the r10 shape semi-joined the corpus
    to candidate DOCS, re-ran the all-shingles self-join over them (a
    superset of the candidate pairs), and trimmed back with a final
    pair join, which multiplied the candidate subtree through the plan
    (dedup_jaccard_prefix: 1,671 formatted lines / 195 exchange
    references; dedup_minhash_lsh: 1,073 / 88)."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n_sh"))
    s1 = sh.select(F.col(id_col).alias("id_1"), "shingle")
    s2 = sh.select(F.col(id_col).alias("__id_2"), F.col("shingle").alias("__sh2"))
    inter = (
        candidates.join(s1, "id_1")
        .join(
            s2,
            (F.col("id_2") == F.col("__id_2"))
            & (F.col("shingle") == F.col("__sh2")),
        )
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("n_inter"))
    )
    sz1 = sizes.select(F.col(id_col).alias("id_1"), F.col("__n_sh").alias("n_1"))
    sz2 = sizes.select(F.col(id_col).alias("id_2"), F.col("__n_sh").alias("n_2"))
    return (
        inter.join(sz1, "id_1")
        .join(sz2, "id_2")
        .withColumn(
            "jaccard",
            trunc_dp(
                F.col("n_inter") / (F.col("n_1") + F.col("n_2") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


#: Mersenne prime for the md5 universal-hash permutation family —
#: (a*x + b) % P with x, a, b < 2^31 keeps every product inside int64,
#: so Spark and any SQL engine compute the identical chain.
_MINHASH_P = 2147483647


def minhash_perm_constants(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_s, b_s) pairs for the md5 permutation
    family — a fixed formula (Knuth multiplicative constants mod P)
    instead of an RNG so both engines can restate them as literals."""
    out = []
    for s in range(num_perm):
        a = (2654435761 * (s + 1)) % _MINHASH_P or 1
        b = (40503 * (s + 1) + 17) % _MINHASH_P
        out.append((a, b))
    return out


def minhash_md5_base(col) -> "F.Column":
    """60-bit positive integer from the first 15 hex chars of
    md5(shingle) — the engine-shared base hash of the md5
    permutation family (DuckDB: ``CAST('0x' || substr(md5(x),1,15) AS
    BIGINT)`` parses the identical value)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_perm: int = 64,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """num_perm-wide MinHash signature per document.

    Permutation family: base = :func:`minhash_md5_base` of the
    shingle, permutation s = (a_s * (base % P) + b_s) % P (P Mersenne
    2^31-1; textbook universal hashing, Broder's original MinHash
    construction). MinHash needs a CONSISTENT hash family, not a
    specific one, and md5 + exact int64 arithmetic is the family every
    engine reproduces bit-for-bit, so the whole signature pipeline is
    oracle-checkable. The signature element is the min over the
    document's shingles — num_perm JVM-side min-aggregates, map-side
    combined, so the shuffle carries one row per document."""
    sh = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n)
    base = (minhash_md5_base(F.col("shingle")) % _MINHASH_P).alias("__base")
    consts = minhash_perm_constants(num_perm)
    hashed = sh.select(id_col, base).select(
        id_col,
        *[
            ((F.lit(a) * F.col("__base") + F.lit(b)) % _MINHASH_P).alias(f"h{s}")
            for s, (a, b) in enumerate(consts)
        ],
    )
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"h{s}").alias(f"h{s}") for s in range(num_perm)]
    )
    return agg.select(
        id_col, F.array(*[f"h{s}" for s in range(num_perm)]).alias("signature")
    )


def lsh_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, band, bucket): each document's LSH band keys — the bucket
    is the comma-joined STRING of every rows-per-band signature slice
    (no bucket re-hash: equality is all a bucket key needs, and the
    string form is what a SQL oracle restates verbatim). Two documents
    are LSH candidates iff they share some (band, bucket) row; the
    frame is ~bands rows per document, which makes it the right STATE
    representation for incremental near-dup (the standing corpus
    persists as band keys, never as text or shingles)."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_perm, shingles=shingles)

    def bucket_of(b: int):
        return F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string"),
            ),
        )

    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), bucket_of(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def incremental_neardup(
    new_df: DataFrame,
    band_state: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    shingles: DataFrame | None = None,
    precomputed_keys: DataFrame | None = None,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup admission: admit documents from an ingest
    increment that collide with the standing corpus in NO LSH band,
    deduping within the increment by the bucket-min rule (in any
    shared bucket, only the lowest id can be admitted). Returns
    (admitted ids, their band keys — the state delta to persist).

    This is the streaming-corpus shape of MinHash dedup: the corpus
    never needs its text, shingles, or signatures retained — only the
    distinct (band, bucket) keys (~bands·16 bytes per admitted doc).
    Admission is PROBABILISTIC exactly like batch LSH: a collision in
    any band drops the document (no exact-Jaccard verify, since the
    corpus text is gone); tune bands/num_perm for the S-curve, and
    expect the same false-positive rate the batch candidate generator
    has before its verify step.

    Bucket-min within the increment is deterministic and
    order-independent (NOT sequential-arrival semantics): if a and b
    collide, min(a, b) is admitted regardless of batch ordering, so
    replaying a batch yields identical output. One shuffle on the
    bucket key; the state anti-join is bucket-keyed too. Band keys
    come from the md5 signature family (lsh_band_keys), so the whole
    admission decision is oracle-checkable.

    ``precomputed_keys`` skips the signature pass entirely and admits
    from an existing (id, band, bucket) frame — the backfill shape
    where one signature scan over the full corpus feeds both the
    standing state and the increment (signatures are per-doc, so
    splitting after one pass is identical to two passes and half the
    cost).
    """
    keys = (
        precomputed_keys
        if precomputed_keys is not None
        else lsh_band_keys(
            new_df, id_col, text_col, n, num_perm, bands, shingles=shingles
        )
    )
    if band_state is not None:
        seen = band_state.select("band", "bucket").distinct()
        keys = keys.join(seen, ["band", "bucket"], "left_anti")
    # shared: consumed FOUR times below (survivor count, survivor
    # restriction, bucket-min election, clash join) — without reuse
    # the whole signature+banding pipeline re-executes per consumer
    # (measured 15.4 s uncached). The frame is increment_docs x bands
    # rows of (id, band, bucket) — tiny.
    #
    # materialize=True (the per-micro-batch streaming path) uses an
    # EAGER localCheckpoint instead of cache(): SQL-cache entries live
    # in the CacheManager until an explicit unpersist(), so one
    # cache() per foreachBatch accumulates without bound on a
    # long-running stream, while a localCheckpoint's blocks belong to
    # its RDD and are reclaimed by the ContextCleaner once the frame
    # is garbage-collected after the batch commits.
    keys = keys.localCheckpoint() if materialize else keys.cache()
    # a doc survives only with ALL its bands clear of the corpus:
    # count surviving bands == bands
    full = keys.groupBy(id_col).agg(F.count("*").alias("__nb")).filter(
        F.col("__nb") == bands
    )
    keys = keys.join(full.select(id_col), id_col)
    # bucket-min rule within the increment
    mins = keys.groupBy("band", "bucket").agg(F.min(id_col).alias("__min_id"))
    clash = (
        keys.join(mins, ["band", "bucket"])
        .filter(F.col(id_col) != F.col("__min_id"))
        .select(id_col)
        .distinct()
    )
    admitted = (
        keys.select(id_col).distinct().join(clash, id_col, "left_anti")
    )
    delta = keys.join(admitted, id_col).select(id_col, "band", "bucket")
    return admitted, delta


def lsh_candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """The candidate step of MinHash-LSH, alone: distinct (id_1 <
    id_2) pairs sharing any (band, bucket) key. This is the frame
    whose size separates banded dedup from all-pairs dedup — scale
    probes and the planted-duplicate growth tests count it directly,
    and :func:`minhash_lsh_pairs` verifies exactly it (never more)."""
    left = banded.select(F.col(id_col).alias("id_1"), "band", "bucket")
    right = banded.select(F.col(id_col).alias("id_2"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding, verified with exact
    n-gram Jaccard. Signatures come from the md5/universal-hash family
    (minhash_signatures), so the WHOLE candidates->verify pipeline is
    oracle-checkable.

    bands=16 over 64 perms -> rows-per-band r=4; collision probability
    1-(1-j^4)^16 puts the S-curve midpoint near j~0.5. Only documents
    sharing a (band, band-hash) bucket are paired — the candidate set
    is bucket-local, never O(n^2). The verify step re-scores candidates
    with the exact Jaccard so false positives drop out; output equals
    the exact-Jaccard pair set restricted to LSH candidates."""
    # one tokenize+shingle scan feeds both the signatures and the
    # exact-Jaccard verify below; callers with several dedup passes
    # over one corpus pass their own persisted ``shingles`` (and/or
    # ``banded`` key frame) instead
    sh = shingles if shingles is not None else doc_shingles(df, id_col, text_col, n).cache()
    if banded is None:
        banded = lsh_band_keys(df, id_col, text_col, n, num_perm, bands, shingles=sh)

    # cached: the candidate PAIR list is bounded by near-dup density,
    # orders of magnitude smaller than the corpus, safe to materialize.
    candidates = lsh_candidate_pairs(banded, id_col).cache()

    # verify ONLY the candidate pairs (r11 — see
    # _verify_pairs_exact_jaccard): scores are identical to the
    # full-corpus exact Jaccard because per-doc shingle sets are never
    # restricted, and pairs outside the candidate set are — by the
    # declared LSH semantics — not part of the output either way.
    return _verify_pairs_exact_jaccard(candidates, sh, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_md5(
    df: DataFrame, id_col: str, text_col: str, tokens_df: DataFrame | None = None
) -> DataFrame:
    """(id, sig_hi, sig_lo): 64-bit SimHash per document.

    Classic scheme: each distinct token votes +1/-1 on each bit of its
    hash; the signature bit is the sign of the vote sum, expressed as
    64 conditional-sum aggregates — JVM-side, map-side combined. Token
    bits come from two 32-bit halves of md5(token) (hex chars 1-8 /
    9-16 parsed as integers, the winnowing/minhash md5 trick), and the
    signature is carried as two positive 32-bit words so every value
    stays inside portable BIGINT range — any SQL engine restates it
    bit-for-bit. ``tokens_df``: reuse a persisted doc_tokens frame."""
    toks = tokens_df if tokens_df is not None else doc_tokens(df, id_col, text_col)
    tok = toks.select(
        id_col, F.explode(F.array_distinct(F.col("__toks"))).alias("tok")
    )
    m = F.md5(F.col("tok"))
    h = tok.select(
        F.col(id_col),
        F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("__hi"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("__lo"),
    )

    def vote(word: str, b: int):
        return F.sum(
            F.when(
                F.shiftright(F.col(word), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        )

    votes = h.groupBy(id_col).agg(
        *[vote("__lo", b).alias(f"lo{b}") for b in range(32)],
        *[vote("__hi", b).alias(f"hi{b}") for b in range(32)],
    )

    def fold(prefix: str):
        return F.aggregate(
            F.array(
                *[
                    F.when(
                        F.col(f"{prefix}{b}") > 0, F.lit(1).cast("long")
                    ).otherwise(F.lit(0).cast("long"))
                    for b in reversed(range(32))
                ]
            ),
            F.lit(0).cast("long"),
            lambda acc, x: F.shiftleft(acc, 1).bitwiseOR(x),
        )

    return votes.select(
        id_col, fold("hi").alias("sig_hi"), fold("lo").alias("sig_lo")
    )


def banded_two_word_pairs(
    sig: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    key_col: str | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """The shared two-word-signature banding+verify pipeline: 16-bit
    pigeonhole chunks of a (``sig_hi``, ``sig_lo``) signature (two
    chunks per 32-bit word) generate candidates through equi-joins on
    (chunk, piece) — Hamming <= 3 on 64 bits pigeonholes into at least
    one exact 16-bit chunk match — verified with the exact
    ``bit_count(xor(hi)) + bit_count(xor(lo))``. Never a pair scan.

    ``key_col``: optional partition column (e.g. asset kind) folded
    INTO the band equi-join key, so cross-partition rows never share a
    shuffle bucket — a free candidate cut at scale, not a post-filter.
    Output: (id_1, id_2[, key_col], hamming INT) with id_1 < id_2.
    Both consumers (text SimHash dedup, media pHash near-dup) restate
    this exact pipeline in their DuckDB oracles — keep them in sync.

    ``max_bucket``: optional degenerate-bucket cap — the max_df /
    max_bucket guardrail the shingle and SRP joins already have. The
    r10 scale probe measured this family's candidate mass at ~5% of
    all-pairs on the low-entropy fixture corpus (similar word
    distributions cluster SimHash chunks), i.e. quadratic growth with
    no cap. Dropping a chunk bucket CAN lose true pairs (the
    pigeonhole guarantee needs all chunks), so the default stays None
    and the catalog oracles stay exact; at 100 TB you set it and
    accept the documented recall trade, exactly like max_df.

    r11: when ``max_hamming <= 3`` and no bucket cap is requested, the
    candidate step runs the 1-bit multi-probe scheme
    (:func:`banded_two_word_probe_candidates`) instead of 16-bit chunk
    buckets — provably the same verified output (Hamming <= 3 over two
    32-bit words pigeonholes into one word with Hamming <= 1), but the
    candidate mass stops tracking corpus density: chunk buckets grow
    linearly with corpus size (quadratic collision pairs, the r10
    super-linear scale-probe finding), while a 1-bit probe only hits
    rows whose whole 32-bit word is within Hamming 1. Parity between
    the two candidate generators is pinned in tests."""
    if max_bucket is None and max_hamming <= 3:
        cand, keys = banded_two_word_probe_candidates(sig, id_col, key_col)
    else:
        cand, keys = banded_two_word_candidates(
            sig, id_col, key_col, max_bucket=max_bucket
        )
    ham = F.bit_count(F.col("hi_1").bitwiseXOR(F.col("hi_2"))) + F.bit_count(
        F.col("lo_1").bitwiseXOR(F.col("lo_2"))
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_1", "id_2", *keys, "hamming")
    )


def banded_two_word_probe_candidates(
    sig: DataFrame,
    id_col: str,
    key_col: str | None = None,
):
    """Multi-probe candidate step for Hamming <= 3 over a two-word
    (``sig_hi``, ``sig_lo``) 64-bit signature: by pigeonhole, one of
    the two 32-bit words differs in at most 1 bit, so the exact
    candidate superset is "pairs whose hi OR lo words are within
    Hamming 1". Each row emits, per word, the word value plus its 32
    one-bit flips (33 probes); probes equi-join against the original
    word values on (word, value[, key]). A true pair is found in at
    least one direction of at least one word, and every emitted pair
    is verified with the exact 64-bit Hamming downstream — output is
    IDENTICAL to the 16-bit-chunk banding, candidates are not:

    - 16-bit chunks: bucket sizes grow linearly with corpus size, so
      collision PAIRS grow quadratically (r10 SCALE_PROBE: cand/row
      12.4 → 130.7 from sf0.01 → sf0.1 on the phash family).
    - 1-bit probes: a candidate must match 32 bits exactly up to one
      flip — random 32-bit collisions are ~2^-27 per probe, so the
      candidate set tracks the TRUE near-duplicate mass (measured
      cand/row 1.04 → 0.99 over the same step).

    The probe fan-out is a fixed 66 rows per input row (narrow:
    id + two words + probe), the shuffle key (word, 32-bit value) is
    high-cardinality, and the join output is the candidate set itself
    — no quadratic stage anywhere. Returns (candidates, keys) with the
    same (id_1, id_2, *keys, hi_1, lo_1, hi_2, lo_2) distinct-pair
    contract as :func:`banded_two_word_candidates`."""
    keys = [key_col] if key_col else []
    base = sig.select(id_col, *keys, "sig_hi", "sig_lo")
    words = [("sig_hi", 0), ("sig_lo", 1)]
    orig = base.select(
        F.col(id_col).alias("id_2"),
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("sig_hi").alias("hi_2"),
        F.col("sig_lo").alias("lo_2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).alias("w"), F.col(word).alias("v")
                    )
                    for word, w in words
                ]
            )
        ).alias("__wv"),
    ).select(
        "id_2", *[f"__k_{k}" for k in keys], "hi_2", "lo_2",
        F.col("__wv.w").alias("__w2"), F.col("__wv.v").alias("__v2"),
    )
    masks = [0] + [1 << b for b in range(32)]
    probes = base.select(
        F.col(id_col).alias("id_1"),
        *keys,
        F.col("sig_hi").alias("hi_1"),
        F.col("sig_lo").alias("lo_1"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(w).alias("w"),
                        F.col(word).bitwiseXOR(F.lit(m)).alias("p"),
                    )
                    for word, w in words
                    for m in masks
                ]
            )
        ).alias("__wp"),
    ).select(
        "id_1", *keys, "hi_1", "lo_1",
        F.col("__wp.w").alias("__w1"), F.col("__wp.p").alias("__p1"),
    )
    cond = (F.col("__w1") == F.col("__w2")) & (F.col("__p1") == F.col("__v2"))
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__k_{k}"))
    cand = (
        probes.join(orig, cond)
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", *keys, "hi_1", "lo_1", "hi_2", "lo_2")
        .distinct()
    )
    return cand, keys


def banded_two_word_candidates(
    sig: DataFrame,
    id_col: str,
    key_col: str | None = None,
    max_bucket: int | None = None,
):
    """The candidate step of the two-word-signature banding pipeline,
    alone: distinct (id_1 < id_2) pairs sharing any exact 16-bit chunk
    (and the optional partition key), with both signatures carried for
    the verify. Returns (candidates, keys) where keys is the
    key-column list. Scale probes and the planted-duplicate growth
    tests count this frame; :func:`banded_two_word_pairs` verifies
    exactly it. ``max_bucket`` drops chunk buckets with more than that
    many members before the self-join (see banded_two_word_pairs)."""
    pieces = [
        ("sig_lo", 0),
        ("sig_lo", 16),
        ("sig_hi", 0),
        ("sig_hi", 16),
    ]
    keys = [key_col] if key_col else []
    chunks = sig.select(
        id_col,
        *keys,
        "sig_hi",
        "sig_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col(word), off)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("piece"),
                    )
                    for c, (word, off) in enumerate(pieces)
                ]
            )
        ).alias("cp"),
    ).select(id_col, *keys, "sig_hi", "sig_lo", "cp.chunk", "cp.piece")
    if max_bucket is not None:
        from pyspark.sql import Window

        chunks = chunks.withColumn(
            "__bn",
            F.count(F.lit(1)).over(Window.partitionBy(*keys, "chunk", "piece")),
        ).filter(F.col("__bn") <= max_bucket)
    left = chunks.select(
        F.col(id_col).alias("id_1"),
        *keys,
        F.col("sig_hi").alias("hi_1"),
        F.col("sig_lo").alias("lo_1"),
        "chunk",
        "piece",
    )
    right = chunks.select(
        F.col(id_col).alias("id_2"),
        *[F.col(k).alias(f"__k_{k}") for k in keys],
        F.col("sig_hi").alias("hi_2"),
        F.col("sig_lo").alias("lo_2"),
        F.col("chunk").alias("__c2"),
        F.col("piece").alias("__p2"),
    )
    cond = (F.col("chunk") == F.col("__c2")) & (F.col("piece") == F.col("__p2"))
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__k_{k}"))
    cand = (
        left.join(right, cond)
        .filter(F.col("id_1") < F.col("id_2"))
        .select("id_1", "id_2", *keys, "hi_1", "lo_1", "hi_2", "lo_2")
        .distinct()
    )
    return cand, keys


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    tokens_df: DataFrame | None = None,
    sig_df: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(SimHash) <= max_hamming over
    :func:`simhash_md5` two-word signatures — one instantiation of
    :func:`banded_two_word_pairs` (the media pHash detector is the
    other; the banding contract lives in one place).

    ``sig_df``: reuse precomputed (ideally persisted) signatures — the
    signature pass is the expensive half (64 conditional aggregates),
    so consumers sharing a corpus should compute it once."""
    sig = (
        sig_df
        if sig_df is not None
        else simhash_md5(df, id_col, text_col, tokens_df=tokens_df)
    )
    return banded_two_word_pairs(sig, id_col, max_hamming=max_hamming)


def incremental_dedup(
    new_df: DataFrame, corpus_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Incremental-ingest dedup: admit from ``new_df`` one
    representative (min id) per normalized fingerprint that does NOT
    already exist in ``corpus_df`` — dedup a fresh crawl increment
    against the standing corpus without re-deduping the corpus.

    Scale shape: the corpus side collapses to DISTINCT 32-byte
    fingerprints before the anti-join (never full documents), the
    anti-join shuffles on fp (runtime bloom/DPP-eligible), and the
    within-increment dedup is one partial+final min. At 100 TB the
    corpus fingerprint set is the only state carried between ingests —
    materialize it once and anti-join every increment against it."""
    fp = content_fingerprint(F.col(text_col))
    inc = new_df.select(F.col(id_col), fp.alias("fp"))
    seen = corpus_df.select(fp.alias("fp")).distinct()
    fresh = inc.join(seen, "fp", "left_anti")
    return fresh.groupBy("fp").agg(F.min(id_col).alias(id_col)).select(id_col, "fp")


def fuzzy_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    band_width: int = 8,
    prefix_len: int = 1,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs with BLOCKING: only
    strings sharing a block — (``prefix_len``-char prefix, length
    band) — are compared, the classic record-linkage move that keeps
    the quadratic edit-distance comparison off a cartesian product.
    The block join is a plain equi-join (hash-partitioned by block),
    so cost is sum-of-block-sizes², not corpus².

    Recall trade-off (standard for single-pass blocking): pairs whose
    lengths straddle a band boundary or whose prefixes differ are not
    compared — pass ``prefix_len=0`` (length-band-only blocking) when
    edits concentrate at the string head. Tighten by unioning
    shifted-band passes, or use the shingle/MinHash family for
    token-level similarity. For row tables over a low-entropy value
    domain, fuzzy-match the DISTINCT values and map back by equi-join
    (see dedup_fuzzy_blocked in the catalog)."""
    base = [F.col(id_col)] if id_col == text_col else [F.col(id_col), F.col(text_col)]
    prefix = (
        [F.substring(F.col(text_col), 1, prefix_len).alias("__c0")]
        if prefix_len > 0
        else []
    )
    b = df.select(
        *base,
        *prefix,
        F.floor(F.length(text_col) / band_width).alias("__band"),
    )
    a, c = b.alias("a"), b.alias("c")
    cond = (F.col("a.__band") == F.col("c.__band")) & (
        F.col(f"a.{id_col}") < F.col(f"c.{id_col}")
    )
    if prefix:
        cond = cond & (F.col("a.__c0") == F.col("c.__c0"))
    pairs = a.join(c, cond)
    return pairs.select(
        F.col(f"a.{id_col}").alias("id_1"),
        F.col(f"c.{id_col}").alias("id_2"),
        F.levenshtein(F.col(f"a.{text_col}"), F.col(f"c.{text_col}")).alias("distance"),
    ).filter(F.col("distance") <= max_distance)


# ---------------------------------------------------------------------------
# duplicated-span detection (substring-level dedup)
# ---------------------------------------------------------------------------


def positioned_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """(id, n_tokens, p, shingle): every word n-gram WITH its 1-based
    start position — the positional sibling of :func:`doc_shingles`
    (which distincts positions away). Docs shorter than n tokens carry
    no shingle and are excluded. Narrow (tokenize + explode)."""
    toks = tokens_df if tokens_df is not None else doc_tokens(df, id_col, text_col)
    long = toks.select(
        id_col, F.col("__toks"), F.size("__toks").alias("n_tokens")
    ).filter(F.col("n_tokens") >= n)
    sh = F.transform(
        F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
        lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "),
    )
    return long.select(
        id_col,
        "n_tokens",
        F.posexplode(sh).alias("__pos0", "shingle"),
    ).select(
        id_col, "n_tokens", (F.col("__pos0") + 1).alias("p"), "shingle"
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_df: int = 2,
    tokens_df: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection: for each document, the
    maximal token spans covered by word n-grams that also occur in at
    least ``min_df - 1`` OTHER documents — the substring-level dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (arXiv:2107.06499), at n-gram (not suffix-array)
    resolution.

    Returns one row per document with >= n tokens:
    (id, n_spans, dup_tokens, n_tokens, dup_frac) where overlapping /
    adjacent duplicated n-grams are merged into maximal spans
    (gaps-and-islands over start positions: a new span starts when the
    gap between consecutive duplicated starts exceeds n) and
    ``dup_tokens`` sums the merged span lengths. Downstream policy
    (drop doc, cut spans, down-weight) is the caller's.

    Scale shape: ONE shuffle on the shingle for document frequency
    (count-distinct is partial-aggregable), an equi-join back on the
    shingle (shuffle-partitioned, same key), then per-doc windows and
    aggregates sharing one (id) partitioning. No pair join at all —
    unlike Jaccard/MinHash this never compares documents, so there is
    no candidate blow-up to guard; corpus-frequent "stop shingles" are
    genuinely duplicated text and are KEPT (they are the signal, not
    skew noise — the shingle join is 1:1 with the marker set, not a
    pair explosion).
    """
    from pyspark.sql import Window

    pos = positioned_shingles(df, id_col, text_col, n, tokens_df=tokens_df)
    dup = (
        pos.groupBy("shingle")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("shingle")
    )
    marked = pos.join(dup, "shingle").select(id_col, "p")
    w = Window.partitionBy(id_col).orderBy("p")
    islands = marked.withColumn(
        "__new",
        F.when(F.col("p") - F.lag("p").over(w) > n, F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "__g",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = islands.groupBy(id_col, "__g").agg(
        F.min("p").alias("__s"), F.max("p").alias("__e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("__e") - F.col("__s") + n).alias("dup_tokens"),
    )
    base = pos.select(id_col, "n_tokens").distinct()
    out = base.join(per_doc, id_col, "left")
    return out.select(
        id_col,
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        "n_tokens",
        trunc_dp(
            F.coalesce("dup_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("dup_frac"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.6,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram CONTAINMENT — the
    asymmetric companion to ngram_jaccard_pairs: containment =
    |A ∩ B| / min(|A|, |B|), which fires when a small document is
    quoted/embedded inside a much larger one (a pair Jaccard
    structurally caps at min/max and misses). Same shingle self-join
    and shared-scan/``max_df`` contract as the Jaccard form; only the
    denominator differs.

    Returns (id_1 < id_2, containment) rounded to 6 digits."""
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, id_col, text_col, n).cache()
    )
    if max_df is not None:
        keep = sh.groupBy("shingle").count().filter(F.col("count") <= max_df)
        sh = sh.join(keep.select("shingle"), "shingle")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_1"), "shingle")
    b = sh.select(F.col(id_col).alias("id_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count("*").alias("n_inter"))
    )
    sz1 = sizes.select(F.col(id_col).alias("id_1"), F.col("n_sh").alias("n_1"))
    sz2 = sizes.select(F.col(id_col).alias("id_2"), F.col("n_sh").alias("n_2"))
    return (
        inter.join(sz1, "id_1")
        .join(sz2, "id_2")
        .withColumn(
            "containment",
            trunc_dp(F.col("n_inter") / F.least(F.col("n_1"), F.col("n_2")), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_1", "id_2", "containment")
    )


def containment_report(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.6,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-DOCUMENT doc-in-doc verdict — the report layer over the
    pair-level containment scan: for every document X, the single best
    "container" Y (the other document covering the largest fraction of
    X's distinct word-n-grams), the directed containment
    C(X→Y) = |S_X ∩ S_Y| / |S_X|, and the quote/subset verdict
    C >= threshold. The policy surface of substring dedup (Lee et al.
    2107.06499): "X is largely inside Y" decides drop-vs-keep, where
    the pair list alone leaves the caller to re-aggregate.

    Returns one row per document with >= n tokens:
    (id, n_shingles, best_container, containment, contained);
    best_container is NULL (containment 0) for documents sharing no
    shingle with any other.

    Scale shape: one shingle scan (shareable via ``shingles``), one
    equi self-join on the shingle (pair space bounded by shingle
    document frequency — corpus-frequent shingles are the quadratic
    lever; this REPORT keeps them because directed containment counts
    every shared shingle, so at open-web scale run it downstream of a
    line-dedup/boilerplate strip, not instead of one), one
    (id_1, id_2) count, one argmax window over the pair table keyed by
    id_1. All floats floor-truncated (portable.trunc_dp)."""
    from pyspark.sql import Window

    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, id_col, text_col, n)
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__n_sh"))
    a = sh.select(F.col(id_col).alias("__x"), "shingle")
    b = sh.select(F.col(id_col).alias("__y"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("__x") != F.col("__y"))
        .groupBy("__x", "__y")
        .agg(F.count("*").alias("__n_inter"))
    )
    szx = sizes.select(F.col(id_col).alias("__x"), "__n_sh")
    scored = inter.join(szx, "__x").select(
        "__x",
        "__y",
        trunc_dp(F.col("__n_inter") / F.col("__n_sh"), 6).alias("__c"),
    )
    w = Window.partitionBy("__x").orderBy(F.col("__c").desc(), F.col("__y"))
    best = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("__x", "__y", "__c")
    )
    return (
        sizes.join(best, sizes[id_col] == best["__x"], "left")
        .select(
            F.col(id_col),
            F.col("__n_sh").alias("n_shingles"),
            F.col("__y").alias("best_container"),
            F.coalesce(F.col("__c"), F.lit(0.0)).alias("containment"),
            (F.coalesce(F.col("__c"), F.lit(0.0)) >= F.lit(threshold)).alias(
                "contained"
            ),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    threshold: float = 0.5,
    block_tokens: int = 3,
    order_tokens: int = 8,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo
    1995, the merge/purge method): records are keyed by a content-
    derived sort key, ordered, and ONLY records within ``window``
    positions of each other are compared — O(n·w) comparisons instead
    of a pair join. Classic SNM sorts globally; the distributed form
    here blocks on the first ``block_tokens`` of the sorted distinct
    token set (near-dups share their smallest tokens, so they land in
    the same block) and sorts within blocks — each block's window scan
    is an independent partition, no global single-partition sort.
    Cross-block neighbors are missed by design (SNM is a recall
    heuristic; production runs multiple passes with different keys —
    add passes, or widen ``block_tokens`` as corpus grows to keep
    blocks bounded).

    Emits (id_1, id_2, jaccard) for window pairs with exact token-set
    Jaccard >= threshold; the similarity is exact, so precision is 1 —
    only recall is heuristic."""
    from pyspark.sql import Window

    s = df.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(tokens(F.col(text_col)))).alias("__set"),
    ).filter(F.size("__set") > 0)
    keyed = s.select(
        id_col,
        "__set",
        F.size("__set").alias("__n"),
        F.array_join(F.slice("__set", 1, block_tokens), " ").alias("__blk"),
        F.array_join(F.slice("__set", 1, order_tokens), " ").alias("__ord"),
    )
    w = Window.partitionBy("__blk").orderBy("__ord", id_col)
    lead_cols = []
    for j in range(1, window):
        lead_cols.append(
            F.struct(
                F.lead(id_col, j).over(w).alias("id2"),
                F.lead("__set", j).over(w).alias("set2"),
                F.lead("__n", j).over(w).alias("n2"),
            ).alias(f"__l{j}")
        )
    neigh = keyed.select(id_col, "__set", "__n", *lead_cols)
    pairs = neigh.select(
        id_col,
        "__set",
        "__n",
        F.explode(F.array(*[F.col(f"__l{j}") for j in range(1, window)])).alias(
            "__p"
        ),
    ).filter(F.col("__p.id2").isNotNull())
    inter = F.size(F.array_intersect(F.col("__set"), F.col("__p.set2")))
    jac = inter / (F.col("__n") + F.col("__p.n2") - inter)
    out = pairs.select(
        F.least(F.col(id_col), F.col("__p.id2")).alias("id_1"),
        F.greatest(F.col(id_col), F.col("__p.id2")).alias("id_2"),
        trunc_dp(jac, 6).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)
    # pairs are unique by construction: each (record, +j offset) is
    # generated exactly once in one direction — no dedup shuffle needed
    return out
