"""Portable one-pass sketches: HyperLogLog, KMV/theta, count-min,
Bloom — the cardinality / frequency / membership summaries a 100 TB
pipeline computes in a single scan and merges across partitions.

Every sketch here is built from PORTABLE arithmetic (md5-derived
60-bit hashes, log2/floor, modulo) instead of engine-native opaque
sketches (approx_count_distinct's HLL++ registers are not
reproducible outside Spark), so the ENTIRE sketch state and its
estimate are bit-checkable against a DuckDB twin — the estimator
itself is under the oracle gate, not just its inputs.

Scale shape: each sketch is a partial+final hash aggregate —
registers/counters/bits merge with max/sum/bit_or, so Spark combines
map-side and only sketch-sized state (KB) crosses the wire. That is
the whole point of sketching at 100 TB: the shuffle carries the
sketch, never the keys.

No reference-repo counterpart (the reference has no sketching —
SURVEY.md §2 stretch surface); design follows Flajolet et al. 2007
(HLL), Bar-Yossef et al. 2002 (KMV), Cormode & Muthukrishnan 2005
(count-min), Bloom 1970.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .portable import trunc_dp

# 60-bit portable hash: md5 first 15 hex digits parsed base-16. 15
# digits keep the value < 2^60 so BIGINT casts are exact in every
# engine (16 digits would need unsigned 64-bit, which Spark's long
# overflows).
HASH_BITS = 60


def _h60(col, salt: str = ""):
    s = F.concat(F.lit(salt), col.cast("string")) if salt else col.cast("string")
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )


def _h60_sql(expr: str, salt: str = "") -> str:
    """The DuckDB twin of _h60 (same md5-prefix base-16 parse)."""
    inner = f"concat('{salt}', CAST({expr} AS VARCHAR))" if salt else f"CAST({expr} AS VARCHAR)"
    return f"CAST(concat('0x', substr(md5({inner}), 1, 15)) AS BIGINT)"


def _dyadic_c(p: int) -> int:
    """Scale exponent of the integer-exact HLL register fold: terms are
    2^(C - rho) with C = (HASH_BITS - p) + 1 == the maximum possible
    rho, so the SMALLEST term is exactly 1 and no term ever truncates,
    for ANY p. (The previous hardcoded 52 is this value at p=9 — every
    p=9 output is bit-identical — but for p < 9 rho can exceed 52 and
    CAST(power(2.0, 52 - rho) AS BIGINT) silently floored those
    registers' sub-integer terms to 0, corrupting the estimate.)
    Overflow bound: occupied registers contribute <= m * 2^(C-1) and
    empty ones m * 2^C = 2^(HASH_BITS+1) = 2^61 < 2^63 — BIGINT-safe
    for all p."""
    return HASH_BITS - p + 1


def hll_distinct(
    df: DataFrame, key_col: str, p: int = 9
) -> DataFrame:
    """HyperLogLog cardinality estimate with fully-visible registers
    (:func:`hll_registers` — a partial+final max aggregate, so at
    scale each map task ships at most 2^p rows).

    Returns ONE row: (m, n_exact, v_empty, hll_raw, hll_estimate,
    rel_err) — the raw and small-range-corrected estimates of
    :func:`_hll_estimate`. n_exact rides along so the oracle checks
    the estimator AND its ground truth in the same row."""
    n_exact = df.select(F.countDistinct(key_col).alias("n_exact"))
    est = _hll_estimate(_hll_fold(hll_registers(df, key_col, p), p), p)
    return est.crossJoin(n_exact).select(
        F.lit(1 << p).alias("m"),
        "n_exact",
        "v_empty",
        "hll_raw",
        "hll_estimate",
        _rel_err("hll_estimate"),
    )


def _hll_regs(hashed: DataFrame, p: int, *by: str) -> DataFrame:
    """(*by, bucket, rho): the per-bucket max-rho registers of a frame
    of (*by, h). bucket = h mod 2^p; rho = the leading zeros of the
    remaining (60-p)-bit word w = h div 2^p, plus one: (60-p) -
    floor(log2(w)) for w > 0 and (60-p)+1 for w = 0. Integer div/mod
    only: h is up to 2^60, which double arithmetic would corrupt
    (> 2^53); w < 2^51 is exact in float64 and its log2 floors
    correctly."""
    m = 1 << p
    w_bits = HASH_BITS - p
    return (
        hashed.selectExpr(*by, f"h % {m} AS bucket", f"h div {m} AS w")
        .groupBy(*by, "bucket")
        .agg(
            F.expr(
                f"max(CASE WHEN w > 0 THEN {w_bits} - CAST(floor(log2(w)) AS BIGINT)"
                f" ELSE {w_bits + 1} END)"
            ).alias("rho")
        )
    )


def _hll_fold(regs: DataFrame, p: int, *by: str) -> DataFrame:
    """(*by, s_scaled, v_occupied): the register fold sum(2^-rho) per
    ``by`` group, carried as the EXACT integer sum of 2^(c-rho) with
    c = _dyadic_c(p) >= every rho — each term a dyadic integer, one
    order-free associative sum, bit-identical in every engine."""
    c = _dyadic_c(p)
    return regs.groupBy(*by).agg(
        F.expr(f"sum(CAST(power(2.0, {c} - rho) AS BIGINT))").alias("s_scaled"),
        F.count("*").alias("v_occupied"),
    )


def _hll_estimate(folded: DataFrame, p: int) -> DataFrame:
    """``folded`` with (s_scaled, v_occupied) replaced by v_empty,
    hll_raw = alpha_m * m^2 / sum(2^-M_j) over ALL m buckets (empty
    buckets contribute 2^0) and hll_estimate, which applies the
    standard small-range correction E <= 2.5m -> m * ln(m/V)."""
    m = 1 << p
    c = _dyadic_c(p)
    occupied = F.col("v_occupied")
    raw = trunc_dp(
        F.lit(_hll_alpha(m) * m * m)
        / (
            (F.col("s_scaled") + (F.lit(m) - occupied) * F.lit(1 << c))
            / F.lit(float(1 << c))
        ),
        6,
    )
    out = folded.withColumns(
        {"v_empty": (F.lit(m) - occupied).cast("long"), "hll_raw": raw}
    ).drop("s_scaled", "v_occupied")
    return out.withColumn(
        "hll_estimate",
        F.when(
            (F.col("hll_raw") <= 2.5 * m) & (F.col("v_empty") > 0),
            trunc_dp(F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_empty")), 6),
        ).otherwise(F.col("hll_raw")),
    )


def _rel_err(estimate: str):
    """|estimate - n_exact| / n_exact, truncated to 6 dp."""
    return trunc_dp(
        F.abs(F.col(estimate) - F.col("n_exact")) / F.col("n_exact"), 6
    ).alias("rel_err")


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct_sql(table: str, key_expr: str, p: int = 9) -> str:
    """DuckDB twin of :func:`hll_distinct` (same constants, same fold)."""
    m = 1 << p
    alpha = _hll_alpha(m)
    w_bits = HASH_BITS - p
    c = _dyadic_c(p)
    h = _h60_sql(key_expr)
    scale = float(1 << c)
    return f"""
    WITH keyed AS (
        SELECT h % {m} AS bucket, h // {m} AS w
        FROM (SELECT {h} AS h FROM {table})
    ), regs AS (
        SELECT bucket,
               max(CASE WHEN w > 0 THEN {w_bits} - CAST(floor(log2(w)) AS BIGINT)
                        ELSE {w_bits + 1} END) AS rho
        FROM keyed GROUP BY bucket
    ), s AS (
        SELECT sum(CAST(power(2.0, {c} - rho) AS BIGINT)) AS s_scaled,
               count(*) AS v_occupied
        FROM regs
    ), e AS (
        SELECT CAST({m} AS INTEGER) AS m,
               (SELECT count(DISTINCT {key_expr}) FROM {table}) AS n_exact,
               CAST({m} - v_occupied AS BIGINT) AS v_empty,
               floor((CAST({alpha!r} AS DOUBLE) * {m} * {m} /
                     ((s_scaled + ({m} - v_occupied) * CAST({1 << c} AS BIGINT))
                      / {scale!r})) * 1000000.0) / 1000000.0 AS hll_raw
        FROM s
    )
    SELECT m, n_exact, v_empty, hll_raw,
           CASE WHEN hll_raw <= 2.5 * {m} AND v_empty > 0
                THEN floor(({m}.0 * ln({m}.0 / v_empty)) * 1000000.0) / 1000000.0
                ELSE hll_raw END AS hll_estimate,
           floor((abs(CASE WHEN hll_raw <= 2.5 * {m} AND v_empty > 0
                          THEN floor(({m}.0 * ln({m}.0 / v_empty)) * 1000000.0) / 1000000.0
                          ELSE hll_raw END - n_exact) / n_exact) * 1000000.0) / 1000000.0 AS rel_err
    FROM e
    """


def hll_rollup(
    df: DataFrame, shard_col: str, key_col: str, p: int = 9
) -> DataFrame:
    """Mergeable distinct-count rollup in md5-mode: per-shard HLL
    registers (the KB-sized state a 100 TB pipeline persists per
    day/partition) max-merged into one union estimate — the same
    register, fold and estimate helpers as :func:`hll_distinct`, so
    the whole rollup is deterministic and oracle-hashable (the
    production DataSketches tier lives in
    agg.hll_shard_sketches/hll_merge_estimate; its estimates are
    engine-native and pinned by band tests instead).

    Plan shape at scale: the per-shard partial is a hash aggregate
    whose output is bounded by shards x 2^p rows; the merge is a
    second bounded max-aggregate; the fact is scanned once. n_exact
    rides along as the audit (drop in production).

    Returns ONE row: (n_shards, m, n_exact, v_empty, hll_estimate,
    rel_err)."""
    per_shard = _hll_regs(
        df.select(F.col(shard_col).alias("shard"), _h60(F.col(key_col)).alias("h")),
        p,
        "shard",
    )
    merged = per_shard.groupBy("bucket").agg(F.max("rho").alias("rho"))
    n_shards = per_shard.select("shard").distinct().agg(
        F.count("*").alias("n_shards")
    )
    n_exact = df.select(F.countDistinct(key_col).alias("n_exact"))
    est = _hll_estimate(_hll_fold(merged, p), p)
    return est.crossJoin(n_shards).crossJoin(n_exact).select(
        "n_shards",
        F.lit(1 << p).alias("m"),
        "n_exact",
        "v_empty",
        "hll_estimate",
        _rel_err("hll_estimate"),
    )


def hll_rollup_sql(
    table: str, shard_expr: str, key_expr: str, p: int = 9
) -> str:
    """DuckDB twin of :func:`hll_rollup` (same constants, same fold;
    the per-shard -> merged two-level max mirrors the Spark plan)."""
    m = 1 << p
    alpha = _hll_alpha(m)
    w_bits = HASH_BITS - p
    c = _dyadic_c(p)
    h = _h60_sql(key_expr)
    scale = float(1 << c)
    return f"""
    WITH keyed AS (
        SELECT shard, h % {m} AS bucket, h // {m} AS w
        FROM (SELECT {shard_expr} AS shard, {h} AS h FROM {table})
    ), per_shard AS (
        SELECT shard, bucket,
               max(CASE WHEN w > 0 THEN {w_bits} - CAST(floor(log2(w)) AS BIGINT)
                        ELSE {w_bits + 1} END) AS rho
        FROM keyed GROUP BY shard, bucket
    ), merged AS (
        SELECT bucket, max(rho) AS rho FROM per_shard GROUP BY bucket
    ), s AS (
        SELECT sum(CAST(power(2.0, {c} - rho) AS BIGINT)) AS s_scaled,
               count(*) AS v_occupied
        FROM merged
    ), e AS (
        SELECT (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM per_shard)
                   AS n_shards,
               CAST({m} AS INTEGER) AS m,
               (SELECT count(DISTINCT {key_expr}) FROM {table}) AS n_exact,
               CAST({m} - v_occupied AS BIGINT) AS v_empty,
               floor((CAST({alpha!r} AS DOUBLE) * {m} * {m} /
                     ((s_scaled + ({m} - v_occupied) * CAST({1 << c} AS BIGINT))
                      / {scale!r})) * 1000000.0) / 1000000.0 AS hll_raw
        FROM s
    )
    SELECT n_shards, m, n_exact, v_empty,
           CASE WHEN hll_raw <= 2.5 * {m} AND v_empty > 0
                THEN floor(({m}.0 * ln({m}.0 / v_empty)) * 1000000.0) / 1000000.0
                ELSE hll_raw END AS hll_estimate,
           floor((abs(CASE WHEN hll_raw <= 2.5 * {m} AND v_empty > 0
                          THEN floor(({m}.0 * ln({m}.0 / v_empty)) * 1000000.0) / 1000000.0
                          ELSE hll_raw END - n_exact) / n_exact) * 1000000.0) / 1000000.0 AS rel_err
    FROM e
    """


def kmv_distinct(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """KMV (k-minimum-values / bottom-k theta) cardinality estimate:
    keep the k smallest normalized hashes u = h / 2^60 of the DISTINCT
    keys; estimate = (k-1) / u_(k). Unbiased, mergeable (union of
    bottom-k sets -> bottom-k), and the entire sketch is k doubles.
    The per-partition bottom-k is a partial sort_agg; only k values
    per task cross the shuffle.

    Returns ONE row (k, n_exact, kth_u, kmv_estimate, rel_err); if the
    corpus has fewer than k distinct keys the estimate IS the exact
    count (kth_u = NULL)."""
    two60 = float(1 << HASH_BITS)
    u = (_h60(F.col(key_col)) / F.lit(two60)).alias("u")
    dist = df.select(key_col).distinct().select(u)
    # orderBy + limit compiles to TakeOrderedAndProject: per-partition
    # bottom-k, then a k-row merge — never a single-partition global
    # sort (the global-window form would be a 100 TB scale-killer).
    bottomk = dist.orderBy("u").limit(k)
    kth = bottomk.agg(
        F.max("u").alias("u_max"), F.count("*").alias("got")
    ).select(
        F.when(F.col("got") == k, F.col("u_max")).alias("kth_u")
    )
    n_exact = df.select(F.countDistinct(key_col).alias("n_exact"))
    return (
        n_exact.crossJoin(kth)
        .select(
            F.lit(k).alias("k"),
            "n_exact",
            trunc_dp("kth_u", 12).alias("kth_u"),
            trunc_dp(
                F.coalesce(
                    (F.lit(k - 1.0)) / F.col("kth_u"),
                    F.col("n_exact").cast("double"),
                ),
                6,
            ).alias("kmv_estimate"),
        )
        .withColumn(
            "rel_err",
            trunc_dp(
                F.abs(F.col("kmv_estimate") - F.col("n_exact"))
                / F.col("n_exact"),
                6,
            ),
        )
    )


def kmv_distinct_sql(table: str, key_expr: str, k: int = 256) -> str:
    two60 = float(1 << HASH_BITS)
    h = _h60_sql(key_expr)
    return f"""
    WITH dist AS (
        SELECT DISTINCT {key_expr} AS key FROM {table}
    ), u AS (
        SELECT {_h60_sql('key')} / {two60!r} AS u FROM dist
    ), ranked AS (
        SELECT u, row_number() OVER (ORDER BY u) AS rn FROM u
    ), kth AS (
        SELECT u AS kth_u FROM ranked WHERE rn = {k}
    ), n AS (
        SELECT count(*) AS n_exact FROM dist
    )
    SELECT CAST({k} AS INTEGER) AS k, n_exact,
           floor((kth_u) * 1000000000000.0) / 1000000000000.0 AS kth_u,
           floor((coalesce(({k} - 1.0) / kth_u, n_exact)) * 1000000.0) / 1000000.0 AS kmv_estimate,
           floor((abs(coalesce(({k} - 1.0) / kth_u, n_exact) - n_exact)
                 / n_exact) * 1000000.0) / 1000000.0 AS rel_err
    FROM n LEFT JOIN kth ON true
    """


def countmin_estimates(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    top: int = 20,
) -> DataFrame:
    """Count-min sketch + point estimates for the top-``top`` true
    keys. The sketch is depth x width counters (sum-mergeable — ONE
    partial+final aggregate over (row, bucket)); a key's estimate is
    the MIN over its depth counters, always >= the true count
    (one-sided error, the CM guarantee).

    Returns (key, true_n, cm_estimate, overcount) for the top keys by
    true frequency (ties -> key asc) — estimator and ground truth
    side by side under the oracle."""
    rows = None
    for d in range(depth):
        b = (_h60(F.col(key_col), salt=f"cm{d}:") % width).alias("bucket")
        r = df.select(F.lit(d).alias("row"), b, F.col(key_col).alias("key"))
        rows = r if rows is None else rows.unionByName(r)
    counters = rows.groupBy("row", "bucket").agg(F.count("*").alias("c"))
    true_top = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count("*").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("key"))
        .limit(top)
    )
    probes = None
    for d in range(depth):
        b = (_h60(F.col("key"), salt=f"cm{d}:") % width).alias("bucket")
        p = true_top.select("key", "true_n", F.lit(d).alias("row"), b)
        probes = p if probes is None else probes.unionByName(p)
    est = (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("key", "true_n")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        "key",
        "true_n",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("true_n")).alias("overcount"),
    )


def countmin_estimates_sql(
    table: str,
    key_expr: str,
    depth: int = 4,
    width: int = 256,
    top: int = 20,
) -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT {d} AS row, {_h60_sql(key_expr, salt=f'cm{d}:')} % {width} AS bucket, "
        f"{key_expr} AS key FROM {table}"
        for d in range(depth)
    )
    probe_arms = "\nUNION ALL\n".join(
        f"SELECT key, true_n, {d} AS row, "
        f"{_h60_sql('key', salt=f'cm{d}:')} % {width} AS bucket FROM true_top"
        for d in range(depth)
    )
    return f"""
    WITH rows_ AS (
        {arms}
    ), counters AS (
        SELECT row, bucket, count(*) AS c FROM rows_ GROUP BY row, bucket
    ), true_top AS (
        SELECT {key_expr} AS key, count(*) AS true_n
        FROM {table} GROUP BY 1
        ORDER BY true_n DESC, key LIMIT {top}
    ), probes AS (
        {probe_arms}
    ), est AS (
        SELECT p.key, p.true_n, min(c.c) AS cm_estimate
        FROM probes p JOIN counters c USING (row, bucket)
        GROUP BY p.key, p.true_n
    )
    SELECT key, true_n, cm_estimate,
           cm_estimate - true_n AS overcount
    FROM est
    """


def bloom_membership(
    build: DataFrame,
    probe: DataFrame,
    build_key: str,
    probe_key: str,
    k: int = 7,
    m_bits: int = 1 << 14,
) -> DataFrame:
    """Bloom-filter membership audit: build a bit set from
    ``build``'s keys (k md5-salted positions each, bit_or-mergeable),
    probe every distinct ``probe`` key, and report the confusion
    summary. A probe hits iff ALL k of its bit positions are set —
    Bloom admits false positives, never false negatives, and the
    output states both rates.

    Returns rows (is_member, bloom_hit, n): is_member = ground truth
    (semi-join against build), bloom_hit = filter answer. The
    (false, true) row IS the false-positive count; a (true, false)
    row must never exist (asserted in tests).

    One-pass build and probe (r7): the k salted positions are an
    in-row array exploded once, so each side is scanned ONCE instead
    of k times (the previous k-armed union re-read the input per salt
    — 7x the scan bytes at 100 TB for identical output; the SQL twin
    keeps the k-arm spelling, which only ever runs at oracle scale)."""

    def _bit_array(col: str):
        return F.array(
            *[(_h60(F.col(col), salt=f"bf{i}:") % m_bits) for i in range(k)]
        )

    bitset = build.select(
        F.explode(_bit_array(build_key)).alias("bit")
    ).distinct()
    probes = probe.select(F.col(probe_key).alias("key")).distinct()
    # distinct (key, bit): two salts of one key may collide on a bit
    # position, so the hit test compares DISTINCT set positions to
    # DISTINCT wanted positions, not to the constant k
    probe_bits = probes.select(
        "key", F.explode(_bit_array("key")).alias("bit")
    ).distinct()
    wanted = probe_bits.groupBy("key").agg(F.count("*").alias("want_bits"))
    hits = (
        probe_bits.join(F.broadcast(bitset), "bit", "left_semi")
        .groupBy("key")
        .agg(F.count("*").alias("set_bits"))
        .join(wanted, "key")
        .filter(F.col("set_bits") == F.col("want_bits"))
        .select("key", F.lit(True).alias("bloom_hit"))
    )
    members = build.select(F.col(build_key).alias("key")).distinct().select(
        "key", F.lit(True).alias("is_member")
    )
    audit = (
        probes.join(hits, "key", "left")
        .join(F.broadcast(members), "key", "left")
        .select(
            F.coalesce("is_member", F.lit(False)).alias("is_member"),
            F.coalesce("bloom_hit", F.lit(False)).alias("bloom_hit"),
        )
    )
    return (
        audit.groupBy("is_member", "bloom_hit")
        .agg(F.count("*").alias("n"))
    )


def bloom_membership_sql(
    build_table: str,
    probe_table: str,
    build_key: str,
    probe_key: str,
    k: int = 7,
    m_bits: int = 1 << 14,
) -> str:
    bit_arms = "\nUNION\n".join(
        f"SELECT DISTINCT {_h60_sql(build_key, salt=f'bf{i}:')} % {m_bits} AS bit "
        f"FROM {build_table}"
        for i in range(k)
    )
    probe_arms = "\nUNION ALL\n".join(
        f"SELECT key, {_h60_sql('key', salt=f'bf{i}:')} % {m_bits} AS bit FROM probes"
        for i in range(k)
    )
    return f"""
    WITH bitset AS (
        {bit_arms}
    ), probes AS (
        SELECT DISTINCT {probe_key} AS key FROM {probe_table}
    ), probe_bits AS (
        SELECT DISTINCT key, bit FROM ({probe_arms})
    ), wanted AS (
        SELECT key, count(*) AS want_bits FROM probe_bits GROUP BY key
    ), hits AS (
        SELECT pb.key FROM probe_bits pb
        JOIN bitset b USING (bit)
        JOIN wanted w ON pb.key = w.key
        GROUP BY pb.key, w.want_bits HAVING count(*) = w.want_bits
    ), members AS (
        SELECT DISTINCT {build_key} AS key FROM {build_table}
    )
    SELECT coalesce(m.key IS NOT NULL, false) AS is_member,
           coalesce(h.key IS NOT NULL, false) AS bloom_hit,
           count(*) AS n
    FROM probes p
    LEFT JOIN hits h ON p.key = h.key
    LEFT JOIN members m ON p.key = m.key
    GROUP BY 1, 2
    """


def kmv_setops(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    k: int = 256,
) -> DataFrame:
    """Theta-sketch set operations from two KMV sketches (Dasgupta et
    al., "Theta sketch framework"): estimate |A|, |B|, |A∪B| and
    |A∩B| from two bottom-k hash samples — the sketch answer to
    "overlap between two 100 TB key sets" that never joins the sets.

    Recipe: theta = min over both sketches of their k-th smallest
    normalized hash (1.0 if a set has < k distinct keys); every
    sketch hash < theta is a uniform sample of its set at rate theta,
    so |A∪B| ≈ |union sample|/theta and |A∩B| ≈ |both sample|/theta.
    Exact counterparts ride along per estimate: rows
    (op, estimate, exact, rel_err) for op in a/b/union/intersect.

    Scale shape: each sketch is a distinct + TakeOrderedAndProject
    (per-partition bottom-k, k-row merge); the set algebra runs on
    two k-row frames. Only the exact ground-truth columns touch the
    full data — at production scale those columns are dropped and the
    whole query is sketch-sized."""
    two60 = float(1 << HASH_BITS)

    def _sketch(df: DataFrame, key: str) -> DataFrame:
        u = (_h60(F.col(key)) / F.lit(two60)).alias("u")
        return df.select(key).distinct().select(u).orderBy("u").limit(k)

    sa = _sketch(a, a_key).cache()
    sb = _sketch(b, b_key).cache()

    def _theta(s: DataFrame):
        return s.agg(
            F.when(F.count("*") == k, F.max("u")).otherwise(F.lit(1.0)).alias("th")
        )

    theta = (
        _theta(sa)
        .crossJoin(_theta(sb).withColumnRenamed("th", "th_b"))
        .select(F.least("th", "th_b").alias("theta"))
    )
    both = sa.join(sb, "u", "left_semi")
    union_s = sa.select("u").union(sb.select("u")).distinct()

    def _est(sample: DataFrame, name: str) -> DataFrame:
        return (
            sample.crossJoin(F.broadcast(theta))
            .filter(F.col("u") < F.col("theta"))
            .groupBy()
            .agg(F.count("*").alias("__m"), F.max("theta").alias("__th"))
            .select(
                F.lit(name).alias("op"),
                trunc_dp(
                    F.coalesce(F.col("__m") / F.col("__th"), F.lit(0.0)), 6
                ).alias("estimate"),
            )
        )

    ests = (
        _est(sa, "a")
        .unionByName(_est(sb, "b"))
        .unionByName(_est(union_s, "union"))
        .unionByName(_est(both, "intersect"))
    )
    # exact counts via one union'd aggregate (no driver-side counts)
    da = a.select(F.col(a_key).alias("key")).distinct()
    db = b.select(F.col(b_key).alias("key")).distinct()
    ex = (
        da.select(F.lit("a").alias("op"), "key")
        .unionByName(db.select(F.lit("b").alias("op"), "key"))
        .unionByName(
            da.select("key").union(db.select("key")).distinct()
            .select(F.lit("union").alias("op"), "key")
        )
        .unionByName(
            da.join(db, "key", "left_semi")
            .select(F.lit("intersect").alias("op"), "key")
        )
        .groupBy("op")
        .agg(F.count("*").alias("exact"))
    )
    return (
        ests.join(ex, "op", "left")
        .select(
            "op",
            "estimate",
            F.coalesce("exact", F.lit(0)).alias("exact"),
            trunc_dp(
                F.abs(F.col("estimate") - F.coalesce("exact", F.lit(0)))
                / F.greatest(F.coalesce("exact", F.lit(0)), F.lit(1)),
                6,
            ).alias("rel_err"),
        )
    )


def kmv_setops_sql(
    a_table: str,
    b_table: str,
    a_key: str,
    b_key: str,
    k: int = 256,
) -> str:
    """DuckDB twin of :func:`kmv_setops` (same hashes, same theta)."""
    two60 = float(1 << HASH_BITS)

    def _sk(table: str, key: str, name: str) -> str:
        return f"""{name} AS (
        SELECT u FROM (
            SELECT {_h60_sql('key')} / {two60!r} AS u
            FROM (SELECT DISTINCT {key} AS key FROM {table})
        ) ORDER BY u LIMIT {k}
    )"""

    return f"""
    WITH {_sk(a_table, a_key, 'sa')}, {_sk(b_table, b_key, 'sb')},
    theta AS (
        SELECT least(
            (SELECT CASE WHEN count(*) = {k} THEN max(u) ELSE 1.0 END FROM sa),
            (SELECT CASE WHEN count(*) = {k} THEN max(u) ELSE 1.0 END FROM sb)
        ) AS theta
    ),
    samples AS (
        SELECT 'a' AS op, u FROM sa
        UNION ALL SELECT 'b', u FROM sb
        UNION ALL SELECT 'union', u FROM (SELECT u FROM sa UNION SELECT u FROM sb)
        UNION ALL SELECT 'intersect', u
                  FROM sa WHERE u IN (SELECT u FROM sb)
    ),
    ests AS (
        SELECT op,
               floor((coalesce(count(*) FILTER (u < theta) / max(theta), 0.0)) * 1000000.0) / 1000000.0
                   AS estimate
        FROM samples CROSS JOIN theta GROUP BY op
    ),
    da AS (SELECT DISTINCT {a_key} AS key FROM {a_table}),
    db AS (SELECT DISTINCT {b_key} AS key FROM {b_table}),
    ex AS (
        SELECT 'a' AS op, count(*) AS exact FROM da
        UNION ALL SELECT 'b', count(*) FROM db
        UNION ALL SELECT 'union', count(*)
                  FROM (SELECT key FROM da UNION SELECT key FROM db)
        UNION ALL SELECT 'intersect', count(*)
                  FROM da WHERE key IN (SELECT key FROM db)
    )
    SELECT e.op, e.estimate, coalesce(x.exact, 0) AS exact,
           floor((abs(e.estimate - coalesce(x.exact, 0))
                 / greatest(coalesce(x.exact, 0), 1)) * 1000000.0) / 1000000.0 AS rel_err
    FROM ests e LEFT JOIN ex x ON e.op = x.op
    """


def hll_registers(df: DataFrame, key_col: str, p: int = 9) -> DataFrame:
    """(bucket, rho): the raw HyperLogLog register table of a key set —
    the MERGEABLE state form of :func:`hll_distinct` (registers merge
    by per-bucket max; the estimate is derived, state is the sketch).
    Same hash/rho construction, integer-exact."""
    return _hll_regs(df.select(_h60(F.col(key_col)).alias("h")), p)


def hll_merge_audit(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    p: int = 9,
) -> DataFrame:
    """The HLL mergeability proof as a query: registers built on two
    disjoint-scan halves, max-merged, must equal the registers of one
    full scan BUCKET-FOR-BUCKET — ``merge(sketch(A), sketch(B)) ==
    sketch(A ∪ B)``, the identity that lets 100 TB cardinality roll
    up from per-partition/per-day sketch state without ever rescanning
    history (the sketch twin of merge_partial_aggregates).

    Returns ONE row: (m, n_exact, merged_estimate, direct_estimate,
    n_register_mismatch, registers_equal). n_register_mismatch counts
    full-outer-join disagreements (must be 0; pinned in tests and in
    the oracle twin)."""
    m = 1 << p
    ra = hll_registers(a, a_key, p)
    rb = hll_registers(b, b_key, p)
    merged = (
        ra.unionByName(rb).groupBy("bucket").agg(F.max("rho").alias("rho"))
    )
    direct = hll_registers(
        a.select(F.col(a_key).alias("__k")).unionByName(
            b.select(F.col(b_key).alias("__k"))
        ),
        "__k",
        p,
    )
    mism = (
        merged.withColumnRenamed("rho", "rho_m")
        .join(direct.withColumnRenamed("rho", "rho_d"), "bucket", "full_outer")
        .filter(
            F.col("rho_m").isNull()
            | F.col("rho_d").isNull()
            | (F.col("rho_m") != F.col("rho_d"))
        )
        .agg(F.count("*").alias("n_register_mismatch"))
    )

    def _est(regs: DataFrame, name: str) -> DataFrame:
        return _hll_estimate(_hll_fold(regs, p), p).select(
            F.col("hll_estimate").alias(name)
        )

    n_exact = (
        a.select(F.col(a_key).alias("__k"))
        .unionByName(b.select(F.col(b_key).alias("__k")))
        .agg(F.countDistinct("__k").alias("n_exact"))
    )
    return (
        n_exact.crossJoin(_est(merged, "merged_estimate"))
        .crossJoin(_est(direct, "direct_estimate"))
        .crossJoin(mism)
        .select(
            F.lit(m).alias("m"),
            "n_exact",
            "merged_estimate",
            "direct_estimate",
            "n_register_mismatch",
            (F.col("n_register_mismatch") == 0).alias("registers_equal"),
        )
    )


def hll_merge_audit_sql(
    a_select: str,
    b_select: str,
    p: int = 9,
) -> str:
    """DuckDB twin of :func:`hll_merge_audit`; ``a_select``/``b_select``
    are full SELECTs producing one column ``key``."""
    m = 1 << p
    alpha = _hll_alpha(m)
    w_bits = HASH_BITS - p
    c = _dyadic_c(p)
    scale = float(1 << c)
    h = _h60_sql("key")

    def _regs(src: str, name: str) -> str:
        return f"""{name} AS (
        SELECT h % {m} AS bucket,
               max(CASE WHEN h // {m} > 0
                        THEN {w_bits} - CAST(floor(log2(h // {m})) AS BIGINT)
                        ELSE {w_bits + 1} END) AS rho
        FROM (SELECT {h} AS h FROM ({src}))
        GROUP BY 1
    )"""

    est = (
        f"""(SELECT CASE
            WHEN floor((CAST({alpha!r} AS DOUBLE) * {m} * {m} /
                 ((sum(CAST(power(2.0, {c} - rho) AS BIGINT))
                   + ({m} - count(*)) * CAST({1 << c} AS BIGINT)) / {scale!r})) * 1000000.0) / 1000000.0 <= 2.5 * {m} AND {m} - count(*) > 0
            THEN floor(({m}.0 * ln({m}.0 / ({m} - count(*)))) * 1000000.0) / 1000000.0
            ELSE floor((CAST({alpha!r} AS DOUBLE) * {m} * {m} /
                 ((sum(CAST(power(2.0, {c} - rho) AS BIGINT))
                   + ({m} - count(*)) * CAST({1 << c} AS BIGINT)) / {scale!r})) * 1000000.0) / 1000000.0 END FROM {{src}})"""
    )
    return f"""
    WITH {_regs(a_select, 'ra')}, {_regs(b_select, 'rb')},
    merged AS (
        SELECT bucket, max(rho) AS rho
        FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
        GROUP BY bucket
    ),
    {_regs(f"{a_select} UNION ALL {b_select}", 'direct')},
    mism AS (
        SELECT count(*) AS n_register_mismatch
        FROM merged m FULL OUTER JOIN direct d USING (bucket)
        WHERE m.rho IS NULL OR d.rho IS NULL OR m.rho <> d.rho
    )
    SELECT CAST({m} AS INTEGER) AS m,
           (SELECT count(DISTINCT key) FROM ({a_select} UNION ALL {b_select}))
               AS n_exact,
           {est.format(src='merged')} AS merged_estimate,
           {est.format(src='direct')} AS direct_estimate,
           n_register_mismatch,
           n_register_mismatch = 0 AS registers_equal
    FROM mism
    """


def quantile_sketch_bottomk(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_expr,
    k: int = 512,
    ps: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Per-group quantile estimates from a deterministic hash-uniform
    bottom-k row sample, audited against the exact quantiles.

    The KMV trick pointed at order statistics: rank every row by
    u = h60(row id)/2^60 (uniform, deterministic, engine-portable) and
    keep each group's k smallest-u rows — a uniform random sample whose
    interpolated quantiles estimate the group's with O(1/sqrt(k)) rank
    error. The sample is MERGEABLE (bottom-k of a union = bottom-k of
    the parts' bottom-k's), so shards sketch independently and the
    coordinator merges k rows per group — the scale story Spark's own
    approx_percentile (GK) shares, but with a sample you can also
    re-ask for ANY quantile, join back to full rows, or stack with
    other sketches.

    Scale shape: a naive per-group row_number window would
    shuffle-sort the whole fact. Instead: one aggregate computes group
    counts; rows are prefiltered to u <= min(1, 4k/n) (every true
    bottom-k row passes whenever >= k rows pass — guaranteed up to an
    astronomically small Chernoff tail, and deterministically caught by
    the oracle if it ever bit); the window then ranks only ~4k
    survivors per group. Two fact scans, no full-fact sort.

    Output: (group, n_rows, n_sample, and per p: q{p}_est, q{p}_exact)
    — the exact side is the AUDIT (drop it in production; it is the
    only full-data pass beyond the count)."""
    from pyspark.sql import Window

    two60 = float(1 << HASH_BITS)
    u = (_h60(id_expr) / F.lit(two60)).alias("__u")
    rows = df.select(
        F.col(group_col), F.col(value_col).cast("double").alias("__v"), u
    )
    counts = rows.groupBy(group_col).agg(F.count("*").alias("__n"))
    thresh = F.least(F.lit(1.0), F.lit(4.0 * k) / F.col("__n"))
    survivors = rows.join(F.broadcast(counts), group_col).filter(
        F.col("__u") <= thresh
    )
    w = Window.partitionBy(group_col).orderBy("__u")
    sample = survivors.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    parr = "array({})".format(", ".join(repr(p) for p in ps))
    est = sample.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_sample"),
        F.expr(f"percentile(__v, {parr})").alias("__qe"),
    )
    exact = rows.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr(f"percentile(__v, {parr})").alias("__qx"),
    )
    out = exact.join(est, group_col)
    cols = [F.col(group_col), F.col("n_rows"), F.col("n_sample")]
    for i, p in enumerate(ps):
        tag = str(p).replace("0.", "p")
        cols.append(
            trunc_dp(F.element_at("__qe", i + 1), 6).alias(f"{tag}_est")
        )
        cols.append(
            trunc_dp(F.element_at("__qx", i + 1), 6).alias(f"{tag}_exact")
        )
    return out.select(*cols)


def quantile_sketch_bottomk_sql(
    table: str,
    group_expr: str,
    value_expr: str,
    id_expr: str,
    k: int = 512,
    ps: tuple = (0.25, 0.5, 0.75, 0.95),
) -> str:
    """DuckDB twin of :func:`quantile_sketch_bottomk` (plain
    row_number bottom-k — the prefilter is a lossless physical
    optimization, so the simple form is the semantic spec)."""
    two60 = float(1 << HASH_BITS)
    est_cols, ex_cols, out_cols = [], [], []
    for p in ps:
        tag = str(p).replace("0.", "p")
        est_cols.append(f"quantile_cont(v, {p!r}) AS {tag}_est")
        ex_cols.append(f"quantile_cont(v, {p!r}) AS {tag}_exact")
        out_cols.append(f"floor(({tag}_est) * 1000000.0) / 1000000.0 AS {tag}_est")
        out_cols.append(f"floor(({tag}_exact) * 1000000.0) / 1000000.0 AS {tag}_exact")
    return f"""
    WITH rows_u AS (
        SELECT {group_expr} AS grp, CAST({value_expr} AS DOUBLE) AS v,
               {_h60_sql(id_expr)} / {two60!r} AS u
        FROM {table}
    ), ranked AS (
        SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY u) AS rn
        FROM rows_u
    ), est AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_sample,
               {", ".join(est_cols)}
        FROM ranked WHERE rn <= {k} GROUP BY grp
    ), ex AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS n_rows,
               {", ".join(ex_cols)}
        FROM rows_u GROUP BY grp
    )
    SELECT ex.grp, n_rows, n_sample, {", ".join(out_cols)}
    FROM ex JOIN est ON ex.grp = est.grp
    """


def hll_sliding_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_days: int = 7,
    p: int = 9,
) -> DataFrame:
    """Rolling window_days-day distinct-key count per day via HLL
    register merge — the 100 TB plan for WAU-style metrics.

    w18_rolling_distinct_users fans every distinct (user, day) pair
    across the window (state ~ users x days). Here each day first
    collapses to its 2^p-row register table, and only REGISTERS fan
    across the window — per-day state is fixed at 2^p rows no matter
    how many users, the merge is the max-fold (sketch_hll_merge
    identity), and the estimate is the same dyadic-exact fold as
    hll_distinct, so the whole query is deterministic and
    oracle-hashable. n_exact rides along per day as the audit.

    Returns (day, n_exact, v_empty, wau_hll, rel_err) per active
    day."""
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    regs = _hll_regs(
        df.select(day.alias("day"), _h60(F.col(key_col)).alias("h")), p, "day"
    )

    def fan(frame: DataFrame, *cols: str) -> DataFrame:
        # each row copied to every window that covers its day
        return frame.select(
            F.expr(f"explode(sequence(0, {window_days - 1}))").alias("__i"),
            "day",
            *cols,
        ).select(F.date_add(F.col("day"), F.col("__i")).alias("day"), *cols)

    merged = fan(regs, "bucket", "rho").groupBy("day", "bucket").agg(
        F.max("rho").alias("rho")
    )
    days = df.select(day.alias("day")).distinct()
    folded = _hll_fold(merged.join(days, "day"), p, "day")
    # exact audit: distinct (key, day) fanned across the window (the
    # w18 plan — the thing the sketch replaces; drop in production)
    kd = df.select(day.alias("day"), F.col(key_col).alias("__k")).distinct()
    exact = (
        fan(kd, "__k")
        .join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("__k").alias("n_exact"))
    )
    return _hll_estimate(folded, p).join(exact, "day").select(
        "day",
        "n_exact",
        "v_empty",
        F.col("hll_estimate").alias("wau_hll"),
        _rel_err("hll_estimate"),
    )


def hll_sliding_distinct_sql(
    table: str,
    key_expr: str,
    ts_expr: str,
    window_days: int = 7,
    p: int = 9,
) -> str:
    """DuckDB twin of :func:`hll_sliding_distinct` (same constants,
    same register fan + max-merge + dyadic fold)."""
    m = 1 << p
    alpha = _hll_alpha(m)
    w_bits = HASH_BITS - p
    c = _dyadic_c(p)
    h = _h60_sql(key_expr)
    scale = float(1 << c)
    return f"""
    WITH keyed AS (
        SELECT CAST(date_trunc('day', {ts_expr}) AS DATE) AS day,
               h % {m} AS bucket, h // {m} AS w
        FROM (SELECT {ts_expr}, {h} AS h FROM {table})
    ), regs AS (
        SELECT day, bucket,
               max(CASE WHEN w > 0 THEN {w_bits} - CAST(floor(log2(w)) AS BIGINT)
                        ELSE {w_bits + 1} END) AS rho
        FROM keyed GROUP BY day, bucket
    ), fan AS (
        SELECT day + CAST(i AS INTEGER) AS day, bucket, rho
        FROM regs, unnest(generate_series(0, {window_days - 1})) AS t(i)
    ), days AS (
        SELECT DISTINCT CAST(date_trunc('day', {ts_expr}) AS DATE) AS day
        FROM {table}
    ), merged AS (
        SELECT f.day, bucket, max(rho) AS rho
        FROM fan f JOIN days USING (day) GROUP BY f.day, bucket
    ), folded AS (
        SELECT day,
               sum(CAST(power(2.0, {c} - rho) AS BIGINT)) AS s_scaled,
               count(*) AS v_occupied
        FROM merged GROUP BY day
    ), kd AS (
        SELECT DISTINCT CAST(date_trunc('day', {ts_expr}) AS DATE) AS day,
               {key_expr} AS k
        FROM {table}
    ), exact AS (
        SELECT f.day, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
        FROM (
            SELECT day + CAST(i AS INTEGER) AS day, k
            FROM kd, unnest(generate_series(0, {window_days - 1})) AS t(i)
        ) f JOIN days USING (day)
        GROUP BY f.day
    ), raws AS (
        SELECT folded.day, n_exact,
               CAST({m} - v_occupied AS BIGINT) AS v_empty,
               floor((CAST({alpha!r} AS DOUBLE) * {m} * {m} /
                     ((s_scaled + ({m} - v_occupied) * CAST({1 << c} AS BIGINT))
                      / {scale!r})) * 1000000.0) / 1000000.0 AS raw
        FROM folded JOIN exact ON folded.day = exact.day
    )
    SELECT day, n_exact, v_empty,
           CASE WHEN raw <= 2.5 * {m} AND v_empty > 0
                THEN floor(({m}.0 * ln({m}.0 / v_empty)) * 1000000.0) / 1000000.0
                ELSE raw END AS wau_hll,
           floor((abs(CASE WHEN raw <= 2.5 * {m} AND v_empty > 0
                          THEN floor(({m}.0 * ln({m}.0 / v_empty)) * 1000000.0) / 1000000.0
                          ELSE raw END - n_exact) / n_exact) * 1000000.0) / 1000000.0 AS rel_err
    FROM raws
    """
