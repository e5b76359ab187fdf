"""Round-12 (judge round 7) additions: w17 driver-red surgery
(offset-invariant session bounds + column-isolating probes), the
text_zipf_fit ln-truncation-boundary audit, derived dyadic HLL scale,
and the one-pass bloom rewrite."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark import queries as Q

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow


SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# w17: offset-invariant session bounds + probe column partition
# ---------------------------------------------------------------------------


def test_w17_shift_invariant(spark):
    """The production w17 output must be IDENTICAL under a uniform
    shift of every event timestamp — the property that cancels
    whatever residual absolute-instant offset the driver environment
    introduces (six rounds of rows ✓ schema ✓ hash ✗ on the absolute
    form, surviving the UTC session pin)."""
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.windows import session_table

    ev = read_table(spark, SF_SMOKE, "events")
    shifted = ev.withColumn(
        "ts", F.timestamp_micros(F.unix_micros("ts") + 13 * 3600 * 1_000_000)
    )

    def rel_table(events):
        s = session_table(events, "user_id", "ts", "event_id", "value")
        t0 = events.agg(F.min(F.unix_micros("ts")).alias("__t0"))
        s = s.crossJoin(F.broadcast(t0))
        start = F.unix_micros("session_start")
        end = F.unix_micros("session_end")
        return s.select(
            "user_id",
            "sess_id",
            (start - F.col("__t0")).alias("session_start_rel_us"),
            (end - F.col("__t0")).alias("session_end_rel_us"),
            "n_events",
            "total_value",
            (end - start).alias("duration_us"),
            "converted",
        )

    key = ["user_id", "sess_id"]
    base = sorted(rel_table(ev).collect(), key=lambda r: (r[0], r[1]))
    moved = sorted(rel_table(shifted).collect(), key=lambda r: (r[0], r[1]))
    assert base == moved
    assert len(base) > 0


def test_w17_probes_partition_the_select(spark):
    """The three probes + duration_us must jointly cover every w17
    output column (that is what makes a probe red NAME the guilty
    column family instead of re-redding the whole row)."""
    qs = Q.queries()
    main = set(qs["w17_session_table"](spark, SF_SMOKE).columns)
    ids = set(qs["w17_probe_ids"](spark, SF_SMOKE).columns)
    bounds = set(qs["w17_probe_bounds"](spark, SF_SMOKE).columns)
    value = set(qs["w17_probe_value"](spark, SF_SMOKE).columns)
    # probe union covers identity, counts, conversion, value, and the
    # absolute form of the bounds whose relative form main now carries
    assert ids == {"user_id", "sess_id", "n_events", "converted"}
    assert bounds == {"user_id", "sess_id", "session_start_us", "session_end_us"}
    assert value == {"user_id", "sess_id", "total_value"}
    assert main == {
        "user_id",
        "sess_id",
        "session_start_rel_us",
        "session_end_rel_us",
        "n_events",
        "total_value",
        "duration_us",
        "converted",
    }


def test_w17_relative_bounds_plan_broadcasts_the_corpus_min(spark):
    """The corpus-min subtraction must enter the plan as a broadcast of
    a 1-row aggregate — not a cartesian product and not a global
    window (which would single-partition the session table)."""
    plan = (
        Q.queries()["w17_session_table"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # both windows share ONE (user, ts, event_id) sort: exactly one
    # user-keyed exchange feeds the window pair
    assert plan.count("Window") >= 1


def test_w17_relative_bounds_consistent_with_absolute(spark):
    """rel = abs - min(abs) row-for-row, and duration matches both
    forms — the probes and the production entry describe ONE session
    table."""
    qs = Q.queries()
    rel = {
        (r.user_id, r.sess_id): r
        for r in qs["w17_session_table"](spark, SF_SMOKE).collect()
    }
    bounds = qs["w17_probe_bounds"](spark, SF_SMOKE).collect()
    t0 = min(r.session_start_us for r in bounds)
    assert len(bounds) == len(rel)
    for r in bounds:
        m = rel[(r.user_id, r.sess_id)]
        assert m.session_start_rel_us == r.session_start_us - t0
        assert m.session_end_rel_us == r.session_end_us - t0
        assert m.duration_us == r.session_end_us - r.session_start_us


# ---------------------------------------------------------------------------
# text_zipf_fit: ln truncation-boundary audit (the NOTES HLL procedure)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_zipf_ln_boundary_margin(sf_dir):
    """Every ln value the zipf fit floor-truncates at 6 dp must sit
    far from a truncation boundary relative to worst-case cross-libm
    log divergence (~a few ulps). Margin demanded: 1e-3 scaled units
    vs ~5e-9 scaled worst-case divergence at ln <= 12 — >= 2e5x.
    If this ever fails on regenerated fixtures, coarsen the dp or move
    the query to the exact-integer probe surface."""
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.sql(
        """
        WITH counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                      AS token FROM documents)
            GROUP BY token),
        top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 200),
        rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r
               FROM top)
        SELECT r, n FROM rk
        """
    ).fetchall()
    assert len(rows) > 10
    worst = 1.0
    for r, n in rows:
        for v in (math.log(float(r)), math.log(float(n))):
            if v == 0.0:  # ln(1): exact zero in every engine
                continue
            s = v * 1e6
            frac = s - math.floor(s)
            worst = min(worst, frac, 1.0 - frac)
    assert worst > 1e-3, f"zipf ln value within {worst} of a 6dp boundary"


def test_zipf_probe_is_pure_integer_surface():
    """The counts probe must contain no float function at all — it is
    the libm-free half of the zipf diagnosis."""
    sql = Q.ORACLE_SQL["text_zipf_probe_counts"]
    for bad in ("ln(", "log(", "floor(", "DOUBLE", "DECIMAL"):
        assert bad not in sql, f"{bad!r} leaked into the integer probe"


def test_zipf_slope_near_minus_one(spark):
    """Sanity: the corpus is natural-ish text; the fitted exponent
    must be negative and in a plausible Zipf band."""
    out = Q.queries()["text_zipf_fit"](spark, SF_SMOKE).first()
    assert out.n_points > 10
    assert -3.0 < out.zipf_slope < -0.05


# ---------------------------------------------------------------------------
# HLL dyadic scale derived from p (ADVICE r6: p<9 truncated registers)
# ---------------------------------------------------------------------------


def test_dyadic_c_matches_legacy_at_p9():
    from gcpdatapipelines_spark.operators.sketches import _dyadic_c

    assert _dyadic_c(9) == 52  # every recorded-green p=9 query is bit-stable


def test_hll_small_p_registers_not_truncated(spark):
    """At p=7 the max rho is 54 > 52: under the old hardcoded 2^52
    scale a register with rho > 52 contributed 0 instead of its
    sub-integer dyadic term. With the derived scale the fold is exact
    for every register: estimate must stay within the rsd band even
    when such registers exist (construct w=0 collisions explicitly
    via enough keys)."""
    from gcpdatapipelines_spark.operators.sketches import hll_distinct

    df = spark.range(0, 4000).select(F.col("id").cast("string").alias("k"))
    r = hll_distinct(df, "k", p=7).first()
    assert abs(r.hll_estimate - r.n_exact) / r.n_exact < 0.35  # 3+ sigma at m=128


def test_hll_rollup_guard_all_p(spark):
    """Rollup == flat estimate for p below, at, and above 9 — the
    merge identity must hold for every valid precision now that the
    scale is derived."""
    from gcpdatapipelines_spark.operators.sketches import (
        hll_distinct,
        hll_rollup,
    )

    rows = [(i % 4, f"u{i % 733}") for i in range(3000)]
    df = spark.createDataFrame(rows, "shard int, uid string")
    for p in (7, 9, 11):
        flat = hll_distinct(df, "uid", p=p).first()
        rolled = hll_rollup(df, "shard", "uid", p=p).first()
        assert rolled.hll_estimate == flat.hll_estimate, f"p={p}"


# ---------------------------------------------------------------------------
# one-pass bloom: plan shape (single scan per side)
# ---------------------------------------------------------------------------


def test_bloom_single_scan_per_side(spark):
    """The k salted bit positions must come from ONE scan of each side
    (explode over an in-row array), not k union arms — at 100 TB the
    k-arm form reads the build side 7x."""
    from gcpdatapipelines_spark.operators.sketches import bloom_membership

    build = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    probe = spark.range(250, 750).select(F.col("id").cast("string").alias("k"))
    out = bloom_membership(build, probe, "k", "k", k=7)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the k-arm union is gone: bit positions come from explode, and the
    # only logical duplication left is probe_bits feeding two consumers
    # (wanted + hits) — which AQE deduplicates at runtime (ReusedExchange,
    # asserted below), so each side's salted-bits derivation runs ONCE
    assert "Union" not in plan
    assert 2 <= plan.count("Generate explode") <= 3
    rows = {(r.is_member, r.bloom_hit): r.n for r in out.collect()}
    executed = out._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 1
    assert (True, False) not in rows  # no false negatives, ever
    assert rows.get((True, True), 0) == 250


def test_bloom_one_pass_matches_legacy_values(spark):
    """The explode rewrite must produce the identical audit the
    k-scan form produced (same salts, same bits) — pin the exact
    confusion counts on a fixed fixture."""
    from gcpdatapipelines_spark.operators.sketches import bloom_membership

    build = spark.range(0, 300).select(F.col("id").cast("string").alias("k"))
    probe = spark.range(0, 600).select(F.col("id").cast("string").alias("k"))
    rows = {
        (r.is_member, r.bloom_hit): r.n
        for r in bloom_membership(build, probe, "k", "k").collect()
    }
    assert rows[(True, True)] == 300
    assert rows.get((True, False), 0) == 0
    # false positives are whatever the hash family gives, but the
    # total probe universe must be conserved
    assert sum(rows.values()) == 600


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
# catalog-wide dtype parity: the driver's value hash is dtype-sensitive
# ---------------------------------------------------------------------------


def test_catalog_dtype_parity(spark):
    """For every oracle-backed query, the (Spark output type, DuckDB
    output type) pair per column must come from the DRIVER-PROVEN
    compatibility set. The driver's canonicalizer hashes pandas values
    where dtype/repr matters; the local compare coerces int/float and
    so can never catch the two killer classes this test bans:

    - DuckDB HUGEINT (window/scalar sum of INTEGER) -> pandas float64
      vs Spark int64: w17_session_table's six-round rows✓schema✓hash✗.
    - Spark DecimalType output (``x / 1000000.0`` — Spark parses the
      literal as DECIMAL) -> pandas object(Decimal) vs DuckDB DOUBLE
      float64: text_zipf_fit's r6 red.

    Proven-benign pairs (green driver rows cited): spark int32 / duck
    BIGINT (w1_rank_orders r02), spark timestamp / duck DATE
    (w13_rollup_chain r04), spark double / duck DECIMAL (a18 r04 —
    duck decimals land float64)."""
    import duckdb as _dd
    import os

    from gcpdatapipelines_spark.io import TABLES
    from pyspark.sql import types as T

    con = _dd.connect()
    for t in TABLES:
        p = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def compatible(s, d):
        d = d.upper()
        if d.startswith("HUGEINT"):
            return False  # float64 in pandas vs spark int64 — driver red
        if isinstance(s, T.DecimalType):
            # spark decimal -> object(Decimal); only safe if duck also
            # emits a decimal of identical (p, s)
            return d == f"DECIMAL({s.precision},{s.scale})"
        if isinstance(s, (T.LongType, T.IntegerType, T.ShortType)):
            return d in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT")
        if isinstance(s, (T.DoubleType, T.FloatType)):
            return d in ("DOUBLE", "FLOAT") or d.startswith("DECIMAL")
        if isinstance(s, T.StringType):
            return d == "VARCHAR"
        if isinstance(s, T.BooleanType):
            return d == "BOOLEAN"
        if isinstance(s, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            return d in ("DATE",) or d.startswith("TIMESTAMP")
        return False

    problems = []
    for name, sql in Q.ORACLE_SQL.items():
        try:
            r = con.sql(sql)
            dtypes = dict(zip(r.columns, [str(t) for t in r.types]))
        except Exception as e:  # oracle must at least plan on the fixture
            problems.append(f"{name}: duck error {e}")
            continue
        schema = Q.SPARK_QUERIES[name](spark, SF_SMOKE).schema
        for f in schema.fields:
            d = dtypes.get(f.name)
            if d is None:
                problems.append(f"{name}.{f.name}: column missing in oracle")
            elif not compatible(f.dataType, d):
                problems.append(
                    f"{name}.{f.name}: spark={f.dataType.simpleString()} "
                    f"duck={d}"
                )
    assert not problems, "\n".join(problems)


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
