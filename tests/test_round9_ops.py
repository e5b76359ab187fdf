"""Round-9 (judge round 6, session 2) additions: md5-mode HLL rollup,
bounded-peel k-core oracle tier, Theil–Sen robust trend, neighborhood
Jaccard link scoring."""

from __future__ import annotations

import pytest

import itertools
import statistics

from pyspark.sql import functions as F

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow



# ---------------------------------------------------------------------------
# hll_rollup: md5-mode mergeable rollup (a26 upgrade)
# ---------------------------------------------------------------------------


def test_hll_rollup_matches_single_sketch_estimate(spark):
    """Merging per-shard registers must equal the flat hll_distinct
    estimate over the union — max is associative, so the rollup can
    never change the registers."""
    from gcpdatapipelines_spark.operators.sketches import (
        hll_distinct,
        hll_rollup,
    )

    rows = [(i % 5, f"user{i % 911}") for i in range(5000)]
    df = spark.createDataFrame(rows, "shard int, uid string")
    flat = hll_distinct(df, "uid", p=7).first()
    rolled = hll_rollup(df, "shard", "uid", p=7).first()
    assert rolled.n_shards == 5
    assert rolled.n_exact == flat.n_exact == 911
    assert rolled.hll_estimate == flat.hll_estimate
    assert rolled.v_empty == flat.v_empty


def test_hll_rollup_estimate_within_rsd(spark):
    from gcpdatapipelines_spark.operators.sketches import hll_rollup

    rows = [(i % 3, i % 1777) for i in range(6000)]
    df = spark.createDataFrame(rows, "shard int, uid long")
    r = hll_rollup(df, "shard", "uid", p=9).first()
    # rsd ~ 1.04/sqrt(512) ~ 4.6%; allow 3 sigma
    assert abs(r.hll_estimate - 1777) / 1777 < 0.14
    assert r.rel_err == abs(r.hll_estimate - 1777) / 1777 or r.rel_err >= 0


def test_hll_rollup_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.sketches import hll_rollup

    rows = [(i % 4, f"k{i % 300}") for i in range(2000)]
    df = spark.createDataFrame(rows, "shard int, uid string")
    a = hll_rollup(df, "shard", "uid", p=8).first()
    b = hll_rollup(df.repartition(13), "shard", "uid", p=8).first()
    assert a == b


# ---------------------------------------------------------------------------
# kcore bounded mode (strict=False): fixed-round peel == fixpoint when
# converged; never raises when not
# ---------------------------------------------------------------------------


def test_kcore_bounded_equals_fixpoint_when_converged(spark):
    from gcpdatapipelines_spark.operators.graph import kcore

    # triangle + pendant chain: 2-core = the triangle, peel depth 2
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    fix = {(r.node, r.degree) for r in kcore(df, k=2).collect()}
    bounded = {
        (r.node, r.degree)
        for r in kcore(df, k=2, max_iter=10, strict=False).collect()
    }
    assert bounded == fix == {(1, 2), (2, 2), (3, 2)}


def test_kcore_bounded_never_raises_on_deep_chain(spark):
    from gcpdatapipelines_spark.operators.graph import kcore

    # path graph: 2-core is empty, peeling eats one node per end per
    # round — depth ~ n/2 > max_iter, strict would raise
    n = 12
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "u long, v long"
    )
    out = kcore(df, k=2, max_iter=2, strict=False).collect()
    # partial peel after 2 rounds still reports only nodes with deg>=2
    assert all(r.degree >= 2 for r in out)


def test_kcore_unrolled_sql_matches_spark(spark):
    import duckdb

    from gcpdatapipelines_spark.operators.graph import (
        kcore,
        kcore_unrolled_sql,
    )

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (2, 4), (5, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r.node, r.degree)
        for r in kcore(df, k=2, max_iter=8, strict=False).collect()
    }
    vals = ", ".join(f"({u}, {v})" for u, v in edges)
    sql = kcore_unrolled_sql(
        f"e AS (SELECT DISTINCT least(c0, c1) AS u, greatest(c0, c1) AS v "
        f"FROM (VALUES {vals}) t(c0, c1))",
        k=2,
        rounds=8,
    )
    oracle = {
        (int(n), int(d)) for n, d in duckdb.sql(sql).fetchall()
    }
    assert got == oracle


# ---------------------------------------------------------------------------
# theil_sen_trend
# ---------------------------------------------------------------------------


def _ts(day: int) -> str:
    return f"2024-01-{day:02d} 00:00:00"


def test_theil_sen_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.timeseries import theil_sen_trend

    # key A: clean slope 2/day with one wild outlier day
    rows = [("A", _ts(d), 10.0 + 2.0 * d) for d in range(1, 11)]
    rows[4] = ("A", _ts(5), 9999.0)  # corrupted day
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    got = theil_sen_trend(df, "k", "ts", "v").first()

    daily = {d: (10.0 + 2.0 * d if d != 5 else 9999.0) for d in range(1, 11)}
    slopes = [
        (daily[j] - daily[i]) / (j - i)
        for i, j in itertools.combinations(sorted(daily), 2)
    ]
    slopes.sort()
    n = len(slopes)
    med = (slopes[(n + 1) // 2 - 1] + slopes[(n + 2) // 2 - 1]) / 2
    import math

    assert got.n_days == 10
    assert got.n_pairs == n == 45
    assert got.theil_sen_slope == math.floor(med * 1e6) / 1e6
    # robustness: the outlier day must not drag the slope off 2.0
    assert abs(got.theil_sen_slope - 2.0) < 0.2
    # and plain OLS WOULD be dragged (sanity that the test bites)
    xs, ys = zip(*sorted(daily.items()))
    ols = statistics.linear_regression(xs, ys).slope
    assert abs(ols - 2.0) > 10


def test_theil_sen_single_day_key_dropped(spark):
    from gcpdatapipelines_spark.operators.timeseries import theil_sen_trend

    rows = [("A", _ts(1), 5.0), ("A", _ts(2), 7.0), ("B", _ts(1), 1.0)]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = {r.k: r for r in theil_sen_trend(df, "k", "ts", "v").collect()}
    assert set(out) == {"A"}  # B has no pair
    assert out["A"].theil_sen_slope == 2.0


def test_theil_sen_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.timeseries import theil_sen_trend

    rows = [
        ("K", _ts(d), float((d * 7919) % 13) + d * 0.3) for d in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    a = theil_sen_trend(df, "k", "ts", "v").first()
    b = theil_sen_trend(df.repartition(17), "k", "ts", "v").first()
    assert a == b


# ---------------------------------------------------------------------------
# jaccard_neighbors_topk
# ---------------------------------------------------------------------------


def test_jaccard_neighbors_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.graph import jaccard_neighbors_topk

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (2, 4)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        (r.u, r.v): (r.n_common, r.deg_u, r.deg_v, r.jaccard_ppm)
        for r in jaccard_neighbors_topk(df, k=100).collect()
    }

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    for a, b in itertools.combinations(sorted(adj), 2):
        common = len(adj[a] & adj[b])
        if common:
            union = len(adj[a]) + len(adj[b]) - common
            want[(a, b)] = (
                common,
                len(adj[a]),
                len(adj[b]),
                common * 1_000_000 // union,
            )
    assert got == want


def test_jaccard_topk_cut_deterministic(spark):
    from gcpdatapipelines_spark.operators.graph import jaccard_neighbors_topk

    edges = [(i, (i * 3 + 1) % 40) for i in range(40)] + [
        (i, (i * 7 + 2) % 40) for i in range(40)
    ]
    df = spark.createDataFrame(
        [(u, v) for u, v in edges if u != v], "u long, v long"
    )
    a = [tuple(r) for r in jaccard_neighbors_topk(df, k=10).collect()]
    b = [
        tuple(r)
        for r in jaccard_neighbors_topk(df.repartition(11), k=10).collect()
    ]
    assert a == b and len(a) == 10


# ---------------------------------------------------------------------------
# markov quantized tier: must agree with the float linear-solve tier
# ---------------------------------------------------------------------------


def _journey_frame(spark):
    rows = []
    eid = 0

    def add(u, *chans):
        nonlocal eid
        for i, c in enumerate(chans):
            rows.append((u, f"2024-01-01 00:{i:02d}:00", eid, c))
            eid += 1

    # converting journeys through different channel mixes
    for u in range(20):
        add(u, "click", "view", "purchase")
    for u in range(20, 30):
        add(u, "view", "purchase")
    for u in range(30, 45):
        add(u, "click", "error")  # non-converting
    for u in range(45, 50):
        add(u, "signup", "click", "purchase")
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        rows, "u long, ts string, eid long, ch string"
    ).select(
        "u", F.col("ts").cast("timestamp").alias("ts"), "eid", "ch"
    )


def test_markov_quantized_agrees_with_float_solver(spark):
    from gcpdatapipelines_spark.operators.funnel import (
        markov_attribution,
        markov_attribution_quantized,
    )

    df = _journey_frame(spark)
    fl = {
        r.channel: r
        for r in markov_attribution(
            df, "u", "ts", "ch", "purchase", "eid"
        ).collect()
    }
    qt = {
        r.channel: r
        for r in markov_attribution_quantized(
            df, "u", "ts", "ch", "purchase", "eid"
        ).collect()
    }
    assert set(fl) == set(qt)
    for c in fl:
        # 60-step truncated iteration vs exact solve: within 1e-4
        assert abs(qt[c].removal_effect_ppm / 1e6 - fl[c].removal_effect) < 1e-4
        assert abs(qt[c].share_ppm / 1e6 - fl[c].attribution_share) < 1e-3
        assert (
            abs(
                qt[c].attributed_conversions_c / 100
                - fl[c].attributed_conversions
            )
            < 0.5
        )


def test_markov_quantized_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.funnel import (
        markov_attribution_quantized,
    )

    df = _journey_frame(spark)
    a = markov_attribution_quantized(
        df, "u", "ts", "ch", "purchase", "eid"
    ).collect()
    b = markov_attribution_quantized(
        df.repartition(7), "u", "ts", "ch", "purchase", "eid"
    ).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------------------
# shapley SQL tier: must agree with the python-model tier
# ---------------------------------------------------------------------------


def test_shapley_sql_tier_agrees_with_python_model(spark, tmp_path):
    from gcpdatapipelines_spark.operators.funnel import shapley_attribution
    from gcpdatapipelines_spark.queries import _shapley_sql

    df = _journey_frame(spark).selectExpr(
        "u AS user_id", "ts", "eid AS event_id", "ch AS event_type",
        "CAST(1.0 AS DOUBLE) AS value", "'{}' AS props",
    )
    py = {
        r.channel: r
        for r in shapley_attribution(
            df, "user_id", "ts", "event_type", "purchase"
        ).collect()
    }
    df.createOrReplaceTempView("events")
    sq = {
        r.channel: r for r in spark.sql(_shapley_sql("spark")).collect()
    }
    assert set(py) == set(sq)
    for c in py:
        assert abs(sq[c].shapley_micro / 1e6 - py[c].shapley_value) < 1e-4
        assert abs(sq[c].share_ppm / 1e6 - py[c].attribution_share) < 1e-3


# ---------------------------------------------------------------------------
# concat_chunk_pack
# ---------------------------------------------------------------------------


def test_concat_chunk_pack_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.sample import concat_chunk_pack

    lens = [(i, (i * 37) % 900 + 1) for i in range(200)]
    df = spark.createDataFrame(lens, "doc_id long, n long")
    got = {
        r.doc_id: (
            r.n_tokens,
            r.start_off,
            r.first_chunk,
            r.last_chunk,
            r.chunks_spanned,
        )
        for r in concat_chunk_pack(df, "doc_id", "n", capacity=256).collect()
    }
    off = 0
    for i, n in lens:
        first = off // 256
        last = (off + n - 1) // 256 if n > 0 else first
        assert got[i] == (n, off, first, last, last - first + 1)
        off += n


def test_concat_chunk_pack_stream_is_contiguous(spark):
    from gcpdatapipelines_spark.operators.sample import concat_chunk_pack

    df = spark.createDataFrame(
        [(i, (i * 13) % 50 + 1) for i in range(500)], "doc_id long, n long"
    )
    rows = sorted(
        concat_chunk_pack(df, "doc_id", "n", capacity=128).collect(),
        key=lambda r: r.doc_id,
    )
    off = 0
    for r in rows:
        assert r.start_off == off  # no gaps, no overlaps
        off += r.n_tokens
    assert all(r.chunks_spanned >= 1 for r in rows)


def test_concat_chunk_pack_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.sample import concat_chunk_pack

    df = spark.createDataFrame(
        [(i, (i * 7) % 99 + 1) for i in range(300)], "doc_id long, n long"
    )
    a = sorted(
        map(tuple, concat_chunk_pack(df, "doc_id", "n", 64).collect())
    )
    b = sorted(
        map(
            tuple,
            concat_chunk_pack(df.repartition(23), "doc_id", "n", 64).collect(),
        )
    )
    assert a == b


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


# ---------------------------------------------------------------------------
# a45_quantile_treatment: tail-only effects visible where the mean is flat
# ---------------------------------------------------------------------------


def test_qte_sees_tail_only_treatment(spark):
    from gcpdatapipelines_spark.operators.agg import exact_quantiles

    # control: uniform 1..100; treatment: same but top decile doubled —
    # median flat, p75 shifted
    rows = [(0, float(v)) for v in range(1, 101)]
    rows += [(1, float(v) if v <= 90 else float(v) * 2) for v in range(1, 101)]
    df = spark.createDataFrame(rows, "arm int, value double")
    q = {
        (r.arm, r.p): r.value_q
        for r in exact_quantiles(df, "arm", ["value"], [0.25, 0.5, 0.75]).collect()
    }
    assert q[(1, 0.5)] == q[(0, 0.5)]  # median untouched
    assert q[(1, 0.25)] == q[(0, 0.25)]
    assert q[(0, 0.75)] == 75.25
    assert q[(1, 0.75)] == q[(0, 0.75)]  # p75 still inside untouched range
    # the doubled decile shows up at p95-ish; use 0.95 to see it
    q2 = {
        (r.arm, r.p): r.value_q
        for r in exact_quantiles(df, "arm", ["value"], [0.95]).collect()
    }
    assert q2[(1, 0.95)] > q2[(0, 0.95)]


def test_qte_catalog_entry_partitioning_invariant(spark):
    from gcpdatapipelines_spark.queries import SPARK_QUERIES
    from tests.conftest import SF_SMOKE

    a = [tuple(r) for r in SPARK_QUERIES["a45_quantile_treatment"](spark, SF_SMOKE).collect()]
    b = [tuple(r) for r in SPARK_QUERIES["a45_quantile_treatment"](spark, SF_SMOKE).collect()]
    assert a == b and len(a) == 3
