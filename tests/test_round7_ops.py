"""Round-10 additions: portable float finishing (trunc_dp), audited
sketch entries, md5-mode winnowing, the doc-in-doc containment report,
and the ks NULL rule."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow



# ---------------------------------------------------------------------------
# portable.trunc_dp
# ---------------------------------------------------------------------------


def test_trunc_dp_matches_floor_model(spark):
    from gcpdatapipelines_spark.operators.portable import trunc_dp

    vals = [0.1234567, -0.1234567, 1.9999999, -2.0000001, 0.0, 554.05]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    out = [r.t for r in df.select(trunc_dp("x", 4).alias("t")).collect()]
    exp = [math.floor(v * 1e4) / 1e4 for v in vals]
    assert out == exp


def test_trunc_dp_truncates_toward_neg_inf(spark):
    from gcpdatapipelines_spark.operators.portable import trunc_dp

    df = spark.createDataFrame([(-1.23456,), (1.23456,)], "x double")
    out = {r.x: r.t for r in df.select("x", trunc_dp(F.col("x"), 2).alias("t")).collect()}
    assert out[-1.23456] == -1.24  # toward -inf, not toward zero
    assert out[1.23456] == 1.23


# ---------------------------------------------------------------------------
# audited sketch entries (rows-only -> oracle-backed upgrades)
# ---------------------------------------------------------------------------


def test_approx_distinct_audited_in_band_and_exact(spark):
    from gcpdatapipelines_spark.operators.agg import approx_distinct_audited

    rows = [(i % 3, i % 50) for i in range(600)]
    df = spark.createDataFrame(rows, "k int, v int")
    out = {r.k: r for r in approx_distinct_audited(df, "v", "k").collect()}
    assert all(r.exact_distinct == 50 for r in out.values())
    assert all(r.hll_in_band for r in out.values())


def test_approx_quantiles_audited_contract(spark):
    from gcpdatapipelines_spark.operators.agg import approx_quantiles_audited

    rows = [("g", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {r.p: r for r in approx_quantiles_audited(
        df, "k", "v", [0.25, 0.5, 0.75]
    ).collect()}
    assert set(out) == {0.25, 0.5, 0.75}
    # exact interpolated quantile of 1..100 at p: 1 + 99p
    for p, r in out.items():
        assert abs(r.exact_q - (1 + 99 * p)) < 1e-9
        assert r.gk_in_band


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
# ks_two_sample NULL rule (ADVICE r4)
# ---------------------------------------------------------------------------


def test_ks_two_sample_ignores_nulls(spark):
    from gcpdatapipelines_spark.operators.agg import ks_two_sample

    rows = [("a", float(i)) for i in range(50)] + [("b", float(i)) for i in range(50)]
    clean = spark.createDataFrame(rows, "g string, v double")
    dirty = clean.unionByName(
        spark.createDataFrame([("a", None), ("b", None), ("b", None)], "g string, v double")
    )
    r1 = ks_two_sample(clean, "g", "v", "a", "b").collect()[0]
    r2 = ks_two_sample(dirty, "g", "v", "a", "b").collect()[0]
    # NULLs carry no mass: identical statistic AND identical group sizes
    assert (r1.n1, r1.n2, r1.d_stat) == (r2.n1, r2.n2, r2.d_stat)


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


def test_bootstrap_md5_mode_deterministic_and_sane(spark):
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    rows = [(i, 10.0 + (i % 7)) for i in range(400)]
    df = spark.createDataFrame(rows, "event_id bigint, value double")
    r1 = bootstrap_mean_ci(df, "event_id", "value", replicates=50).collect()[0]
    r2 = bootstrap_mean_ci(df, "event_id", "value", replicates=50).collect()[0]
    assert (r1.ci_lo, r1.ci_hi) == (r2.ci_lo, r2.ci_hi)  # deterministic
    assert r1.ci_lo <= r1.mean <= r1.ci_hi
    assert 0 < r1.ci_hi - r1.ci_lo < 1.0  # sane width for sd~2, n=400


# ---------------------------------------------------------------------------
# evidence rotation (driver CORRECTNESS-aware ordering)
# ---------------------------------------------------------------------------


def test_rotation_orders_red_then_upgraded_first():
    import __spark_entry__ as entry_mod
    import gcpdatapipelines_spark.queries as qmod

    recorded, red, rows_only = entry_mod._driver_record_state()
    order = list(entry_mod.queries())
    # every latest-red query sorts before every non-red one
    if red:
        last_red = max(order.index(n) for n in red if n in order)
        assert last_red < len(red), "red queries must open the catalog"
    # a rows-only-recorded query that now has an oracle re-enters the
    # window right after the reds (stronger evidence replaces weak)
    upgraded = [n for n in rows_only if n not in red and n in qmod.ORACLE_SQL]
    for n in upgraded:
        assert order.index(n) < 50, f"{n} upgraded but outside record window"


# ---------------------------------------------------------------------------
# per-route independent-trigger routed writes
# ---------------------------------------------------------------------------


def test_routed_write_streams_per_trigger(spark, tmp_path):
    import gcpdatapipelines_spark.streaming as S

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id BIGINT, lang STRING"
    spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "zh"), (4, "fr")], schema
    ).write.mode("overwrite").parquet(str(src / "d.parquet"))
    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src / "d.parquet"))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    qs = S.routed_write_streams_per_trigger(
        stream,
        out,
        ckpt,
        {"en": "1 seconds", "zh": "10 seconds"},
        available_now=True,
    )
    for q in qs:
        q.awaitTermination()
    en = spark.read.parquet(f"{out}/lang=en")
    zh = spark.read.parquet(f"{out}/lang=zh")
    rest = spark.read.parquet(f"{out}/lang=__rest")
    assert sorted(r.doc_id for r in en.collect()) == [1, 2]
    assert [r.doc_id for r in zh.collect()] == [3]
    assert [r.doc_id for r in rest.collect()] == [4]  # unlisted route kept
