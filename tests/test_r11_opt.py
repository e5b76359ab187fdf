"""Round-11 optimization pins: each plan-shape/algorithm change this
round keeps a parity test against the formulation it replaced (the r10
convention — tests/test_r10_opt.py), so the optimized path can never
silently drift from the declared semantics.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark.io import read_table
from tests.conftest import SF_SMOKE


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
    test_round15_ops' cap test in the slow tier, routing pinned here."""
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
# avg_rank2_multi_dict == avg_rank2_multi (a42_spearman rank transform)
# ---------------------------------------------------------------------------


def test_avg_rank2_dict_matches_sharded(spark):
    from gcpdatapipelines_spark.operators.rows import (
        avg_rank2_multi,
        avg_rank2_multi_dict,
    )

    li = (
        read_table(spark, SF_SMOKE, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount")
        .limit(500)
    )
    cols = {"l_quantity": "r_q", "l_extendedprice": "r_p", "l_discount": "r_d"}
    a = avg_rank2_multi(li, cols).groupBy().agg(
        F.sum("r_q"), F.sum("r_p"), F.sum("r_d"),
        F.sum(F.col("r_q") * F.col("r_p")), F.sum(F.col("r_q") * F.col("r_d")),
        F.min("r_q"), F.max("r_q"), F.min("r_p"), F.max("r_p"),
    ).collect()[0]
    b = avg_rank2_multi_dict(li, cols).groupBy().agg(
        F.sum("r_q"), F.sum("r_p"), F.sum("r_d"),
        F.sum(F.col("r_q") * F.col("r_p")), F.sum(F.col("r_q") * F.col("r_d")),
        F.min("r_q"), F.max("r_q"), F.min("r_p"), F.max("r_p"),
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_avg_rank2_dict_tie_integers(spark):
    """2*avg_rank on a hand-checkable tied column: values [10, 10, 20]
    → avg ranks [1.5, 1.5, 3] → rank2 [3, 3, 6]."""
    from gcpdatapipelines_spark.operators.rows import avg_rank2_multi_dict

    df = spark.createDataFrame([(10,), (10,), (20,)], "x INT")
    got = sorted(
        r.r for r in avg_rank2_multi_dict(df, {"x": "r"}).select(
            F.col("r").alias("r")
        ).collect()
    )
    assert got == [3, 3, 6]


# ---------------------------------------------------------------------------
# snapshot_drift: expand-free profile == count(DISTINCT) semantics
# ---------------------------------------------------------------------------


def test_snapshot_drift_matches_countdistinct(spark):
    from gcpdatapipelines_spark.operators.quality import snapshot_drift

    a = spark.createDataFrame(
        [(1, "x", 1.5), (2, "x", None), (2, "y", 2.5), (None, "y", 2.5)],
        "k INT, s STRING, v DOUBLE",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.5), (3, None, 9.0)], "k INT, s STRING, v DOUBLE"
    )
    out = {
        (r["column"], r["metric"]): (r["before"], r["after"])
        for r in snapshot_drift(a, b, ["k", "s", "v"]).collect()
    }
    # n_distinct must equal count(DISTINCT c): non-null distinct values
    assert out[("k", "n_distinct")] == ("2", "2")
    assert out[("s", "n_distinct")] == ("2", "1")
    assert out[("v", "n_distinct")] == ("2", "2")
    assert out[("k", "null_rate")] == ("0.25", "0.0")
    assert out[("s", "min")] == ("x", "x")
    assert out[("v", "max")] == ("2.5", "9.0")


def test_snapshot_drift_signed_zero_matches_countdistinct(spark):
    """count(DISTINCT) treats 0.0 and -0.0 as one value; their string
    forms differ, so the unpivoted count must fold signed zero first."""
    from gcpdatapipelines_spark.operators.quality import snapshot_drift

    a = spark.createDataFrame(
        [(0.0, 0.0), (-0.0, -0.0), (1.5, 1.5), (None, None)],
        "d DOUBLE, f FLOAT",
    )
    out = {
        (r["column"], r["metric"]): r["before"]
        for r in snapshot_drift(a, a, ["d", "f"]).collect()
    }
    want = a.agg(F.countDistinct("d"), F.countDistinct("f")).first()
    assert tuple(want) == (2, 2)
    assert out[("d", "n_distinct")] == str(want[0])
    assert out[("f", "n_distinct")] == str(want[1])


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
# SRP 64/4: planted duplicates survive the widened banding
# ---------------------------------------------------------------------------


def test_srp_64_4_planted_duplicates(spark):
    from gcpdatapipelines_spark.operators.similarity import srp_lsh_pairs

    emb = read_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    # plant an exact duplicate of vec 0 with a fresh id
    dup = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = srp_lsh_pairs(
        emb.unionByName(dup), threshold=0.4, nbits=64, bands=4,
        mode="axes", floor_sim=True,
    )
    rows = {(r.id_1, r.id_2): r.sim for r in out.collect()}
    assert rows.get((0, 100000)) == pytest.approx(1.0)
