"""Deterministic sampling: reproducibility, stability under growth,
stratum isolation, split completeness."""

from __future__ import annotations

from pyspark.sql import functions as F

from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators.sample import (
    cap_per_group,
    deterministic_sample,
    deterministic_shuffle,
    stratified_sample,
    train_test_split,
)
from tests.conftest import SF_SMOKE


def test_sample_fraction_approximate(spark):
    o = read_table(spark, SF_SMOKE, "orders")
    n = o.count()
    got = deterministic_sample(o, "o_orderkey", 0.2).count()
    assert 0.1 * n < got < 0.3 * n, (got, n)


def test_sample_stable_under_growth(spark):
    """The defining property vs seeded sample: sampling a SUBSET picks
    exactly the subset of the full sample — membership depends only on
    the key, never on what else is in the frame."""
    o = read_table(spark, SF_SMOKE, "orders")
    full = {r["o_orderkey"] for r in deterministic_sample(o, "o_orderkey", 0.2).collect()}
    half = o.filter(F.col("o_orderkey") % 2 == 0)
    sub = {r["o_orderkey"] for r in deterministic_sample(half, "o_orderkey", 0.2).collect()}
    assert sub == {k for k in full if k % 2 == 0}


def test_stratified_unlisted_stratum_dropped(spark):
    d = read_table(spark, SF_SMOKE, "documents")
    langs = {r["lang"] for r in d.select("lang").distinct().collect()}
    keep = sorted(langs)[0]
    out = stratified_sample(d, "doc_id", "lang", {keep: 1.0})
    got_langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert got_langs == {keep}
    # fraction 1.0 keeps the whole stratum
    assert out.count() == d.filter(F.col("lang") == keep).count()


def test_split_is_partition(spark):
    o = read_table(spark, SF_SMOKE, "orders")
    labeled = train_test_split(o, "o_orderkey", test_fraction=0.25)
    counts = {r["split"]: r["n"] for r in labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "test"}
    assert sum(counts.values()) == o.count()
    # test rows are exactly the deterministic 25% sample of the keys
    test_keys = {r["o_orderkey"] for r in labeled.filter(F.col("split") == "test").collect()}
    sample_keys = {r["o_orderkey"] for r in deterministic_sample(o, "o_orderkey", 0.25).collect()}
    assert test_keys == sample_keys


def test_sample_plan_is_narrow(spark):
    """The sample must stay a shuffle-free narrow filter."""
    from gcpdatapipelines_spark import plans as PL

    o = read_table(spark, SF_SMOKE, "orders")
    df = deterministic_sample(o, "o_orderkey", 0.1)
    assert PL.num_exchanges(df) == 0


def test_weighted_sample_extremes_and_monotonicity(spark):
    from gcpdatapipelines_spark.operators.sample import weighted_sample

    c = read_table(spark, SF_SMOKE, "customer")
    # weight 1 keeps everything, weight 0 (and negative) keeps nothing
    assert weighted_sample(c, "c_custkey", F.lit(1.0)).count() == c.count()
    assert weighted_sample(c, "c_custkey", F.lit(0.0)).count() == 0
    assert weighted_sample(c, "c_custkey", F.lit(-5.0)).count() == 0
    # a higher uniform weight keeps a superset of a lower one
    lo = {r["c_custkey"] for r in weighted_sample(c, "c_custkey", F.lit(0.2)).collect()}
    hi = {r["c_custkey"] for r in weighted_sample(c, "c_custkey", F.lit(0.6)).collect()}
    assert lo <= hi and len(lo) < len(hi)


def test_weighted_sample_is_narrow(spark):
    from gcpdatapipelines_spark import plans as PL
    from gcpdatapipelines_spark.operators.sample import weighted_sample

    c = read_table(spark, SF_SMOKE, "customer")
    df = weighted_sample(c, "c_custkey", F.col("c_acctbal") / F.lit(10000.0))
    assert PL.num_exchanges(df) == 0


def test_topk_per_stratum_exact_k_and_deterministic(spark):
    from gcpdatapipelines_spark.operators.sample import topk_per_stratum

    c = read_table(spark, SF_SMOKE, "customer")
    out = topk_per_stratum(c, "c_custkey", "c_mktsegment", 3)
    counts = {r["c_mktsegment"]: r["n"] for r in out.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    assert all(n == 3 for n in counts.values())
    # deterministic: a second evaluation picks the identical rows
    a = {(r["c_mktsegment"], r["c_custkey"]) for r in out.collect()}
    b = {
        (r["c_mktsegment"], r["c_custkey"])
        for r in topk_per_stratum(c, "c_custkey", "c_mktsegment", 3).collect()
    }
    assert a == b


def test_domain_mixture_exact_proportions_max_yield(spark):
    from gcpdatapipelines_spark.operators.sample import domain_mixture_sample

    # a: 100 rows, b: 50, c: 200 (dropped — not in weights)
    rows = [(i, "a") for i in range(100)]
    rows += [(1000 + i, "b") for i in range(50)]
    rows += [(2000 + i, "c") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
    out = domain_mixture_sample(df, "source", "doc_id", {"a": 0.5, "b": 0.5})
    rates = {r.source: r.mix_rate for r in out.select("source", "mix_rate").distinct().collect()}
    # C = min(100/0.5, 50/0.5) = 100 -> expected 50 a's, 50 b's
    assert rates == {"a": 0.5, "b": 1.0}
    per = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "c" not in per  # unlisted domain dropped
    assert per["b"] == 50  # binding domain fully kept
    assert 35 <= per["a"] <= 65  # ~50 expected, hash-bucket variance


def test_domain_mixture_deterministic_and_no_extra_scan(spark):
    from gcpdatapipelines_spark.operators.sample import domain_mixture_sample

    rows = [(i, "a") for i in range(40)] + [(100 + i, "b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
    out1 = {r.doc_id for r in domain_mixture_sample(df, "source", "doc_id", {"a": 0.7, "b": 0.3}).collect()}
    out2 = {r.doc_id for r in domain_mixture_sample(df, "source", "doc_id", {"a": 0.7, "b": 0.3}).collect()}
    assert out1 == out2  # same rows every run
    plan = (
        domain_mixture_sample(df, "source", "doc_id", {"a": 0.7, "b": 0.3})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_negative_samples_exclude_positives_and_are_deterministic(spark):
    from gcpdatapipelines_spark.operators.sample import negative_samples

    keys = spark.createDataFrame([(1,), (2,)], "k BIGINT")
    pos = spark.createDataFrame(
        [(1, i) for i in range(1, 11)], "pk BIGINT, item BIGINT"
    )  # anchor 1 owns items 1..10 of a 10-item space: NO valid negative
    np_df = spark.createDataFrame([(10,)], "np BIGINT")
    out = negative_samples(keys, "k", pos, "pk", "item", np_df, k=6).collect()
    # anchor 1 can produce nothing; anchor 2 keeps all its draws
    assert all(r.k == 2 for r in out)
    assert all(1 <= r.neg_item <= 10 for r in out)
    assert len(out) == 6
    out2 = negative_samples(keys, "k", pos, "pk", "item", np_df, k=6).collect()
    assert {(r.k, r.i, r.neg_item) for r in out} == {(r.k, r.i, r.neg_item) for r in out2}


# ---------------------------------------------------------------------------
# temperature_sample
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.sample import temperature_sample  # noqa: E402


def test_temperature_flattens_the_mix(spark):
    # head: 900 rows, tail: 100 rows. alpha=0.5 shifts share toward tail:
    # p = (30, 10) -> shares (0.75, 0.25) vs raw (0.9, 0.1).
    rows = [("head", i) for i in range(900)] + [("tail", i + 1000) for i in range(100)]
    df = spark.createDataFrame(rows, "src STRING, k BIGINT")
    out = temperature_sample(df, "src", "k", alpha=0.5, n_target=100)
    got = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    assert got["head"] == 75 and got["tail"] == 25


def test_temperature_quota_capped_at_group_size(spark):
    rows = [("a", i) for i in range(1000)] + [("b", i + 2000) for i in range(3)]
    df = spark.createDataFrame(rows, "src STRING, k BIGINT")
    out = temperature_sample(df, "src", "k", alpha=0.3, n_target=500)
    got = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    assert got["b"] == 3  # quota > group size -> whole group, never more


def test_temperature_deterministic(spark):
    rows = [(f"s{i % 4}", i) for i in range(400)]
    df = spark.createDataFrame(rows, "src STRING, k BIGINT")
    a = sorted(r.k for r in temperature_sample(df, "src", "k").collect())
    b = sorted(r.k for r in temperature_sample(df.repartition(7), "src", "k").collect())
    assert a == b


# ---------------------------------------------------------------------------
# epoch_repeat / pack_sequences
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.sample import (  # noqa: E402
    epoch_repeat,
    pack_sequences,
)


def test_epoch_repeat_counts_and_copy_idx(spark):
    rows = [("a", i) for i in range(100)] + [("b", 1000)]
    df = spark.createDataFrame(rows, "src STRING, k BIGINT")
    out = epoch_repeat(df, "src", "k", {"a": 2.5})
    per = {r.src: r.cnt for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    # every 'a' row twice, ~half a third time; 'b' defaults to 1.0
    assert 200 <= per["a"] <= 300 and per["b"] == 1
    copies = out.filter(F.col("k") == 0).select("copy_idx").collect()
    assert sorted(r.copy_idx for r in copies) in ([1, 2], [1, 2, 3])
    # deterministic under repartitioning
    again = {r.src: r.cnt for r in epoch_repeat(df.repartition(7), "src", "k", {"a": 2.5}).groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    assert again == per


def test_pack_sequences_capacity_and_model_parity(spark):
    rows = [(i, (i * 37) % 400 + 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, n_tok BIGINT")
    out = pack_sequences(df, "doc_id", "n_tok", seq_len=512, shards=4).collect()
    assert len(out) == 200  # every doc assigned exactly once
    # no bin over capacity
    used: dict = {}
    for r in out:
        used[(r.shard, r.bin_id)] = used.get((r.shard, r.bin_id), 0) + r.n_tokens
    assert all(v <= 512 for v in used.values())
    # python FFD model agrees bin-for-bin within each shard
    from collections import defaultdict

    by_shard = defaultdict(list)
    for r in out:
        by_shard[r.shard].append((r.n_tokens, r.doc_id, r.bin_id))
    for shard, docs in by_shard.items():
        want_bins: list = []
        assign = {}
        for ln, did, _ in sorted(docs, key=lambda t: (-t[0], t[1])):
            placed = None
            for i, rem in enumerate(want_bins):
                if rem >= ln:
                    placed, want_bins[i] = i, rem - ln
                    break
            if placed is None:
                want_bins.append(512 - ln)
                placed = len(want_bins) - 1
            assign[did] = placed
        for ln, did, got_bin in docs:
            assert got_bin == assign[did]


def test_pack_sequences_oversize_doc_gets_singleton_bin(spark):
    df = spark.createDataFrame([(1, 9000), (2, 100)], "doc_id BIGINT, n_tok BIGINT")
    out = {r.doc_id: r for r in pack_sequences(df, "doc_id", "n_tok", seq_len=512, shards=1).collect()}
    assert out[1].bin_id != out[2].bin_id  # oversize never shares


def test_time_series_cv_monotone_expanding_and_no_leak(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(days=d),) for d in range(60) for _ in range(2)]
    df = spark.createDataFrame(rows, "ts TIMESTAMP")
    out = sorted(
        time_series_cv_folds(df, "ts", k=4, horizon_days=7).collect(),
        key=lambda r: r.fold,
    )
    assert len(out) == 4
    ends = [r.train_end for r in out]
    assert ends == sorted(ends) and len(set(ends)) == 4  # expanding origins
    for r in out:
        assert r.test_end == r.train_end + 7
        assert r.n_train > 0 and r.n_test > 0
    # later folds never shrink the training window
    trains = [r.n_train for r in out]
    assert trains == sorted(trains)


from gcpdatapipelines_spark.operators.sample import time_series_cv_folds  # noqa: E402


class TestCapPerGroup:
    def test_cap_and_passthrough(self, spark):
        rows = [(i, "big") for i in range(20)] + [(100, "small"), (101, "small")]
        df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
        out = cap_per_group(df, "doc_id", "source", 5)
        by_src = (
            out.groupBy("source").agg(F.count("*").alias("n")).collect()
        )
        got = {r.source: r.n for r in by_src}
        assert got == {"big": 5, "small": 2}

    def test_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, "s") for i in range(50)], "doc_id BIGINT, source STRING"
        )
        a = {r.doc_id for r in cap_per_group(df, "doc_id", "source", 7).collect()}
        b = {r.doc_id for r in cap_per_group(df, "doc_id", "source", 7).collect()}
        assert a == b and len(a) == 7


class TestSplitStratified:
    def test_exact_proportions_per_stratum(self, spark):
        rows = [(i, "a") for i in range(100)] + [(1000 + i, "b") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
        from gcpdatapipelines_spark.operators.sample import split_stratified

        out = split_stratified(df, "doc_id", "source", test_pct=20)
        counts = {
            (r.source, r.split): r.n
            for r in out.groupBy("source", "split").agg(F.count("*").alias("n")).collect()
        }
        assert counts[("a", "test")] == 20 and counts[("a", "train")] == 80
        # interleaved slots keep even a 10-row stratum at the ratio:
        # exactly 2 of 10 land in test (every 5th rank)
        assert counts[("b", "test")] == 2 and counts[("b", "train")] == 8

    def test_deterministic(self, spark):
        df = spark.createDataFrame(
            [(i, "s") for i in range(50)], "doc_id BIGINT, source STRING"
        )
        from gcpdatapipelines_spark.operators.sample import split_stratified

        a = {(r.doc_id, r.split) for r in split_stratified(df, "doc_id", "source").collect()}
        b = {(r.doc_id, r.split) for r in split_stratified(df, "doc_id", "source").collect()}
        assert a == b


def test_shuffle_is_permutation(spark):
    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id")
    n = docs.count()
    out = deterministic_shuffle(docs, "doc_id")
    assert out.count() == n
    # every (shard, pos) address unique; positions dense 1..len per shard
    assert out.select("shard", "shard_pos").distinct().count() == n
    bad = (
        out.groupBy("shard")
        .agg(F.max("shard_pos").alias("mx"), F.count("*").alias("cnt"))
        .filter(F.col("mx") != F.col("cnt"))
        .count()
    )
    assert bad == 0


def test_shuffle_reproducible_and_seed_sensitive(spark):
    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id").limit(200)
    a = {(r["doc_id"], r["shard"], r["shard_pos"])
         for r in deterministic_shuffle(docs, "doc_id").collect()}
    b = {(r["doc_id"], r["shard"], r["shard_pos"])
         for r in deterministic_shuffle(docs, "doc_id").collect()}
    assert a == b
    c = {(r["doc_id"], r["shard"], r["shard_pos"])
         for r in deterministic_shuffle(docs, "doc_id", seed=7).collect()}
    assert a != c


def test_shuffle_decorrelates_key_order(spark):
    """Adjacent keys must not land at adjacent positions — the point
    of shuffling. Check shards of consecutive doc_ids look spread."""
    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id").limit(64)
    shards = [
        r["shard"]
        for r in deterministic_shuffle(docs, "doc_id").orderBy("doc_id").collect()
    ]
    assert len(set(shards)) > 10  # 64 consecutive ids spray across shards


def test_kfold_balanced_and_deterministic(spark):
    from gcpdatapipelines_spark.operators.sample import split_kfold

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    out = split_kfold(docs, "doc_id", "lang", k=5)
    sizes = (
        out.groupBy("lang", "fold").count()
        .groupBy("lang")
        .agg(F.max("count").alias("mx"), F.min("count").alias("mn"))
        .collect()
    )
    assert sizes and all(r["mx"] - r["mn"] <= 1 for r in sizes)
    again = split_kfold(docs, "doc_id", "lang", k=5)
    assert out.exceptAll(again).count() == 0


# ---------------------------------------------------------------------------
# group_kfold / sim_recall_eval / sim_mmr_rerank / pagerank tier
# ---------------------------------------------------------------------------


def test_group_kfold_never_splits_a_group(spark):
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.sample import group_kfold

    ev = read_table(spark, SF_SMOKE, "events").select("user_id", "event_id")
    folds = group_kfold(ev, "user_id", k=5)
    import pyspark.sql.functions as F

    per_user = folds.groupBy("user_id").agg(
        F.countDistinct("fold").alias("nf")
    )
    assert per_user.filter(F.col("nf") > 1).count() == 0
    spread = {r.fold for r in folds.select("fold").distinct().collect()}
    assert spread == {0, 1, 2, 3, 4}


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
