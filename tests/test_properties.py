"""Property-based tests (hypothesis) for the semantics most likely to
hide edge-case bugs: pivot vs a pandas reference model, Jaccard
invariants, salted-agg equivalence."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gcpdatapipelines_spark.operators.dedup import ngram_jaccard_pairs
from gcpdatapipelines_spark.operators.pivot import transpose
from gcpdatapipelines_spark.operators.skew import salted_count_per_key


KEYS = st.integers(min_value=0, max_value=3)
CLASSES = st.sampled_from(["AAA", "BBB", "CCC"])
VALUES = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32)

ROWS = st.lists(st.tuples(KEYS, CLASSES, VALUES), min_size=1, max_size=25)

SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


@given(rows=ROWS)
@SLOW
def test_pivot_sum_matches_pandas(spark, rows):
    """transpose(agg='sum') must agree with pandas pivot_table for any
    input, including duplicate (key, pivot) pairs and absent cells."""
    df = spark.createDataFrame(rows, "id INT, cls STRING, v DOUBLE")
    wide = transpose(df, ["id"], ["cls"], ["v"], agg="sum").toPandas()

    pdf = pd.DataFrame(rows, columns=["id", "cls", "v"])
    want = pdf.pivot_table(index="id", columns="cls", values="v", aggfunc="sum")
    for _, row in wide.iterrows():
        for cls in ("AAA", "BBB", "CCC"):
            col = f"{cls}_v"
            if col not in wide.columns:
                assert cls not in want.columns
                continue
            got = row[col]
            exp = (
                want.loc[row["id"], cls]
                if cls in want.columns and not pd.isna(want.loc[row["id"], cls])
                else None
            )
            if exp is None:
                assert got is None or pd.isna(got)
            else:
                assert got is not None and math.isclose(got, exp, rel_tol=1e-9)


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=1, max_size=40), min_size=2, max_size=6
    )
)
@SLOW
def test_jaccard_bounds_and_symmetry(spark, texts):
    """0 < jaccard <= 1 for every emitted pair; id_1 < id_2 always;
    identical texts always score exactly 1.0."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", n=2, threshold=0.0).collect()
    for p in pairs:
        assert p["id_1"] < p["id_2"]
        assert 0.0 < p["jaccard"] <= 1.0
    scored = {(p["id_1"], p["id_2"]): p["jaccard"] for p in pairs}
    for i, a in rows:
        for j, b in rows:
            if i < j and a == b and a.strip(" "):
                assert scored.get((i, j)) == 1.0, (a, b, scored)


@given(
    keys=st.lists(st.integers(min_value=0, max_value=2), min_size=1, max_size=30),
    buckets=st.integers(min_value=1, max_value=5),
)
@SLOW
def test_salted_count_always_matches_plain(spark, keys, buckets):
    df = spark.createDataFrame([(k,) for k in keys], "k INT")
    plain = {(r["k"], r["n"]) for r in df.groupBy("k").count().withColumnRenamed("count", "n").collect()}
    salted = {
        (r["k"], r["cnt"]) for r in salted_count_per_key(df, "k", buckets, "cnt").collect()
    }
    assert plain == salted


DOC_TEXTS = st.lists(
    st.text(alphabet="ab c.x1", min_size=0, max_size=40), min_size=1, max_size=12
)


@given(texts=DOC_TEXTS, chunk=st.integers(min_value=1, max_value=16))
@SLOW
def test_pack_chunks_covers_token_stream_exactly(spark, texts, chunk):
    """For any corpus and chunk size: within a shard, doc offsets are
    contiguous (end_i == start_{i+1} in id order over non-empty docs),
    each doc appears in exactly the windows it overlaps, and no window
    index is skipped inside the shard's covered range."""
    from gcpdatapipelines_spark.operators.text import pack_chunks, token_count

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id BIGINT, text STRING"
    )
    out = pack_chunks(df, "doc_id", "text", chunk_tokens=chunk, num_shards=2)
    rows = out.collect()
    toks = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", token_count(F.col("text")).alias("n")).collect()
    }
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], {}).setdefault(
            r["doc_id"], (r["start_tok"], r["n_tok"], set())
        )[2].add(r["chunk_id"])
    for shard, docs in by_shard.items():
        expected_start = 0
        for doc_id in sorted(docs):
            start, n_tok, chunks = docs[doc_id]
            assert n_tok == toks[doc_id] > 0
            assert start == expected_start
            expected_start += n_tok
            want = set(range(start // chunk, (start + n_tok - 1) // chunk + 1))
            assert chunks == want, (doc_id, chunks, want)


EVENT_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),           # key
        st.integers(min_value=0, max_value=10_000),      # minutes offset
        st.sampled_from(["a", "b", "c"]),                # state/attr
    ),
    min_size=1,
    max_size=30,
)


def _ts_frame(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    data = [
        (k, t0 + dt.timedelta(minutes=m), s, i)
        for i, (k, m, s) in enumerate(rows)
    ]
    return spark.createDataFrame(data, "k BIGINT, ts TIMESTAMP, attr STRING, seq BIGINT")


@given(rows=EVENT_ROWS)
@SLOW
def test_keep_latest_one_row_per_key_from_input(spark, rows):
    from gcpdatapipelines_spark.operators.history import keep_latest

    df = _ts_frame(spark, rows)
    out = keep_latest(df, ["k"], "ts", "seq").collect()
    keys = {r[0] for r in rows}
    assert {r["k"] for r in out} == keys and len(out) == len(keys)
    # each winner is that key's max (ts, seq) input row
    by_key = {}
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    for i, (k, m, s) in enumerate(rows):
        t = t0 + dt.timedelta(minutes=m)
        if k not in by_key or (t, i) > by_key[k][:2]:
            by_key[k] = (t, i, s)
    for r in out:
        assert r["attr"] == by_key[r["k"]][2]


@given(rows=EVENT_ROWS)
@SLOW
def test_scd2_intervals_tile_each_keys_timeline(spark, rows):
    """Per key: intervals are chronologically contiguous (next
    valid_from == previous valid_to), exactly one open interval, and
    adjacent versions always differ in the attribute."""
    from gcpdatapipelines_spark.operators.history import keep_latest, scd2_intervals

    df = _ts_frame(spark, rows)
    one = keep_latest(df, ["k", "ts"], "ts", "seq").drop("seq")
    out = scd2_intervals(one, ["k"], "ts", ["attr"]).collect()
    per_key = {}
    for r in out:
        per_key.setdefault(r["k"], []).append(r)
    for k, ivs in per_key.items():
        ivs.sort(key=lambda r: r["valid_from"])
        opens = [r for r in ivs if r["valid_to"] is None]
        assert len(opens) == 1 and ivs[-1]["is_current"]
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr"] != b["attr"] or (
                a["attr"] is None) != (b["attr"] is None)


@given(rows=EVENT_ROWS)
@SLOW
def test_funnel_counts_monotone_nonincreasing(spark, rows):
    from gcpdatapipelines_spark.operators.funnel import funnel_counts

    df = _ts_frame(spark, rows).withColumnRenamed("attr", "ev")
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(df, "k", "ts", "ev", ["a", "b", "c"]).collect()
    }
    assert out[1] >= out[2] >= out[3] >= 0


@given(rows=EVENT_ROWS)
@SLOW
def test_event_sequences_are_permutation_of_inputs(spark, rows):
    from gcpdatapipelines_spark.operators.sequences import event_sequences

    df = _ts_frame(spark, rows)
    out = {r["k"]: r["seq"] for r in event_sequences(df, "k", "ts", "attr", "seq").collect()}
    want = {}
    for k, m, s in rows:
        want.setdefault(k, []).append(s)
    assert {k: sorted(v) for k, v in out.items()} == {
        k: sorted(v) for k, v in want.items()
    }


# ---------------------------------------------------------------------------
# round-3 operators
# ---------------------------------------------------------------------------

WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
DOC_TEXT = st.lists(WORDS, min_size=1, max_size=14).map(" ".join)
DOCS = st.lists(DOC_TEXT, min_size=2, max_size=8)


@given(docs=DOCS, t=st.sampled_from([0.3, 0.5, 0.7]))
@SLOW
def test_prefix_filter_lossless_any_corpus(spark, docs, t):
    """jaccard_prefix_pairs must equal the exact all-pairs join for ANY
    corpus and threshold — the prefix theorem has no luck component."""
    from gcpdatapipelines_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id BIGINT, text STRING")
    exact = {
        (r.id_1, r.id_2, r.jaccard)
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 3, t).collect()
    }
    pruned = {
        (r.id_1, r.id_2, r.jaccard)
        for r in jaccard_prefix_pairs(df, "doc_id", "text", 3, t).collect()
    }
    assert pruned == exact


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@SLOW
def test_morton_bijective_on_domain(spark, pts):
    """Distinct (x, y) pairs must get distinct z codes (interleaving is
    a bijection on the bounded domain)."""
    from gcpdatapipelines_spark.operators.layout import with_zorder_key

    df = spark.createDataFrame(pts, "x BIGINT, y BIGINT")
    out = with_zorder_key(df, ["x", "y"], bits=8).collect()
    assert len({r.z for r in out}) == len(pts)
    assert all(0 <= r.z < (1 << 16) for r in out)


@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # key
            st.integers(min_value=0, max_value=6),  # day offset
            st.floats(min_value=-100, max_value=100, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_gapfill_invariants(spark, obs):
    """For any observation set: the filled series is dense per key,
    observed rows keep their value, and gap rows copy the most recent
    observed value."""
    import datetime as dt

    from gcpdatapipelines_spark.operators.timeseries import gapfill_ffill, resample_sum

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(days=d, hours=1), float(v)) for k, d, v in obs
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
    filled = gapfill_ffill(
        resample_sum(df, "user_id", "ts", "value", unit="day"), "user_id", unit="day"
    ).collect()
    by_key: dict = {}
    for r in filled:
        by_key.setdefault(r.user_id, []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r.bucket)
        days = [r.bucket.day for r in rs]
        assert days == list(range(days[0], days[-1] + 1))  # dense span
        assert rs[0].is_gap is False  # first point observed
        last = None
        for r in rs:
            if r.is_gap:
                assert r.value == last  # copied forward
            last = r.value


CHUNK_N = st.integers(min_value=1, max_value=200)


@given(n_tokens=CHUNK_N, window=st.integers(8, 64), stride=st.integers(4, 48))
@SLOW
def test_chunk_overlap_covers_every_token_exactly(spark, n_tokens, window, stride):
    """Invariants for any (n, window, stride) with stride <= window:
    every token position is covered by >= 1 chunk; no chunk exceeds the
    window; consecutive chunks advance by exactly stride; the first
    chunk starts at 1."""
    from gcpdatapipelines_spark.operators.text import chunk_overlap

    if stride > window:
        stride = window  # contract: stride <= window (overlap >= 0)
    text = " ".join(f"t{i}" for i in range(1, n_tokens + 1))
    df = spark.createDataFrame([(1, text)], "doc_id BIGINT, text STRING")
    rows = sorted(
        chunk_overlap(df, "doc_id", "text", window, stride).collect(),
        key=lambda r: r.start_tok,
    )
    assert rows[0].start_tok == 1
    covered = set()
    for r in rows:
        assert 1 <= r.chunk_tokens <= window
        covered.update(range(r.start_tok, r.start_tok + r.chunk_tokens))
    assert covered == set(range(1, n_tokens + 1))
    starts = [r.start_tok for r in rows]
    assert all(b - a == stride for a, b in zip(starts, starts[1:]))


SPLIT_ROWS = st.lists(
    st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
    min_size=1, max_size=60, unique_by=lambda t: t[0],
)


@given(rows=SPLIT_ROWS, pct=st.sampled_from([10, 20, 25, 50]))
@SLOW
def test_split_stratified_within_one_row_of_ratio(spark, rows, pct):
    """Every stratum's test count is within one row of n*pct/100, for
    any stratum size — the interleaved-slot guarantee."""
    from gcpdatapipelines_spark.operators.sample import split_stratified

    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
    out = split_stratified(df, "doc_id", "source", test_pct=pct).collect()
    by = {}
    for r in out:
        tot, tst = by.get(r.source, (0, 0))
        by[r.source] = (tot + 1, tst + (1 if r.split == "test" else 0))
    for src, (tot, tst) in by.items():
        want = tot * pct / 100
        assert abs(tst - want) < 1 + 1e-9, (src, tot, tst, want)


OHLC_EVENTS = st.lists(
    st.tuples(
        st.integers(0, 2),                      # user
        st.integers(0, 7200),                   # seconds offset
        st.integers(0, 10_000),                 # event id (tiebreak)
        st.floats(-1e3, 1e3, allow_nan=False, width=32),
    ),
    min_size=1, max_size=40, unique_by=lambda t: t[2],
)


@given(events=OHLC_EVENTS)
@SLOW
def test_resample_ohlc_matches_python_model(spark, events):
    """OHLC bars must agree with a brute-force python reference for any
    event set, including same-timestamp ties (resolved by event id)."""
    import datetime as dt

    from gcpdatapipelines_spark.operators.timeseries import resample_ohlc

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (u, t0 + dt.timedelta(seconds=s), e, float(v)) for u, s, e, v in events
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    got = {
        (r.user_id, r.bucket): (r.open, r.high, r.low, r.close, r.n_events)
        for r in resample_ohlc(df, "user_id", "ts", "value", "event_id").collect()
    }
    model = {}
    for u, ts, e, v in rows:
        b = ts.replace(minute=0, second=0, microsecond=0)
        model.setdefault((u, b), []).append((ts, e, v))
    want = {}
    for k, evs in model.items():
        evs.sort(key=lambda t: (t[0], t[1]))
        vals = [v for _, _, v in evs]
        want[k] = (evs[0][2], max(vals), min(vals), evs[-1][2], len(evs))
    assert got == want


# ---------------------------------------------------------------------------
# merge_intervals vs a python reference model
# ---------------------------------------------------------------------------

EVT = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user
        st.integers(min_value=0, max_value=200),        # minutes offset
    ),
    min_size=1,
    max_size=40,
)


@given(evs=EVT)
@SLOW
def test_merge_intervals_matches_python_model(spark, evs):
    """For any event set, islands must equal the sequential python
    merge with a 30-minute gap: bounds, counts, and island count."""
    import datetime as dt

    from gcpdatapipelines_spark.operators.timeseries import merge_intervals

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(minutes=m), i) for i, (u, m) in enumerate(evs)
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT")
    got = sorted(
        (
            (r.user_id, r.started_at, r.ended_at, r.n_events)
            for r in merge_intervals(df, "user_id", "ts", "event_id").collect()
        )
    )

    want = []
    by_user: dict[int, list] = {}
    for u, ts, i in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        sessions = by_user.setdefault(u, [])
        if sessions and ts <= sessions[-1][1] + dt.timedelta(minutes=30):
            sessions[-1][1] = max(sessions[-1][1], ts)
            sessions[-1][2] += 1
        else:
            sessions.append([ts, ts, 1])
    for u, sessions in by_user.items():
        for s in sessions:
            want.append((u, s[0], s[1], s[2]))
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# temperature_sample quota model
# ---------------------------------------------------------------------------

MIX = st.lists(
    st.integers(min_value=1, max_value=60), min_size=1, max_size=5
)


@given(sizes=MIX, alpha=st.sampled_from([0.3, 0.7, 1.0]))
@SLOW
def test_temperature_sample_matches_quota_model(spark, sizes, alpha):
    """Selected counts per group must equal the analytic quota
    min(n_g, floor(N * n_g^a / sum n^a)) for any mix and alpha; at
    alpha=1 shares are proportional."""
    from gcpdatapipelines_spark.operators.sample import temperature_sample

    rows = [
        (f"g{gi}", gi * 1000 + j)
        for gi, n in enumerate(sizes)
        for j in range(n)
    ]
    df = spark.createDataFrame(rows, "src STRING, k BIGINT")
    out = temperature_sample(df, "src", "k", alpha=alpha, n_target=50)
    got = {
        r.src: r.cnt
        for r in out.groupBy("src").agg(F.count("*").alias("cnt")).collect()
    }
    import decimal

    p = [
        float(
            decimal.Decimal(round(n**alpha, 9)).quantize(
                decimal.Decimal("1e-9")
            )
        )
        for n in sizes
    ]
    tot = float(sum(decimal.Decimal(str(x)) for x in p))
    for gi, n in enumerate(sizes):
        share = math.floor((p[gi] / tot) * 1e12) / 1e12
        want = min(n, math.floor(50.0 * share))
        assert got.get(f"g{gi}", 0) == want


# ---------------------------------------------------------------------------
# round-12 additions: bloom one-pass vs a python reference model, and the
# incremental k-center fold vs the brute greedy
# ---------------------------------------------------------------------------


BLOOM_KEYS = st.lists(
    st.integers(min_value=0, max_value=60), min_size=1, max_size=30
)


@given(build=BLOOM_KEYS, probe=BLOOM_KEYS)
@SLOW
def test_bloom_confusion_matches_python_model(spark, build, probe):
    """The one-pass explode bloom must reproduce a literal python model
    of the same salted-md5 bit construction: identical hit set, and
    never a false negative."""
    import hashlib

    from gcpdatapipelines_spark.operators.sketches import bloom_membership

    k, m_bits = 4, 256

    def bits(key):
        out = set()
        for i in range(k):
            h = int(
                hashlib.md5(f"bf{i}:{key}".encode()).hexdigest()[:15], 16
            )
            out.add(h % m_bits)
        return out

    bitset = set()
    for key in set(build):
        bitset |= bits(key)
    expected = {}
    for key in set(probe):
        is_member = key in set(build)
        hit = bits(key) <= bitset
        expected[(is_member, hit)] = expected.get((is_member, hit), 0) + 1

    bdf = spark.createDataFrame([(x,) for x in build], "k INT")
    pdf_ = spark.createDataFrame([(x,) for x in probe], "k INT")
    got = {
        (r.is_member, r.bloom_hit): r.n
        for r in bloom_membership(bdf, pdf_, "k", "k", k=k, m_bits=m_bits).collect()
    }
    assert got == expected
    assert (True, False) not in got


VECS = st.lists(
    st.lists(
        st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
        min_size=4,
        max_size=4,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6),
    min_size=3,
    max_size=10,
)


@given(vecs=VECS)
@SLOW
def test_kcenter_incremental_fold_matches_brute_greedy(spark, vecs):
    """The O(nk) incremental greatest() fold must select the identical
    ids, in order, as a literal python farthest-point greedy computed
    with the same floor-9dp rounding — greatest() exactness is the
    whole proof, so any divergence here is a real bug."""
    import math

    from gcpdatapipelines_spark.operators.similarity import (
        diverse_kcenter_portable,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    k = min(4, len(rows))
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = [
        (r.rank, r.vec_id)
        for r in diverse_kcenter_portable(
            df, "vec_id", "embedding", k=k, dim=4
        ).collect()
    ]

    # python model — same float32 widening, same chain order, floor-9dp
    import numpy as np

    wide = {i: [float(np.float32(x)) for x in v] for i, v in rows}
    nrm = {i: math.sqrt(sum(x * x for x in v)) for i, v in wide.items()}
    sel = [min(wide)]
    best = {}
    while len(sel) < k:
        newest = sel[-1]
        for i in wide:
            if i in sel:
                continue
            dot = 0.0
            for a, b in zip(wide[i], wide[newest]):
                dot += a * b
            cos = dot / (nrm[i] * nrm[newest])
            best[i] = max(best.get(i, -math.inf), cos)
        cand = [
            (math.floor(best[i] * 1e9) / 1e9, i)
            for i in wide
            if i not in sel
        ]
        cand.sort()
        sel.append(cand[0][1])
    want = [(r, i) for r, i in enumerate(sel)]
    assert got == want


SESS_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # user
        st.integers(min_value=0, max_value=7200),     # seconds offset
        st.integers(min_value=0, max_value=99),       # event_id
        st.sampled_from(["view", "purchase"]),
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False, width=16),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: (t[0], t[1], t[2]),
)


@given(evs=SESS_EVENTS)
@SLOW
def test_session_table_matches_python_model(spark, evs):
    """windows.session_table vs a literal python sessionizer over
    random event streams — pins the exact gap semantics (a gap of
    EXACTLY 1800 s does NOT split: strict >), the (ts, event_id)
    tiebreak under equal timestamps, and the per-session aggregates."""
    from gcpdatapipelines_spark.operators.windows import session_table

    rows = [
        (u, 1_600_000_000_000_000 + s * 1_000_000, e, t, float(v))
        for u, s, e, t, v in evs
    ]
    df = spark.createDataFrame(
        rows, "user_id INT, us LONG, event_id INT, event_type STRING, value DOUBLE"
    ).selectExpr(
        "user_id", "timestamp_micros(us) AS ts", "event_id", "event_type", "value"
    )
    got = {
        (r.user_id, r.sess_id): (
            r.n_events,
            r.converted,
            int(r.duration_s * 1_000_000),
        )
        for r in session_table(df, "user_id", "ts", "event_id", "value").collect()
    }

    # python model
    from collections import defaultdict
    import decimal

    by_user = defaultdict(list)
    for u, us, e, t, v in rows:
        by_user[u].append((us, e, t, v))
    want = {}
    for u, lst in by_user.items():
        lst.sort()
        sess, prev = 0, None
        members = defaultdict(list)
        for us, e, t, v in lst:
            if prev is not None and us - prev > 1800 * 1_000_000:
                sess += 1
            members[sess].append((us, t, v))
            prev = us
        for sid, ms in members.items():
            n = len(ms)
            conv = 1 if any(t == "purchase" for _, t, _ in ms) else 0
            dur = max(us for us, _, _ in ms) - min(us for us, _, _ in ms)
            want[(u, sid)] = (n, conv, dur)
    assert got == want
