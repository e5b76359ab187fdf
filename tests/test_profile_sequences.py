"""Profiling + behavior-sequence operators: semantics on hand-built
frames, determinism, and plan shapes."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from gcpdatapipelines_spark import plans as PL
from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.operators.profile import profile_columns
from gcpdatapipelines_spark.operators.sequences import (
    activity_streaks,
    bigram_lift,
    event_sequences,
    rolling_mean,
    transition_counts,
)
from tests.conftest import SF_SMOKE

T0 = dt.datetime(2024, 1, 1)


def _ts(m):
    return T0 + dt.timedelta(minutes=m)


def test_profile_counts_nulls_distincts_minmax(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.5), (2, "a", None), (3, None, 7.5), (3, "b", 0.5)],
        "k BIGINT, s STRING, v DOUBLE",
    )
    rows = {r["col_name"]: r for r in profile_columns(df).collect()}
    assert rows["k"]["n_rows"] == 4 and rows["k"]["n_nonnull"] == 4
    assert rows["k"]["n_distinct"] == 3
    assert (rows["k"]["min_num"], rows["k"]["max_num"]) == (1.0, 3.0)
    assert rows["s"]["n_nonnull"] == 3 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_num"] is None  # non-numeric: no min/max
    assert rows["v"]["n_nonnull"] == 3
    assert (rows["v"]["min_num"], rows["v"]["max_num"]) == (0.5, 7.5)


def test_profile_approx_within_tolerance(spark):
    o = read_table(spark, SF_SMOKE, "orders")
    exact = {
        r["col_name"]: r["n_distinct"]
        for r in profile_columns(o, ["o_custkey", "o_orderstatus"]).collect()
    }
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in profile_columns(
            o, ["o_custkey", "o_orderstatus"], approx=True
        ).collect()
    }
    for c, n in exact.items():
        assert abs(approx[c] - n) <= max(1, 0.1 * n), (c, approx[c], n)


def test_event_sequences_ordered_and_deterministic(spark):
    df = spark.createDataFrame(
        [
            (1, _ts(5), 11, "b"),
            (1, _ts(0), 10, "a"),
            (1, _ts(5), 12, "c"),  # same ts as 11: event_id breaks the tie
            (2, _ts(1), 20, "x"),
        ],
        "k BIGINT, ts TIMESTAMP, eid BIGINT, ev STRING",
    )
    out = {r["k"]: r["seq"] for r in event_sequences(df, "k", "ts", "ev", "eid").collect()}
    assert out == {1: ["a", "b", "c"], 2: ["x"]}
    # repartitioned input must give the identical arrays
    out2 = {
        r["k"]: r["seq"]
        for r in event_sequences(df.repartition(7), "k", "ts", "ev", "eid").collect()
    }
    assert out2 == out


def test_transition_counts_semantics(spark):
    df = spark.createDataFrame(
        [(1, _ts(i), i, ev) for i, ev in enumerate(["a", "b", "a", "b"])]
        + [(2, _ts(0), 10, "a"), (2, _ts(1), 11, "b")],
        "k BIGINT, ts TIMESTAMP, eid BIGINT, ev STRING",
    )
    out = {
        (r["prev_state"], r["state"]): r["n"]
        for r in transition_counts(df, "k", "ts", "ev", "eid").collect()
    }
    assert out == {("a", "b"): 3, ("b", "a"): 1}
    # total transitions = total rows - one per key
    assert sum(out.values()) == df.count() - 2


def test_rolling_mean_trailing_window(spark):
    df = spark.createDataFrame(
        [(1, _ts(i), i, float(v)) for i, v in enumerate([2, 4, 6, 8])],
        "k BIGINT, ts TIMESTAMP, eid BIGINT, v DOUBLE",
    )
    out = {
        r["eid"]: r["rolling_mean"]
        for r in rolling_mean(df, "k", "ts", "v", "eid", n_rows=3).collect()
    }
    # trailing-3 inclusive: [2], [2,4], [2,4,6], [4,6,8]
    assert out == {0: 2.0, 1: 3.0, 2: 4.0, 3: 6.0}


def test_sequence_ops_single_exchange(spark):
    ev = read_table(spark, SF_SMOKE, "events")
    assert PL.num_exchanges(event_sequences(ev, "user_id", "ts", "event_type", "event_id")) == 1
    assert PL.num_exchanges(rolling_mean(ev, "user_id", "ts", "value", "event_id", 3)) == 1
    # transitions: window shuffle + final agg exchange over tiny keys
    assert PL.num_exchanges(transition_counts(ev, "user_id", "ts", "event_type", "event_id")) <= 2


def test_approx_distinct_tolerance(spark):
    from gcpdatapipelines_spark.operators.agg import approx_distinct_per_key

    o = read_table(spark, SF_SMOKE, "orders")
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    approx = {
        r["o_orderstatus"]: r["approx_distinct"]
        for r in approx_distinct_per_key(o, "o_custkey", "o_orderstatus").collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.1 * n), (k, approx[k], n)


def test_quality_checks_detects_violations(spark):
    from gcpdatapipelines_spark.operators.quality import (
        in_range,
        in_set,
        matches,
        not_null,
        quality_checks,
    )

    df = spark.createDataFrame(
        [
            (1, "ok", 5.0, "a@b.com"),
            (1, "ok", -1.0, "nope"),      # dup key, below range, bad email
            (None, "bad", 50.0, None),    # null key, bad status, null email
        ],
        "k BIGINT, status STRING, v DOUBLE, email STRING",
    )
    dim = spark.createDataFrame([(1,)], "k BIGINT")
    out = {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in quality_checks(
            df,
            row_rules=[
                not_null("k"),
                in_range("v", 0, 10),
                in_set("status", ["ok"]),
                matches("email", r"[a-z]+@[a-z]+\.[a-z]+"),
            ],
            unique=["k"],
            references={"k": (dim, "k")},
        ).collect()
    }
    assert out["not_null(k)"] == (1, False)
    assert out["in_range(v,0,10)"] == (2, False)  # -1.0 and the 50.0
    assert out["in_set(status)"] == (1, False)
    assert out["matches(email)"] == (2, False)
    assert out["unique(k)"] == (2, False)  # 3 rows, 2 distinct non-null... NULL counts
    assert out["references(k)"] == (1, False)  # the NULL key misses the dim


def test_quality_checks_all_pass_single_agg(spark):
    from gcpdatapipelines_spark import plans as PL
    from gcpdatapipelines_spark.operators.quality import in_range, not_null, quality_checks

    o = read_table(spark, SF_SMOKE, "orders")
    out = quality_checks(
        o, row_rules=[not_null("o_orderkey"), in_range("o_totalprice", 0, 10**7)]
    )
    rows = {r["rule"]: r["passed"] for r in out.collect()}
    assert all(rows.values())
    assert PL.has_partial_aggregation(out)


def test_ema_per_key_matches_python_fold(spark):
    from gcpdatapipelines_spark.operators.sequences import ema_per_key

    df = spark.createDataFrame(
        [(1, _ts(i), i, float(v)) for i, v in enumerate([10, 20, 30])]
        + [(2, _ts(0), 9, 5.0)],
        "k BIGINT, ts TIMESTAMP, eid BIGINT, v DOUBLE",
    )
    out = {r["k"]: r["ema"] for r in ema_per_key(df, "k", "ts", "v", "eid", alpha=0.5).collect()}
    # user 1: ((10*0.5 + 20*0.5)*0.5 + 30*0.5) = 22.5; single row folds to itself
    assert out == {1: 22.5, 2: 5.0}


def test_ema_series_per_key_full_series(spark):
    """Every event carries its running smoothed value; the last one
    equals ema_per_key's final value."""
    from gcpdatapipelines_spark.operators.sequences import ema_series_per_key

    df = spark.createDataFrame(
        [(1, _ts(i), i, float(v)) for i, v in enumerate([10, 20, 30])]
        + [(2, _ts(0), 9, 5.0)],
        "k BIGINT, ts TIMESTAMP, eid BIGINT, v DOUBLE",
    )
    out = {
        (r["k"], r["eid"]): r["ema"]
        for r in ema_series_per_key(df, "k", "ts", "v", "eid", alpha=0.5).collect()
    }
    # s_0=10, s_1=10*.5+20*.5=15, s_2=15*.5+30*.5=22.5
    assert out == {(1, 0): 10.0, (1, 1): 15.0, (1, 2): 22.5, (2, 9): 5.0}


def test_context_examples_slide_and_drop_short(spark):
    from gcpdatapipelines_spark.operators.sequences import context_examples

    rows = [
        (1, _ts(0), 1, "a"),
        (1, _ts(1), 2, "b"),
        (1, _ts(2), 3, "c"),
        (1, _ts(3), 4, "d"),
        (2, _ts(0), 5, "x"),  # only one event: no example
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"
    )
    out = context_examples(df, "user_id", "ts", "event_type", "event_id", k=2)
    got = sorted((r.user_id, tuple(r.context), r.label) for r in out.collect())
    # events c and d have >= 2 predecessors; contexts keep stream order
    assert got == [(1, ("a", "b"), "c"), (1, ("b", "c"), "d")]


def test_column_entropy_constant_and_uniform(spark):
    import math

    from gcpdatapipelines_spark.operators.profile import column_entropy

    rows = [("a", "x"), ("a", "y"), ("a", "z"), ("a", None)]
    df = spark.createDataFrame(rows, "c1 STRING, c2 STRING")
    got = {r.col_name: (r.n_distinct, r.entropy) for r in column_entropy(df, ["c1", "c2"]).collect()}
    assert got["c1"] == (1, 0.0)  # constant column
    # c2: three equally-likely values, NULL excluded -> ln(3)
    assert got["c2"][0] == 3
    assert abs(got["c2"][1] - round(math.log(3), 6)) < 1e-9


def test_drift_psi_identical_and_shifted(spark):
    from gcpdatapipelines_spark.operators.profile import drift_psi

    a = spark.createDataFrame([(float(v),) for v in range(100)], "value DOUBLE")
    same = drift_psi(a, a, "value", lo=0.0, hi=100.0, nbins=10).collect()[0]
    assert same.psi == 0.0 and same.n_base == 100 == same.n_current
    # hard shift: all mass moves to the top bin
    b = spark.createDataFrame([(99.0,)] * 100, "value DOUBLE")
    shifted = drift_psi(a, b, "value", lo=0.0, hi=100.0, nbins=10).collect()[0]
    assert shifted.psi > 0.25  # conventional "shifted" threshold


def test_drift_psi_out_of_range_clamped(spark):
    from gcpdatapipelines_spark.operators.profile import drift_psi

    a = spark.createDataFrame([(-5.0,), (500.0,)], "value DOUBLE")
    row = drift_psi(a, a, "value", lo=0.0, hi=100.0, nbins=10).collect()[0]
    assert row.psi == 0.0 and row.n_base == 2  # clamped into edge bins, not dropped


# ---------------------------------------------------------------------------
# top_paths
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.sequences import top_paths  # noqa: E402


def test_top_paths_counts_and_truncation(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # three users with path a>b, one with a>b>c>d>e (truncated at 3)
    for u in (1, 2, 3):
        rows += [(u, t0, "a", u * 10), (u, t0 + dt.timedelta(minutes=1), "b", u * 10 + 1)]
    for i, e in enumerate("abcde"):
        rows.append((4, t0 + dt.timedelta(minutes=i), e, 100 + i))
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT")
    out = top_paths(df, "user_id", "ts", "event_type", "event_id", k=5, max_len=3).collect()
    got = {r.path: (r.n_steps, r.n_users) for r in out}
    assert got["a>b"] == (2, 3)
    assert got["a>b>c"] == (3, 1)
    assert out[0].path == "a>b"  # most common first


def test_holt_linear_matches_python_recursion(spark):
    """Level/trend state must equal the sequential Holt recursion; a
    <2-observation key is dropped (no trend seed)."""
    from gcpdatapipelines_spark.operators.sequences import holt_linear_state

    vals = [10.0, 12.0, 11.0, 15.0, 14.0]
    df = spark.createDataFrame(
        [(1, _ts(i), i, v) for i, v in enumerate(vals)] + [(2, _ts(0), 9, 5.0)],
        "k BIGINT, ts TIMESTAMP, eid BIGINT, v DOUBLE",
    )
    out = {
        r["k"]: (r["n"], r["level"], r["trend"], r["forecast_1"])
        for r in holt_linear_state(
            df, "k", "ts", "eid", "v", alpha=0.5, beta=0.3
        ).collect()
    }
    lvl, trd = vals[0], vals[1] - vals[0]
    for x in vals[2:]:
        new_l = 0.5 * x + 0.5 * (lvl + trd)
        trd = 0.3 * (new_l - lvl) + 0.7 * trd
        lvl = new_l
    assert 2 not in out  # single observation: no trend seed
    n, level, trend, fc1 = out[1]
    assert n == len(vals)
    import math

    trunc6 = lambda x: math.floor(x * 1e6) / 1e6  # noqa: E731
    assert level == trunc6(lvl)
    assert trend == trunc6(trd)
    assert fc1 == trunc6(lvl + trd)


class TestBigramLift:
    def test_lift_values(self, spark):
        rows = [
            (1, _ts(0), 1, "a"), (1, _ts(1), 2, "b"),
            (1, _ts(2), 3, "a"), (1, _ts(3), 4, "b"),
            (2, _ts(0), 5, "a"), (2, _ts(1), 6, "c"),
        ]
        df = spark.createDataFrame(
            rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING"
        )
        out = {(r.a, r.b): r for r in
               bigram_lift(df, "user_id", "ts", "event_type", "event_id").collect()}
        # bigrams: (a,b)x2, (b,a)x1, (a,c)x1 -> N=4
        assert out[("a", "b")].n_ab == 2
        # lift(a,b) = (2*4)/(c_a=3 * c_b=2) = 8/6
        assert abs(out[("a", "b")].lift - round(8 / 6, 6)) < 1e-9
        # lift(a,c) = (1*4)/(3*1)
        assert abs(out[("a", "c")].lift - round(4 / 3, 6)) < 1e-9


def _day_ts(day: int, hour: int = 9):
    return dt.datetime(2024, 1, day, hour)


def test_streaks_known_islands(spark):
    # u1: days 1,2,3 then 5,6 -> longest 3, active 5
    # u2: single day -> 1/1; u3: duplicate events one day -> 1/1
    rows = [
        (1, _day_ts(1)), (1, _day_ts(2)), (1, _day_ts(3)), (1, _day_ts(5)), (1, _day_ts(6)),
        (2, _day_ts(10)),
        (3, _day_ts(4, 1)), (3, _day_ts(4, 23)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        r["user_id"]: (r["longest_streak"], r["n_active_days"])
        for r in activity_streaks(df, "user_id", "ts").collect()
    }
    assert got == {1: (3, 5), 2: (1, 1), 3: (1, 1)}


def test_streaks_gap_of_one_day_breaks(spark):
    df = spark.createDataFrame(
        [(1, _day_ts(d)) for d in (1, 3, 5, 7)], "user_id long, ts timestamp"
    )
    [r] = activity_streaks(df, "user_id", "ts").collect()
    assert (r["longest_streak"], r["n_active_days"]) == (1, 4)


def test_freshness_audit_lag_and_stale(spark):
    import datetime as dt

    from gcpdatapipelines_spark.operators.profile import freshness_audit

    t0 = dt.datetime(2024, 1, 10)
    rows = [
        ("live", t0),
        ("live", t0 - dt.timedelta(days=9)),
        ("dead", t0 - dt.timedelta(days=2)),
    ]
    df = spark.createDataFrame(rows, "feed STRING, ts TIMESTAMP")
    out = {r.shard: r for r in freshness_audit(df, "feed", "ts").collect()}
    assert out["live"].lag_hours == 0.0 and not out["live"].stale
    assert out["dead"].lag_hours == 48.0 and out["dead"].stale
    assert out["live"].n_rows == 2


def test_key_skew_audit_flat_vs_skewed(spark):
    from gcpdatapipelines_spark.operators.profile import key_skew_audit

    flat = spark.createDataFrame([(i % 10,) for i in range(100)], "k BIGINT")
    skew = spark.createDataFrame([(0,)] * 91 + [(i,) for i in range(1, 10)], "k BIGINT")
    rf = key_skew_audit(flat, "k").first()
    rs = key_skew_audit(skew, "k").first()
    assert rf.gini == 0.0 and rf.max_over_avg == 1.0
    assert rs.gini > 0.7 and rs.top1_share == 0.91 and rs.max_over_avg == 9.1
    assert rf.n_keys == rs.n_keys == 10


# ---------------------------------------------------------------------------
# join_size_estimate
# ---------------------------------------------------------------------------


def test_join_size_estimate_exact_at_full_rate(spark):
    """rate=1.0 samples every key: the estimate IS the exact
    product-sum and rel_err == 0."""
    from gcpdatapipelines_spark.operators.profile import join_size_estimate

    l = spark.createDataFrame(
        [(i % 10, i) for i in range(300)], "k INT, x BIGINT"
    )
    r = spark.createDataFrame(
        [(i % 7, i) for i in range(200)], "k INT, y BIGINT"
    )
    got = join_size_estimate(l, "k", r, "k", rate=1.0).collect()[0]
    exact = l.join(r, "k").count()
    assert got["exact_join_rows"] == exact
    assert got["est_join_rows"] == float(exact)
    assert got["rel_err"] == 0.0


def test_join_size_estimate_concentrates(spark):
    """With many keys of similar weight, a 20% key sample lands
    within ~35% of the truth (unbiased; error ~ 1/sqrt(sampled
    keys))."""
    from gcpdatapipelines_spark.operators.profile import join_size_estimate

    l = spark.createDataFrame(
        [(i % 500, i) for i in range(5000)], "k INT, x BIGINT"
    )
    r = spark.createDataFrame(
        [(i % 500, i) for i in range(3000)], "k INT, y BIGINT"
    )
    got = join_size_estimate(l, "k", r, "k", rate=0.2).collect()[0]
    assert got["exact_join_rows"] == l.join(r, "k").count()
    assert got["n_keys_sampled"] > 50
    assert got["rel_err"] < 0.35, got


def test_join_size_estimate_disjoint_keys_is_zero(spark):
    """No overlapping keys: estimate 0, exact 0 guarded against
    divide-by-zero is not required (exact>0 in catalog); here assert
    the estimator returns 0 sampled product mass."""
    from gcpdatapipelines_spark.operators.profile import join_size_estimate

    l = spark.createDataFrame([(i, i) for i in range(100)], "k INT, x BIGINT")
    r = spark.createDataFrame(
        [(i + 1000, i) for i in range(100)], "k INT, y BIGINT"
    )
    got = join_size_estimate(l, "k", r, "k", rate=1.0).collect()[0]
    assert got["est_join_rows"] == 0.0


# ---------------------------------------------------------------------------
# pattern_match_negation
# ---------------------------------------------------------------------------


def test_pattern_negation_cases(spark):
    """Four journeys pin the semantics: clean match; blocker between
    -> no match; blocker AFTER the goal -> still a match; goal beyond
    horizon -> no match."""
    from datetime import datetime, timedelta

    from gcpdatapipelines_spark.operators.sequences import (
        pattern_match_negation,
    )

    base = datetime(2024, 7, 1)

    def j(u, steps):
        return [
            (u, base + timedelta(minutes=m), t, i)
            for i, (m, t) in enumerate(steps)
        ]

    rows = (
        j(1, [(0, "click"), (10, "purchase")])                       # match
        + j(2, [(0, "click"), (5, "error"), (10, "purchase")])       # blocked
        + j(3, [(0, "click"), (10, "purchase"), (20, "error")])      # match
        + j(4, [(0, "click"), (90, "purchase")])                     # too late
    )
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT"
    )
    got = {
        r["user"]: (r["n_start"], r["n_matched"])
        for r in pattern_match_negation(
            df, "user_id", "ts", "event_type",
            "click", "purchase", "error", 3600, "event_id",
        ).collect()
    }
    assert got == {1: (1, 1), 2: (1, 0), 3: (1, 1), 4: (1, 0)}


def test_pattern_negation_uses_next_goal_only(spark):
    """The pattern binds to the NEXT goal: click -> error -> purchase
    -> purchase is blocked (the error precedes the first purchase),
    even though a later purchase also exists."""
    from datetime import datetime, timedelta

    from gcpdatapipelines_spark.operators.sequences import (
        pattern_match_negation,
    )

    base = datetime(2024, 7, 1)
    rows = [
        (1, base + timedelta(minutes=m), t, i)
        for i, (m, t) in enumerate(
            [(0, "click"), (5, "error"), (10, "purchase"), (20, "purchase")]
        )
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT"
    )
    got = pattern_match_negation(
        df, "user_id", "ts", "event_type",
        "click", "purchase", "error", 3600, "event_id",
    ).collect()[0]
    assert (got["n_start"], got["n_matched"]) == (1, 0)
