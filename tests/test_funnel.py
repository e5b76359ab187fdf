"""Funnel / retention / trend-fit / incremental-dedup semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from gcpdatapipelines_spark import plans as PL
from gcpdatapipelines_spark.operators.funnel import (
    funnel_counts,
    funnel_user_stages,
    retention_cohorts,
    time_decay_attribution,
)

T0 = dt.datetime(2024, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def _events(spark, rows):
    return spark.createDataFrame(rows, "u BIGINT, ts TIMESTAMP, ev STRING")


def test_funnel_requires_order(spark):
    df = _events(
        spark,
        [
            # u1 completes A -> B -> C in order
            (1, _ts(0), "A"), (1, _ts(1), "B"), (1, _ts(2), "C"),
            # u2 does C BEFORE B: must stop at step B
            (2, _ts(0), "A"), (2, _ts(1), "C"), (2, _ts(2), "B"),
            # u3 never starts: B and C only
            (3, _ts(0), "B"), (3, _ts(1), "C"),
        ],
    )
    out = {r["step_name"]: r["n_users"] for r in funnel_counts(df, "u", "ts", "ev", ["A", "B", "C"]).collect()}
    assert out == {"A": 2, "B": 2, "C": 1}


def test_funnel_quoted_step_names(spark):
    """Step names holding quotes must not break (or inject into) the
    plan build — rows are typed literals, not interpolated SQL
    (ADVICE.md)."""
    df = _events(spark, [(1, _ts(0), "add_to_cart's"), (1, _ts(1), 'say "buy"')])
    out = {
        r["step_name"]: r["n_users"]
        for r in funnel_counts(df, "u", "ts", "ev", ["add_to_cart's", 'say "buy"']).collect()
    }
    assert out == {"add_to_cart's": 1, 'say "buy"': 1}


def test_funnel_equal_ts_not_counted(spark):
    """Steps require STRICTLY later timestamps: a simultaneous B does
    not advance the funnel."""
    df = _events(spark, [(1, _ts(0), "A"), (1, _ts(0), "B")])
    (row,) = funnel_user_stages(df, "u", "ts", "ev", ["A", "B"]).collect()
    assert row["t_1"] is not None and row["t_2"] is None


def test_funnel_picks_earliest_valid_chain(spark):
    """t_k is the FIRST step-k event after t_{k-1}, not any later one."""
    df = _events(
        spark,
        [(1, _ts(0), "A"), (1, _ts(5), "B"), (1, _ts(9), "B"), (1, _ts(7), "C")],
    )
    (row,) = funnel_user_stages(df, "u", "ts", "ev", ["A", "B", "C"]).collect()
    # chain: A@0 -> first B after = @5 -> first C after 5 = @7
    assert (row["t_1"], row["t_2"], row["t_3"]) == (_ts(0), _ts(5), _ts(7))


def test_funnel_single_grouped_pass(spark):
    df = _events(spark, [(1, _ts(0), "A")])
    # one exchange for the user grouping; the summary count adds its
    # single-row aggregate on top
    assert PL.num_exchanges(funnel_user_stages(df, "u", "ts", "ev", ["A", "B"])) == 1


def test_retention_cohort_triangle(spark):
    day = 24 * 60
    df = _events(
        spark,
        [
            # u1: first seen week 0, active weeks 0 and 2
            (1, _ts(0), "x"), (1, _ts(15 * day), "x"),
            # u2: first seen week 0 only
            (2, _ts(1 * day), "x"),
            # u3: first seen week 1, active weeks 1 and 2
            (3, _ts(8 * day), "x"), (3, _ts(14 * day), "x"),
        ],
    )
    out = {
        (r["cohort_period"], r["offset"]): r["n_users"]
        for r in retention_cohorts(df, "u", "ts", period_days=7).collect()
    }
    # cohorts are absolute period ordinals; normalize to the min
    base = min(c for c, _ in out)
    norm = {(c - base, o): n for (c, o), n in out.items()}
    assert norm == {(0, 0): 2, (0, 2): 1, (1, 0): 1, (1, 1): 1}


def test_linear_fit_exact_line(spark):
    from gcpdatapipelines_spark.operators.agg import linear_fit_per_key

    df = spark.createDataFrame(
        [(1, float(x), 2.0 * x + 3.0) for x in range(10)]
        + [(2, float(x), -0.5 * x + 1.0) for x in range(10)],
        "k BIGINT, x DOUBLE, y DOUBLE",
    )
    fit = {
        r["k"]: (r["slope"], r["intercept"], r["corr"])
        for r in linear_fit_per_key(
            df,
            F.col("x").cast("decimal(18,2)"),
            F.col("y").cast("decimal(18,2)"),
            ["k"],
        ).collect()
    }
    assert fit[1] == (2.0, 3.0, 1.0)
    assert fit[2] == (-0.5, 1.0, -1.0)


def test_incremental_dedup_admits_only_unseen(spark):
    from gcpdatapipelines_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "Hello World"), (2, "old news")], "doc_id BIGINT, text STRING"
    )
    inc = spark.createDataFrame(
        [
            (10, "hello,   WORLD"),  # normalizes to a corpus fp -> rejected
            (11, "fresh content"),
            (12, "Fresh CONTENT!"),  # dup of 11 within the increment
            (13, "also new"),
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"] for r in incremental_dedup(inc, corpus, "text", "doc_id").collect()}
    assert out == {11, 13}


def test_funnel_window_constrains_chain(spark):
    """With a conversion window, a step landing too late fails the
    funnel even though an unwindowed chain would pass."""
    df = _events(
        spark,
        [
            (1, _ts(0), "A"), (1, _ts(10), "B"),   # within 15m -> converts
            (2, _ts(0), "A"), (2, _ts(30), "B"),   # too late
        ],
    )
    open_counts = {
        r["step_name"]: r["n_users"]
        for r in funnel_counts(df, "u", "ts", "ev", ["A", "B"]).collect()
    }
    windowed = {
        r["step_name"]: r["n_users"]
        for r in funnel_counts(df, "u", "ts", "ev", ["A", "B"], within="15 minutes").collect()
    }
    assert open_counts == {"A": 2, "B": 2}
    assert windowed == {"A": 2, "B": 1}


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def test_attribution_first_vs_last_touch(spark):
    from gcpdatapipelines_spark.operators.funnel import attribution

    rows = [
        # user 1: view -> click -> purchase(10): first=view, last=click
        (1, _ts(0), 1, "view", 0.0),
        (1, _ts(1), 2, "click", 0.0),
        (1, _ts(2), 3, "purchase", 10.0),
        # user 1 second purchase(5) right after: last=click (purchases
        # are not touches), first=view
        (1, _ts(3), 4, "purchase", 5.0),
        # user 2: purchase with NO preceding touch -> unattributable
        (2, _ts(0), 5, "purchase", 99.0),
        # user 3: error -> purchase(1): both models credit 'error'
        (3, _ts(0), 6, "error", 0.0),
        (3, _ts(1), 7, "purchase", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"
    )
    out = attribution(df, "user_id", "ts", "event_type", "value", "event_id")
    got = {(r.model, r.channel): (r.n_conversions, r.attributed_value) for r in out.collect()}
    assert got[("last_touch", "click")] == (2, 15.0)
    assert got[("first_touch", "view")] == (2, 15.0)
    assert got[("last_touch", "error")] == (1, 1.0)
    assert got[("first_touch", "error")] == (1, 1.0)
    # user 2's 99.0 never appears
    assert sum(v for _, v in got.values()) == 32.0


def test_attribution_single_window_pass_plan(spark):
    from gcpdatapipelines_spark.operators.funnel import attribution

    rows = [(1, _ts(0), 1, "view", 0.0), (1, _ts(1), 2, "purchase", 3.0)]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE"
    )
    plan = (
        attribution(df, "user_id", "ts", "event_type", "value", "event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # both models reuse ONE window operator (last+first in the same frame)
    assert plan.count("Window") <= 2  # one per union branch after reuse
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# cohort_ltv
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.funnel import cohort_ltv  # noqa: E402


def test_cohort_ltv_accumulates_per_cohort(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 4)  # period boundaries irrelevant: same math
    rows = [
        (1, t0, 10.0),                          # cohort c, age 0
        (1, t0 + dt.timedelta(days=7), 5.0),    # age 1
        (2, t0, 20.0),                          # cohort c, age 0
        (3, t0 + dt.timedelta(days=7), 7.0),    # later cohort c+1, age 0
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
    out = sorted(
        cohort_ltv(df, "user_id", "ts", "value", period_days=7).collect(),
        key=lambda r: (r.cohort, r.age),
    )
    c0 = out[0].cohort
    assert [(r.cohort - c0, r.age, r.buyers, r.rev, r.cum_rev) for r in out] == [
        (0, 0, 2, 30.0, 30.0),
        (0, 1, 1, 5.0, 35.0),
        (1, 0, 1, 7.0, 7.0),
    ]


# ---------------------------------------------------------------------------
# growth_accounting
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.funnel import growth_accounting  # noqa: E402


def test_growth_accounting_identities(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 4)

    def wk(i):
        return t0 + dt.timedelta(days=7 * i)

    rows = [
        (1, wk(0)), (1, wk(1)), (1, wk(2)),      # steady user
        (2, wk(0)), (2, wk(2)),                  # skips week 1: resurrects
        (3, wk(1)),                              # one-week wonder: churns at 2
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP")
    out = sorted(growth_accounting(df, "user_id", "ts").collect(), key=lambda r: r.period)
    p0 = out[0].period
    got = {r.period - p0: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned) for r in out}
    assert got[0] == (2, 0, 0, 0)          # users 1,2 new
    assert got[1] == (1, 1, 0, 1)          # 3 new, 1 retained, 2 churned
    assert got[2] == (0, 1, 1, 1)          # 1 retained, 2 resurrected, 3 churned
    # identity: active(p) = new + retained + resurrected
    act = {r.period - p0: r for r in out}
    sizes = {0: 2, 1: 2, 2: 2}
    for off, n_active in sizes.items():
        r = act[off]
        assert r.n_new + r.n_retained + r.n_resurrected == n_active


def test_srm_check_balanced_and_broken(spark):
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark.operators.agg import srm_check

    even = spark.createDataFrame([(i,) for i in range(1000)], "uid BIGINT")
    r = srm_check(even, F.col("uid") % 2 == 1).first()
    assert (r.n_a, r.n_b, r.chi2) == (500, 500, 0.0)
    broken = spark.createDataFrame([(i,) for i in range(900)] + [(2 * i + 1,) for i in range(100)], "uid BIGINT")
    r2 = srm_check(broken, F.col("uid") % 2 == 1).first()
    assert r2.chi2 > 3.84  # flags the imbalance


def test_time_decay_attribution_hand_weights(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "click"),
        (1, t0 + dt.timedelta(days=7), "email"),
        (1, t0 + dt.timedelta(days=14), "purchase"),
        (2, t0, "click"),  # user 2 never converts: no credit
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING")
    out = {r.channel: r for r in time_decay_attribution(df, "user_id", "ts", "event_type").collect()}
    # click is 14 days before the purchase -> 0.25; email 7 days -> 0.5
    assert out["click"].credit == 0.25 and out["click"].n_touches == 1
    assert out["email"].credit == 0.5
    assert set(out) == {"click", "email"}


# ---------------------------------------------------------------------------
# markov_attribution
# ---------------------------------------------------------------------------


def _mk_journeys(spark, journeys):
    from datetime import datetime, timedelta

    base = datetime(2024, 6, 1)
    rows = []
    for u, steps in enumerate(journeys):
        for i, st in enumerate(steps):
            rows.append((u, base + timedelta(minutes=i), st, i))
    return spark.createDataFrame(
        rows, "user_id BIGINT, ts TIMESTAMP, event_type STRING, event_id BIGINT"
    )


def test_markov_attribution_hand_chain(spark):
    """Hand-solved absorbing chain: journeys A->CONV, A->B->CONV,
    B->null, C->null give removal effects A=0.75, B=0.5, C=0 (base
    P(conv)=0.5; removing A leaves only START->B->CONV=0.125;
    removing B kills A's second path: 0.25)."""
    from gcpdatapipelines_spark.operators.funnel import markov_attribution

    df = _mk_journeys(
        spark,
        [["A", "purchase"], ["A", "B", "purchase"], ["B"], ["C"]],
    )
    got = {
        r["channel"]: r
        for r in markov_attribution(
            df, "user_id", "ts", "event_type", "purchase", "event_id"
        ).collect()
    }
    assert abs(got["A"]["removal_effect"] - 0.75) < 1e-9
    assert abs(got["B"]["removal_effect"] - 0.5) < 1e-9
    assert got["C"]["removal_effect"] == 0.0
    assert abs(got["A"]["attribution_share"] - 0.6) < 1e-9
    assert abs(got["B"]["attribution_share"] - 0.4) < 1e-9
    assert abs(got["A"]["attributed_conversions"] - 1.2) < 1e-6
    assert abs(got["B"]["attributed_conversions"] - 0.8) < 1e-6


def test_markov_attribution_cuts_at_first_conversion(spark):
    """Post-conversion events must not contribute transitions: a
    journey A->CONV->Z->Z equals A->CONV (Z earns no credit and no
    Z state appears)."""
    from gcpdatapipelines_spark.operators.funnel import markov_attribution

    df = _mk_journeys(
        spark, [["A", "purchase", "Z", "Z"], ["A", "purchase"]]
    )
    got = markov_attribution(
        df, "user_id", "ts", "event_type", "purchase", "event_id"
    ).collect()
    assert {r["channel"] for r in got} == {"A"}
    assert got[0]["removal_effect"] == 1.0


def test_shapley_attribution_hand_case(spark):
    """Two channels, hand-solved: v(A)=1/3, v(B)=1/2, v(AB)=1 gives
    phi_A=5/12, phi_B=7/12 (efficiency: they sum to v(AB) since
    v(empty)=0); 4 conversions split 1.67/2.33."""
    from gcpdatapipelines_spark.operators.funnel import shapley_attribution

    journeys = (
        [["A", "purchase"]] + [["A"]] * 2           # v(A)=1/3
        + [["B", "purchase"]] + [["B"]]             # v(B)=1/2
        + [["A", "B", "purchase"]] * 2              # v(AB)=1
    )
    df = _mk_journeys(spark, journeys)
    got = {
        r["channel"]: r
        for r in shapley_attribution(
            df, "user_id", "ts", "event_type", "purchase"
        ).collect()
    }
    assert abs(got["A"]["shapley_value"] - 5 / 12) < 1e-6
    assert abs(got["B"]["shapley_value"] - 7 / 12) < 1e-6
    assert abs(got["A"]["attribution_share"] - 5 / 12) < 1e-6
    assert abs(got["A"]["attributed_conversions"] - 4 * 5 / 12) < 1e-2


def test_shapley_ignores_post_conversion_channels(spark):
    """Channels seen only after the first conversion earn nothing and
    do not appear."""
    from gcpdatapipelines_spark.operators.funnel import shapley_attribution

    df = _mk_journeys(spark, [["A", "purchase", "Z"], ["A"]])
    got = shapley_attribution(
        df, "user_id", "ts", "event_type", "purchase"
    ).collect()
    assert {r["channel"] for r in got} == {"A"}


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
