"""operators/timeseries.py: resampling, gap-fill, forecasting, trend
and change-point operators on hand-built frames, plus plan shape."""

from __future__ import annotations

import datetime as dt
import itertools
import random
import statistics

import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark.operators.timeseries import (
    cusum_alarms,
    gapfill_ffill,
    resample_ohlc,
    resample_sum,
)

T0 = dt.datetime(2024, 1, 1)


def _d(days):
    return T0 + dt.timedelta(days=days)


def _events(spark):
    rows = [
        # user 1: days 0, 1, 4 observed (gaps at 2, 3)
        (1, _d(0), 10.0),
        (1, _d(0) + dt.timedelta(hours=3), 2.5),
        (1, _d(1), 1.0),
        (1, _d(4), 7.0),
        # user 2: single day — no gaps, single-point grid
        (2, _d(2), 5.0),
    ]
    return spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")


def test_resample_sum_daily(spark):
    obs = resample_sum(_events(spark), "user_id", "ts", "value", unit="day")
    got = {(r.user_id, r.bucket.day): r.v for r in obs.collect()}
    assert got[(1, 1)] == 12.5  # two same-day events summed
    assert got[(1, 2)] == 1.0
    assert got[(1, 5)] == 7.0
    assert got[(2, 3)] == 5.0
    assert len(got) == 4


def test_gapfill_fills_only_interior_gaps_and_ffills(spark):
    obs = resample_sum(_events(spark), "user_id", "ts", "value", unit="day")
    out = gapfill_ffill(obs, "user_id", unit="day").orderBy("user_id", "bucket")
    rows = [(r.user_id, r.bucket.day, r.value, r.is_gap) for r in out.collect()]
    assert rows == [
        (1, 1, 12.5, False),
        (1, 2, 1.0, False),
        (1, 3, 1.0, True),  # gap forward-filled from day 2
        (1, 4, 1.0, True),
        (1, 5, 7.0, False),
        (2, 3, 5.0, False),  # span is the key's own range: no padding
    ]


def test_gapfill_value_never_null_first_point_observed(spark):
    obs = resample_sum(_events(spark), "user_id", "ts", "value", unit="day")
    out = gapfill_ffill(obs, "user_id", unit="day")
    assert out.filter(F.col("value").isNull()).count() == 0


def test_gapfill_plan_no_cartesian(spark):
    obs = resample_sum(_events(spark), "user_id", "ts", "value", unit="day")
    plan = gapfill_ffill(obs, "user_id", unit="day")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gapfill_hour_unit(spark):
    rows = [(1, T0, 1.0), (1, T0 + dt.timedelta(hours=2), 3.0)]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, value DOUBLE")
    obs = resample_sum(df, "user_id", "ts", "value", unit="hour")
    out = gapfill_ffill(obs, "user_id", unit="hour").orderBy("bucket")
    got = [(r.bucket.hour, r.value, r.is_gap) for r in out.collect()]
    assert got == [(0, 1.0, False), (1, 1.0, True), (2, 3.0, False)]


# ---------------------------------------------------------------------------
# merge_intervals (gaps-and-islands)
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.timeseries import (  # noqa: E402
    merge_intervals,
    rolling_zscore,
    seasonal_index,
)


def _m(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_merge_intervals_basic_islands(spark):
    rows = [
        # user 1: 0,10,25 chain (each within 30m of the last) then 120 alone
        (1, _m(0), 1),
        (1, _m(10), 2),
        (1, _m(25), 3),
        (1, _m(120), 4),
        # user 2: single event
        (2, _m(5), 5),
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT")
    out = merge_intervals(df, "user_id", "ts", "event_id").orderBy(
        "user_id", "started_at"
    )
    got = [
        (r.user_id, r.started_at.minute, r.ended_at.minute, r.n_events)
        for r in out.collect()
    ]
    assert got == [(1, 0, 25, 3), (1, 0, 0, 1), (2, 5, 5, 1)]


def test_merge_intervals_chain_extends_past_first_gap(spark):
    # 0 -> 25 -> 50: each hop < 30m though 50 is > 30m from 0; one island.
    rows = [(1, _m(0), 1), (1, _m(25), 2), (1, _m(50), 3)]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT")
    out = merge_intervals(df, "user_id", "ts", "event_id")
    assert out.count() == 1
    r = out.first()
    assert (r.started_at.minute, r.ended_at.minute, r.n_events) == (0, 50, 3)


def test_merge_intervals_plan_single_shuffle_family(spark):
    rows = [(1, _m(0), 1)]
    df = spark.createDataFrame(rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT")
    plan = (
        merge_intervals(df, "user_id", "ts", "event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pure window + agg, never a self-join


# ---------------------------------------------------------------------------
# seasonal_index
# ---------------------------------------------------------------------------


def test_seasonal_index_values(spark):
    rows = [
        ("a", T0.replace(hour=1), 10.0),
        ("a", T0.replace(hour=1), 30.0),  # hour 1 mean 20
        ("a", T0.replace(hour=2), 10.0),  # hour 2 mean 10; overall mean 50/3
    ]
    df = spark.createDataFrame(rows, "event_type STRING, ts TIMESTAMP, value DOUBLE")
    out = {r.grain: r for r in seasonal_index(df, "event_type", "ts", "value").collect()}
    overall = 50.0 / 3.0
    assert out[1].season_idx == round(20.0 / overall, 6)
    assert out[2].season_idx == round(10.0 / overall, 6)
    assert out[1].n_obs == 2 and out[2].n_obs == 1


# ---------------------------------------------------------------------------
# rolling_zscore
# ---------------------------------------------------------------------------


def test_rolling_zscore_flags_spike_only(spark):
    # 12 steady values then one large spike; priors-only window means the
    # spike cannot mask itself.
    rows = [("a", _m(i), i, 10.0 + (i % 2) * 0.2) for i in range(12)]
    rows.append(("a", _m(12), 12, 50.0))
    df = spark.createDataFrame(
        rows, "event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    out = rolling_zscore(df, "event_type", "ts", "event_id", "value").collect()
    assert len(out) == 1
    assert out[0].value == 50.0 and out[0].zscore > 3


def test_rolling_zscore_zero_variance_and_min_obs_guard(spark):
    # constant series: variance 0 -> never scored, never raises
    rows = [("a", _m(i), i, 5.0) for i in range(15)]
    df = spark.createDataFrame(
        rows, "event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    assert rolling_zscore(df, "event_type", "ts", "event_id", "value").count() == 0
    # fewer than min_obs priors: nothing scored even with variance
    rows2 = [("a", _m(i), i, float(i)) for i in range(5)]
    df2 = spark.createDataFrame(
        rows2, "event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    assert rolling_zscore(df2, "event_type", "ts", "event_id", "value").count() == 0


# ---------------------------------------------------------------------------
# period_over_period
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.timeseries import period_over_period  # noqa: E402


def test_period_over_period_weekly(spark):
    rows = [
        ("a", _d(0), 10.0),
        ("a", _d(1), 10.0),   # period 0 of this span: 20
        ("a", _d(8), 30.0),   # next week: 30 -> +50%
        ("a", _d(22), 15.0),  # skips a week; change vs last OBSERVED period
    ]
    df = spark.createDataFrame(rows, "k STRING, ts TIMESTAMP, v DOUBLE")
    out = sorted(
        period_over_period(df, "k", "ts", "v", period_days=7).collect(),
        key=lambda r: r.period,
    )
    assert [r.psum for r in out] == [20.0, 30.0, 15.0]
    assert out[0].pop_pct is None
    assert out[1].pop_pct == 0.5
    assert out[2].pop_pct == -0.5


# ---------------------------------------------------------------------------
# changepoint_single
# ---------------------------------------------------------------------------

from gcpdatapipelines_spark.operators.timeseries import changepoint_single  # noqa: E402


def test_changepoint_finds_the_level_shift(spark):
    # 10 points at ~1.0 then 10 at ~5.0: split belongs at position 10
    rows = [("a", _m(i), i, 1.0 + (i % 3) * 0.01) for i in range(10)]
    rows += [("a", _m(10 + i), 10 + i, 5.0 + (i % 3) * 0.01) for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    r = changepoint_single(df, "event_type", "ts", "event_id", "value").first()
    assert r.split_pos == 10
    assert abs(r.mean_left - 1.01) < 0.01 and abs(r.mean_right - 5.01) < 0.01
    assert r.shift > 3.9


def test_changepoint_respects_min_seg(spark):
    rows = [("a", _m(i), i, float(i)) for i in range(12)]
    df = spark.createDataFrame(
        rows, "event_type STRING, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
    )
    r = changepoint_single(df, "event_type", "ts", "event_id", "value", min_seg=5).first()
    assert 5 <= r.split_pos <= 7  # only positions 5..7 are candidates


def test_merge_intervals_agrees_with_session_window(spark, sf_dir):
    """The batch gaps-and-islands operator and Spark's session_window
    partition events into IDENTICAL sessions (same starts, same
    sizes) — pins that the two tiers (batch interval merge, streaming
    sessionizer) implement one semantics."""
    from gcpdatapipelines_spark.io import read_table

    ev = read_table(spark, sf_dir, "events")
    ours = {
        (r.user_id, r.started_at): r.n_events
        for r in merge_intervals(ev, "user_id", "ts", "event_id").collect()
    }
    sw = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("started_at"),
            "n_events",
        )
    )
    theirs = {(r.user_id, r.started_at): r.n_events for r in sw.collect()}
    assert ours == theirs

from gcpdatapipelines_spark.operators.timeseries import seasonal_anomaly  # noqa: E402


def test_seasonal_anomaly_respects_the_daily_cycle(spark):
    """A value that is normal FOR ITS HOUR must not flag even if it is
    2x the global mean; the same raw value in a low hour must flag."""
    rows = []
    eid = 0
    for i in range(30):
        rows.append(("a", dt.datetime(2024, 1, 1 + i % 5, 1, i), eid, 200.0 + i % 3))
        eid += 1
        rows.append(("a", dt.datetime(2024, 1, 1 + i % 5, 2, i), eid, 100.0 + i % 3))
        eid += 1
    # spike: hour-2 observation at the hour-1 level (2x its hour mean)
    rows.append(("a", dt.datetime(2024, 1, 6, 2, 30), 9001, 200.0))
    # control: hour-1 observation at the hour-1 level (in-cycle, benign)
    rows.append(("a", dt.datetime(2024, 1, 6, 1, 30), 9002, 200.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = seasonal_anomaly(
        df, "event_type", "ts", "event_id", "value", min_obs=30
    ).collect()
    flagged = {r["event_id"] for r in out}
    assert 9001 in flagged
    assert 9002 not in flagged
    spike = [r for r in out if r["event_id"] == 9001][0]
    assert spike["zscore"] > 3.0

from gcpdatapipelines_spark.operators.timeseries import cusum_alarms  # noqa: E402


def test_cusum_catches_small_persistent_shift(spark):
    """A +1-sigma sustained shift must alarm even though no single
    point is a 3-sigma outlier (the case rolling z-score misses);
    the pre-shift stretch must stay quiet."""
    rows = []
    # reference: 60 points alternating 99/101 (mu=100, sigma~1)
    for i in range(60):
        rows.append(("m", dt.datetime(2024, 1, 1, 0, i), i, 99.0 + 2 * (i % 2)))
    # shift: 20 points alternating 100/102 (mu+1, ~1 sigma up, never extreme)
    for i in range(20):
        rows.append(("m", dt.datetime(2024, 1, 1, 1, i), 100 + i, 100.0 + 2 * (i % 2)))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = cusum_alarms(df, "event_type", "ts", "event_id", "value").collect()
    assert out, "sustained small shift must trip the CUSUM limit"
    # every alarm is inside the shifted stretch
    assert all(r["event_id"] >= 100 for r in out)


def test_cusum_quiet_on_stationary_data(spark):
    rows = [
        ("m", dt.datetime(2024, 1, 1, 0, i), i, 99.0 + 2 * (i % 2))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    assert cusum_alarms(df, "event_type", "ts", "event_id", "value").count() == 0


def test_cusum_period_reset_bounds_state(spark):
    """The fold is scoped to the monitoring period: a shift split
    across a period boundary restarts accumulation — alarms (if any)
    must come from within one period's own fold, which is what keeps
    per-group state bounded at scale."""
    rows = []
    # 40 reference points, all inside epoch-week floor(19726/7)=2818
    for i in range(40):
        rows.append(("m", dt.datetime(2024, 1, 4, 0, i), i, 99.0 + 2 * (i % 2)))
    # epoch-week boundary: day 19732 (Jan 10) is week 2818, day 19733
    # (Jan 11) is week 2819. Two shifted points on each side: each
    # 2-point run accumulates ~2.5 < h~4.5; an unreset 4-point run
    # would reach ~5.0 > h and alarm.
    for i in range(2):
        rows.append(("m", dt.datetime(2024, 1, 10, 23, 58 + i), 200 + i, 102.0))
    for i in range(2):
        rows.append(("m", dt.datetime(2024, 1, 11, 0, i), 300 + i, 102.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = cusum_alarms(df, "event_type", "ts", "event_id", "value").collect()
    assert out == []


def _old_cusum_alarms(df, key, ts_col, tiebreak, value_col,
                      period_days=7, k_mult=0.5, h_mult=4.0):
    """The pre-r10 formulation (in-plan HOF fold), kept verbatim as the
    parity reference for the Arrow-kernel rewrite."""
    from gcpdatapipelines_spark.operators.portable import trunc_dp

    dec = F.col(value_col).cast("decimal(18,6)")
    m = df.groupBy(F.col(key).alias("__k2")).agg(
        F.count(value_col).alias("__n"),
        F.sum(dec).cast("double").alias("__sx"),
        F.sum(dec * dec).cast("double").alias("__sxx"),
    )
    sigma = F.sqrt(
        (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
        / (F.col("__n") * (F.col("__n") - F.lit(1.0)))
    )
    mm = m.select(
        "__k2",
        (F.col("__sx") / F.col("__n")).alias("__mu"),
        (F.lit(k_mult) * sigma).alias("__kk"),
        (F.lit(h_mult) * sigma).alias("__h"),
    )
    period = F.floor(
        F.floor(F.col(ts_col).cast("timestamp").cast("double") / 86400.0)
        / period_days
    ).cast("long")
    packed = F.struct(
        F.col(ts_col),
        F.col(tiebreak),
        F.col(value_col).cast("double").alias("__v"),
    )
    g = df.groupBy(F.col(key), period.alias("__w")).agg(
        F.array_sort(F.collect_list(packed)).alias("__evs")
    )
    j = g.join(F.broadcast(mm), F.col(key) == F.col("__k2"))
    vals = F.transform(F.col("__evs"), lambda s: s.getField("__v"))
    series = F.aggregate(
        vals,
        F.array(F.lit(0.0).cast("double")),
        lambda acc, x: F.array_append(
            acc,
            F.greatest(
                F.lit(0.0),
                F.element_at(acc, -1)
                + (x - F.col("__mu") - F.col("__kk")),
            ),
        ),
    )
    trimmed = F.slice(series, 2, F.size(vals))
    z = j.select(
        key,
        "__h",
        F.explode(F.arrays_zip(F.col("__evs"), trimmed.alias("__c"))).alias(
            "__z"
        ),
    )
    out = z.select(
        key,
        F.col("__z.__evs").getField(ts_col).alias(ts_col),
        F.col("__z.__evs").getField(tiebreak).alias(tiebreak),
        F.col("__z.__evs").getField("__v").alias("value"),
        trunc_dp(F.col("__z.__c"), 6).alias("cusum"),
        trunc_dp(F.col("__h"), 6).alias("__hr"),
    )
    return out.filter(F.col("cusum") > F.col("__hr")).drop("__hr")


def _cusum_fixture(spark):
    rows = []
    # key "a": two 7-day periods, drifting values, a tie in ts
    base = dt.datetime(2024, 1, 1)
    for i in range(120):
        rows.append(
            ("a", base + dt.timedelta(hours=3 * i), i,
             100.0 + (i % 7) * 0.83 + (0.21 * i if i > 70 else 0.0))
        )
    rows.append(("a", base, 500, 99.5))  # same ts as event 0, other id
    # key "b": short series with a NULL value mid-stream (state reset)
    for i in range(20):
        rows.append(
            ("b", base + dt.timedelta(hours=6 * i), 1000 + i,
             None if i == 9 else 50.0 + 2.0 * (i % 3) + (5.0 if i > 12 else 0.0))
        )
    # NOTE: an n=1 key raises ANSI DIVIDE_BY_ZERO in the (unchanged)
    # moments stage — pre-existing behavior shared by both
    # formulations, so it proves nothing about the kernel rewrite and
    # is left out of the parity fixture.
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )


@pytest.mark.parametrize("h_mult", [4.0, -1.0])
def test_cusum_kernel_matches_hof_fold(spark, h_mult):
    """h_mult=-1 drives h below every statistic so EVERY row's cusum is
    emitted and compared bit-for-bit; h_mult=4 checks the real alarm
    cut (filter boundary) too."""
    df = _cusum_fixture(spark)
    new = cusum_alarms(df, "event_type", "ts", "event_id", "value",
                       h_mult=h_mult)
    old = _old_cusum_alarms(df, "event_type", "ts", "event_id", "value",
                            h_mult=h_mult)
    key = lambda r: (r["event_type"], r["ts"], r["event_id"])  # noqa: E731
    new_rows = sorted(new.collect(), key=key)
    old_rows = sorted(old.collect(), key=key)
    assert len(new_rows) == len(old_rows) and len(new_rows) > 0
    for rn, ro in zip(new_rows, old_rows):
        assert rn == ro, (rn, ro)


def test_cusum_null_value_resets_state(spark):
    """greatest(0.0, NULL) skips the null — the kernel must reset to 0
    at a NULL payload exactly like the HOF fold did."""
    df = _cusum_fixture(spark).filter(F.col("event_type") == "b")
    new = cusum_alarms(df, "event_type", "ts", "event_id", "value",
                       h_mult=-1.0).collect()
    old = _old_cusum_alarms(df, "event_type", "ts", "event_id", "value",
                            h_mult=-1.0).collect()
    k = lambda r: (r["ts"], r["event_id"])  # noqa: E731
    assert sorted(new, key=k) == sorted(old, key=k)


T0_9AM = dt.datetime(2024, 1, 1, 9, 0, 0)


def _ts_9am(minutes):
    return T0_9AM + dt.timedelta(minutes=minutes)


class TestResampleOhlc:
    def _df(self, spark):
        rows = [
            # user 1, hour 9: open=3.0 (earliest), close=8.0, high=9, low=1
            (1, _ts_9am(5), 10, 3.0),
            (1, _ts_9am(20), 11, 9.0),
            (1, _ts_9am(40), 12, 1.0),
            (1, _ts_9am(59), 13, 8.0),
            # user 1, hour 10: single event — all four prices equal
            (1, _ts_9am(65), 14, 4.5),
            # user 2, hour 9: same-timestamp tie broken by event_id
            (2, _ts_9am(0), 20, 7.0),
            (2, _ts_9am(0), 21, 2.0),
        ]
        return spark.createDataFrame(
            rows, "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, value DOUBLE"
        )

    def test_bars(self, spark):
        out = resample_ohlc(
            self._df(spark), "user_id", "ts", "value", "event_id", unit="hour"
        )
        got = {(r.user_id, r.bucket.hour): r for r in out.collect()}
        b = got[(1, 9)]
        assert (b.open, b.high, b.low, b.close, b.n_events) == (3.0, 9.0, 1.0, 8.0, 4)
        assert b.vsum == 21.0
        single = got[(1, 10)]
        assert single.open == single.close == single.high == single.low == 4.5

    def test_tie_breaks_by_id(self, spark):
        out = resample_ohlc(
            self._df(spark), "user_id", "ts", "value", "event_id", unit="hour"
        )
        b = {(r.user_id, r.bucket.hour): r for r in out.collect()}[(2, 9)]
        # both events share ts; lower event_id (20) is open, higher close
        assert (b.open, b.close) == (7.0, 2.0)


def test_autocorrelation_matches_numpy(spark):
    import datetime as dt

    import numpy as np

    from gcpdatapipelines_spark.operators.timeseries import autocorrelation

    rng = random.Random(5)
    # AR(1)-ish series: strong positive lag-1 autocorrelation
    x, series = 50.0, []
    for _ in range(300):
        x = 0.8 * x + 0.2 * 50 + rng.gauss(0, 5)
        series.append(round(x, 2))
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("s", t0 + dt.timedelta(minutes=i), i, v) for i, v in enumerate(series)],
        "k STRING, ts TIMESTAMP, eid BIGINT, v DOUBLE",
    )
    out = {
        r["lag"]: (r["n_pairs"], r["acf"])
        for r in autocorrelation(df, "k", "ts", "eid", "v", max_lag=3).collect()
    }
    arr = np.array(series)
    for lag in (1, 2, 3):
        a, b = arr[lag:], arr[:-lag]
        want = np.corrcoef(a, b)[0, 1]
        n_pairs, acf = out[lag]
        assert n_pairs == len(series) - lag
        assert abs(acf - want) < 1e-4
    assert out[1][1] > 0.5  # AR(1) signal present


def test_kaplan_meier_textbook_example(spark):
    """Classic small example with deaths, censoring, and ties."""
    from gcpdatapipelines_spark.operators.timeseries import kaplan_meier

    # (duration, observed): deaths at 1 (x2), 3; censored at 2, 3, 4
    rows = [(1, 1), (1, 1), (2, 0), (3, 1), (3, 0), (4, 0)]
    df = spark.createDataFrame(rows, "duration BIGINT, observed INT")
    out = {r["duration"]: r for r in kaplan_meier(df).collect()}

    # t=1: risk 6, d 2 -> S = 4/6
    # t=2: risk 4, d 0 -> S unchanged
    # t=3: risk 3, d 1 -> S = 4/6 * 2/3
    # t=4: risk 1, d 0 -> S unchanged
    assert out[1]["n_risk"] == 6 and out[1]["n_events"] == 2
    assert abs(out[1]["survival"] - 4 / 6) < 1e-6
    assert out[2]["n_risk"] == 4 and out[2]["n_censored"] == 1
    assert abs(out[2]["survival"] - 4 / 6) < 1e-6
    assert out[3]["n_risk"] == 3 and out[3]["n_events"] == 1
    assert abs(out[3]["survival"] - (4 / 6) * (2 / 3)) < 1e-6
    assert out[4]["n_risk"] == 1
    assert abs(out[4]["survival"] - (4 / 6) * (2 / 3)) < 1e-6


# ---------------------------------------------------------------------------
# holt_winters_state
# ---------------------------------------------------------------------------


def _hw_python(xs, m=7, alpha=0.5, beta=0.3, gamma=0.2):
    mean1 = sum(xs[:m]) / m
    mean2 = sum(xs[m:2 * m]) / m
    l, b = mean1, (mean2 - mean1) / m
    s = [x - mean1 for x in xs[:m]]
    for x in xs[m:]:
        s0 = s[0]
        lp = alpha * (x - s0) + (1 - alpha) * (l + b)
        bp = beta * (lp - l) + (1 - beta) * b
        sp = gamma * (x - lp) + (1 - gamma) * s0
        l, b = lp, bp
        s = s[1:] + [sp]
    return l, b, s[0]


def test_holt_winters_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.timeseries import holt_winters_state

    xs = [10.0 + (i % 7) * 2.0 + i * 0.1 for i in range(30)]
    rows = [("k", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k STRING, d BIGINT, v DOUBLE")
    got = holt_winters_state(df, "k", "d", "v", period=7).collect()[0]
    l, b, s = _hw_python(xs)
    assert got["n"] == 30
    assert abs(got["level"] - l) < 1e-6
    assert abs(got["trend"] - b) < 1e-6
    assert abs(got["season_next"] - s) < 1e-6
    assert abs(got["forecast_1"] - (l + b + s)) < 1e-6


def test_holt_winters_requires_two_periods(spark):
    from gcpdatapipelines_spark.operators.timeseries import holt_winters_state

    rows = [("short", i, float(i)) for i in range(13)]
    df = spark.createDataFrame(rows, "k STRING, d BIGINT, v DOUBLE")
    assert holt_winters_state(df, "k", "d", "v", period=7).count() == 0


def test_holt_winters_tracks_planted_seasonality(spark):
    """On a pure weekly pattern with zero trend, the one-step forecast
    must be close to the next planted value."""
    from gcpdatapipelines_spark.operators.timeseries import holt_winters_state

    pattern = [5.0, 8.0, 2.0, 9.0, 4.0, 7.0, 3.0]
    xs = pattern * 8  # 56 days
    rows = [("k", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k STRING, d BIGINT, v DOUBLE")
    got = holt_winters_state(df, "k", "d", "v", period=7).collect()[0]
    assert abs(got["forecast_1"] - pattern[0]) < 0.5


def test_holt_winters_deterministic_under_partitioning(spark):
    from gcpdatapipelines_spark.operators.timeseries import holt_winters_state

    xs = [10.0 + (i % 7) + i * 0.05 for i in range(40)]
    rows = [("k", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k STRING, d BIGINT, v DOUBLE")
    a = holt_winters_state(df, "k", "d", "v", period=7).collect()
    b = holt_winters_state(
        df.repartition(11), "k", "d", "v", period=7
    ).collect()
    assert a == b


# ---------------------------------------------------------------------------
# seasonal_decompose_weekday
# ---------------------------------------------------------------------------


def test_seasonal_decompose_recovers_planted_pattern(spark):
    """Planted weekday offsets on a flat base: the recovered seasonal
    components equal the (centered) planted offsets where the moving
    window is full."""
    from gcpdatapipelines_spark.operators.timeseries import (
        seasonal_decompose_weekday,
    )

    import datetime as dt
    from decimal import Decimal

    offsets = [3, -2, 5, 0, -4, 1, -3]  # sums to 0
    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=i), Decimal(100 + offsets[i % 7]))
        for i in range(35)
    ]
    df = spark.createDataFrame(rows, "d TIMESTAMP, v DECIMAL(18,6)")
    got = {
        r["slot"]: r["seasonal"]
        for r in seasonal_decompose_weekday(df, "d", "v", period=7).collect()
    }
    for i, off in enumerate(offsets):
        day = base + dt.timedelta(days=i)
        slot = day.isoweekday() % 7 + 1  # Spark dayofweek: Sunday=1
        assert abs(got[slot] - off) < 1e-6, (slot, off, got)


def test_seasonal_components_sum_to_zero_on_balanced_series(spark):
    from gcpdatapipelines_spark.operators.timeseries import (
        seasonal_decompose_weekday,
    )

    import datetime as dt
    from decimal import Decimal

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=i), Decimal(50 + (i * 13) % 9))
        for i in range(42)
    ]
    df = spark.createDataFrame(rows, "d TIMESTAMP, v DECIMAL(18,6)")
    out = seasonal_decompose_weekday(df, "d", "v", period=7).collect()
    # each slot observed equally often over full weeks of a detrended
    # series -> components nearly cancel
    assert abs(sum(r["seasonal"] for r in out)) < 1.0


# ---------------------------------------------------------------------------
# forecast_backtest_holt
# ---------------------------------------------------------------------------


def test_forecast_backtest_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.timeseries import (
        forecast_backtest_holt,
    )

    xs = [10.0, 12.0, 11.0, 14.0, 13.5, 15.0, 16.2, 15.8, 17.0, 18.1]
    df = spark.createDataFrame([("k", xs)], "k STRING, arr ARRAY<DOUBLE>")
    got = forecast_backtest_holt(df, "k", "arr", n_backtests=5).collect()[0]

    def holt_fc(prefix, a=0.5, b=0.3):
        l, tr = prefix[0], prefix[1] - prefix[0]
        for x in prefix[2:]:
            nl = a * x + (1 - a) * (l + tr)
            tr = b * (nl - l) + (1 - b) * tr
            l = nl
        return l + tr

    n = len(xs)
    aes, apes = [], []
    for c in range(max(2, n - 5), n):
        fc = holt_fc(xs[:c])
        aes.append(round(abs(fc - xs[c]), 9))
        apes.append(round(abs(fc - xs[c]) / abs(xs[c]), 9))
    assert got["n_backtests"] == 5
    assert abs(got["mae"] - sum(aes) / len(aes)) < 1e-6
    assert abs(got["mape"] - sum(apes) / len(apes)) < 1e-6


def test_forecast_backtest_converges_on_linear_series(spark):
    """The seed convention (level=x0, trend=x1-x0) lags a linear
    series by one step, so the backtest error decays geometrically
    with the training-prefix length rather than being exactly zero:
    a longer-prefix cutoff must beat a shorter one, and the overall
    MAPE must be sub-percent by 10+ points of history."""
    from gcpdatapipelines_spark.operators.timeseries import (
        forecast_backtest_holt,
    )

    xs = [float(3 + 2 * i) for i in range(15)]
    short = spark.createDataFrame([("k", xs[:10])], "k STRING, arr ARRAY<DOUBLE>")
    full = spark.createDataFrame([("k", xs)], "k STRING, arr ARRAY<DOUBLE>")
    mae_short = forecast_backtest_holt(
        short, "k", "arr", n_backtests=1
    ).collect()[0]["mae"]
    got = forecast_backtest_holt(
        full, "k", "arr", n_backtests=1
    ).collect()[0]
    assert got["mae"] < mae_short
    assert got["mape"] < 0.01


# ---------------------------------------------------------------------------
# theil_sen_trend
# ---------------------------------------------------------------------------


def _day_str(day: int) -> str:
    return f"2024-01-{day:02d} 00:00:00"


def test_theil_sen_matches_python_model(spark):
    from gcpdatapipelines_spark.operators.timeseries import theil_sen_trend

    # key A: clean slope 2/day with one wild outlier day
    rows = [("A", _day_str(d), 10.0 + 2.0 * d) for d in range(1, 11)]
    rows[4] = ("A", _day_str(5), 9999.0)  # corrupted day
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

    rows = [("A", _day_str(1), 5.0), ("A", _day_str(2), 7.0), ("B", _day_str(1), 1.0)]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = {r.k: r for r in theil_sen_trend(df, "k", "ts", "v").collect()}
    assert set(out) == {"A"}  # B has no pair
    assert out["A"].theil_sen_slope == 2.0


def test_theil_sen_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.timeseries import theil_sen_trend

    rows = [
        ("K", _day_str(d), float((d * 7919) % 13) + d * 0.3) for d in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "k string, ts string, v double").select(
        "k", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    a = theil_sen_trend(df, "k", "ts", "v").first()
    b = theil_sen_trend(df.repartition(17), "k", "ts", "v").first()
    assert a == b
