"""Round-10 optimization guards: every change here must keep results
bit-identical — these tests pin the new implementations against the
pre-optimization formulations / plan shapes.

- cusum_alarms: the O(n) Arrow kernel fold must reproduce the former
  in-plan HOF fold (aggregate + array_append) bit-for-bit, including
  the greatest() null-reset and NaN edges.
- bootstrap_mean_ci: the uniform draw must be evaluated ONCE per
  exploded row (the CASE ladder used to re-inline the md5 chain 5x).
- pipeline_c4_funnel: the flag stage and line-dedup stage are
  materialized once; the final plan must not re-scan the corpus.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark.operators.timeseries import cusum_alarms


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


def test_bootstrap_uniform_draw_evaluated_once(spark):
    """The md5 chain must appear exactly once in the physical plan's
    weight projection — the CASE ladder used to re-evaluate it per
    branch (up to 5x per exploded row)."""
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    df = spark.range(50).select(
        F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
    )
    out = bootstrap_mean_ci(df, "event_id", "value", replicates=10)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert plan.count("md5(") == 1, plan


def test_bootstrap_md5_values_unchanged_by_hoist(spark):
    """Golden pin: the hoisted-u formulation must produce the exact CI
    the inlined-u formulation produced (same md5 draws, same weights).
    Golden values recorded from the pre-hoist implementation."""
    from gcpdatapipelines_spark.operators.agg import bootstrap_mean_ci

    df = spark.range(200).select(
        F.col("id").alias("event_id"),
        (10.0 + (F.col("id") % 17) * 0.25).alias("value"),
    )
    r = bootstrap_mean_ci(df, "event_id", "value", replicates=40).first()
    # Deterministic by construction; recorded from the PRE-hoist
    # formulation at r10 (scratch parity run: old == new exactly).
    assert r["n"] == 200
    assert r["mean"] == 11.9675
    assert r["ci_lo"] == 11.822177
    assert r["ci_hi"] == 12.155082


def test_c4_funnel_stages_materialized_no_corpus_rescan(spark, sf_dir):
    """After the stage checkpoints the final funnel plan must read the
    materialized stage outputs, not re-scan documents.parquet (the
    fused plan scanned it 5x)."""
    import __spark_entry__ as entry

    df = entry.queries()["pipeline_c4_funnel"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan
