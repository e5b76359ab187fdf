"""operators/windows.py: sessions, running totals and range windows."""

from __future__ import annotations

import random
from decimal import Decimal

from pyspark.sql import Window, functions as F

from tests.conftest import SF_SMOKE


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


def test_running_total_scan_matches_global_window(spark):
    """The two-phase prefix scan must equal the naive single-partition
    global window bit-for-bit (decimal sums both ways), on data big
    enough to span several range partitions."""
    from gcpdatapipelines_spark.operators.windows import running_total_scan

    rng = random.Random(7)
    rows = [(i, Decimal(rng.randint(-500, 1000)) / 100) for i in range(500)]
    df = spark.createDataFrame(rows, "id BIGINT, v DECIMAL(10,2)")

    got = {
        r["id"]: r["cum"]
        for r in running_total_scan(
            df, [F.col("v").desc(), F.col("id")], "v", num_partitions=7
        ).collect()
    }
    w = Window.orderBy(F.col("v").desc(), F.col("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {r["id"]: r["cum"] for r in df.withColumn("cum", F.sum("v").over(w)).collect()}
    assert got == want


def test_running_total_scan_single_partition_degenerate(spark):
    from gcpdatapipelines_spark.operators.windows import running_total_scan

    df = spark.createDataFrame([(1, Decimal("2.00")), (2, Decimal("3.00"))], "id BIGINT, v DECIMAL(10,2)")
    got = sorted(
        (r["id"], r["cum"])
        for r in running_total_scan(df, [F.col("id")], "v", num_partitions=1).collect()
    )
    assert got == [(1, Decimal("2.00")), (2, Decimal("5.00"))]


# ---------------------------------------------------------------------------
# trailing_range_agg
# ---------------------------------------------------------------------------


def test_trailing_range_agg_matches_python_model(spark):
    from datetime import datetime, timedelta

    from gcpdatapipelines_spark.operators.windows import trailing_range_agg

    base = datetime(2024, 1, 1)
    rows = [
        ("u1", base + timedelta(days=d, hours=h), float(v))
        for d, h, v in [
            (0, 0, 10),
            (3, 5, 20),
            (7, 0, 5),   # exactly 7 days after row 1 -> includes it
            (8, 1, 7),   # row 1 now outside the window
            (20, 0, 2),
        ]
    ] + [("u2", base, 100.0)]
    df = spark.createDataFrame(rows, "user_id STRING, ts TIMESTAMP, value DOUBLE")
    got = {
        (r["user_id"], r["ts"], r["trailing_sum"], r["trailing_n"])
        for r in trailing_range_agg(df, "user_id", "ts", "value").collect()
    }

    def model(u, t):
        win = [
            v
            for (uu, tt, v) in rows
            if uu == u and t - timedelta(days=7) <= tt <= t
        ]
        return (round(sum(win), 2), len(win))

    want = {(u, t, *model(u, t)) for (u, t, v) in rows}
    assert got == want


def test_trailing_range_agg_includes_all_ts_peers(spark):
    """Two rows with the IDENTICAL timestamp must see each other in
    both their frames (range-frame peer semantics) — a rows frame
    would give one of them a partial, order-dependent view."""
    from datetime import datetime

    from gcpdatapipelines_spark.operators.windows import trailing_range_agg

    t = datetime(2024, 5, 5, 12, 0, 0)
    df = spark.createDataFrame(
        [("u", t, 1.0), ("u", t, 2.0)],
        "user_id STRING, ts TIMESTAMP, value DOUBLE",
    )
    out = trailing_range_agg(df, "user_id", "ts", "value").collect()
    assert [r["trailing_sum"] for r in out] == [3.0, 3.0]
    assert [r["trailing_n"] for r in out] == [2, 2]
