"""streaming.py: the streaming twins must produce the same results as
the batch catalog queries over the same fixture data; per-route
sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark import streaming as S
from gcpdatapipelines_spark.io import read_table
from gcpdatapipelines_spark.queries import w3_event_hourly, w7_sessionize
from tests.conftest import SF_SMOKE




def _rows(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_stream_source_schema(spark):
    ev = S.stream_events(spark, SF_SMOKE)
    assert ev.isStreaming
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_hourly_rollup_matches_batch(spark):
    ev = S.stream_events(spark, SF_SMOKE)
    got = S.run_available_now(S.hourly_rollup_stream(ev), "t_hourly")
    want = w3_event_hourly(spark, SF_SMOKE)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sessionize_matches_batch_counts(spark):
    """session_window(gap=30m) closes a session after 30 minutes of
    inactivity — the same definition as the batch lag-gap query, so
    per-user session counts must agree."""
    ev = S.stream_events(spark, SF_SMOKE)
    sess = S.run_available_now(S.sessionize_stream(ev), "t_sess")
    got = {
        r["user_id"]: r["n"]
        for r in sess.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    want = {r["user_id"]: r["n_sessions"] for r in w7_sessionize(spark, SF_SMOKE).collect()}
    assert got == want


def test_stream_stream_join_matches_batch(spark):
    """The watermarked interval join must produce exactly the batch
    interval-join result over the same bounded input."""
    ev_stream = S.stream_events(spark, SF_SMOKE)
    got = S.run_available_now(
        S.purchase_attribution_stream(ev_stream), "t_attr", output_mode="append"
    )
    ev = read_table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    want = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND click_ts <= purchase_ts "
            "AND click_ts >= purchase_ts - INTERVAL 1 hour"
        ),
    )
    got_keys = {(r["purchase_id"], r["click_id"]) for r in got.collect()}
    want_keys = {(r["purchase_id"], r["click_id"]) for r in want.collect()}
    assert got_keys == want_keys and got_keys


def test_dedup_stream_removes_duplicates(spark, tmp_path):
    """Duplicate event_ids across files must collapse to one row."""
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    # two copies of the same events file = every event duplicated
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "events.parquet")
    shutil.copy(f"{SF_SMOKE}/events.parquet", src / "events2.parquet")
    raw = spark.readStream.schema(S.EVENTS_DDL).format("parquet").load(str(src))
    deduped = S.run_available_now(
        S.dedup_stream(raw), "t_dedup", output_mode="append"
    )
    n_unique = read_table(spark, SF_SMOKE, "events").count()
    assert deduped.count() == n_unique


def test_incremental_pipeline_exactly_once(spark, tmp_path):
    """Second run over the same input must write zero new rows."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    n1 = S.incremental_pipeline(spark, SF_SMOKE, out, ckpt)
    total = read_table(spark, SF_SMOKE, "events").count()
    assert n1 == total
    assert spark.read.parquet(out).count() == total
    n2 = S.incremental_pipeline(spark, SF_SMOKE, out, ckpt)
    assert n2 == 0
    assert spark.read.parquet(out).count() == total  # no duplicate appends


def test_streaming_pivot_with_explicit_values(spark):
    """transpose_conditional is the streaming-legal pivot: Spark's own
    pivot() compiles to two aggregate levels, which the streaming
    correctness check rejects; the conditional-aggregation form is one
    stateful operator. Hourly event counts pivoted wide per type."""
    from gcpdatapipelines_spark.operators.pivot import transpose_conditional

    types = ["click", "view", "purchase", "signup", "error"]

    def hourly_wide(df):
        prepped = df.withColumn("w", F.window("ts", "1 hour")).withColumn("n", F.lit(1))
        wide = transpose_conditional(prepped, ["w"], "event_type", "n", types, agg="sum")
        return wide.select(F.col("w.start").alias("hour"), *[f"{t}_n" for t in types])

    ev = S.stream_events(spark, SF_SMOKE).withWatermark("ts", "2 hours")
    got = S.run_available_now(hourly_wide(ev), "t_pivot_stream")
    assert set(got.columns) == {"hour", *[f"{t}_n" for t in types]}
    want = hourly_wide(read_table(spark, SF_SMOKE, "events"))
    cols = sorted(got.columns)
    assert {tuple(r[c] for c in cols) for r in got.collect()} == {
        tuple(r[c] for c in cols) for r in want.collect()
    }


def test_stateful_totals_match_batch(spark):
    ev = S.stream_events(spark, SF_SMOKE)
    got = S.run_available_now(
        S.stateful_user_totals(ev), "t_state", output_mode="update"
    )
    batch = (
        read_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    cols = ["user_id", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_sessionize_with_timeout(spark, tmp_path):
    """Sessions must close BOTH ways: data-driven (next event lands
    past the gap) and timeout-driven (watermark passes last+gap with
    no new data for that user). Two micro-batches with controlled
    mtimes so the watermark advances between them."""
    import datetime as dt
    import glob
    import os
    import shutil

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def mins(m):
        return t0 + dt.timedelta(minutes=m)

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id BIGINT, ts TIMESTAMP"

    def write_batch(name, rows, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    # batch 1: user 1 has two events 10m apart; user 2 one event
    write_batch(
        "a", [(1, t0), (1, mins(10)), (2, mins(5))], mtime=1_700_000_000
    )
    # batch 2: only user 1, 3h later — closes user 1's first session by
    # gap, and advances the watermark to t0+2h, past user 2's
    # timeout (t0+35m), so user 2's session closes by TIMEOUT
    write_batch("b", [(1, mins(180))], mtime=1_700_000_100)

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    got = S.run_available_now(
        S.sessionize_with_timeout(stream, gap="30 minutes", watermark="1 hour"),
        "t_sess_timeout",
        output_mode="append",
    )
    sessions = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got.collect()
    }
    assert (1, t0, mins(10), 2) in sessions, sessions  # data-driven close
    assert (2, mins(5), mins(5), 1) in sessions, sessions  # timeout close
    # user 1's 3h session is still OPEN: must not have been emitted
    assert not any(u == 1 and s == mins(180) for u, s, _, _ in sessions)


def test_stateful_totals_across_batches(spark, tmp_path):
    """Regression: GroupState.get is a property; the re-entry path
    (state.exists=True on a later micro-batch) only runs when a user's
    events span batches — force two batches and check merged totals."""
    import glob
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id BIGINT, value DOUBLE"

    def write_batch(name, rows, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    write_batch("a", [(1, 10.0), (2, 5.0)], mtime=1_700_000_000)
    write_batch("b", [(1, 2.5)], mtime=1_700_000_100)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    got = S.run_available_now(
        S.stateful_user_totals(stream), "t_state_mb", output_mode="update"
    )
    # update mode emits one row per user per batch; n_events is
    # monotone per user, so the max-n row is the final state
    # (order-independent, unlike "last collected row wins")
    final = {}
    for r in got.collect():
        prev = final.get(r["user_id"], (0, 0.0))
        if r["n_events"] >= prev[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    assert final == {1: (2, 12.5), 2: (1, 5.0)}


def test_rate_demo_pipeline(spark):
    """rate-micro-batch emits exactly rowsPerBatch consecutive values
    per batch — after the first batch the bucket counts must sum to
    100 with 10 per bucket."""
    import time

    q = (
        S.rate_demo_pipeline(spark, rows_per_batch=100)
        .writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("complete")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = spark.table("t_rate").collect()
            if len(rows) == 10 and sum(r["n"] for r in rows) % 100 == 0 and rows[0]["n"] > 0:
                break
            time.sleep(0.5)
        rows = spark.table("t_rate").collect()
        assert len(rows) == 10
        total = sum(r["n"] for r in rows)
        assert total >= 100 and total % 100 == 0
        # values are consecutive from 0, so buckets are balanced
        assert len({r["n"] for r in rows}) == 1
    finally:
        q.stop()


def test_enrich_stream_matches_batch_join(spark):
    """Stream-static broadcast enrichment must equal the batch join."""
    ev = S.stream_events(spark, SF_SMOKE)
    dim = read_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    got = S.run_available_now(
        S.enrich_stream(ev, dim, "user_id", "c_custkey", how="inner").select(
            "event_id", "c_mktsegment"
        ),
        "t_enrich_stream",
        output_mode="append",
    )
    want = (
        read_table(spark, SF_SMOKE, "events")
        .join(dim, F.col("user_id") == F.col("c_custkey"))
        .select("event_id", "c_mktsegment")
    )
    assert _rows(got, ["event_id", "c_mktsegment"]) == _rows(
        want, ["event_id", "c_mktsegment"]
    )


def test_contamination_stream_matches_batch(spark):
    """Streaming decontamination (stream-static broadcast on shingle)
    must emit exactly the batch join's hit rows."""
    from gcpdatapipelines_spark.operators.dedup import doc_shingles

    docs_batch = read_table(spark, SF_SMOKE, "documents")
    bench = doc_shingles(
        docs_batch.filter(F.col("doc_id") % 10 == 0), "doc_id", "text", 5
    ).select("shingle")

    stream = S.stream_documents(spark, SF_SMOKE)
    got = S.run_available_now(
        S.contamination_stream(
            stream.filter(F.col("doc_id") % 10 != 0), bench, n=5
        ),
        "t_contamination_stream",
        output_mode="append",
    )
    want = doc_shingles(
        docs_batch.filter(F.col("doc_id") % 10 != 0), "doc_id", "text", 5
    ).join(bench.distinct(), "shingle")
    assert _rows(got, ["doc_id", "shingle"]) == _rows(want, ["doc_id", "shingle"])
    assert got.count() > 0


def test_streaming_partitioned_write_routes_by_lang(spark, tmp_path):
    """Streaming file sink with partitionBy(lang): each micro-batch's
    rows land under their language directory — the corpus-routing
    write shape (hive layout, partition-prunable downstream)."""
    import os

    out, ckpt = str(tmp_path / "routed"), str(tmp_path / "ckpt")
    docs = S.stream_documents(spark, SF_SMOKE)
    S.routed_write_stream(docs, out, ckpt, route_col="lang")

    batch = read_table(spark, SF_SMOKE, "documents")
    want = {r["lang"]: r["n"] for r in batch.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    dirs = {d.split("=", 1)[1] for d in os.listdir(out) if d.startswith("lang=")}
    assert dirs == set(want) and len(dirs) >= 2
    written = spark.read.parquet(out)
    got = {r["lang"]: r["n"] for r in written.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == want
    # partition pruning works on the routed layout
    one = sorted(want)[0]
    assert written.filter(F.col("lang") == one).count() == want[one]


def test_funnel_stream_matches_batch(spark):
    """Streaming funnel completions == batch users whose final chain
    stage is non-NULL (greedy earliest-chain == min-after-previous)."""
    from gcpdatapipelines_spark.operators.funnel import funnel_user_stages

    steps = ["signup", "click", "purchase"]
    ev = S.stream_events(spark, SF_SMOKE)
    got = S.run_available_now(
        S.funnel_stream(ev, steps), "t_funnel", output_mode="append"
    )
    batch = funnel_user_stages(
        read_table(spark, SF_SMOKE, "events"), "user_id", "ts", "event_type", steps
    )
    want = {
        (r["user_id"], r["t_3"]) for r in batch.collect() if r["t_3"] is not None
    }
    assert {(r["user_id"], r["completed_at"]) for r in got.collect()} == want
    assert want  # fixture must actually exercise conversions


def test_funnel_stream_state_spans_batches(spark, tmp_path):
    """A chain whose steps arrive in different micro-batches must still
    convert (state carries the stage across batches); a user whose
    step-2 event precedes their step-1 event must not."""
    import datetime as dt
    import glob
    import os
    import shutil

    t0 = dt.datetime(2024, 1, 1)

    def mins(m):
        return t0 + dt.timedelta(minutes=m)

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id BIGINT, ts TIMESTAMP, event_type STRING"

    def write_batch(name, rows, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    # batch 1: u1 does A; u2 does B only (out of order — B first)
    write_batch("a", [(1, mins(0), "A"), (2, mins(0), "B")], 1_700_000_000)
    # batch 2: u1 does B (converts); u2 does A (stuck at stage B now gone)
    write_batch("b", [(1, mins(10), "B"), (2, mins(10), "A")], 1_700_000_100)

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    got = S.run_available_now(
        S.funnel_stream(stream, ["A", "B"]), "t_funnel_2b", output_mode="append"
    )
    rows = {(r["user_id"], r["completed_at"]) for r in got.collect()}
    assert rows == {(1, mins(10))}


def test_upsert_sink_stream_converges_to_latest(spark, tmp_path):
    """Re-sent keys across micro-batches must collapse to each key's
    latest version in the target; replaying the same input into a
    fresh checkpoint must not change the target (idempotent merge)."""
    import datetime as dt
    import glob
    import os
    import shutil

    t0 = dt.datetime(2024, 1, 1)

    def mins(m):
        return t0 + dt.timedelta(minutes=m)

    src = tmp_path / "src"
    src.mkdir()
    schema = "k BIGINT, ts TIMESTAMP, v STRING, seq BIGINT"

    def write_batch(name, rows, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    write_batch("a", [(1, mins(0), "v1", 1), (2, mins(0), "w1", 2)], 1_700_000_000)
    write_batch("b", [(1, mins(10), "v2", 3), (3, mins(10), "x1", 4)], 1_700_000_100)

    def run(ckpt_name):
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(str(src))
        )
        S.upsert_sink_stream(
            stream,
            str(tmp_path / "target"),
            str(tmp_path / ckpt_name),
            on=["k"],
            order_col="ts",
            tiebreak="seq",
        )

    run("ckpt1")
    got = {r["k"]: r["v"] for r in spark.read.parquet(str(tmp_path / "target")).collect()}
    assert got == {1: "v2", 2: "w1", 3: "x1"}
    run("ckpt2")  # full replay into the same target
    got2 = {r["k"]: r["v"] for r in spark.read.parquet(str(tmp_path / "target")).collect()}
    assert got2 == got


def test_upsert_sink_stream_merge_error_propagates(spark, tmp_path):
    """A failing merge must RAISE and leave the existing target intact
    — never silently replace the table with one micro-batch
    (ADVICE.md: the old bare `except Exception` fallback did)."""
    import datetime as dt

    import pytest

    target = str(tmp_path / "target")
    # pre-existing target whose schema lacks the merge key -> merge raises
    spark.createDataFrame([("orphan",)], "other STRING").write.parquet(target)
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "v1", 1)], "k BIGINT, ts TIMESTAMP, v STRING, seq BIGINT"
    ).write.parquet(str(src / "a.parquet"))
    stream = (
        spark.readStream.schema("k BIGINT, ts TIMESTAMP, v STRING, seq BIGINT")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    with pytest.raises(Exception):
        S.upsert_sink_stream(
            stream, target, str(tmp_path / "ckpt"), on=["k"], order_col="ts", tiebreak="seq"
        )
    # old target untouched by the failed batch
    assert [r["other"] for r in spark.read.parquet(target).collect()] == ["orphan"]


def test_drift_monitor_stream_matches_batch_psi(spark, tmp_path):
    """Each micro-batch's logged PSI must equal the batch operator run
    on the same slice — the monitor is the batch metric, streamed."""
    from gcpdatapipelines_spark.operators.profile import drift_psi

    ev = read_table(spark, SF_SMOKE, "events")
    base = ev.filter(F.col("event_id") % 2 == 0).select("value").cache()
    cur = ev.filter(F.col("event_id") % 2 == 1).select("value")

    # stream the "current" slice through a file source
    src = str(tmp_path / "src")
    cur.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("value DOUBLE").parquet(src)

    metrics = str(tmp_path / "metrics")
    S.drift_monitor_stream(
        stream, base, metrics, str(tmp_path / "ckpt"),
        value_col="value", lo=0.0, hi=500.0, nbins=10,
    )
    logged = spark.read.parquet(metrics).collect()
    assert len(logged) >= 1
    want = drift_psi(base, cur, "value", lo=0.0, hi=500.0, nbins=10).collect()[0]
    # availableNow over one static dir -> one micro-batch covering cur
    got = logged[0]
    assert got.n_current == want.n_current
    assert got.psi == want.psi
    assert got.batch_id == 0


def test_incremental_neardup_pipeline_matches_sequential_batches(spark, tmp_path):
    """The streaming admission must equal applying incremental_neardup
    batch-by-batch in file order: state carries between micro-batches
    (maxFilesPerTrigger=1 -> one batch per file)."""
    from gcpdatapipelines_spark.operators.dedup import (
        incremental_neardup,
        lsh_band_keys,
    )

    rows1 = [
        (1, "the quick brown fox jumps over the lazy dog again and again ok"),
        (2, "the quick brown fox jumps over the lazy dog again and again okay"),
        (3, "completely different text about spark dataframes and shuffles at scale"),
    ]
    rows2 = [
        (10, "the quick brown fox jumps over the lazy dog again and again ok yes"),
        (11, "a brand new document with entirely fresh content and wording here"),
        (12, "a brand new document with entirely fresh content and wording here too"),
    ]
    ddl = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows], ddl
        )

    src = str(tmp_path / "src")
    # two files -> two micro-batches; FileStreamSource orders by mtime,
    # so pin mtimes explicitly to make batch order deterministic
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src)

    def write_file(rows, name, mtime):
        tbl = pa.table(
            {
                "doc_id": pa.array([i for i, _ in rows], pa.int64()),
                "text": [t for _, t in rows],
                "lang": ["en"] * len(rows),
                "source": ["src0"] * len(rows),
                "n_chars": pa.array([len(t) for _, t in rows], pa.int64()),
            }
        )
        path = os.path.join(src, name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    write_file(rows1, "batch1.parquet", 1_000_000)
    write_file(rows2, "batch2.parquet", 2_000_000)

    state = str(tmp_path / "state")
    admitted = str(tmp_path / "admitted")
    S.incremental_neardup_pipeline(
        spark, src, state, admitted, str(tmp_path / "ckpt")
    )
    got = {r.doc_id for r in spark.read.parquet(admitted).collect()}

    # sequential batch application
    a1, d1 = incremental_neardup(mk(rows1), None, "doc_id", "text")
    a2, _ = incremental_neardup(mk(rows2), d1, "doc_id", "text")
    want = {r.doc_id for r in a1.collect()} | {r.doc_id for r in a2.collect()}
    assert got == want
    # dup of doc 1 (2), corpus near-dup (10) and increment dup (12) dropped
    assert got == {1, 3, 11}
    # state is band keys only: ~bands rows per admitted doc
    st = spark.read.parquet(state)
    assert set(st.columns) == {"doc_id", "band", "bucket"}
    assert st.select("doc_id").distinct().count() == 3


def test_hll_sketch_stream_matches_full_scan(spark, tmp_path):
    """Streaming HLL maintenance: registers max-merged across
    micro-batches must equal the registers of one full scan
    bucket-for-bucket (the sketch_hll_merge identity under
    foreachBatch), and therefore yield the identical estimate. Batches
    overlap in keys to exercise the idempotent-merge path."""
    import glob
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    schema = "k BIGINT"

    def write_batch(name, lo, hi, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(
            [(i,) for i in range(lo, hi)], schema
        ).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    write_batch("a", 0, 1200, mtime=1_700_000_000)
    write_batch("b", 800, 2500, mtime=1_700_000_100)  # overlaps a

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    target = str(tmp_path / "hll_state")
    S.hll_sketch_stream(
        stream, "k", target, str(tmp_path / "ckpt"), p=7
    )

    from gcpdatapipelines_spark.operators.sketches import hll_registers

    got = {
        (r["bucket"], r["rho"])
        for r in spark.read.parquet(target).collect()
    }
    full = spark.createDataFrame([(i,) for i in range(0, 2500)], schema)
    want = {
        (r["bucket"], r["rho"]) for r in hll_registers(full, "k", p=7).collect()
    }
    assert got == want and len(want) > 0


def test_quantile_sketch_stream_matches_full_scan(spark, tmp_path):
    """Streaming bottom-k sample maintenance: the state after
    micro-batched ingestion must equal the bottom-k sample of one
    full scan row-for-row (the bottom-k merge identity under
    foreachBatch). Batches overlap in ids to exercise the
    idempotent (grp, u) dedup path."""
    import glob
    import os
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    schema = "grp STRING, id BIGINT, v DOUBLE"

    def rows(lo, hi):
        return [("g" + str(i % 2), i, float(i * 7 % 997)) for i in range(lo, hi)]

    def write_batch(name, lo, hi, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows(lo, hi), schema).coalesce(1).write.parquet(
            staging
        )
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    write_batch("a", 0, 1500, mtime=1_700_000_000)
    write_batch("b", 1000, 3000, mtime=1_700_000_100)  # overlaps a

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    target = str(tmp_path / "q_state")
    S.quantile_sketch_stream(
        stream, "grp", "v", "id", target, str(tmp_path / "qckpt"), k=64
    )

    from pyspark.sql import Window

    from gcpdatapipelines_spark.operators.sketches import HASH_BITS, _h60

    full = spark.createDataFrame(rows(0, 3000), schema)
    w = Window.partitionBy("grp").orderBy("u")
    want = {
        (r["grp"], r["v"], round(r["u"], 15))
        for r in (
            full.select(
                "grp",
                "v",
                (_h60(F.col("id")) / F.lit(float(1 << HASH_BITS))).alias("u"),
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= 64)
            .collect()
        )
    }
    got = {
        (r["grp"], r["v"], round(r["u"], 15))
        for r in spark.read.parquet(target).collect()
    }
    assert got == want and len(want) == 128


def test_hll_daily_sketch_stream_feeds_sliding_estimate(spark, tmp_path):
    """Day-keyed register state from micro-batched ingestion must
    equal the full scan's per-day registers row-for-row, and the
    sliding estimate computed FROM THE STATE must equal
    hll_sliding_distinct's wau_hll on the same data (the streaming
    feeder contract). Batches overlap in days and keys."""
    import glob
    import os
    import shutil

    from datetime import datetime, timedelta

    src = tmp_path / "src"
    src.mkdir()
    schema = "ts TIMESTAMP, user_id BIGINT"
    base = datetime(2024, 3, 1)

    def rows(lo, hi):
        return [
            (base + timedelta(days=i % 9, hours=i % 11), (i * 13) % 500)
            for i in range(lo, hi)
        ]

    def write_batch(name, lo, hi, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows(lo, hi), schema).coalesce(1).write.parquet(
            staging
        )
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    write_batch("a", 0, 1200, mtime=1_700_000_000)
    write_batch("b", 900, 2600, mtime=1_700_000_100)  # overlaps a

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    target = str(tmp_path / "daily_regs")
    S.hll_daily_sketch_stream(
        stream, "user_id", "ts", target, str(tmp_path / "dckpt"), p=7
    )

    from gcpdatapipelines_spark.operators.sketches import (
        HASH_BITS,
        _h60,
        hll_sliding_distinct,
    )

    full = spark.createDataFrame(rows(0, 2600), schema)
    m, w_bits = 1 << 7, HASH_BITS - 7
    day = F.date_trunc("day", F.col("ts")).cast("date")
    want_regs = {
        (r["day"], r["bucket"], r["rho"])
        for r in full.select(day.alias("day"), _h60(F.col("user_id")).alias("h"))
        .selectExpr("day", f"h % {m} AS bucket", f"h div {m} AS w")
        .groupBy("day", "bucket")
        .agg(
            F.expr(
                f"max(CASE WHEN w > 0 THEN {w_bits} -"
                f" CAST(floor(log2(w)) AS BIGINT) ELSE {w_bits + 1} END)"
            ).alias("rho")
        )
        .collect()
    }
    state = spark.read.parquet(target)
    got_regs = {
        (r["day"], r["bucket"], r["rho"]) for r in state.collect()
    }
    assert got_regs == want_regs and len(want_regs) > 0

    # sliding estimate FROM THE STATE == batch operator's estimate
    from gcpdatapipelines_spark.operators.sketches import _hll_alpha

    alpha = _hll_alpha(m)
    fan = state.select(
        F.expr("explode(sequence(0, 6))").alias("__i"), "day", "bucket", "rho"
    ).select(F.date_add(F.col("day"), F.col("__i")).alias("day"), "bucket", "rho")
    days = state.select("day").distinct()
    folded = (
        fan.join(days, "day")
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
        .groupBy("day")
        .agg(
            F.expr("sum(CAST(power(2.0, 52 - rho) AS BIGINT))").alias("s"),
            F.count("*").alias("v"),
        )
    )
    scale = float(1 << 52)
    raw = F.round(
        F.lit(alpha * m * m)
        / ((F.col("s") + (F.lit(m) - F.col("v")) * F.lit(1 << 52)) / F.lit(scale)),
        6,
    )
    est = folded.select(
        "day",
        F.when(
            (raw <= 2.5 * m) & (F.lit(m) - F.col("v") > 0),
            F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("v"))), 6),
        )
        .otherwise(raw)
        .alias("est"),
    )
    got_est = {(r["day"], r["est"]) for r in est.collect()}
    want_est = {
        (r["day"], r["wau_hll"])
        for r in hll_sliding_distinct(full, "user_id", "ts", 7, p=7).collect()
    }
    assert got_est == want_est


def test_pattern_match_stream_matches_batch(spark):
    """Streaming CEP match count per user == the batch one-window-pass
    operator (A then B within 1h, no C between) on the fixture."""
    from gcpdatapipelines_spark.operators.sequences import pattern_match_negation

    ev = S.stream_events(spark, SF_SMOKE)
    got = S.run_available_now(
        S.pattern_match_stream(
            ev, start="click", goal="purchase", blocker="error", horizon_s=3600
        ),
        "t_cep",
        output_mode="append",
    )
    stream_counts = {
        r["user_id"]: r["n"]
        for r in got.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    batch = pattern_match_negation(
        read_table(spark, SF_SMOKE, "events"),
        "user_id", "ts", "event_type",
        start="click", goal="purchase", blocker="error",
        horizon_s=3600, order_col="event_id",
    )
    batch_counts = {
        r["user"]: r["n_matched"] for r in batch.collect() if r["n_matched"] > 0
    }
    assert stream_counts == batch_counts
    assert batch_counts  # fixture must actually produce matches


def test_pattern_match_stream_state_spans_batches(spark, tmp_path):
    """A start in batch 1 must match a goal in batch 2 (open-start
    state crosses micro-batches); a blocker between kills the start;
    a goal past the horizon does not match."""
    import datetime as dt
    import glob
    import os
    import shutil

    t0 = dt.datetime(2024, 1, 1)

    def mins(m):
        return t0 + dt.timedelta(minutes=m)

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id BIGINT, ts TIMESTAMP, event_type STRING"

    def write_batch(name, rows, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    # u1: start -> (next batch) goal within horizon -> match
    # u2: start -> blocker -> goal: killed, no match
    # u3: start -> goal 2h later (past 1h horizon): no match
    write_batch(
        "a",
        [(1, mins(0), "S"), (2, mins(0), "S"), (2, mins(1), "X"), (3, mins(0), "S")],
        1_700_000_000,
    )
    write_batch(
        "b",
        [(1, mins(30), "G"), (2, mins(30), "G"), (3, mins(120), "G")],
        1_700_000_100,
    )
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    got = S.run_available_now(
        S.pattern_match_stream(
            stream, start="S", goal="G", blocker="X", horizon_s=3600
        ),
        "t_cep_2b",
        output_mode="append",
    )
    rows = {(r["user_id"], r["start_ts"], r["goal_ts"]) for r in got.collect()}
    assert rows == {(1, mins(0), mins(30))}


def test_funnel_stream_purges_dormant_state_with_horizon(spark, tmp_path):
    """With a `within` horizon, a mid-chain user who goes dormant past
    the horizon has their state purged by the event-time timer (round-5
    verdict #6): once the watermark passes t_prev + within, the chain's
    gap is unsatisfiable, so dropping the row is safe. Observable
    effect: the returning user restarts at step 0 and a fresh in-gap
    chain converts — under the old NoTimeout code the stale (stage=1,
    t_prev=0) state would block the new chain forever (B@150 fails the
    gap check against t_prev=0) and u1 would never convert."""
    import datetime as dt
    import glob
    import os
    import shutil

    t0 = dt.datetime(2024, 1, 1)

    def mins(m):
        return t0 + dt.timedelta(minutes=m)

    src = tmp_path / "src"
    src.mkdir()
    schema = "user_id BIGINT, ts TIMESTAMP, event_type STRING"

    def write_batch(name, rows, mtime):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        (part,) = glob.glob(f"{staging}/part-*.parquet")
        dest = str(src / f"{name}.parquet")
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    # b1: u1 opens a chain (A@0); u2 completes in-gap (A@0, B@10)
    write_batch(
        "a",
        [(1, mins(0), "A"), (2, mins(0), "A"), (2, mins(10), "B")],
        1_700_000_000,
    )
    # b2: unrelated traffic advances event time far past u1's horizon
    # (watermark only moves AFTER a batch, so the timer fires in b3)
    write_batch("b", [(9, mins(130), "Z")], 1_700_000_100)
    # b3: more unrelated traffic; u1 has NO data here, watermark=130min
    # > u1's timer (0 + 30min, rounded up) -> u1's state row is purged
    write_batch("c", [(9, mins(131), "Z")], 1_700_000_200)
    # b4: u1 returns with a fresh in-gap chain -> restarts and converts
    write_batch(
        "d", [(1, mins(140), "A"), (1, mins(150), "B")], 1_700_000_300
    )

    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    got = S.run_available_now(
        S.funnel_stream(stream, ["A", "B"], within="30 minutes"),
        "t_funnel_purge",
        output_mode="append",
    )
    rows = {(r["user_id"], r["completed_at"]) for r in got.collect()}
    assert rows == {(2, mins(10)), (1, mins(150))}


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


def test_routed_rest_arm_keeps_null_routes(spark, tmp_path):
    """Rows with a NULL route column must land in __rest, not vanish:
    ~isin(...) is NULL for NULL input and a bare filter drops it."""
    import gcpdatapipelines_spark.streaming as S

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id BIGINT, lang STRING"
    spark.createDataFrame(
        [(1, "en"), (2, None), (3, "zh"), (4, "xx")], schema
    ).write.mode("overwrite").parquet(str(src / "d.parquet"))
    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src / "d.parquet"))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    qs = S.routed_write_streams_per_trigger(
        stream, out, ckpt, {"en": "1 seconds"}, available_now=True
    )
    for q in qs:
        q.awaitTermination()
    rest = spark.read.parquet(f"{out}/lang=__rest")
    ids = {r.doc_id for r in rest.collect()}
    assert ids == {2, 3, 4}, ids  # NULL route included


def test_routed_empty_triggers_rejected(spark):
    import gcpdatapipelines_spark.streaming as S

    with pytest.raises(ValueError, match="non-empty"):
        S.routed_write_streams_per_trigger(None, "o", "c", {})
    with pytest.raises(ValueError, match="unparseable"):
        S.routed_write_streams_per_trigger(None, "o", "c", {"en": "not an interval"})
