"""Structured Streaming surface (SURVEY.md §2.8 stretch; the reference
is batch-only, so these are the streaming twins of the batch event
queries — same semantics, incremental execution).

Design: streams are ordinary DataFrames built by ``readStream``; every
transformation below is the same expression used in the batch catalog
(w3_event_hourly, w7_sessionize), so batch/stream parity is testable by
running the stream with trigger(availableNow=True) over the fixture
parquet and diffing against the batch result — which is exactly what
tests/test_streaming.py does.

At scale: watermarks bound state (late events beyond the horizon are
dropped instead of growing state forever); session_window keeps one
merging state per user; applyInPandasWithState is the arbitrary-state
escape hatch with explicit timeouts.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# events.parquet stores ts as TIMESTAMP(MICROS); declaring TIMESTAMP in
# the read schema yields the session timestamp type (UTC) — identical to
# io.read_table's batch view.
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture (file source; schema must be
    declared for streaming reads). The fixture stores ts as
    TIMESTAMP(MICROS); declaring ts TIMESTAMP reads it straight into the
    session timestamp type (UTC), matching io.read_table's batch view."""
    # the streaming file source requires a directory; point it at the
    # fixture dir and glob-filter to the events file
    return (
        spark.readStream.schema(EVENTS_DDL)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of w3_event_hourly: tumbling 1-hour windows with a
    watermark bounding state. Same output columns as the batch query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming twin of w7_sessionize using session_window: per-user
    sessions close after `gap` inactivity; merging state per user is
    bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event-count + value-sum state across micro-batches — the
    arbitrary-stateful escape hatch for semantics window functions
    can't express (the reference has no analogue; this is north-star
    surface).

    NoTimeout is CORRECT here, not an oversight (round-5 verdict): a
    lifetime running total is inherently per-user state — any purge
    would silently reset a returning user's total. State is O(users)
    by definition of the semantics; callers needing bounded state want
    a windowed aggregation (windowed_counts_stream) or a TTL'd variant
    instead."""

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        # NB: GroupState.get is a PROPERTY (returns the state tuple);
        # calling it raises "'tuple' object is not callable"
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        stateStructType="n BIGINT, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_with_timeout(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session expiry with per-group EVENT-TIME TIMEOUTS (NOTES.md
    backlog #6): unlike session_window (which only emits once the
    aggregation finalizes), this emits a session row the moment it
    closes — either data-driven (a new event lands more than `gap`
    after the last one) or timeout-driven (the watermark passes
    last_event + gap with no new data for that user).

    State per user is one (start, last, count) triple — O(1) per key,
    freed on timeout, bounded by the watermark; the canonical
    applyInPandasWithState shape for "emit on expiry" semantics that
    neither window functions nor session_window can express.

    Output (append mode): user_id, session_start, session_end,
    n_events — one row per CLOSED session."""
    gap_td = pd.Timedelta(gap)
    gap_ms = int(gap_td.total_seconds() * 1000)

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        cols = ["user_id", "session_start", "session_end", "n_events"]
        if state.hasTimedOut:
            start_us, last_us, n = state.get  # property, not a method
            state.remove()
            yield pd.DataFrame(
                [
                    (
                        user_id,
                        pd.Timestamp(start_us, unit="us"),
                        pd.Timestamp(last_us, unit="us"),
                        n,
                    )
                ],
                columns=cols,
            )
            return
        ts = (
            pd.concat([pdf["ts"] for pdf in pdfs])
            .sort_values()
            .reset_index(drop=True)
        )
        if state.exists:
            start_us, last_us, n = state.get  # property, not a method
            start = pd.Timestamp(start_us, unit="us")
            last = pd.Timestamp(last_us, unit="us")
        else:
            start = last = ts.iloc[0]
            n = 0
        closed = []
        for t in ts:
            if n > 0 and (t - last) > gap_td:
                closed.append((user_id, start, last, n))
                start, n = t, 0
            last, n = t, n + 1
        state.update((int(start.value // 1000), int(last.value // 1000), int(n)))
        state.setTimeoutTimestamp(int(last.value // 1_000_000) + gap_ms)
        if closed:
            yield pd.DataFrame(closed, columns=cols)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id BIGINT, session_start TIMESTAMP, "
                "session_end TIMESTAMP, n_events BIGINT"
            ),
            stateStructType="start_us BIGINT, last_us BIGINT, n BIGINT",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def purchase_attribution_stream(
    events: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to the
    same user's clicks within the preceding hour. Both sides are
    watermarked and the join carries an event-time range condition, so
    Spark buffers only `watermark + window` of state per side — the
    canonical bounded-state stream-stream join.

    Batch-equivalent semantics: clicks c join purchases p on user where
    p.ts - 1h <= c.ts <= p.ts."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {attribution_window}
            """
        ),
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        "amount",
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop duplicate events by key with state
    bounded by the watermark (dropDuplicatesWithinWatermark — state for
    a key is freed once the watermark passes it, so the dedup table
    never grows unboundedly). The streaming twin of dedup_exact for
    at-least-once upstream delivery."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


from pyspark.sql.streaming import StreamingQueryListener


class _RowCountListener(StreamingQueryListener):
    """StreamingQueryListener accumulating numInputRows per query id —
    the only progress channel that is not capped (lastProgress = final
    batch only; recentProgress = last N). Registered per invocation
    and removed in a finally."""

    def __init__(self):
        self.rows_by_query: dict[str, int] = {}
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        qid = str(p.id)
        self.rows_by_query[qid] = self.rows_by_query.get(qid, 0) + int(p.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.id))


def incremental_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> int:
    """Exactly-once incremental batch: each invocation processes only
    files not yet recorded in the checkpoint and appends results to the
    parquet sink atomically. Running it twice with no new input writes
    nothing the second time — the cron-driven incremental-ETL shape
    (what the reference's Dataflow templates are used for, §3.2) on
    Structured Streaming's ledger.

    Lifecycle note: the checkpoint AND the sink's _spark_metadata log
    (keyed by batch id) are one unit — reuse the checkpoint with a
    fresh out_dir (or vice versa) and the ledger disagrees with the
    sink; always create/retire them together.

    Returns the number of rows written by this invocation."""
    import time

    listener = _RowCountListener()
    spark.streams.addListener(listener)
    try:
        ev = stream_events(spark, source_dir)
        enriched = ev.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        q = (
            enriched.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow may split the input into several micro-batches
        # (maxFilesPerTrigger etc.) — lastProgress reports only the
        # final batch, and recentProgress is CAPPED (default 100
        # entries), so a long backlog would undercount. The listener
        # sees every progress event; wait for the terminated event so
        # none are still in flight.
        q.awaitTermination()
        deadline = time.time() + 30
        while str(q.id) not in listener.terminated and time.time() < deadline:
            time.sleep(0.05)
        return int(listener.rows_by_query.get(str(q.id), 0))
    finally:
        spark.streams.removeListener(listener)


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the (small, broadcast) static dimension — the streaming twin of
    joins.broadcast_enrich / the reference's side-input dict probe
    (reference pipeline.py:31-36,54-61). The static side is re-resolved
    per batch, so a dimension table updated in place is picked up
    without restarting the query; no watermark is needed because the
    static side holds no state."""
    from pyspark.sql.functions import broadcast

    return events.join(broadcast(dim), events[stream_key] == dim[dim_key], how)


def rate_demo_pipeline(spark: SparkSession, rows_per_batch: int = 100) -> DataFrame:
    """Synthetic-load streaming demo on the deterministic
    ``rate-micro-batch`` source (exactly ``rows_per_batch`` rows with
    consecutive ``value``s per micro-batch — unlike ``rate``, which is
    wall-clock-driven): bucket the monotonically increasing value and
    count per bucket, the smallest end-to-end stateful pipeline for
    soak-testing sinks and checkpoint behavior without any input data."""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    return (
        raw.withColumn("bucket", F.col("value") % 10)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.max("value").alias("max_value"))
    )


DOCS_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents fixture (file source, declared
    schema) — the ingest side of a streaming corpus pipeline."""
    return (
        spark.readStream.schema(DOCS_DDL)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )


def contamination_stream(
    docs: DataFrame, bench_shingles: DataFrame, n: int = 5
) -> DataFrame:
    """Streaming decontamination: shingle each incoming document and
    emit its (doc_id, shingle) rows that collide with the STATIC
    benchmark shingle set — the stream-static broadcast twin of
    text.contamination_overlap.

    Stateless (a per-batch broadcast semi-ish join on shingle), so it
    runs in append mode with no watermark or state store; the per-doc
    contamination fraction is a downstream batch aggregation over the
    emitted hits (aggregating here would force update mode). At scale
    the benchmark set is tiny and pinned executor-side — each
    micro-batch pays one broadcast probe, the corpus never self-joins."""
    from .operators.dedup import doc_shingles

    from pyspark.sql.functions import broadcast

    sh = doc_shingles(docs, "doc_id", "text", n)
    return sh.join(broadcast(bench_shingles.select("shingle").distinct()), "shingle")


def run_available_now(
    stream_df: DataFrame, table_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain the stream's current input with trigger(availableNow) into
    an in-memory table and return it as a batch DataFrame — the test
    harness for batch/stream parity."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(table_name)


def routed_write_stream(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    route_col: str = "lang",
) -> None:
    """Per-route streaming sink: writeStream partitioned BY the routing
    column — each micro-batch appends its rows under
    ``{out_path}/{route_col}=<value>/``, so downstream per-language
    consumers (per-language dedup, per-language tokenizers) read ONLY
    their partition via partition pruning. This is the streaming twin
    of the multi-sink fan-out (K5): one query, N routes, no per-route
    job; new route values appear as new directories with no schema or
    query change. Exactly-once per file via the checkpoint + file-sink
    manifest."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(route_col)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def routed_write_streams_per_trigger(
    stream_df: DataFrame,
    out_path: str,
    checkpoint_root: str,
    route_triggers: dict,
    route_col: str = "lang",
    available_now: bool = False,
) -> list:
    """Per-route streaming sinks with INDEPENDENT triggers: one
    filtered writeStream per route, each with its own processing-time
    cadence and checkpoint — the completion of the routed-write story
    (:func:`routed_write_stream` is one query/one trigger; this is N).

    Why at 100 TB: routes are wildly skewed (one language can be 100x
    another). A single query makes every route pay the hot route's
    trigger cadence — tiny files for cold routes, or batching lag for
    hot ones. Independent queries let the hot route run a tight
    trigger while cold routes batch up long intervals, each with its
    own backpressure, checkpoint, and failure domain (a poison batch
    in one language stalls ONE query). The cost is N file-source
    listings of the shared input; route-partitioned upstream storage
    removes even that.

    ``route_triggers``: {route_value: processing-time interval string}
    — e.g. ``{"en": "10 seconds", "zh": "5 minutes"}``; must be
    non-empty, and every interval must parse as a pandas Timedelta
    (validated eagerly here — a typo'd interval should fail at call
    time, not inside a started query). Rows whose route is NOT listed
    — including rows with a NULL route, for which ``~isin(...)``
    evaluates to NULL and a bare filter would silently drop them
    (round-5 ADVICE) — go to a ``__rest`` query carrying the max
    interval, so nothing is dropped. ``available_now=True`` swaps
    every trigger for a drain (tests; backfills).

    Returns the list of StreamingQuery handles (caller manages
    lifecycle; tests drain with awaitTermination)."""
    if not route_triggers:
        raise ValueError("route_triggers must be non-empty")
    for r, iv in route_triggers.items():
        try:
            pd.Timedelta(iv)
        except ValueError as exc:
            raise ValueError(f"unparseable trigger interval for route {r!r}: {iv!r}") from exc
    queries = []
    listed = list(route_triggers)
    max_interval = max(route_triggers.values(), key=pd.Timedelta)
    arms = [
        (str(r), stream_df.filter(F.col(route_col) == r), iv)
        for r, iv in route_triggers.items()
    ]
    rest_pred = F.col(route_col).isNull() | ~F.col(route_col).isin(listed)
    arms.append(("__rest", stream_df.filter(rest_pred), max_interval))
    for name, arm, interval in arms:
        writer = (
            arm.writeStream.format("parquet")
            .option("path", f"{out_path}/{route_col}={name}")
            .option(
                "checkpointLocation", f"{checkpoint_root}/{route_col}={name}"
            )
            .outputMode("append")
        )
        writer = (
            writer.trigger(availableNow=True)
            if available_now
            else writer.trigger(processingTime=interval)
        )
        queries.append(writer.start())
    return queries


def funnel_stream(
    events: DataFrame,
    steps: list[str],
    within: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Real-time ordered-funnel tracking: per-user state walks the step
    chain as events arrive and emits ONE row the moment a user
    completes the final step — the streaming twin of
    funnel.funnel_user_stages (greedy earliest-chain semantics match
    the batch operator's min-after-previous chain exactly).

    State per user is (stage, t_prev) — O(1), dropped on completion.
    State GC (round-5 verdict #6): users that never matched step 0
    are never stored at all, and when a ``within`` horizon exists,
    dormant mid-chain users are purged by an EVENT-TIME timeout at
    t_prev + within (rounded up to the next whole second, the CEP
    purge pattern at :func:`pattern_match_stream`): once the watermark
    passes that instant the chain's next step can no longer satisfy
    the gap, so under the greedy earliest-chain semantics the user can
    NEVER complete — dropping the row is safe. State is therefore
    bounded by users active within one horizon, not by all users ever
    seen. (A purged user who returns much later restarts at step 0;
    the batch twin — walking full history — would keep the chain
    failed. Same documented trade as the CEP twin: late/returning
    traffic is the batch operator's reprocessing job.) Without
    ``within`` the chain stays completable forever, so per-user state
    is inherent to the semantics — NoTimeout is correct there, and
    state is still bounded by users that ever matched step 0. Late
    events older than the user's current chain position are ignored
    (the standard streaming-funnel trade-off; the batch operator is
    the late-data-correct reprocessing path).

    Output (append): user_id, completed_at."""
    gap_us = int(pd.Timedelta(within).total_seconds() * 1_000_000) if within else None
    n = len(steps)

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            # watermark passed t_prev + within: the gap to the next
            # step is unsatisfiable, the chain is dead — free the row
            state.remove()
            return
        if state.exists:
            stage, prev_us = state.get  # property, not a method
        else:
            stage, prev_us = 0, -1  # -1 = chain not started
        rows = pd.concat(list(pdfs)).sort_values("ts")
        for _, r in rows.iterrows():
            if stage >= n:
                break
            if r[type_col] != steps[stage]:
                continue
            t_us = int(pd.Timestamp(r["ts"]).value // 1000)
            if stage > 0:
                if t_us <= prev_us:
                    continue
                if gap_us is not None and t_us > prev_us + gap_us:
                    continue
            stage, prev_us = stage + 1, t_us
        if stage >= n:
            state.remove()  # converted: state freed immediately
            yield pd.DataFrame(
                {"user_id": [user_id], "completed_at": [pd.Timestamp(prev_us * 1000)]}
            )
        elif stage == 0:
            # never matched step 0: storing (0, -1) is pure dead
            # weight — identical behavior is re-derived stateless
            if state.exists:
                state.remove()
        else:
            state.update((int(stage), int(prev_us)))
            if gap_us is not None:
                # GC fuse: whole-second round-up so the exact-µs gap
                # check can never lose a still-valid next step
                state.setTimeoutTimestamp(
                    ((prev_us + gap_us) // 1_000_000 + 1) * 1000
                )

    src = (
        events.withWatermark("ts", "0 seconds") if gap_us is not None else events
    )
    return src.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id BIGINT, completed_at TIMESTAMP",
        stateStructType="stage INT, t_prev_us BIGINT",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if gap_us is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def _drain_foreach_batch(stream_df: DataFrame, fn, checkpoint: str) -> None:
    """Run ``fn(batch_df, batch_id)`` on every micro-batch of the
    stream's current input (trigger availableNow) and wait for it."""
    q = (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _fold_into_state(stream_df: DataFrame, fold, target_path: str, checkpoint: str) -> None:
    """Keep a parquet state table at ``target_path`` up to date with
    the stream: each micro-batch's new state is ``fold(batch_df,
    state)``, where ``state`` is the current table (None before the
    first batch).

    The new state goes to a STAGING directory that is then renamed
    into place: the target path is never overwritten while a plan is
    reading it (cache()+count() does NOT guarantee that — evicted
    blocks recompute from the input path mid-overwrite), and a crash
    mid-write leaves the old state intact. State existence is checked
    explicitly via the Hadoop FileSystem, so a transient read or fold
    failure PROPAGATES instead of silently replacing the table with
    one micro-batch. The delete+rename swap has a sub-second
    non-atomic window on object-store FSs; a table format with atomic
    commits closes it."""

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hpath = spark._jvm.org.apache.hadoop.fs.Path
        tgt = hpath(target_path)
        fs = tgt.getFileSystem(spark._jsc.hadoopConfiguration())
        state = spark.read.parquet(target_path) if fs.exists(tgt) else None
        staging = target_path.rstrip("/") + f".__staging_{batch_id}"
        fold(batch_df, state).write.mode("overwrite").parquet(staging)
        fs.delete(tgt, True)
        if not fs.rename(hpath(staging), tgt):
            raise IOError(f"staging swap failed: {staging} -> {target_path}")

    _drain_foreach_batch(stream_df, do_batch, checkpoint)


def upsert_sink_stream(
    stream_df: DataFrame,
    target_path: str,
    checkpoint: str,
    on: list[str],
    order_col: str,
    tiebreak: str,
) -> None:
    """Streaming UPSERT sink via foreachBatch: each micro-batch is
    compacted to its latest row per key (history.keep_latest) and
    MERGEd into the parquet target (merge.merge_upsert) — the
    lakehouse change-stream ingestion pattern, where the plain file
    sink's append-only contract (incremental_pipeline) is wrong
    because keys re-send.

    Delivery: foreachBatch may replay a batch after failure, but the
    merge is idempotent (same source twice is a no-op), so the target
    converges exactly-once. The merged result is written by
    _fold_into_state's staging swap: the target is never overwritten in
    place, and a failed read or merge propagates."""
    from .operators.history import keep_latest
    from .operators.merge import merge_upsert

    def fold(batch_df: DataFrame, target: DataFrame | None) -> DataFrame:
        compact = keep_latest(batch_df, on, order_col, tiebreak)
        if target is None:  # first batch: no target yet
            return compact
        return merge_upsert(target, compact, on, broadcast_source=True)

    _fold_into_state(stream_df, fold, target_path, checkpoint)


def incremental_neardup_pipeline(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    admitted_dir: str,
    checkpoint: str,
    n: int = 5,
    num_perm: int = 64,
    bands: int = 16,
) -> None:
    """Streaming near-dup admission over a document file stream: each
    micro-batch is deduped against the STANDING corpus represented
    only by its LSH band keys (~bands·16 bytes per admitted doc —
    never text, shingles, or signatures), then within itself by the
    deterministic bucket-min rule; admitted ids land in
    ``admitted_dir`` and the batch's band keys append to
    ``state_dir``. This is the 100 TB crawl-ingest shape: state grows
    with the ADMITTED corpus only, and each increment costs one
    signature pass + bucket-keyed anti-join.

    Idempotency on replay: a re-run batch recomputes the identical
    admit set (bucket-min is order-independent), so duplicate appends
    can only duplicate rows, never change decisions — consumers read
    ``admitted_dir`` with dropDuplicates(doc_id) and the state with
    DISTINCT, both of which the next batch's reader already applies.
    """
    from .operators.dedup import incremental_neardup

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path

    def do_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        fs = hpath(state_dir).getFileSystem(sp._jsc.hadoopConfiguration())
        state = (
            sp.read.parquet(state_dir) if fs.exists(hpath(state_dir)) else None
        )
        # materialize=True: eager localCheckpoint, not cache() — a
        # cache() per micro-batch would pin one CacheManager entry per
        # batch for the lifetime of the stream (never GC-reclaimed)
        admitted, delta = incremental_neardup(
            batch_df, state, "doc_id", "text", n, num_perm, bands,
            materialize=True,
        )
        # both writes re-derive the admit set lazily; that's safe
        # because bucket-min admission is deterministic — re-execution
        # cannot flip a decision (no driver-side id collection needed)
        out = batch_df.join(admitted.select("doc_id"), "doc_id", "left_semi")
        out.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(admitted_dir)
        delta.write.mode("append").parquet(state_dir)

    src = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(source_dir)
    )
    _drain_foreach_batch(src, do_batch, checkpoint)


def drift_monitor_stream(
    events: DataFrame,
    baseline: DataFrame,
    metrics_path: str,
    checkpoint: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 500.0,
    nbins: int = 10,
) -> None:
    """Streaming drift monitor: every micro-batch's value distribution
    is scored against a STATIC training-time baseline with PSI
    (operators/profile.drift_psi) and appended, stamped with the batch
    id, to a parquet metrics table — the serving-side observability
    loop that tells you the feature distribution has left the training
    window BEFORE model quality does.

    foreachBatch composition: the batch side reuses the exact batch
    operator (one fixed-bin histogram per side, <= nbins-row join), so
    the monitor's number is definitionally comparable to the offline
    PSI; the baseline histogram is dimension-sized and re-derived per
    batch from the (tiny, cached) baseline frame. Exactly-once via the
    checkpoint; an empty micro-batch is skipped rather than logged as
    a degenerate all-eps PSI."""
    from pyspark.sql import functions as F

    from .operators.profile import drift_psi

    baseline = baseline.cache()

    def _score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        row = drift_psi(
            baseline, batch_df, value_col, lo=lo, hi=hi, nbins=nbins
        ).withColumn("batch_id", F.lit(batch_id))
        row.write.mode("append").parquet(metrics_path)

    _drain_foreach_batch(events, _score, checkpoint)


def hll_sketch_stream(
    stream_df: DataFrame,
    key_col: str,
    target_path: str,
    checkpoint: str,
    p: int = 9,
) -> None:
    """Streaming HLL register maintenance via foreachBatch: each
    micro-batch's keys become a register table
    (sketches.hll_registers) that is max-MERGED into the parquet
    register state — the streaming form of the
    sketch_hll_merge identity ``merge(sketch(A), sketch(B)) ==
    sketch(A ∪ B)``, keeping a running distinct-count sketch over an
    unbounded stream in 2^p rows of state with no key history.

    Delivery: replayed batches are absorbed — max-merge is idempotent
    (max(x, x) == x), so the register state converges exactly-once
    without any dedup bookkeeping; this is precisely why sketch state
    is the right streaming-aggregation state at 100 TB. State is
    written by _fold_into_state's staging swap: never overwritten in
    place, failures propagate."""
    from .operators.sketches import hll_registers

    def fold(batch_df: DataFrame, state: DataFrame | None) -> DataFrame:
        regs = hll_registers(batch_df, key_col, p)
        if state is None:
            return regs
        return (
            state.unionByName(regs)
            .groupBy("bucket")
            .agg(F.max("rho").alias("rho"))
        )

    _fold_into_state(stream_df, fold, target_path, checkpoint)


def quantile_sketch_stream(
    stream_df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    target_path: str,
    checkpoint: str,
    k: int = 256,
) -> None:
    """Streaming bottom-k quantile-sample maintenance via
    foreachBatch: each micro-batch's rows are hash-ranked
    (u = h60(id)/2^60), unioned with the parquet sample state, and cut
    back to each group's k smallest-u rows — the streaming form of the
    bottom-k merge identity ``bottomk(A ∪ B) == bottomk(bottomk(A) ∪
    bottomk(B))`` (pinned in tests/test_sketches.py), keeping a
    uniform k-row sample per group over an unbounded stream; any
    quantile of the stream-so-far is one in-memory percentile over the
    state.

    Delivery: replayed batches are absorbed — re-unioning rows already
    in the state changes nothing (dedup on (grp, u) before the cut),
    so the sample converges exactly-once without batch bookkeeping.
    State is bounded at k rows per group regardless of stream length.
    State is written by _fold_into_state's staging swap."""
    from pyspark.sql import Window

    from .operators.sketches import HASH_BITS, _h60

    two60 = float(1 << HASH_BITS)

    def fold(batch_df: DataFrame, state: DataFrame | None) -> DataFrame:
        fresh = batch_df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col).cast("double").alias("v"),
            (_h60(F.col(id_col)) / F.lit(two60)).alias("u"),
        )
        if state is not None:
            fresh = state.unionByName(fresh)
        w = Window.partitionBy("grp").orderBy("u")
        return (
            fresh.dropDuplicates(["grp", "u"])
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )

    _fold_into_state(stream_df, fold, target_path, checkpoint)


def hll_daily_sketch_stream(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    target_path: str,
    checkpoint: str,
    p: int = 9,
) -> None:
    """Streaming DAY-KEYED HLL register maintenance: each micro-batch
    folds into per-(day, bucket) max registers in the parquet state —
    the streaming feeder for sketches.hll_sliding_distinct-style
    rolling distinct counts (read the state, fan registers across the
    window, estimate). State is 2^p rows per ACTIVE day regardless of
    key volume; max-merge makes batch replay idempotent, exactly as
    hll_sketch_stream's global form. State is written by
    _fold_into_state's staging swap."""
    from .operators.sketches import HASH_BITS, _h60

    m = 1 << p
    w_bits = HASH_BITS - p

    def fold(batch_df: DataFrame, state: DataFrame | None) -> DataFrame:
        day = F.date_trunc("day", F.col(ts_col)).cast("date")
        regs = (
            batch_df.select(
                day.alias("day"), _h60(F.col(key_col)).alias("h")
            )
            .selectExpr("day", f"h % {m} AS bucket", f"h div {m} AS w")
            .groupBy("day", "bucket")
            .agg(
                F.expr(
                    f"max(CASE WHEN w > 0 THEN {w_bits} -"
                    f" CAST(floor(log2(w)) AS BIGINT)"
                    f" ELSE {w_bits + 1} END)"
                ).alias("rho")
            )
        )
        if state is None:
            return regs
        return (
            state.unionByName(regs)
            .groupBy("day", "bucket")
            .agg(F.max("rho").alias("rho"))
        )

    _fold_into_state(stream_df, fold, target_path, checkpoint)


def pattern_match_stream(
    events: DataFrame,
    start: str = "click",
    goal: str = "purchase",
    blocker: str = "error",
    horizon_s: int = 3600,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Real-time CEP negative-pattern matching: per user, emit a match
    row the moment a GOAL event lands within ``horizon_s`` of an open
    START with no BLOCKER in between — the streaming twin of
    sequences.pattern_match_negation (A then B within T, no C between)
    via applyInPandasWithState lookahead buffering.

    State per user is the list of OPEN start timestamps only — any
    goal resolves (emits + clears) every open start, any blocker kills
    them, and starts past their horizon are expired lazily on the next
    event. Dormant users (final event leaves open starts, then
    silence) are purged by an EVENT-TIME timeout at
    last_event + horizon: when the stream's watermark (0-delay, set
    here) passes that instant — i.e. other users' traffic shows the
    stream has moved a full horizon beyond the dormant user's last
    event — the state row is removed, so aggregate state is bounded
    by ACTIVE users x starts-per-horizon, not by all users ever seen.
    (Event-time, not processing-time, deliberately: wall-clock timers
    force the engine to keep scheduling batches until they fire, so an
    availableNow drain would block for the full horizon; event-time
    timers are data-driven and cost nothing on an idle stream.)
    Batch parity holds exactly for in-order streams with no
    same-(user, ts) ties (a tied goal/blocker resolves by arrival
    order here but by event_id order in the batch window); late
    events are dropped by the 0-delay watermark — they are the batch
    operator's job. The horizon compares WHOLE SECONDS
    (``µs DIV 1e6``), the same truncation the batch twin's
    ``cast('long')`` applies, so a goal landing inside the
    truncated-second horizon but outside the exact-µs one matches in
    both.

    Output (append): user_id, start_ts, goal_ts, wait_s.
    """

    def update(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user,) = key
        if state.hasTimedOut:
            # the watermark passed last_event + horizon with no new
            # event from this user: every pending start is past its
            # horizon — drop the state row
            state.remove()
            return
        pending: list[int] = list(state.get[0]) if state.exists else []
        rows = pd.concat(list(pdfs)).sort_values(ts_col)
        out_s: list[int] = []
        out_g: list[int] = []
        for _, r in rows.iterrows():
            t_us = int(pd.Timestamp(r[ts_col]).value // 1000)
            # whole-second horizon — identical to the batch twin's
            # second-truncated cast('long') comparison
            pending = [
                p
                for p in pending
                if t_us // 1_000_000 <= p // 1_000_000 + horizon_s
            ]
            et = r[type_col]
            if et == goal:
                out_s.extend(pending)
                out_g.extend([t_us] * len(pending))
                pending = []
            elif et == blocker:
                pending = []
            if et == start:
                pending.append(t_us)
        if pending:
            state.update(([int(p) for p in pending],))
            # GC fuse for dormant users (state rows would otherwise
            # live forever waiting for an event that never comes):
            # event-time timer at this batch's last event + horizon
            last_us = max(
                int(pd.Timestamp(t).value // 1000) for t in rows[ts_col]
            )
            # round UP to the next whole second: matching uses the
            # truncated-whole-second horizon, so an exact-µs timer
            # could purge state before a goal in the sub-second tail
            # that the batch twin would still match (round-5 ADVICE)
            state.setTimeoutTimestamp(
                (last_us // 1_000_000 + int(horizon_s) + 1) * 1000
            )
        elif state.exists:
            state.remove()
        if out_s:
            yield pd.DataFrame(
                {
                    "user_id": [user] * len(out_s),
                    "start_ts": [pd.Timestamp(p * 1000) for p in out_s],
                    "goal_ts": [pd.Timestamp(g * 1000) for g in out_g],
                    "wait_s": [(g - p) / 1e6 for p, g in zip(out_s, out_g)],
                }
            )

    # 0-delay watermark: required by EventTimeTimeout, and the purge
    # clock — in-order streams lose nothing (parity scope above)
    return events.withWatermark(ts_col, "0 seconds").groupBy(
        user_col
    ).applyInPandasWithState(
        update,
        outputStructType=(
            "user_id BIGINT, start_ts TIMESTAMP, goal_ts TIMESTAMP, "
            "wait_s DOUBLE"
        ),
        stateStructType="pending ARRAY<BIGINT>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
