"""Window functions, sort/limit/top-k, and batch event-time windows
(SURVEY.md §2.8).

The reference has none of these (no orderBy/limit/rank anywhere); they
are part of the general-engine surface the new engine exposes. The
driver's ``events`` fixture motivates the event-time forms.

Scale notes: ranking windows shuffle once on the partition key and
sort within partitions only (no global sort); top-k is expressed as
orderBy+limit, which Spark executes as per-partition TakeOrdered + a
driver-side merge of k·P rows — never a full global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rank_per_key(
    df: DataFrame,
    partition_by: list[str],
    order_by: list,
    alias: str = "rnk",
    method: str = "row_number",
) -> DataFrame:
    """rank/dense_rank/row_number over partitionBy().orderBy()."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number}[method]
    return df.withColumn(alias, fn().over(w))


def top_k(df: DataFrame, order_by: list, k: int) -> DataFrame:
    """Global top-k: TakeOrdered physical plan, not a full sort."""
    return df.orderBy(*order_by).limit(k)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str],
    aggs: list,
    window_alias: str = "window_start",
) -> DataFrame:
    """Batch tumbling event-time window: group by window(ts, duration)
    [+ keys] and aggregate. Emits the window *start* as a plain
    timestamp column so results are oracle-comparable
    (date_trunc-compatible for hour/day durations)."""
    win = F.window(F.col(ts_col), duration)
    out = df.groupBy(win, *keys).agg(*aggs)
    return out.withColumn(window_alias, F.col("window.start")).drop("window").select(
        window_alias, *keys, *[c for c in out.columns if c not in ("window", *keys)]
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str],
    aggs: list,
    window_alias: str = "window_start",
) -> DataFrame:
    """Batch sliding event-time window: window(ts, duration, slide)
    assigns each row to its duration/slide overlapping windows (an
    internal explode — duration/slide copies per row, the inherent
    cost of overlap), then one partial+final aggregate per (window
    [, keys]). Completes the windowing family next to tumbling
    (tumbling_window_agg) and session (streaming.sessionize) — the
    trailing-window rates/moving volumes shape. Emits the window start
    as a plain timestamp for oracle comparability."""
    win = F.window(F.col(ts_col), duration, slide)
    out = df.groupBy(win, *keys).agg(*aggs)
    return out.withColumn(window_alias, F.col("window.start")).drop("window").select(
        window_alias, *keys, *[c for c in out.columns if c not in ("window", *keys)]
    )


def session_table(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak: str,
    value_col: str,
    gap_minutes: int = 30,
    conversion: str = "purchase",
    type_col: str = "event_type",
) -> DataFrame:
    """The session TABLE a product warehouse materializes: one row per
    (key, session) with start/end, event count, decimal-exact value
    sum, duration seconds, and a converted flag — the entity the w7
    sessionizer only counts.

    Same lag + running-sum session numbering as w7 (ONE total order
    (ts, tiebreak) shared by both windows), then a partial-agg rollup
    on (key, session). Duration is integer-microsecond arithmetic
    divided once by 1e6, so it is engine-exact."""
    from pyspark.sql import Window

    w_ord = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    gap_us = gap_minutes * 60 * 1_000_000
    marked = df.withColumn(
        "__new",
        F.when(
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.lag(ts_col).over(w_ord))
            > gap_us,
            1,
        ).otherwise(0),
    ).withColumn(
        "sess_id",
        F.sum("__new").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return marked.groupBy(key, "sess_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col(value_col).cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
        (
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col)))
            / F.lit(1000000.0)
        ).alias("duration_s"),
        F.max((F.col(type_col) == conversion).cast("int")).alias("converted"),
    )


def running_total_scan(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    cum_col: str = "cum",
    num_partitions: int = 16,
) -> DataFrame:
    """Globally-ordered running total WITHOUT the single-reducer trap:
    a window ``sum().over(orderBy(...))`` with no partition key pulls
    the whole table into ONE partition — the classic scale killer for
    cumulative metrics. This is the distributed two-phase prefix scan
    instead:

    1. ``repartitionByRange`` on the order keys (balanced, globally
       ordered ranges; persisted so the sampled range boundaries are
       computed once),
    2. per-range totals — a tiny |partitions|-row aggregate collected
       as bounded driver metadata (the architecture invariant every
       ``.collect()`` here satisfies),
    3. intra-range running sums + the broadcast-literal offset of all
       earlier ranges.

    Every range scans in parallel; nothing data-sized ever converges
    on one task. Keep ``value_col`` decimal-typed for engine-exact
    cumulative sums (NOTES.md money rules), and include a unique
    tiebreak in ``order_cols`` for a total (deterministic) order."""
    d = df.repartitionByRange(num_partitions, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    d = d.persist()
    totals = {
        r["__pid"]: r["__t"]
        for r in d.groupBy("__pid").agg(F.sum(value_col).alias("__t")).collect()
    }
    offset, acc = {}, None
    for pid in sorted(totals):
        offset[pid] = acc
        acc = totals[pid] if acc is None else acc + totals[pid]
    off_expr = F.lit(None)
    for pid, val in offset.items():
        if val is not None:
            off_expr = F.when(F.col("__pid") == pid, F.lit(val)).otherwise(off_expr)
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = F.sum(value_col).over(w)
    return d.withColumn(
        cum_col,
        F.when(off_expr.isNull(), run).otherwise(run + off_expr),
    ).drop("__pid")


def trailing_range_agg(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    days: int = 7,
    out_sum: str = "trailing_sum",
    out_n: str = "trailing_n",
) -> DataFrame:
    """Per-row trailing time-INTERVAL aggregate: for every row, the
    decimal-exact sum and count of the same key's rows with
    ts in [row.ts - days, row.ts] — the row-frame rolling ops above
    cannot express this over IRREGULARLY-spaced events (k preceding
    ROWS is k events, not k days).

    Uses a RANGE frame over epoch seconds
    (rangeBetween(-days*86400, 0)), which is also the
    deterministic choice under timestamp ties: a range frame includes
    ALL peer rows of the current timestamp regardless of their
    arbitrary sort position, where a rows frame would include an
    engine-dependent subset.

    Scale shape: one hash exchange on the key + per-partition ordered
    frame scan — identical cost to any ordered window; no self-join,
    no fan-out by day."""
    from pyspark.sql import Window

    from .portable import trunc_dp

    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_timestamp(F.col(ts_col)))
        .rangeBetween(-days * 86400, 0)
    )
    # trunc_dp on the double form, not round(decimal, 2): rounding a
    # 6-dp decimal to 2 dp has REACHABLE ties (x.xx5000), where
    # engines' half-rules may differ — floor truncation has no tie
    # region (the decimal->double cast itself is the q1/w16-proven
    # portable surface)
    return df.withColumn(
        out_sum,
        trunc_dp(
            F.sum(F.col(value_col).cast("decimal(18,6)")).over(w).cast("double"),
            2,
        ),
    ).withColumn(out_n, F.count("*").over(w).cast("bigint"))
