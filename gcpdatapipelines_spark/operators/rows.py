"""Row transforms (SURVEY.md §2.3, P1-P11).

Every per-element Python DoFn in the reference reduces to a built-in
column expression here — JVM-side, inside whole-stage codegen, no
Python on the hot path. Citations point at the reference DoFn each
helper replaces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, *cols: str) -> DataFrame:
    """P2: column projection (reference csv_to_bq_NYC.py:58-62). Catalyst
    prunes the scan to exactly these columns."""
    return df.select(*cols)


def add_scalar(df: DataFrame, col: str, amount) -> DataFrame:
    """P4: scalar arithmetic map (reference AddTen,
    .ipynb_checkpoints/data_transpose-checkpoint.py:40-44)."""
    return df.withColumn(col, F.col(col) + F.lit(amount))


def reshape(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P5: rename/reshape to sink row (reference covertToTableRow,
    csv_to_bq_NYC.py:72-93): {out_name: in_expr}."""
    return df.select(*[F.expr(expr).alias(name) for name, expr in mapping.items()])


def filter_eq_ci(df: DataFrame, col: str, value: str) -> DataFrame:
    """P6/P9: case-insensitive equality filter
    (reference Flask_app/main.py:25-29); also the key predicate of
    ``serving.point_query``'s Spark path (P7)."""
    return df.filter(F.lower(F.col(col)) == value.lower())


def to_csv_line(df: DataFrame, *cols: str, out: str = "line") -> DataFrame:
    """P8: ','.join serialization (reference pipeline.py:63)."""
    return df.select(F.concat_ws(",", *[F.col(c).cast("string") for c in cols]).alias(out))


def composite_key(*cols: str, sep: str = "") -> Column:
    """P10: string-concat composite key (reference
    data_transpose_working_1.py:115-118). Kept for name parity; real
    grouping should use multi-column groupBy directly."""
    return F.concat_ws(sep, *[F.col(c).cast("string") for c in cols])


def avg_rank2_multi(
    df: DataFrame,
    cols: dict[str, str],
    nshards: int = 64,
) -> DataFrame:
    """Twice the AVERAGE rank (ties averaged) of each column as an
    exact BIGINT: 2*avg_rank = lo + hi of the tie group's row-number
    span = 2*rank() + tie_count - 1 — always an integer, so downstream
    statistics (Spearman) stay in exact integer arithmetic.

    Distributed the same way as :func:`dense_ids`: rows shard by value
    range, each shard ranks locally under a bounded window, per-shard
    offsets (the only driver state — ``nshards`` counts per column)
    lift local ranks to global. A tie group has ONE value, hence lives
    in ONE shard, so local rank + offset and the (shard, value) tie
    count are globally exact. No stage sees a global order.

    The driver round trips are shared by all columns: one agg computes
    every column's (min, max) bounds and one stacked groupBy computes
    every column's per-shard counts. The |cols| rank windows remain —
    ranking k columns inherently orders k ways — but driver-side
    latency does not multiply with the column count (2 + k jobs), which
    is what in-bench times are made of at small SF.

    ``cols``: {column -> output rank column}; an all-NULL column ranks
    to NULL."""
    from pyspark.sql import Window

    names = list(cols)
    b = df.agg(
        *[F.min(F.col(c)).alias(f"__mn_{i}") for i, c in enumerate(names)],
        *[F.max(F.col(c)).alias(f"__mx_{i}") for i, c in enumerate(names)],
    ).first()
    shard_exprs = {}
    for i, c in enumerate(names):
        mn, mx = b[f"__mn_{i}"], b[f"__mx_{i}"]
        if mn is None or mx == mn:
            shard_exprs[c] = F.lit(0)
        else:
            shard_exprs[c] = F.least(
                F.lit(nshards - 1),
                F.floor(
                    (F.col(c).cast("double") - float(mn))
                    / ((float(mx) - float(mn)) / nshards)
                ).cast("int"),
            )
    sharded = df
    for i, c in enumerate(names):
        sharded = sharded.withColumn(f"__shard_{i}", shard_exprs[c])
    stacked = sharded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("ci"), F.col(f"__shard_{i}").alias("sh")
                    )
                    for i in range(len(names))
                ]
            )
        ).alias("cs")
    ).groupBy("cs.ci", "cs.sh").count()
    counts = stacked.collect()
    omaps = {}
    for i, c in enumerate(names):
        base, run = {}, 0
        for r in sorted((r for r in counts if r["ci"] == i), key=lambda r: r["sh"]):
            base[r["sh"]] = run
            run += r["count"]
        omaps[c] = F.create_map(
            *[F.lit(v) for kv in sorted(base.items()) for v in kv]
        ) if base else F.create_map(F.lit(0), F.lit(0))
    out = sharded
    for i, c in enumerate(names):
        w_rank = Window.partitionBy(f"__shard_{i}").orderBy(c)
        w_tie = Window.partitionBy(f"__shard_{i}", c)
        if b[f"__mn_{i}"] is None:
            out = out.withColumn(cols[c], F.lit(None).cast("long"))
        else:
            out = out.withColumn(
                cols[c],
                (
                    2 * (F.rank().over(w_rank) + omaps[c][F.col(f"__shard_{i}")])
                    + F.count("*").over(w_tie)
                    - 1
                ).cast("long"),
            )
    return out.drop(*[f"__shard_{i}" for i in range(len(names))])


def avg_rank2_multi_dict(
    df: DataFrame,
    cols: dict[str, str],
) -> DataFrame:
    """:func:`avg_rank2_multi` restated over VALUE DICTIONARIES: the
    rank of a row is a pure function of its value, so rank2(v) =
    2*cnt_lt(v) + cnt(v) + 1 computes on the per-column distinct-value
    frame (|V| rows) and broadcast-joins back to the fact — identical
    integers (2*rank() + ties - 1 with rank = cnt_lt + 1), proven
    equal to the sharded path in tests.

    Scale shape vs the sharded windows: the FACT is never shuffled at
    all (the r10 plan shuffled the full row once per ranked column)
    and there are ZERO driver round trips (the sharded path collects
    bounds + per-shard counts before it can build a plan). The costs
    that remain are |cols| dictionary aggregations (partial+final, the
    exchange carries distinct values only) and one |V|-sized cumulative
    window per column. PRECONDITIONS: each column's distinct-value
    dictionary must be bounded (the window sorts it on one partition
    and the join side broadcasts) — true for enumerated measures
    (quantity-style integer grids, rate enums); NOT true for
    near-unique measures (prices, ids), whose dictionary approaches
    the fact size — route those through :func:`avg_rank2_multi`,
    whose shards never see a global order (a42_spearman mixes the two
    per column). NULLs are not ranked
    (inner join drops them) — callers feed non-null measures, same
    contract as the sharded path.

    ``cols``: {column -> output rank column}."""
    from pyspark.sql import Window

    out = df
    for c, oc in cols.items():
        d = df.groupBy(F.col(c).alias("__v")).agg(F.count("*").alias("__c"))
        w = (
            Window.orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        m = d.select(
            F.col("__v").alias(c),
            (2 * F.sum("__c").over(w) - F.col("__c") + 1).cast("long").alias(oc),
        )
        out = out.join(F.broadcast(m), c)
    return out


def dense_ids(
    df: DataFrame,
    order_col: str,
    out_col: str = "dense_id",
    nshards: int = 64,
) -> DataFrame:
    """Contiguous global ids 0..n-1 in ``order_col`` order — the
    distributed replacement for zipWithIndex/monotonically_increasing_id
    (gapped, partitioning-dependent) and for a global row_number window
    (single-partition sort: the classic driver-melter).

    Two-phase rank: rows shard by value range of the (numeric) order
    key, each shard ranks locally under one bounded window, and a
    per-shard base offset (cumulative shard counts) lifts local ranks
    to global ids. The only driver state is ONE scalar (max key) and
    ``nshards`` counts — bounded index metadata, never row data. At
    100 TB this is the id-assignment pattern that works: every shard
    sorts independently, no stage sees a global order.

    Value-range sharding keeps ids dense and deterministic but splits
    unevenly under key skew; raise ``nshards`` (or pre-scale keys) if
    one range dominates.
    """
    from pyspark.sql import Window

    mx = df.agg(F.max(F.col(order_col)).alias("m")).first()["m"]
    if mx is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    width = max(1, int(mx) // nshards + 1)
    sharded = df.withColumn("__shard", (F.col(order_col).cast("long") / width).cast("long"))
    counts = sharded.groupBy("__shard").count().collect()
    base, run = {}, 0
    for r in sorted(counts, key=lambda r: r["__shard"]):
        base[r["__shard"]] = run
        run += r["count"]
    omap = F.create_map(
        *[F.lit(v) for kv in sorted(base.items()) for v in kv]
    )
    w = Window.partitionBy("__shard").orderBy(order_col)
    return (
        sharded.withColumn(
            out_col,
            (F.row_number().over(w) - 1 + omap[F.col("__shard")]).cast("long"),
        )
        .drop("__shard")
    )
