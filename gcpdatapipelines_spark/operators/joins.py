"""Joins (SURVEY.md §2.5, J1-J2) plus the semi/anti surface Spark adds.

The reference hand-rolls its only joins: a broadcast side-input dict
probe (reference pipeline.py:31-36,54-61) and a per-key HTTP lookup
(csv_to_bq_NYC.py:64-93). Both become declarative joins; `broadcast()`
hints reproduce the map-side strategy explicitly, and AQE would pick it
anyway when the dimension is small. At 100 TB the fact side never
shuffles for a broadcast join — that is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def broadcast_enrich(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """J1: broadcast hash equi-join (reference pipeline.py:61 AsDict
    side input). ``on`` as in DataFrame.join."""
    return fact.join(broadcast(dim), on, how)


def enrich_ci(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "left",
) -> DataFrame:
    """J2: dimension-enrichment join with case-insensitive keys
    (reference csv_to_bq_NYC.py:64-93 HTTP lookup + Flask_app/main.py:26
    lower() matching), re-expressed as a broadcast left join."""
    cond = F.lower(fact[fact_key]) == F.lower(dim[dim_key])
    return fact.join(broadcast(dim), cond, how).drop(dim[dim_key])


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS: rows of left with a match in right (not in reference;
    part of the general-engine surface, SURVEY.md §2.5)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS: rows of left without a match in right."""
    return left.join(right, on, "left_anti")


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join. ``direction="backward"`` (default): each left row
    picks up the value columns of the LATEST right row with
    ``right_ts <= left_ts`` for the same key (NULLs when no prior
    right row exists) — the time-series point-in-time lookup Spark
    has no built-in for. ``direction="forward"``: the EARLIEST right
    row with ``right_ts >= left_ts`` (the "next quote/fill after the
    order" lookup) — the identical one-exchange machinery with the
    sort reversed.

    Spark-first rewrite (no pair materialization): union both sides
    tagged, sort within each key by (ts, side) — right sorts before
    left at equal ts, giving <= semantics — and forward-fill the right
    values with ``last(ignorenulls) over rowsBetween(unbounded, 0)``.
    ONE shuffle-sort on the key, O(n log n); the naive
    join-then-max-per-row materializes every (left, earlier-right)
    pair — quadratic per key at 100 TB.

    All value columns are forward-filled as ONE struct, so they always
    come from the same right row: a NULL inside the latest matching
    right row is preserved (never backfilled from an older row), which
    is what DuckDB's native ASOF JOIN — the oracle twin — also does.
    Equal right timestamps within a key are tie-broken inside the same
    sort (greatest row by ``value_cols`` ordering wins, deterministic —
    no extra collapse aggregate, so the whole operator is exactly one
    exchange)."""
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        raise ValueError(f"value_cols collide with left columns: {clash}; alias them first")
    r1 = right.select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *value_cols,
    )
    l1 = left.select(
        "*", F.col(left_ts).alias("__ts"), F.lit(1).alias("__side")
    )
    merged = l1.unionByName(r1, allowMissingColumns=True)
    # forward = the same fill over the REVERSED time order; right rows
    # still sort before left at equal ts (__side asc), so the match
    # stays inclusive. value_cols stay ASC in both directions: within
    # an equal-ts right group the LAST row scanned wins the fill, so
    # asc ⇒ greatest-by-value wins — one tie rule for both directions
    # (oracle twin: collapse equal-ts right rows with max()).
    if direction == "backward":
        order = [F.col("__ts").asc(), F.col("__side").asc()] + [
            F.col(c).asc() for c in value_cols
        ]
    else:
        order = [F.col("__ts").desc(), F.col("__side").asc()] + [
            F.col(c).asc() for c in value_cols
        ]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # wrap the right row's values in a struct before filling: the struct
    # is non-NULL for every right row (even when fields are NULL), so
    # last(ignorenulls) picks whole rows, never mixes columns across rows
    right_row = F.when(
        F.col("__side") == 0, F.struct(*[F.col(c) for c in value_cols])
    )
    filled = merged.select(
        *[c for c in left.columns],
        "__side",
        F.last(right_row, ignorenulls=True).over(w).alias("__asof"),
    )
    return filled.filter(F.col("__side") == 1).select(
        *[c for c in left.columns],
        *[F.col("__asof").getField(c).alias(c) for c in value_cols],
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_bound: str,
    upper_bound: str | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Interval/range join: pair left rows with right rows of the same
    key whose timestamp falls in ``[left_ts - lower_bound, left_ts]``
    (or ``[left_ts - lower_bound, left_ts + upper_bound]``).

    Declared as an equi-join on (key, time-bucket) — each left row
    explodes to the buckets its interval touches, the right side maps
    to its single bucket — plus the exact range filter. The equi
    component keeps Catalyst on a hash join partitioned by
    (key, bucket); a range-only condition would degenerate to
    BroadcastNestedLoopJoin, which cannot scale past a broadcastable
    side. Pick ``bucket_seconds`` ~ the interval width so each left
    row lands in O(1) buckets."""

    def bucket_of(col):
        # timestamp -> epoch seconds -> bucket ordinal; the intermediate
        # cast("timestamp") lifts TIMESTAMP_NTZ (how Spark 4 reads
        # parquet TIMESTAMP(MICROS) without a tz marker) to the session
        # timestamp type, which *is* castable to double — NTZ is not
        return F.floor(col.cast("timestamp").cast("double") / bucket_seconds).cast("long")

    start = F.col(left_ts) - F.expr(f"INTERVAL {lower_bound}")
    end = (
        F.col(left_ts) + F.expr(f"INTERVAL {upper_bound}")
        if upper_bound
        else F.col(left_ts)
    )
    l2 = (
        left.withColumn("__start", start)
        .withColumn("__end", end)
        .withColumn(
            "__bucket",
            F.explode(F.sequence(bucket_of(F.col("__start")), bucket_of(F.col("__end")))),
        )
    )
    r1 = right.withColumn("__bucket", bucket_of(F.col(right_ts)))
    joined = l2.join(r1, [on, "__bucket"]).filter(
        (F.col(right_ts) >= F.col("__start")) & (F.col(right_ts) <= F.col("__end"))
    )
    return joined.drop("__bucket", "__start", "__end")


# join types under which every output row carries a fact row, so the
# dim side's salt replication can never surface as a duplicate
_FACT_PRESERVING = frozenset({
    "inner", "cross",
    "left", "left_outer", "leftouter",
    "left_semi", "leftsemi", "semi",
    "left_anti", "leftanti", "anti",
})


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_from: str,
    nsalts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated shuffle equi-join: the fact side gets a
    DETERMINISTIC salt (xxhash64 of ``salt_from`` mod ``nsalts`` —
    a column that VARIES WITHIN a join key, e.g. the fact's line
    number; salting by the key itself would re-collapse every hot
    key into one bucket) and the dimension side is replicated
    ``nsalts``× via an exploded sequence, so each hot join key fans
    out over ``nsalts`` reducers instead of landing on one. Join
    condition (key, salt) — exactly the manual form of what AQE's
    skew-join split does at runtime, for when the skew is known ahead
    of time (profile_key_skew is the decision input) or AQE's
    post-shuffle stats can't see it.

    Result rows are identical to the plain join (salting only changes
    WHERE rows meet, never which rows match) — the property the
    oracle twin checks. Cost: dim side is shuffled ``nsalts``× larger;
    worth it when the hot key's single-reducer time dominates. The
    broadcast hint is deliberately absent — salting only applies to
    shuffle joins (a broadcast join has no reducer to skew).

    ``how`` is restricted to fact-preserving types: every dim row is
    replicated ``nsalts``×, so a right/full outer join would emit each
    unmatched dim row once per salt — those types raise instead of
    silently over-counting."""
    if how not in _FACT_PRESERVING:
        raise ValueError(
            f"salted_join supports fact-preserving joins only "
            f"({sorted(_FACT_PRESERVING)}); got {how!r} — dim replication "
            f"would duplicate unmatched dim rows"
        )
    f = fact.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col(salt_from)), F.lit(nsalts)).cast("int"),
    )
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(nsalts - 1)))
    )
    return f.join(d.hint("shuffle_hash"), [key, "__salt"], how).drop("__salt")


def point_in_interval_join(
    points: DataFrame,
    ts_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    grain: str = "day",
    how: str = "inner",
) -> DataFrame:
    """Bucketed point-in-interval join: each interval EXPLODES into the
    grain buckets it covers and points join EQUI on their own bucket,
    with the exact range predicate left as a residual filter. The
    naive form (``p.ts BETWEEN i.start AND i.end``) is a pure
    inequality join — a nested-loop / broadcast-NL plan that reads
    |points|·|intervals| pairs and is the canonical time-join
    scale-killer; bucketing turns it into ONE hash shuffle keyed on
    the grain, with fan-out bounded by each interval's span in grain
    units (callers pick the grain to match typical span: day-grain
    for day-scale intervals).

    Interval columns must be grain-aligned or coarser than the points
    they should catch at the residual filter; end is INCLUSIVE at
    grain resolution (the residual keeps ts < end + 1 grain)."""
    ival = intervals.withColumn(
        "__bucket",
        F.explode(
            F.expr(
                f"sequence(date_trunc('{grain}', {start_col}),"
                f" date_trunc('{grain}', {end_col}),"
                f" interval 1 {grain})"
            )
        ),
    )
    pts = points.withColumn(
        "__bucket", F.date_trunc(grain, F.col(ts_col))
    )
    return (
        pts.join(ival, "__bucket", how)
        .filter(
            (F.col(ts_col) >= F.col(start_col))
            & (
                F.col(ts_col)
                < F.col(end_col) + F.expr(f"interval 1 {grain}")
            )
        )
        .drop("__bucket")
    )


def interval_overlap_topk(
    intervals: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
    k: int = 100,
    bucket_s: int = 3600,
) -> DataFrame:
    """Interval-OVERLAP join (range x range, no equi key): pairs of
    DIFFERENT keys whose [start, end] intervals intersect, rolled up
    to the top-k key pairs by total overlap time — the concurrency /
    double-booking / co-presence shape that a naive implementation
    writes as a cartesian range join.

    Grid trick: each interval explodes into the epoch buckets it
    covers (``bucket_s``, default 1 h), candidates equi-join on the
    bucket, and each true pair is COUNTED EXACTLY ONCE without any
    distinct: the pair is kept only in the bucket containing
    greatest(start_1, start_2) — both intervals necessarily cover the
    overlap start, so that bucket exists, is unique, and dedupes for
    free. Candidate volume is sum over buckets of (intervals active
    in bucket)^2 — bounded by real concurrency, never n^2 over the
    table; size buckets to typical interval length.

    Overlap time is integer microsecond arithmetic on copied
    timestamps (exact cross-engine); the top-k cut orders by the
    exact integer total, then key pair."""
    def b_of(col):
        return F.floor(col.cast("double") / F.lit(float(bucket_s))).cast(
            "long"
        )

    expl = intervals.select(
        key,
        start_col,
        end_col,
        F.explode(
            F.sequence(b_of(F.col(start_col)), b_of(F.col(end_col)))
        ).alias("__b"),
    )
    a = expl.select(
        F.col(key).alias("u1"),
        F.col(start_col).alias("__s1"),
        F.col(end_col).alias("__e1"),
        "__b",
    )
    b = expl.select(
        F.col(key).alias("u2"),
        F.col(start_col).alias("__s2"),
        F.col(end_col).alias("__e2"),
        F.col("__b").alias("__b2"),
    )
    ov_start = F.greatest(F.col("__s1"), F.col("__s2"))
    ov_end = F.least(F.col("__e1"), F.col("__e2"))
    j = a.join(
        b, (F.col("__b") == F.col("__b2")) & (F.col("u1") < F.col("u2"))
    ).filter(
        (F.col("__s1") <= F.col("__e2"))
        & (F.col("__s2") <= F.col("__e1"))
        & (F.col("__b") == b_of(ov_start))
    )
    agg = j.groupBy("u1", "u2").agg(
        F.count("*").alias("n_overlaps"),
        F.sum(F.unix_micros(ov_end) - F.unix_micros(ov_start))
        .cast("bigint")
        .alias("overlap_us"),
    )
    return agg.orderBy(
        F.col("overlap_us").desc(), F.col("u1"), F.col("u2")
    ).limit(k)
