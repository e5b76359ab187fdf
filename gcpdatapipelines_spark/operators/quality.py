"""Data-quality expectations: declarative checks evaluated in ONE scan.

The ingest gate a production loader runs before publishing a load
(the reference pipelines assume clean input — csv_to_bq.py:14-20;
read_csv_with_rejects quarantines unparseable rows, this validates the
rows that DID parse): null rates, uniqueness, value ranges, set
membership, referential integrity.

Scale shape: every row-local rule compiles to a conditional-sum over
one shared scan (a single partial+final aggregate regardless of rule
count); uniqueness adds one count(DISTINCT key); referential checks
add one anti-join probe per referenced dimension (broadcast when the
dimension is small). Output is one (rule, n_violations, passed) row
per rule — the artifact a pipeline asserts on before writing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from .portable import trunc_dp


def not_null(col: str) -> tuple[str, Column]:
    return (f"not_null({col})", F.col(col).isNull())


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    return (
        f"in_range({col},{lo},{hi})",
        F.col(col).isNull() | (F.col(col) < lo) | (F.col(col) > hi),
    )


def in_set(col: str, allowed: list) -> tuple[str, Column]:
    return (f"in_set({col})", ~F.col(col).isin(allowed) | F.col(col).isNull())


def matches(col: str, pattern: str) -> tuple[str, Column]:
    """Violation when the column does NOT fully match the regex (RE2 ∩
    Java subset for oracle parity)."""
    return (f"matches({col})", ~F.col(col).rlike(pattern) | F.col(col).isNull())


def quality_checks(
    df: DataFrame,
    row_rules: list[tuple[str, Column]] | None = None,
    unique: list[str] | None = None,
    references: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """Evaluate rules and emit (rule, n_violations, passed) per rule.

    ``row_rules``: (name, violation_predicate) pairs — one shared
    aggregate pass. ``unique``: columns that must be row-unique
    (violations = n_rows - n_distinct, NULLs count as violations).
    ``references``: name -> (dim_df, dim_key): child rows whose value
    misses the dimension (anti-join count; NULL child keys violate)."""
    frames = []
    aggs = []
    names = []
    for name, viol in row_rules or []:
        aggs.append(F.sum(F.when(viol, 1).otherwise(0)).alias(name))
        names.append(name)
    for col in unique or []:
        aggs.append(
            (F.count("*") - F.count_distinct(F.col(col))).alias(f"unique({col})")
        )
        names.append(f"unique({col})")
    if aggs:
        wide = df.agg(*aggs)
        parts = ", ".join(f"'{n}', `{n}`" for n in names)
        frames.append(
            wide.selectExpr(f"stack({len(names)}, {parts}) AS (rule, n_violations)")
        )
    for col, (dim, dim_key) in (references or {}).items():
        missing = df.select(F.col(col)).join(
            F.broadcast(dim.select(F.col(dim_key).alias(col)).distinct()),
            col,
            "left_anti",
        )
        frames.append(
            missing.agg(F.count("*").alias("n_violations")).select(
                F.lit(f"references({col})").alias("rule"), "n_violations"
            )
        )
    if not frames:
        raise ValueError("no rules given")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.withColumn("passed", F.col("n_violations") == 0)


def fk_orphan_audit(
    pairs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """(relation, n_child, n_orphans, orphan_rate): referential-
    integrity audit over (name, child, fk_col, parent, pk_col)
    specs — orphaned foreign keys are the first thing a broken
    ingest/delete pipeline produces. Each relation costs one child
    aggregate plus one DISTINCT-key anti-join probe (the distinct
    keyset is dimension-sized, so the probe broadcasts); results
    union into one report frame.

    Parity: counts + one fixed double division."""
    outs = []
    for name, child, fk, parent, pk in pairs:
        keys = child.select(F.col(fk).alias("__k"))
        orphans = keys.join(
            parent.select(F.col(pk).alias("__k")).distinct(), "__k", "left_anti"
        )
        outs.append(
            keys.agg(F.count("*").alias("n_child")).crossJoin(
                orphans.agg(F.count("*").alias("n_orphans"))
            ).select(
                F.lit(name).alias("relation"),
                "n_child",
                "n_orphans",
                trunc_dp(
                    F.col("n_orphans").cast("double") / F.col("n_child"), 6
                ).alias("orphan_rate"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """(digit, n, observed, expected, deviation): first-significant-
    digit distribution of a positive numeric column against Benford's
    law — the classic fraud / synthetic-data / unit-mixup smell test
    (organic multiplicative quantities follow log10(1 + 1/d); uniform
    generators and fabricated figures don't).

    The leading digit comes from the decimal STRING form (portable —
    no log-floor arithmetic whose edge cases differ); expected and
    deviation are one fixed double chain. One hash aggregate onto nine
    rows; the percent columns window over that aggregate."""
    from pyspark.sql import Window

    digit = F.substring(
        F.regexp_replace(F.abs(F.col(value_col)).cast("string"), "[0.]", ""),
        1,
        1,
    ).cast("int")
    per = (
        df.filter(F.col(value_col).isNotNull() & (F.col(value_col) != 0))
        .groupBy(digit.alias("digit"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy()
    observed = F.col("n").cast("double") / F.sum("n").over(w)
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return per.select(
        "digit",
        "n",
        trunc_dp(observed, 6).alias("observed"),
        trunc_dp(expected, 6).alias("expected"),
        trunc_dp(observed - expected, 6).alias("deviation"),
    )


def snapshot_drift(
    a: DataFrame,
    b: DataFrame,
    columns: list[str],
) -> DataFrame:
    """(column, metric, before, after): per-column profile drift
    between two snapshots of one table — the schema-stability audit
    run before promoting an ingest (null rates creeping up, a
    categorical column's cardinality exploding, a numeric range
    shifting are all upstream-breakage smells that row counts miss).

    Metrics per column: null_rate (6 dp), n_distinct, min, max — min
    and max carried as canonical strings so every column type shares
    one report schema (numerics via the default cast — both engines
    print DOUBLE shortest-roundtrip — and timestamps via an explicit
    ISO format).

    Scale shape (r11, r10 verdict #6): k count(DISTINCT c) in one
    aggregate make Catalyst Expand every row k+1 ways and SORT the
    expanded fact (SortAggregate — string min/max buffers are not
    hash-aggregable), so the r10 plan sorted 5x the snapshot per side.
    Split instead into (1) one expand-free aggregate pass for
    count/nulls/min/max — the fact is scanned, never sorted, never
    expanded — and (2) one unpivoted distinct count: stack the k
    columns to (col_idx, value-as-string) rows, aggregate to distinct
    (col_idx, value) — partial map-side, the exchange carries distinct
    values only — then count per col_idx. Cast-to-string is injective
    for every primitive type (strings identity; integers, decimals,
    doubles and timestamps print shortest-roundtrip/canonically), so
    the distinct counts are identical to count(DISTINCT c); equality
    with the one-pass formulation is pinned by the oracle twin. The
    one value equality that printing would split is signed zero:
    aggregation counts 0.0 and -0.0 as one value, so float and double
    columns map -0.0 to 0.0 before the cast."""
    def _as_string(df: DataFrame, c: str) -> Column:
        col = F.col(c)
        dtype = df.schema[c].dataType
        if isinstance(dtype, (DoubleType, FloatType)):
            # -0.0 == 0 is true, so this folds signed zero; NaN passes through
            col = F.when(col == 0, F.lit(0.0).cast(dtype)).otherwise(col)
        return col.cast("string")

    def _agg(df: DataFrame) -> DataFrame:
        aggs = [F.count("*").alias("__n")]
        for c in columns:
            aggs += [
                F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null_{c}"),
                F.min(c).cast("string").alias(f"__min_{c}"),
                F.max(c).cast("string").alias(f"__max_{c}"),
            ]
        return df.agg(*aggs)

    def _nd(df: DataFrame) -> DataFrame:
        stacked = df.select(
            F.posexplode(
                F.array(*[_as_string(df, c) for c in columns])
            ).alias("__ci", "__val")
        )
        per_col = (
            stacked.groupBy("__ci", "__val")
            .agg(F.lit(1).alias("__one"))
            .groupBy("__ci")
            .agg(F.count("__val").alias("__nd"))
        )
        return per_col.agg(
            *[
                F.coalesce(
                    F.sum(F.when(F.col("__ci") == i, F.col("__nd"))),
                    F.lit(0).cast("long"),
                ).alias(f"__nd_{c}")
                for i, c in enumerate(columns)
            ]
        )

    ga = _agg(a).crossJoin(_nd(a))
    gb = _agg(b).crossJoin(_nd(b))
    joined = ga.crossJoin(
        gb.select([F.col(c).alias(c + "_b") for c in gb.columns])
    )
    rows = []
    for c in columns:
        rows += [
            F.struct(
                F.lit(c).alias("column"),
                F.lit("null_rate").alias("metric"),
                trunc_dp(
                    F.col(f"__null_{c}").cast("double") / F.col("__n"), 6
                ).cast("string").alias("before"),
                trunc_dp(
                    F.col(f"__null_{c}_b").cast("double") / F.col("__n_b"), 6
                ).cast("string").alias("after"),
            ),
            F.struct(
                F.lit(c).alias("column"),
                F.lit("n_distinct").alias("metric"),
                F.col(f"__nd_{c}").cast("string").alias("before"),
                F.col(f"__nd_{c}_b").cast("string").alias("after"),
            ),
            F.struct(
                F.lit(c).alias("column"),
                F.lit("min").alias("metric"),
                F.col(f"__min_{c}").alias("before"),
                F.col(f"__min_{c}_b").alias("after"),
            ),
            F.struct(
                F.lit(c).alias("column"),
                F.lit("max").alias("metric"),
                F.col(f"__max_{c}").alias("before"),
                F.col(f"__max_{c}_b").alias("after"),
            ),
        ]
    return joined.select(
        F.explode(F.array(*rows)).alias("__r")
    ).select("__r.column", "__r.metric", "__r.before", "__r.after")


def partition_digest(
    df: DataFrame,
    partition_expr,
    cols: list,
    partition_name: str = "part",
) -> DataFrame:
    """(part, n_rows, digest): order-free per-partition content
    fingerprint — each row hashes to a portable 60-bit value
    (md5-prefix of the '|'-joined canonical column strings) and the
    partition digest is the XOR-fold of its row hashes. XOR is
    commutative/associative, so the digest is partitioning- and
    order-independent, mergeable (digest of a union = XOR of
    digests), and ONE partial+final aggregate computes every
    partition's fingerprint in a single scan — the cheap
    change-detection primitive for incremental sync (same digest ⇒
    skip the partition; compare against yesterday's digest table
    instead of diffing rows).

    Callers pass canonical STRING forms in ``cols`` (decimal strings
    for money, explicit date_format for timestamps — raw double/ts
    casts format differently across engines)."""
    joined = F.concat_ws("|", *cols)
    h = F.conv(F.substring(F.md5(joined.cast("binary")), 1, 15), 16, 10).cast(
        "long"
    )
    return (
        df.select(partition_expr.alias(partition_name), h.alias("__h"))
        .groupBy(partition_name)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("bit_xor(__h)").alias("digest"),
        )
    )
