"""Skew mitigation for joins and aggregations.

At 100 TB a handful of hot keys (the null key, a default value, a
celebrity user) can put one shuffle partition orders of magnitude above
the rest and stall the stage on a single straggler task. Two standing
answers, both pure DataFrame ops:

- AQE skew-join (on in session.py): Spark splits oversized partitions
  at runtime. Covers sort-merge joins it can see.
- Salting: explicit key-space spreading for the cases AQE can't fix.
  Aggregations over hot keys salt here (:func:`salted_count_per_key`);
  joins where the runtime split doesn't apply use
  ``joins.salted_join``, whose fact side scatters each key over
  deterministic salts while the dimension side replicates per salt.
  Results are identical to the unsalted op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantile_repartition(
    df: DataFrame,
    col: str,
    num_partitions: int = 32,
    rel_err: float = 0.001,
) -> DataFrame:
    """Equal-frequency repartition on a skewed numeric column: one
    approxQuantile pass computes ``num_partitions`` equal-count bucket
    boundaries (bounded driver-side metadata — NOTES.md), rows are
    assigned a bucket with a literal comparison chain, and a value so
    hot it spans multiple quantile buckets is SCATTERED uniformly
    across all the buckets it spans.

    That last part is the point: ``repartitionByRange`` must keep
    equal keys in one partition (its contract is a total sort order),
    so a value holding 30% of a 100 TB table becomes one 30 TB
    partition no matter how many partitions you ask for. Here the
    output is not sorted — it is sized: every partition carries ~1/Nth
    of the rows, which is what parquet file sizing and downstream
    per-partition memory actually need.

    NULLs sort below every boundary (bucket 0). Result content is
    identical to the input; only the layout changes.
    """
    if num_partitions < 2:
        return df.coalesce(1)
    qs = [i / num_partitions for i in range(1, num_partitions)]
    bounds = df.stat.approxQuantile(col, qs, rel_err)
    from collections import Counter

    mult = Counter(bounds)
    uniq = sorted(mult)
    if not uniq:  # all-NULL or empty input: nothing to range over
        return df.repartition(num_partitions)
    x = F.col(col)
    # buckets strictly below x: each distinct boundary contributes its
    # multiplicity (a boundary repeated m times means some value fills
    # m whole buckets)
    base = None
    for b in uniq:
        t = (x > F.lit(float(b))).cast("int") * F.lit(mult[b])
        base = t if base is None else base + t
    # how many buckets does x itself span? >1 only when x equals a
    # repeated boundary — the heavy-value case we scatter over
    width = F.lit(1)
    for b, m in mult.items():
        if m > 1:
            width = F.when(x == F.lit(float(b)), F.lit(m)).otherwise(width)
    scatter = F.pmod(
        F.xxhash64(F.spark_partition_id() + F.monotonically_increasing_id()), width
    )
    bucket = F.coalesce(base + scatter, F.lit(0))
    return (
        df.withColumn("__qb", bucket)
        .repartitionByRange(num_partitions, F.col("__qb"))
        .drop("__qb")
    )


def salted_count_per_key(
    df: DataFrame, key: str, salt_buckets: int = 8, alias: str = "cnt"
) -> DataFrame:
    """Two-phase aggregation for hot keys: count per (key, salt) first
    (spreads the hot key over salt_buckets partitions), then sum the
    partials per key. Identical result to a direct groupBy(key).count().

    Note Spark's hash aggregate already does map-side partial combine,
    which handles most skew for algebraic aggregates; explicit salting
    matters for high-cardinality-payload aggs (collect_list, distinct
    counts) where partials stay large."""
    partial = (
        df.withColumn("__salt", F.crc32(F.col(key).cast("string")) % salt_buckets)
        .groupBy(key, "__salt")
        .agg(F.count("*").alias("__partial"))
    )
    return partial.groupBy(key).agg(F.sum("__partial").alias(alias))


def heavy_hitters(
    df: DataFrame,
    value_expr,
    k: int = 80,
    out_col: str = "item",
) -> DataFrame:
    """(item, n): every value whose exact count exceeds n/k, found via
    per-partition Misra-Gries summaries + an exact recount — the
    bounded-memory heavy-hitter shape for 100 TB streams where a full
    GROUP BY over the value space is too wide to hold.

    Why it is EXACT (and shares the plain GROUP BY ... HAVING oracle):
    an item with global count > n/k must exceed n_p/k in at least one
    partition p (else summing the per-partition bounds caps it at
    n/k), and Misra-Gries with k-1 counters keeps a positive counter
    for every item above n_p/k — so the union of all partition
    summaries is a guaranteed SUPERSET of the true heavy hitters. The
    candidates (<= partitions * (k-1) rows, bounded metadata) are
    exactly recounted with one broadcast semi-join + hash aggregate,
    and false candidates fall to the threshold filter. Lossless
    pruning, same trick as dedup_jaccard_prefix.

    Scale shape: one Arrow-batched pass per partition holding k-1
    counters (nothing data-sized in Python memory), one tiny union,
    one recount aggregate over the surviving keys only."""
    import pandas as pd

    src = df.select(value_expr.cast("string").alias(out_col))

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[out_col].value_counts().items():
                # fold this batch's exact counts into the MG summary
                if v in counters or len(counters) < k - 1:
                    counters[v] = counters.get(v, 0) + int(c)
                else:
                    # decrement all by the largest amount that keeps
                    # the guarantee: min(new count, smallest counter)
                    dec = min(int(c), min(counters.values()))
                    counters = {
                        key_: cnt - dec
                        for key_, cnt in counters.items()
                        if cnt - dec > 0
                    }
                    rem = int(c) - dec
                    if rem > 0 and len(counters) < k - 1:
                        counters[v] = rem
        if counters:
            yield pd.DataFrame({out_col: list(counters.keys())})

    cand = src.mapInPandas(mg_partition, f"{out_col} string").distinct()
    total = src.count()
    return (
        src.join(F.broadcast(cand), out_col, "left_semi")
        .groupBy(out_col)
        .agg(F.count("*").alias("n"))
        .where(F.col("n") * F.lit(int(k)) > F.lit(int(total)))
    )
