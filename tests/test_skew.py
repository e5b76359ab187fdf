"""operators/skew.py: heavy hitters."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def test_heavy_hitters_exact_on_skewed_data(spark):
    """MG candidates + exact recount == plain GROUP BY ... HAVING, on a
    Zipf-ish corpus with distinct values >> the k-1 counters (so the
    summaries really decrement), across an adversarial partitioning."""
    from gcpdatapipelines_spark.operators.skew import heavy_hitters

    rng = random.Random(11)
    # ~60 distinct items, zipf-ish counts; k=12 -> 11 counters
    vals = [int(rng.paretovariate(1.2)) % 60 for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "x BIGINT").repartition(9)

    k = 12
    got = {(r["item"], r["n"]) for r in heavy_hitters(df, F.col("x"), k=k).collect()}
    n = len(vals)
    counts: dict = {}
    for v in vals:
        counts[str(v)] = counts.get(str(v), 0) + 1
    want = {(v, c) for v, c in counts.items() if c * k > n}
    assert got == want
    assert want  # the fixture must actually contain heavy hitters
