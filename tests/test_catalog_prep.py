"""Session prep registry: one entry per (session, corpus, prep), refilled
when its cached data is dropped, never duplicated by repeat queries."""

from __future__ import annotations

from pyspark import StorageLevel

from gcpdatapipelines_spark import queries as Q
from tests.conftest import SF_SMOKE


def test_prep_is_persisted_again_after_clear_cache(spark):
    """spark.catalog.clearCache() drops the data of a stored prep frame;
    the next call must hand back a persisted frame, not the stale entry
    that every consumer would silently recompute."""
    sh = Q._doc_shingles(spark, SF_SMOKE)
    assert sh.storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert sh.storageLevel == StorageLevel.NONE
    again = Q._doc_shingles(spark, SF_SMOKE)
    assert again is sh
    assert again.storageLevel != StorageLevel.NONE


def test_repeat_prep_queries_persist_nothing_new(spark):
    """A second call of a prep-reading catalog query reuses the
    session's persisted frames: the persisted RDD count stays put."""
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    for name in ("dedup_jaccard_prefix", "sim_srp_lsh"):
        query = Q.SPARK_QUERIES[name]
        query(spark, SF_SMOKE).collect()
        persisted = jsc.getPersistentRDDs().size()
        query(spark, SF_SMOKE).collect()
        assert jsc.getPersistentRDDs().size() == persisted, name


# ---------------------------------------------------------------------------
# shared token cache: its doc_id partitioning feeds consumers shuffle-free
# ---------------------------------------------------------------------------


def test_doc_tokens_cache_partitioning_feeds_groupby(spark, sf_dir):
    """The _doc_tokens prep repartitions by doc_id ONCE at cache fill;
    every consumer aggregating on doc_id must reuse that partitioning
    with ZERO additional exchanges (the r8 change's whole point — one
    cheap narrow-row shuffle before a many-pass cache). The registry
    re-persists an entry an earlier test's spark.catalog.clearCache()
    dropped, so the plan always has an InMemoryRelation to anchor on."""
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark import queries as Q

    toks = Q._doc_tokens(spark, sf_dir)
    agg = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryRelation" in plan, plan
    # consumer side = everything above the cached relation: no shuffle
    outer = plan.split("InMemoryRelation")[0]
    assert "Exchange" not in outer, outer
    # and the cache itself carries the doc_id hash partitioning
    assert "hashpartitioning(doc_id" in plan
