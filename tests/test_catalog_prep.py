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
