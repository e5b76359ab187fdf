from __future__ import annotations

import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcpdatapipelines_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


def jobs_started_by(spark, fn):
    """(fn(), number of Spark jobs fn started), counted per job group
    with the status tracker. A one-task marker job runs in a second
    group after fn: the listener bus delivers job starts in order, so
    once the marker is visible every job fn started is visible too."""
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    group, marker = f"jobs-{tag}", f"jobs-marker-{tag}"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def planted_docs(spark, n_clusters=40, dup_per_cluster=4, n_unique=120):
    """Corpus with planted near-duplicate clusters: each cluster shares
    one base sentence with a tiny per-member suffix tweak; uniques are
    all distinct word streams. Vocabulary is wide so unrelated docs
    share almost no 5-gram shingles."""
    rows = []
    doc_id = 0
    for c in range(n_clusters):
        base = " ".join(f"w{c}x{i} token{c} common{i}" for i in range(12))
        for d in range(dup_per_cluster):
            rows.append((doc_id, f"{base} tail{c} variant{d}"))
            doc_id += 1
    for u in range(n_unique):
        rows.append((doc_id, " ".join(f"u{u}q{i} solo{u}z{i}" for i in range(14))))
        doc_id += 1
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING"), doc_id
