"""Isolated per-query benchmark: min/median of N passes per query in a
fresh session, for adjudicating driver-bench outliers against host
noise (r8 verdict: solo-verify the weak queries on a quiet host).

    python tools/solo_bench.py [--reps N] [--sf DIR] [--prewarm] q1 [q2 ...]

Prints one JSON line per query: {"query": ..., "times": [...],
"jobs": [...], "min": ..., "median": ...}. Each repetition runs under
the Spark job group ``<query>#<rep>``; ``jobs[i]`` is the number of
Spark jobs repetition ``i`` started (schema probes and eager
build-time actions included).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcpdatapipelines_spark import io
from gcpdatapipelines_spark.session import get_spark

import __spark_entry__ as entry_mod


def job_counts(sc, groups: list[str]) -> list[int]:
    """Spark jobs started under each job group. The status tracker is
    fed asynchronously by the listener bus, which delivers job starts
    in order: once a marker job run after the groups is visible, so is
    every job of theirs."""
    marker = f"solo-bench-marker-{uuid.uuid4().hex}"
    sc.setJobGroup(marker, marker)
    sc.parallelize([0], 1).count()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    return [len(tracker.getJobIdsForGroup(g)) for g in groups]


def main() -> None:
    args = sys.argv[1:]
    reps, sf_dir, do_prewarm = 5, "/root/testdata/sf0.1", False
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        elif args[i] == "--prewarm":
            do_prewarm = True; i += 1
        else:
            names.append(args[i]); i += 1
    spark = get_spark("solo-bench")
    spark.range(1_000_000).selectExpr("sum(id) AS s").write.mode(
        "overwrite"
    ).format("noop").save()
    io.read_table(spark, sf_dir, "region").write.mode("overwrite").format("noop").save()
    if do_prewarm and hasattr(entry_mod, "prewarm"):
        entry_mod.prewarm(spark, sf_dir)
    queries = entry_mod.queries()
    sc = spark.sparkContext
    for name in names:
        fn = queries[name]
        times, groups = [], []
        for rep in range(reps):
            groups.append(f"{name}#{rep}")
            sc.setJobGroup(groups[-1], f"solo_bench {name} repetition {rep}")
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            times.append(round(time.time() - t0, 3))
        print(
            json.dumps(
                {
                    "query": name,
                    "sf_dir": sf_dir,
                    "prewarm": do_prewarm,
                    "times": times,
                    "jobs": job_counts(sc, groups),
                    "min": min(times),
                    "median": round(statistics.median(times), 3),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
