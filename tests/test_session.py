"""Session sizing and engine confs: cores, shuffle partitions and the
driver heap come from the host; only session.py writes session confs."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = pathlib.Path(__file__).resolve().parents[1] / "gcpdatapipelines_spark"

_PROBE = """
import json
from gcpdatapipelines_spark.session import get_spark
spark = get_spark("session-sizing")
print(json.dumps([spark.sparkContext.master,
                  spark.conf.get("spark.sql.shuffle.partitions"),
                  spark.sparkContext.getConf().get("spark.driver.memory")]))
spark.stop()
"""


def _probe(unset, **env):
    """[master, shuffle partitions, driver memory] of a get_spark
    session built in a fresh process without the env vars in unset."""
    env = {k: v for k, v in os.environ.items() if k not in unset} | env
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_cores_default_to_cpu_affinity():
    """With SPARK_GRAFT_CPUS unset, get_spark runs local[<affinity>]
    with as many shuffle partitions as the process may use cores."""
    master, partitions, _ = _probe(
        ("SPARK_GRAFT_CPUS", "SPARK_MASTER"), SPARK_GRAFT_DRIVER_MEM="1g"
    )
    cores = len(os.sched_getaffinity(0))
    assert master == f"local[{cores}]"
    assert partitions == str(cores)


def test_driver_heap_defaults_to_half_of_physical_memory():
    """With SPARK_GRAFT_DRIVER_MEM unset, the driver heap (which holds
    every local[N] executor thread) fits in half of the host's RAM."""
    heap = _probe(("SPARK_GRAFT_DRIVER_MEM",))[2].lower()
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    heap_bytes = int(heap[:-1]) * units[heap[-1]]
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap_bytes <= physical // 2, (heap, physical)


# ---------------------------------------------------------------------------
# no global conf writes from inside operators
# ---------------------------------------------------------------------------


def test_no_session_conf_writes_in_operators():
    """An operator silently flipping a session-wide OPTIMIZER conf is
    a landmine for co-resident workloads; the session factory owns all
    performance-conf decisions. Allowed exceptions, by name: the two
    correctness-mandatory source confs in io.read_table (UTC session
    tz + nanosAsLong — the driver builds its own session, and without
    them TIMESTAMP(NANOS)/NTZ scans decode wrong values; both are
    idempotent value pins, documented in the docstring, never
    performance knobs)."""
    allowed = {
        "io.py": {
            'spark.conf.set("spark.sql.session.timeZone", "UTC")',
            'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")',
        }
    }
    offenders = []
    for p in PKG.rglob("*.py"):
        if p.name == "session.py":
            continue
        for line in p.read_text().splitlines():
            if ".conf.set(" in line and line.strip() not in allowed.get(p.name, set()):
                offenders.append((p.name, line.strip()))
    assert offenders == []


# ---------------------------------------------------------------------------
# foreign-session conf repair: the driver builds its OWN SparkSession
# ---------------------------------------------------------------------------


def test_engine_confs_repinned_on_foreign_session(spark):
    """With constraint inference enabled, Catalyst's canonicalization
    recurses over the unrolled 64-term chains and overflows the
    analysis stack BEFORE any task runs (measured r8) — so operators
    and the catalog's table loader must re-pin the conf on sessions
    the engine did not build. session.ensure_engine_confs is the one
    write site; this simulates the driver's session by flipping the
    conf on."""
    from gcpdatapipelines_spark.operators.similarity import (
        _check_constraint_propagation,
    )
    from gcpdatapipelines_spark.session import ensure_engine_confs

    key = "spark.sql.constraintPropagation.enabled"
    try:
        spark.conf.set(key, "true")
        ensure_engine_confs(spark)
        assert spark.conf.get(key) == "false"
        spark.conf.set(key, "true")
        _check_constraint_propagation(spark)  # operator-side entry
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "false")


# ---------------------------------------------------------------------------
# engine-session codegen-cache confs (r10 cold-pass work)
# ---------------------------------------------------------------------------


def test_engine_session_codegen_cache_confs(spark):
    """Engine-built sessions must carry the first-run-latency confs
    from the r10 cold-pass profiling: a widened janino class cache
    (default 100 entries evicts cross-query shared fragments — 4453
    vs 3116 unique compiles over the catalog cold pass) and constant
    generated-class names (the per-plan stage ID otherwise defeats
    the source-keyed compile cache: 3116 -> 2653). Both change
    compile-cache behavior only, never results."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_engine_session_turns_dataframe_debugging_off(spark):
    """PySpark's call-site capture costs about 10 py4j round trips per
    DataFrame or Column call and is read once per process, so the
    engine session turns it off at build time."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
