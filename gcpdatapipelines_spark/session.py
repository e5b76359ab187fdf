"""SparkSession factory tuned for both local testing and cluster scale.

The reference delegates execution to the Beam runner (no engine of its
own — SURVEY.md §4.1); here the equivalent "runner" is one
well-configured SparkSession. Settings chosen so the same code runs on
local[N] for tests and on a 1000-executor cluster unchanged:

- AQE on: runtime re-planning (coalesce post-shuffle partitions,
  dynamically switch to broadcast joins, split skewed partitions).
  This automates the reference's hand-rolled broadcast side-input join
  (reference pipeline.py:61) and its manual project-then-shuffle.
- Arrow on: columnar Python<->JVM transfer for the few Pandas-UDF paths.
- local[N] and shuffle.partitions default to the cores this process
  may run on ($SPARK_GRAFT_CPUS overrides); on a real cluster AQE
  coalesces from a higher initial number, so this is a floor not a
  tuning knob. The driver heap defaults to half of physical memory
  ($SPARK_GRAFT_DRIVER_MEM overrides).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

from .blas import pin_blas_threads

# Conf tag get_spark stamps on sessions it builds, so
# ensure_engine_confs can tell engine-owned sessions from foreign ones
# (a foreign re-pin warns once; an engine session is silent).
_ENGINE_SESSION_TAG = "spark.gcpdatapipelines.engineSession"


# Runtime-mandatory session confs for sessions the engine did NOT
# build (the external driver constructs its own SparkSession — the
# io.read_table precedent). constraintPropagation is in this set
# because it is CORRECTNESS-mandatory for the widened-vector
# operators, not a tuning preference: with inference enabled,
# Catalyst's constraint canonicalization recurses over the unrolled
# 64-term arithmetic chains and overflows the analysis stack
# (measured r8: sim_embedding_neardup at dim=64 dies inside
# getAllValidConstraints before a single task runs). The conf only
# affects optimization effort, never results.
ENGINE_RUNTIME_CONFS = {
    "spark.sql.constraintPropagation.enabled": "false",
}


# appIds already warned about foreign-session conf re-pins (one line
# per session, not per operator call).
_FOREIGN_REPIN_WARNED: set[str] = set()


def ensure_engine_confs(spark: SparkSession) -> None:
    """Pin the engine's runtime-mandatory confs on an externally-built
    session. Idempotent value pins; session.py is the single module
    that owns conf writes (pinned by
    tests/test_session.py::test_no_session_conf_writes_in_operators);
    operators CALL this instead of flipping confs themselves.

    Sessions this module did not build get a ONE-TIME warning when a
    conf is actually re-pinned: the flip is correctness-mandatory for
    the widened-vector operators but permanent and session-global, so
    the session's owner deserves a visible signal that a co-resident
    engine mutated their optimizer settings."""
    for k, v in ENGINE_RUNTIME_CONFS.items():
        try:
            current = spark.conf.get(k, None)
        except Exception:
            current = None
        if current != v:
            if spark.conf.get(_ENGINE_SESSION_TAG, None) != "true":
                app_id = spark.sparkContext.applicationId
                if app_id not in _FOREIGN_REPIN_WARNED:
                    _FOREIGN_REPIN_WARNED.add(app_id)
                    warnings.warn(
                        f"gcpdatapipelines_spark: re-pinning {k}={v} "
                        f"(was {current!r}) on an externally-built "
                        "SparkSession — required by the engine's "
                        "widened-vector operators; affects the whole "
                        "session",
                        RuntimeWarning,
                        stacklevel=2,
                    )
            spark.conf.set(k, v)
    # Foreign sessions also inherit the driver-side BLAS pin (see
    # get_spark) — process-level, idempotent, conf-free.
    pin_blas_threads()


def get_spark(
    app_name: str = "gcpdatapipelines_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a cluster, pass ``master=None`` and let spark-submit decide; in
    tests/bench we default to ``local[$SPARK_GRAFT_CPUS]``. Both that
    and the shuffle partition count default to the number of cores
    this process may run on (its CPU affinity). The driver heap
    defaults to half of physical memory ($SPARK_GRAFT_DRIVER_MEM
    overrides). DataFrame debugging is off: errors carry their class
    and message but not the Python call site that built the failing
    expression.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    heap_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # parquet TIMESTAMP(NANOS) (events.ts) has no Spark type; read as
        # int64 nanos and convert at the source (io.read_table), matching
        # the ns->us truncation every us-based engine applies
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Catalyst's constraint inference is super-linear in the depth
        # of arithmetic chains; the widened-vector operators
        # (similarity.py) unroll 64-term dot products into scalar
        # expressions that stall the optimizer for tens of seconds with
        # it on. The conf only affects optimization effort, never
        # results. Set HERE (session-scoped, visible) rather than from
        # inside operators — an operator silently flipping a global
        # optimizer conf is a landmine for co-resident workloads;
        # operators call ensure_engine_confs (above), which re-pins the
        # value on foreign sessions through this module's single
        # conf-write site.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Whole-stage-codegen class cache (janino) defaults to 100
        # entries. A catalog-sized workload carries hundreds of unique
        # plans, so with the default the compiled fragments SHARED
        # across queries (scan+filter+project shapes, common aggregate
        # stages) are evicted mid-run and recompiled over and over —
        # pure driver-CPU burn that shows up as first-run latency.
        # Static conf (read once at SQL-context init), so it must be
        # set at build time. A compiled fragment is a few KB of class
        # metadata: 4096 entries is tens of MB of metaspace, negligible
        # on any driver that runs this many distinct queries.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Spark embeds a per-plan codegen-stage ID in every generated
        # class NAME by default (debug aid: maps a stack trace to its
        # plan node). The compile cache keys on SOURCE TEXT, so two
        # byte-identical stages from different queries — the same
        # "scan documents + project" prefix hundreds of catalog
        # queries share — can then never hit the cache. Constant class
        # names restore cross-query sharing: measured on the 286-query
        # catalog cold pass, unique-fragment compiles drop 3116 -> 2653
        # (and 4453 -> 3116 from the cache-size raise above; janino is
        # ~8-9 ms/fragment, NOTES.md r10). Stack traces still name the
        # operator via the plan's codegen comments.
        .config("spark.sql.codegen.useIdInClassName", "false")
        # PySpark wraps every DataFrame and Column call to record its
        # Python call site for error messages: about 10 JVM round trips
        # per call (active session, a conf read, setting and clearing
        # PySparkCurrentOrigin), which doubles the round trips of
        # building a catalog query. PySpark reads the flag once per
        # process, on its first wrapped call, so it is set at build
        # time. Error classes and messages are unchanged; only the
        # Python call-site context attached to them goes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(_ENGINE_SESSION_TAG, "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local[N] runs every executor thread inside the driver JVM, so
        # the driver heap IS the cluster memory. Half of physical
        # memory leaves the other half to the JVM's off-heap use, the
        # Python workers and the page cache.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{heap_mb}m")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Driver-side BLAS: PySpark already pins Python WORKERS to
    # OMP_NUM_THREADS = spark.task.cpus (= 1), but the DRIVER process
    # keeps OpenBLAS's machine-wide pool (32 threads here). Every
    # driver-side numpy solve in this engine is bounded index metadata
    # (<=256 x dim sample kmeans/SVD, D x D Procrustes) where a
    # 32-thread pool is pure sync overhead — and under host co-tenancy
    # it is the collapse mechanism behind run-to-run swings on the
    # OPQ/IVF family (r8 bench). Single-thread it.
    pin_blas_threads()
    return spark
