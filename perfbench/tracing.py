"""Per-layer tracing for the benchmark's ``--trace 1`` runs.

Everything here is installed from the benchmark's side at runtime; no
engine file is touched:

- ``Tracer.install`` wraps every public function of ``io``, ``serving``,
  ``streaming`` and ``operators.*`` (in the defining module and in every
  engine module that imported it by name) with a timer that records
  calls, total and self time, and the Spark jobs started inside the
  call (read back through ``sc.statusTracker()`` for the current job
  group).
- ``Tracer.phase`` tags each timed phase of each operation with its own
  job group (``sc.setJobGroup``) and wall window.
- ``event_log_metrics`` parses Spark's uncompressed event log and sums
  ``SparkListenerTaskEnd`` metrics per phase: by job group, or by wall
  window for jobs started on threads that set their own group (the
  streaming query's micro-batches).
- ``codegen_compiles`` reads Spark's ``CodegenMetrics`` counter.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

TRACED_MODULES = ("io", "serving", "streaming")


def event_log_conf(log_dir: str) -> dict[str, str]:
    # Spark 4's default zstd codec would need the zstandard module to
    # read back; plain JSON lines need nothing.
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def codegen_compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount())


_PY_NODE = re.compile(r"\((\d+)\) (\w*(?:Python|Pandas|Arrow)\w*)")


def plan_shape(formatted: str) -> dict[str, int]:
    """Plan lines, shuffle exchanges and Python/Arrow nodes of one
    ``plans.formatted_plan`` string (numbered nodes counted once)."""
    return {
        "plan_lines": formatted.count("\n") + 1,
        "exchanges": len(set(re.findall(r"\((\d+)\) Exchange", formatted))),
        "python_nodes": len({m.group(1) for m in _PY_NODE.finditer(formatted)}),
    }


class Tracer:
    """Collects per-(operation, pass, index, phase) spans, module-call
    records and job-group names for one traced run. Module calls are
    recorded only inside a phase."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.group: str | None = None
        self.key: tuple | None = None
        self.windows: list[tuple[str, tuple, float, float]] = []
        # (op, rep, idx, module.fn) -> [calls, total_s, self_s, jobs]
        self.calls: dict[tuple, list] = defaultdict(lambda: [0, 0.0, 0.0, 0])
        self._stack: list[list[float]] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- job groups and phases ------------------------------------------
    def _jobs_in_group(self) -> int:
        if self.group is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group))

    @contextmanager
    def phase(self, key: tuple, phase: str):
        """One phase of the sample ``key`` = (op, rep, idx)."""
        op, rep, idx = key
        self.group = f"bench:{op}#{rep}.{idx}:{phase}"
        self.key = key
        self.sc.setJobGroup(self.group, self.group)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((self.group, (*key, phase), t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.group = None
            self.key = None

    # -- function wrappers ----------------------------------------------
    def _wrap(self, label: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.key is None:
                return fn(*args, **kwargs)
            child = [0.0]
            tracer._stack.append(child)
            jobs0 = tracer._jobs_in_group()
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                el = time.perf_counter() - t0
                tracer._stack.pop()
                if tracer._stack:
                    tracer._stack[-1][0] += el
                rec = tracer.calls[(*tracer.key, label)]
                rec[0] += 1
                rec[1] += el
                rec[2] += el - child[0]
                rec[3] += tracer._jobs_in_group() - jobs0

        return traced

    def install(self) -> None:
        import gcpdatapipelines_spark as pkg
        from gcpdatapipelines_spark import operators

        targets = [importlib.import_module(f"gcpdatapipelines_spark.{m}") for m in TRACED_MODULES]
        targets += [
            importlib.import_module(f"gcpdatapipelines_spark.operators.{m.name}")
            for m in pkgutil.iter_modules(operators.__path__)
        ]
        wrapped: dict[int, object] = {}
        for mod in targets:
            label_mod = mod.__name__.removeprefix("gcpdatapipelines_spark.")
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                ):
                    continue
                wrapped[id(fn)] = self._wrap(f"{label_mod}.{name}", fn)
        # rebind in every engine module holding a reference by name
        engine = [
            m
            for n, m in list(__import__("sys").modules.items())
            if n == pkg.__name__ or n.startswith(pkg.__name__ + ".")
        ]
        for mod in engine:
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrapped and inspect.isfunction(obj):
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, wrapped[id(obj)])

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patched):
            setattr(mod, name, obj)
        self._patched.clear()
        self.key = None


def event_log_metrics(log_dir: str, windows) -> dict[tuple, dict[str, float]]:
    """Sum task and job metrics from the run's event log per
    (op, rep, idx, phase). A stage is attributed through its job group when
    that group is one of the benchmark's phases, else to the phase whose
    wall window contains the stage's submission time."""
    by_group = {g: key for g, key, _, _ in windows}
    spans = sorted((t0 * 1000.0, t1 * 1000.0, key) for _, key, t0, t1 in windows)
    out: dict[tuple, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_key: dict[int, tuple] = {}

    def key_for(props: dict, when_ms: float | None):
        key = by_group.get((props or {}).get("spark.jobGroup.id"))
        if key is None and when_ms is not None:
            for t0, t1, k in spans:
                if t0 <= when_ms <= t1:
                    return k
        return key

    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = key_for(ev.get("Properties"), ev.get("Submission Time"))
                    if key is not None:
                        out[key]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = key_for(ev.get("Properties"), info.get("Submission Time"))
                    if key is not None:
                        stage_key[info["Stage ID"]] = key
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if key is None or not tm:
                        continue
                    m = out[key]
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["tasks"] += 1
                    m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    m["scan_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    m["write_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
    return out


def per_pass(samples, value) -> float:
    """The cost of one warm pass, the same reduction ``warm_s`` applies
    to wall time: for each operation, its value summed within each warm
    pass, median over passes; summed over operations."""
    passes: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
    for s in samples:
        if s.rep > 0:
            passes[s.op][s.rep] += value(s)
    return sum(statistics.median(by_rep.values()) for by_rep in passes.values())


def cold_pass(samples, value) -> float:
    """``value`` summed over the cold pass (pass 0)."""
    return sum(value(s) for s in samples if s.rep == 0)


def layer_metrics(tracer: Tracer, samples, live: dict, log_dir: str):
    """Per-layer metrics as (value, unit) and the detail record of one
    traced run, from its traced samples. ``live`` holds what was read
    from the session before it stopped: session timings, plan shapes,
    prep-cache state, tracing overhead and workload-specific counts."""
    samples = [s for s in samples if s.traced]
    ev = event_log_metrics(log_dir, tracer.windows)
    calls = tracer.calls

    def ev_sum(name, phases=("build", "plan", "exec")):
        return lambda s: sum(ev.get((*s.key, p), {}).get(name, 0.0) for p in phases)

    by_sample: dict[tuple, list[tuple[str, list]]] = defaultdict(list)
    for (*key, label), rec in calls.items():
        by_sample[tuple(key)].append((label, rec))

    def call_sum(prefix, field):
        def value(s):
            return sum(
                rec[field]
                for label, rec in by_sample.get(s.key, ())
                if label == prefix or label.startswith(prefix + ".")
            )

        return value

    modules = sorted({key[-1].rsplit(".", 1)[0] for key in calls})
    functions = sorted({key[-1] for key in calls})
    shapes = live["plan_shapes"]
    m = {
        "session.get_spark_s": (live["get_spark_s"], "s"),
        "session.jvm_warmup_s": (live["jvm_warmup_s"], "s"),
        "mem.peak_rss_mb": (live["peak_rss_mb"], "MB"),
        "op.build_s": (per_pass(samples, lambda s: s.phases.get("build", 0.0)), "s"),
        "op.plan_s": (per_pass(samples, lambda s: s.phases.get("plan", 0.0)), "s"),
        "op.exec_s": (per_pass(samples, lambda s: s.phases.get("exec", 0.0)), "s"),
        "io.call_s": (per_pass(samples, call_sum("io", 2)), "s"),
        "io.read_table_calls": (per_pass(samples, call_sum("io.read_table", 0)), "count"),
        "io.read_table_jobs": (per_pass(samples, call_sum("io.read_table", 3)), "count"),
        "io.scan_bytes": (per_pass(samples, ev_sum("scan_bytes")), "B"),
        "io.write_bytes": (per_pass(samples, ev_sum("write_bytes")), "B"),
        "io.rejects": (live["rejects"], "count"),
        "queries.build_jobs": (per_pass(samples, ev_sum("jobs", ("build",))), "count"),
        "plans.plan_lines": (sum(v["plan_lines"] for v in shapes.values()), "count"),
        "plans.exchanges": (sum(v["exchanges"] for v in shapes.values()), "count"),
        "plans.python_nodes": (sum(v["python_nodes"] for v in shapes.values()), "count"),
        "codegen.compiles": (cold_pass(samples, lambda s: s.compiles), "count"),
        "codegen.warm_compiles": (per_pass(samples, lambda s: s.compiles), "count"),
        "exec.jobs": (per_pass(samples, ev_sum("jobs", ("exec",))), "count"),
        "exec.tasks": (per_pass(samples, ev_sum("tasks")), "count"),
        "exec.executor_run_s": (per_pass(samples, ev_sum("executor_run_s")), "s"),
        "exec.executor_cpu_s": (per_pass(samples, ev_sum("executor_cpu_s")), "s"),
        "exec.gc_s": (per_pass(samples, ev_sum("gc_s")), "s"),
        "exec.shuffle_read_bytes": (per_pass(samples, ev_sum("shuffle_read_bytes")), "B"),
        "exec.shuffle_write_bytes": (per_pass(samples, ev_sum("shuffle_write_bytes")), "B"),
        "exec.spill_bytes": (per_pass(samples, ev_sum("spill_bytes")), "B"),
        "operators.calls": (per_pass(samples, call_sum("operators", 0)), "count"),
        "operators.jobs": (per_pass(samples, call_sum("operators", 3)), "count"),
        "prep.persisted_rdds": (live["persisted_rdds"], "count"),
        "prep.storage_mb": (live["storage_mb"], "MB"),
        "serving.point_query_jobs": (live["point_query_jobs"], "count"),
        "streaming.rows": (live["stream_rows"], "count"),
        "trace.overhead_s": (live["overhead_s"], "s"),
    }
    detail = {
        "modules": {
            mod: {
                "calls": per_pass(samples, call_sum(mod, 0)),
                "self_s": per_pass(samples, call_sum(mod, 2)),
                "jobs": per_pass(samples, call_sum(mod, 3)),
            }
            for mod in modules
        },
        "functions": {
            fn: {
                "calls": per_pass(samples, call_sum(fn, 0)),
                "total_s": per_pass(samples, call_sum(fn, 1)),
                "jobs": per_pass(samples, call_sum(fn, 3)),
            }
            for fn in functions
        },
        "ops": {
            op: {
                "cold_s": cold_pass([s for s in samples if s.op == op], lambda s: s.seconds),
                "cold_compiles": cold_pass([s for s in samples if s.op == op], lambda s: s.compiles),
                **{
                    k: per_pass([s for s in samples if s.op == op], v)
                    for k, v in {
                        "warm_s": lambda s: s.seconds,
                        "build_s": lambda s: s.phases.get("build", 0.0),
                        "plan_s": lambda s: s.phases.get("plan", 0.0),
                        "exec_s": lambda s: s.phases.get("exec", 0.0),
                        "build_jobs": ev_sum("jobs", ("build",)),
                        "exec_jobs": ev_sum("jobs", ("exec",)),
                        "tasks": ev_sum("tasks"),
                        "executor_run_s": ev_sum("executor_run_s"),
                    }.items()
                },
                **shapes.get(op, {}),
            }
            for op in dict.fromkeys(s.op for s in samples)
        },
        "extra": {
            **live["extra"],
            "phase_sum_s": m["op.build_s"][0] + m["op.plan_s"][0] + m["op.exec_s"][0],
        },
    }
    return m, detail
