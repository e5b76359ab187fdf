"""Benchmark harness for the gcpdatapipelines_spark engine.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):

- ``catalog``: relational queries (TPC-H, pivot, Python-resolver join)
  and corpus queries (Jaccard prefix dedup, SRP LSH, brute-force
  vector top-k) from the registered catalog at sf 0.01; the cold pass
  runs them in a fixed order, each warm pass in an order drawn from
  the seed;
- ``ingest_serve``: seeded CSV ingest with rejects -> raw + aggregate
  fan-out -> incremental pipeline, index build, closed-loop
  single-client point lookups.

The catalog tables ship under ``perfbench/data``; their DuckDB oracle
answers are built once per checkout under ``perfbench/.work`` (the
build step), and everything a run writes stays under that directory. One process, one SparkSession on
``local[nproc]`` with the engine's default settings. ``--seconds`` sets
the number of warm passes (one per 5 s, at least two).

The last stdout line is the result, ``{"correct", "attempted",
"failed", "metrics"}``. Untraced (``--trace 0``) metrics are the
end-to-end ones:

- ``setup_s``: process start to ready-to-measure: imports, JVM launch
  and ``get_spark``, a warm-up job, and the seeded input generation of
  ``ingest_serve``;
- ``cold_s``: the cold pass, every operation's runs in pass 0 (the
  fresh session);
- ``warm_s``: one warm pass: for each operation, the median over warm
  passes of its time in a pass, summed over operations;
- ``op_p50_ms``: median warm latency of the workload's unit request (a
  catalog query, or one point lookup).

Traced (``--trace 1``) metrics are per layer: phase split, io/operator
wrappers, Spark event-log task metrics per job group, codegen compiles,
plan shape, prep-cache state, peak RSS and tracing overhead. The line
before the result carries the full record (environment, tail
percentiles with their sample counts, per-operation and per-module
detail), which is also written to
``perfbench/.work/last_<workload>_trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
SF = 0.01
WORKLOADS = ("catalog", "ingest_serve")


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_env(run_dir: str) -> None:
    """Pin cores to the host, keep every temp file inside the checkout
    and put the package root on the Python workers' path."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    for p in (BENCH_DIR, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def source_digest() -> str:
    """The commit when run from a git checkout, else a digest of the
    engine sources."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, check=True
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        h = hashlib.sha1()
        pkg = os.path.join(ROOT, "gcpdatapipelines_spark")
        for dirpath, dirs, files in sorted(os.walk(pkg)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(fh.read())
        return "src-" + h.hexdigest()[:12]


def expected_answers() -> tuple[dict, float]:
    """The catalog queries' oracle answers, built on first use and
    cached under a name carrying their digest; returns (answers,
    seconds spent building them, 0 when cached)."""
    import expected as expected_mod
    from fixtures import CATALOG_DIR
    from workloads import CATALOG_QUERIES

    names = sorted({q for qs in CATALOG_QUERIES.values() for q in qs})
    path = os.path.join(WORK, f"expected_{expected_mod.digest(CATALOG_DIR, names)}.json")
    build_s = 0.0
    if not os.path.exists(path):
        t0 = time.perf_counter()
        tmp = f"{path}.{os.getpid()}"
        expected_mod.build(CATALOG_DIR, names, tmp)
        os.replace(tmp, path)
        build_s = time.perf_counter() - t0
    with open(path) as fh:
        return json.load(fh), build_s


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def quantile(vals, q: float) -> float:
    if len(vals) < 2:
        return vals[0] if vals else 0.0
    return statistics.quantiles(vals, n=100, method="inclusive")[int(q * 100) - 1]


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for
    the JVM (and with it the Python worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "gcpdatapipelines_spark", "session.py")):
        print("perfbench: engine package gcpdatapipelines_spark not found", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    try:
        record = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(WORK, f"last_{args.workload}_trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({k: v for k, v in record.items() if k != "result"}))
    print(json.dumps(record["result"]))
    return 0


def run(args, run_dir: str) -> dict:
    import fixtures
    import tracing
    import workloads as W

    build_s = 0.0
    ingest = args.workload == "ingest_serve"
    sf_dir = fixtures.CATALOG_DIR
    if not ingest:
        expected, build_s = expected_answers()

    from gcpdatapipelines_spark import io
    from gcpdatapipelines_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        extra.update(tracing.event_log_conf(log_dir))
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
    live = {"imports_s": t0 - T_START - build_s, "get_spark_s": time.perf_counter() - t0}
    try:
        t0 = time.perf_counter()
        W.noop_write(spark.range(1_000_000).selectExpr("sum(id) AS s"))
        if not ingest:
            W.noop_write(io.read_table(spark, sf_dir, "region"))
        live["jvm_warmup_s"] = time.perf_counter() - t0
        if ingest:
            data_dir = os.path.join(run_dir, "ingest")
            truth = fixtures.write_ingest(
                data_dir, args.seed, W.INGEST_ROWS, W.INGEST_KEYS, W.INGEST_PROBES
            )
        # process start (imports, JVM launch) to ready-to-measure; the
        # once-per-checkout build of the expected answers is not part of it
        setup_s = time.perf_counter() - T_START - build_s
        tracer = tracing.Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        runner = W.Runner(spark, tracer)

        if ingest:
            outputs = W.run_ingest_serve(runner, data_dir, truth, args.seconds)
            if tracer:
                tracer.uninstall()
            wrong_ops = []
            wrong = W.check_ingest_serve(spark, data_dir, truth, outputs)
            request = [s for s in runner.samples if s.op == "lookup"]
        else:
            names = W.run_catalog(runner, sf_dir, args.seed, args.seconds)
            if tracer:
                tracer.uninstall()
            wrong_ops, shapes = W.check_catalog(spark, names, sf_dir, expected, bool(tracer))
            wrong = sum(1 for s in runner.samples if s.op in wrong_ops)
            request = runner.samples
        samples = runner.samples
        # a traced run traces its cold pass: its cold figures include
        # the tracing overhead, its warm ones come from untraced passes
        plain = [s for s in samples if s.rep == 0 or not s.traced]
        warm_req = [s.seconds for s in request if s.rep > 0 and not s.traced]
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_s": (tracing.cold_pass(samples, lambda s: s.seconds), "s"),
            "warm_s": (tracing.per_pass(plain, lambda s: s.seconds), "s"),
            "op_p50_ms": (statistics.median(warm_req) * 1e3, "ms"),
        }
        live["peak_rss_mb"] = (
            jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        extra_e2e = {
            "requests": len(warm_req),
            "op_p90_ms": quantile(warm_req, 0.90) * 1e3,
            **live,
            "ops": {
                op: {
                    "cold_s": tracing.cold_pass([s for s in samples if s.op == op], lambda s: s.seconds),
                    "warm_s": tracing.per_pass([s for s in plain if s.op == op], lambda s: s.seconds),
                    "runs": len([s for s in samples if s.op == op]),
                    "samples": [round(s.seconds, 4) for s in plain if s.op == op][:20],
                }
                for op in W.ops_of(samples)
            },
        }
        if not ingest:
            extra_e2e["families"] = {
                fam: {
                    k: sum(v[k] for op, v in extra_e2e["ops"].items() if op in qs)
                    for k in ("cold_s", "warm_s")
                }
                for fam, qs in W.CATALOG_QUERIES.items()
            }
        if ingest:
            ingest_warm = extra_e2e["ops"]["ingest"]["warm_s"]
            extra_e2e.update(
                ingest_rows_per_s=W.INGEST_ROWS / ingest_warm,
                lookup_p98_ms=quantile(warm_req, 0.98) * 1e3,
            )
        if tracer:
            live.update(W.prep_state(spark))
            live["plan_shapes"] = W.ingest_plan_shapes(spark, data_dir) if ingest else shapes
            traced_warm = tracing.per_pass([s for s in samples if s.traced], lambda s: s.seconds)
            live["overhead_s"] = traced_warm - e2e["warm_s"][0]
            lookups = [s.key for s in samples if s.op == "lookup" and s.rep > 0 and s.traced]
            live["point_query_jobs"] = (
                statistics.median(tracer.calls[(*k, "serving.point_query")][3] for k in lookups)
                if lookups
                else 0
            )
            live["rejects"] = statistics.median(o["rejects"] for o in outputs["ingest"]) if ingest else 0
            live["stream_rows"] = (
                statistics.median(o["stream_rows"] for o in outputs["ingest"]) if ingest else 0
            )
            # build + plan + exec of the traced passes should add up to
            # their warm time
            live["extra"] = {"traced_warm_s": traced_warm}
            if ingest:
                live["extra"]["index_lookup_us"] = outputs["index_lookup_us"]
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_heap": spark.conf.get("spark.driver.memory", "default"),
            "pyspark": __import__("pyspark").__version__,
            "commit": source_digest(),
            "sf": None if ingest else SF,
            "build_s": round(build_s, 3),
        }
    finally:
        stop_spark(spark)
    failed = sum(1 for s in samples if not s.ok) + wrong
    attempted = len(samples)
    if tracer:
        metrics, detail = tracing.layer_metrics(tracer, samples, live, log_dir)
    else:
        metrics, detail = e2e, {}
    return {
        "env": env,
        "end_to_end": {**{k: v for k, (v, _) in e2e.items()}, **extra_e2e},
        "fail_frac": failed / attempted,
        "wrong_ops": wrong_ops,
        "detail": detail,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


if __name__ == "__main__":
    sys.exit(main())
