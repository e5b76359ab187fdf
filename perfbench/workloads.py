"""The benchmark's workloads and their measurement loops.

Every workload is a list of operations run in passes: pass 0 is the
cold pass (first run of each operation in the fresh session), later
passes are warm, one per ``PASS_SECONDS`` of the run's ``--seconds``
(at least ``MIN_WARM_PASSES``). One timed operation is, untraced,
``run(build())``; traced, it is split into a build phase (the public
entry call), a plan phase (physical planning of the built frame) and
an exec phase, each under its own Spark job group.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

from expected import value_hash
from tracing import codegen_compiles, plan_shape

# The queries the catalog workload runs, by family, in their fixed base
# order (the run's seed permutes it in warm passes). Chosen to cover each family's
# layers inside one run's time budget; names are looked up in the
# registered catalog (queries.SPARK_QUERIES), never in the
# evidence-rotated queries() order.
CATALOG_QUERIES = {
    # short relational queries: per-query fixed cost (schema jobs,
    # eager build-time actions, planning, codegen) dominates
    "relational": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "pivot_returnflag",
        "j5_resolver_enrich",
    ],
    # corpus operators: shuffles, Arrow/Python UDFs, driver numpy and
    # the session-scoped prep caches (built on the cold pass)
    "corpus": [
        "dedup_jaccard_prefix",
        "sim_topk_bruteforce",
        "sim_srp_lsh",
    ],
}

MIN_WARM_PASSES = 2
PASS_SECONDS = 5.0

# ingest_serve sizing: rows of the visits CSV, distinct hosts, lookups
# per pass, distinct lookup keys
INGEST_ROWS = 200_000
INGEST_KEYS = 5_000
LOOKUPS_PER_PASS = 100
INGEST_PROBES = 200


@dataclass
class Sample:
    """One timed run of operation ``op`` in pass ``rep``; ``idx``
    numbers the runs of one operation within a pass (the lookups)."""

    op: str
    rep: int
    seconds: float
    ok: bool
    traced: bool = False
    phases: dict[str, float] = field(default_factory=dict)
    compiles: int = 0
    idx: int = 0

    @property
    def key(self) -> tuple[str, int, int]:
        return (self.op, self.rep, self.idx)


class Runner:
    """Times operations; with a tracer, splits them into phases.

    A traced run traces the cold pass and every odd warm pass and runs
    the even warm passes untraced, so tracing overhead is measured
    against untraced passes at the same point of the JVM's warm-up."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.traced = False
        self.samples: list[Sample] = []

    def start_pass(self, rep: int) -> None:
        self.traced = self.tracer is not None and (rep == 0 or rep % 2 == 1)

    def op(self, name, rep, build, run, plan=None, execute=None, idx=0):
        tr = self.tracer if self.traced else None
        key = (name, rep, idx)
        phases: dict[str, float] = {}
        c0 = codegen_compiles(self.spark) if tr else 0
        result, ok = None, True
        t0 = time.perf_counter()
        try:
            if tr is None:
                result = run(build())
            else:
                with tr.phase(key, "build"):
                    built = build()
                t1 = time.perf_counter()
                phases["build"] = t1 - t0
                if plan is not None:
                    with tr.phase(key, "plan"):
                        plan(built)
                t2 = time.perf_counter()
                phases["plan"] = t2 - t1
                with tr.phase(key, "exec"):
                    result = (execute or run)(built)
                phases["exec"] = time.perf_counter() - t2
        except Exception:
            ok = False
            print(f"perfbench: {name}#{rep}.{idx} failed", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        el = time.perf_counter() - t0
        compiles = codegen_compiles(self.spark) - c0 if tr else 0
        self.samples.append(Sample(name, rep, el, ok, tr is not None, phases, compiles, idx))
        return result


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def plan_physical(df) -> None:
    df._jdf.queryExecution().executedPlan()  # noqa: SLF001


def exec_planned(df) -> int:
    # runs the plan already built by plan_physical, consuming every row
    return int(df._jdf.queryExecution().toRdd().count())  # noqa: SLF001


def ops_of(samples) -> list[str]:
    return list(dict.fromkeys(s.op for s in samples))


# ---------------------------------------------------------------------------
# catalog workload
# ---------------------------------------------------------------------------


def _passes(seconds: float):
    """Pass numbers: the cold pass, then one warm pass per PASS_SECONDS
    of ``seconds`` (at least MIN_WARM_PASSES). The count depends on
    ``seconds`` alone, never on how fast passes run: later passes run
    faster as the JVM's JIT warms up, so a deadline would make a slow
    host's warm medians sit earlier on that curve than a fast host's."""
    return range(1 + max(MIN_WARM_PASSES, int(seconds // PASS_SECONDS)))


def run_catalog(runner: Runner, sf_dir: str, seed: int, seconds: float):
    """Runs every family's queries pass after pass: the cold pass in the
    fixed base order, each warm pass in an order drawn from the seed.
    The query that runs first in the session pays the session's first
    Python-worker start, so a seeded cold order would move ``cold_s``
    by seed rather than by engine change. Returns the names."""
    from gcpdatapipelines_spark.queries import SPARK_QUERIES

    names = [q for qs in CATALOG_QUERIES.values() for q in qs]
    rng = random.Random(seed)
    spark = runner.spark
    for rep in _passes(seconds):
        runner.start_pass(rep)
        order = list(names)
        if rep > 0:
            rng.shuffle(order)
        for name in order:
            fn = SPARK_QUERIES[name]
            runner.op(
                name,
                rep,
                lambda fn=fn: fn(spark, sf_dir),
                noop_write,
                plan_physical,
                exec_planned,
            )
    return names


def check_catalog(spark, names, sf_dir, expected, with_plans=False):
    """Compare each query's result with its oracle row count and value
    hash; returns (names that failed, plan shape per query)."""
    from gcpdatapipelines_spark.plans import formatted_plan
    from gcpdatapipelines_spark.queries import SPARK_QUERIES

    bad, shapes = [], {}
    for name in names:
        try:
            df = SPARK_QUERIES[name](spark, sf_dir)
            if with_plans:
                shapes[name] = plan_shape(formatted_plan(df))
            got = value_hash(df.toPandas())
            want = expected[name]
            if got != (want["rows"], want["hash"]):
                print(f"perfbench: {name} result {got} != expected {want}", file=sys.stderr)
                bad.append(name)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad.append(name)
    return bad, shapes


# ---------------------------------------------------------------------------
# ingest_serve
# ---------------------------------------------------------------------------


def ingest_frames(spark, data_dir: str):
    """(good rows, rejects, per-host aggregate) of the visits CSV."""
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark import io
    from fixtures import VISITS_SCHEMA

    good, rejects = io.read_csv_with_rejects(
        spark, os.path.join(data_dir, "visits.csv"), VISITS_SCHEMA
    )
    agg = good.groupBy("host").agg(
        F.count("*").alias("n_visits"), F.sum("bytes").alias("total_bytes")
    )
    return good, rejects, agg


def run_ingest_serve(runner: Runner, data_dir: str, truth: dict, seconds: float):
    """Passes of: CSV ingest with rejects -> raw + per-host fan-out ->
    incremental pipeline over the events file; index build over the
    fan-out aggregate; a batch of closed-loop point lookups. Returns
    the per-pass outputs the checks need."""
    from gcpdatapipelines_spark import io, serving, streaming
    from fixtures import LOOKUP_DEFAULTS

    spark = runner.spark
    out = os.path.join(data_dir, "out")
    raw_path = os.path.join(out, "visits_raw.parquet")
    outputs = {"ingest": [], "index": [], "lookups": []}
    probes = truth["probes"]
    state = {"lookup_df": None, "probe": 0}

    def run_ingest(built, rep):
        good, rejects, agg = built
        io.write_fanout(good, raw_path, agg, os.path.join(out, "by_host.parquet"))
        n_rejects = rejects.count()
        ck = os.path.join(out, f"stream_{rep}")
        rows = streaming.incremental_pipeline(
            spark, os.path.join(data_dir, "events"), ck + "_out", ck + "_checkpoint"
        )
        # the read's parse cache has no handle outside io; release it
        spark.catalog.clearCache()
        shutil.rmtree(ck + "_checkpoint", ignore_errors=True)
        shutil.rmtree(ck + "_out", ignore_errors=True)
        return {"rejects": n_rejects, "stream_rows": rows}

    def build_index():
        return io.read_table(spark, out, "by_host")

    def run_index(df):
        index = serving.build_index(df, "host")
        state["index"] = index
        state["lookup_df"] = df.cache()
        return {"hosts": len(index), "visits": sum(r["n_visits"] for r in index.values())}

    for rep in _passes(seconds):
        runner.start_pass(rep)
        outputs["ingest"].append(
            runner.op(
                "ingest",
                rep,
                lambda: ingest_frames(spark, data_dir),
                lambda b, rep=rep: run_ingest(b, rep),
                lambda b: plan_physical(b[2]),
            )
        )
        outputs["index"].append(runner.op("index", rep, build_index, run_index, plan_physical))
        for j in range(LOOKUPS_PER_PASS):
            i = state["probe"] % len(probes)
            key = probes[i]
            got = runner.op(
                "lookup",
                rep,
                lambda key=key: (state["lookup_df"], key),
                lambda b: serving.point_query(b[0], "host", b[1], LOOKUP_DEFAULTS),
                idx=j,
            )
            outputs["lookups"].append((i, got))
            state["probe"] += 1
    # the serving-edge form: the same probes against the collected index
    t0 = time.perf_counter()
    for key in probes:
        serving.index_lookup(state["index"], "host", key, LOOKUP_DEFAULTS)
    outputs["index_lookup_us"] = (time.perf_counter() - t0) / len(probes) * 1e6
    return outputs


def check_ingest_serve(spark, data_dir: str, truth: dict, outputs) -> int:
    """Count wrong answers: rejects vs planted, streamed rows vs the
    events written, raw/aggregate totals vs the generator's tally, and
    every lookup (misses zero-filled, key echoed) vs its expected row."""
    from pyspark.sql import functions as F

    from gcpdatapipelines_spark import io

    wrong = 0
    for res in outputs["ingest"]:
        wrong += res is None or res != {"rejects": truth["rejects"], "stream_rows": truth["events"]}
    for res in outputs["index"]:
        wrong += res is None or res != {"hosts": truth["hosts"], "visits": truth["good_rows"]}
    out = os.path.join(data_dir, "out")
    raw_rows = io.read_table(spark, out, "visits_raw").count()
    agg = io.read_table(spark, out, "by_host").agg(F.count("*"), F.sum("n_visits")).first()
    wrong += raw_rows != truth["good_rows"]
    wrong += (agg[0], agg[1]) != (truth["hosts"], truth["good_rows"])
    for i, got in outputs["lookups"]:
        want = truth["expected"][i]
        if got is None or any(got.get(k) != v for k, v in want.items()):
            wrong += 1
        elif want["n_visits"] == 0 and got.get("host") != truth["probes"][i]:
            wrong += 1
    return int(wrong)


# ---------------------------------------------------------------------------
# traced-run extras
# ---------------------------------------------------------------------------


def prep_state(spark) -> dict:
    """Persisted RDDs and their cached size at the end of the run."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
    size = sum(i.memSize() + i.diskSize() for i in infos)
    return {
        "persisted_rdds": int(sc._jsc.getPersistentRDDs().size()),  # noqa: SLF001
        "storage_mb": size / 2**20,
    }


def ingest_plan_shapes(spark, data_dir: str) -> dict:
    from gcpdatapipelines_spark import io
    from gcpdatapipelines_spark.plans import formatted_plan

    index_df = io.read_table(spark, os.path.join(data_dir, "out"), "by_host")
    return {
        "ingest": plan_shape(formatted_plan(ingest_frames(spark, data_dir)[2])),
        "index": plan_shape(formatted_plan(index_df)),
    }
