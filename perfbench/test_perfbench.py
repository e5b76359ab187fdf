"""The benchmark's own checks (all but the first run the harness end to
end, about a minute per run):

    python3 -m pytest perfbench/test_perfbench.py -q

- the tracer records a wrapped call only inside a phase, under that
  phase's sample;
- every run's result carries exactly the metrics BENCHMARK.json names,
  each with its declared unit, and checks out correct;
- a traced run's per-function call counts are those of one pass;
- two traced runs of the same code and seed start the same Spark jobs
  per query and compile the same number of codegen classes per query,
  except where a query's compile count is known to vary between runs
  (``VARIABLE_COMPILES``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import tracing  # noqa: E402
from workloads import LOOKUPS_PER_PASS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload: str, trace: int, seed: int = 7) -> tuple[dict, dict]:
    """(result line, full record line) of one harness run."""
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", str(seed), "--seconds", "0",
         "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


# Cold-pass codegen compiles measured to differ between runs of the same
# code and seed; a change that makes the plan repeatable removes the entry.
VARIABLE_COMPILES = {
    # 32, 35 or 38 compiles across same-seed runs (also under one
    # PYTHONHASHSEED), with identical job counts: timing within the run
    # decides part of what it compiles
    "dedup_jaccard_prefix",
}

_RUNS: dict[tuple, tuple[dict, dict]] = {}


def cached_run(workload: str, trace: int, seed: int = 7):
    key = (workload, trace, seed)
    if key not in _RUNS:
        _RUNS[key] = run_bench(workload, trace, seed)
    return _RUNS[key]


class _FakeContext:
    """The slice of SparkContext the tracer touches, without a JVM."""

    def setJobGroup(self, group, description):
        pass

    def setLocalProperty(self, key, value):
        pass

    def statusTracker(self):
        return self

    def getJobIdsForGroup(self, group):
        return []


class _FakeSession:
    sparkContext = _FakeContext()


def test_tracer_records_calls_only_inside_phases():
    tracer = tracing.Tracer(_FakeSession())
    fn = tracer._wrap("io.read_table", lambda: None)
    with tracer.phase(("q1", 1, 0), "build"):
        fn()
    fn()  # between phases, as in an untraced pass
    with tracer.phase(("q1", 1, 0), "exec"):
        fn()
    fn()
    assert {k: v[0] for k, v in tracer.calls.items()} == {("q1", 1, 0, "io.read_table"): 2}


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_record_carries_every_metric_with_its_unit(workload, trace):
    result, _ = cached_run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    for name, value in result["metrics"].items():
        assert isinstance(value["value"], (int, float)), name


def test_traced_call_counts_are_one_pass():
    # each ingest_serve pass calls these entry points a known number of
    # times; untraced passes must add nothing
    functions = cached_run("ingest_serve", 1)[1]["detail"]["functions"]
    per_pass = {
        "io.read_csv_with_rejects": 1,
        "io.write_fanout": 1,
        "streaming.incremental_pipeline": 1,
        "serving.build_index": 1,
        "serving.point_query": LOOKUPS_PER_PASS,
    }
    assert {f: functions[f]["calls"] for f in per_pass} == per_pass


def test_job_and_codegen_counts_repeat_exactly():
    first = cached_run("catalog", 1)[1]["detail"]["ops"]
    second = run_bench("catalog", 1)[1]["detail"]["ops"]
    assert first.keys() == second.keys()
    for op in first:
        for key in ("build_jobs", "exec_jobs"):
            assert first[op][key] == second[op][key], (op, key)
        if op not in VARIABLE_COMPILES:
            assert first[op]["cold_compiles"] == second[op]["cold_compiles"], op


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
