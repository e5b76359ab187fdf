"""Session sizing: cores and shuffle partitions come from the host."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json
from gcpdatapipelines_spark.session import get_spark
spark = get_spark("session-sizing")
print(json.dumps([spark.sparkContext.master,
                  spark.conf.get("spark.sql.shuffle.partitions")]))
spark.stop()
"""


def test_cores_default_to_cpu_affinity():
    """With SPARK_GRAFT_CPUS unset, get_spark runs local[<affinity>]
    with as many shuffle partitions as the process may use cores."""
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_GRAFT_CPUS", "SPARK_MASTER")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600, check=True,
    )
    master, partitions = json.loads(out.stdout.strip().splitlines()[-1])
    cores = len(os.sched_getaffinity(0))
    assert master == f"local[{cores}]"
    assert partitions == str(cores)
