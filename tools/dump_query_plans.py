"""Dump .explain('formatted') for named queries to <out_dir>/<q>_<tag>.txt.

    python tools/dump_query_plans.py plans before q1 q2 ...

A relative out_dir is resolved against the repository root.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gcpdatapipelines_spark.session import get_spark

import __spark_entry__ as entry_mod


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-dump")
    queries = entry_mod.queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), out_dir
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
