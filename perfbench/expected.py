"""Expected answers for the catalog workload.

Runs each benchmarked query's DuckDB ``oracle_sql()`` twin over the
catalog tables and records its row count and an order-insensitive value
hash; a Spark result passes when both match. ``run.py`` builds the
answers once and caches them under a name carrying ``digest``: a change
to the tables, to this file or to one of the queries' oracle SQL texts
builds them afresh. To build them by hand:

    python3 perfbench/expected.py <catalog_dir> <out.json>
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else repr(float(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, dt.datetime, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def value_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, sha1 over the sorted canonical rows) with columns
    taken in sorted lower-case name order, so neither row order nor
    column order matters."""
    cols = sorted(df.columns, key=str.lower)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    head = "\x1f".join(c.lower() for c in cols)
    digest = hashlib.sha1("\n".join([head, *rows]).encode()).hexdigest()
    return len(rows), digest


def digest(catalog_dir: str, names: list[str]) -> str:
    """Short digest of everything the expected answers depend on."""
    from gcpdatapipelines_spark.queries import ORACLE_SQL

    h = hashlib.sha1()
    with open(os.path.abspath(__file__), "rb") as fh:
        h.update(fh.read())
    for f in sorted(os.listdir(catalog_dir)):
        with open(os.path.join(catalog_dir, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    for name in names:
        h.update(f"{name}\0{ORACLE_SQL[name]}\0".encode())
    return h.hexdigest()[:12]


def build(catalog_dir: str, names: list[str], out_path: str) -> dict:
    import duckdb

    from gcpdatapipelines_spark.io import TABLES
    from gcpdatapipelines_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(catalog_dir, t)}.parquet'")
    out = {}
    for name in names:
        rows, digest = value_hash(con.sql(ORACLE_SQL[name]).df())
        out[name] = {"rows": rows, "hash": digest}
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    return out


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from workloads import CATALOG_QUERIES

    build(sys.argv[1], sorted({q for qs in CATALOG_QUERIES.values() for q in qs}), sys.argv[2])
