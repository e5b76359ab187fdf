"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql()
are consistent, every query executes at sf0.001."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entry_mod
from gcpdatapipelines_spark import queries as Q
from tests.conftest import SF_SMOKE

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema) > 0


def test_oracles_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    # schema resolvable and the query executes
    n = df.count()
    assert n >= 0


# ---------------------------------------------------------------------------
# catalog-wide dtype parity: the driver's value hash is dtype-sensitive
# ---------------------------------------------------------------------------


def test_catalog_dtype_parity(spark):
    """For every oracle-backed query, the (Spark output type, DuckDB
    output type) pair per column must come from the DRIVER-PROVEN
    compatibility set. The driver's canonicalizer hashes pandas values
    where dtype/repr matters; the local compare coerces int/float and
    so can never catch the two killer classes this test bans:

    - DuckDB HUGEINT (window/scalar sum of INTEGER) -> pandas float64
      vs Spark int64: w17_session_table's six-round rows✓schema✓hash✗.
    - Spark DecimalType output (``x / 1000000.0`` — Spark parses the
      literal as DECIMAL) -> pandas object(Decimal) vs DuckDB DOUBLE
      float64: text_zipf_fit's r6 red.

    Proven-benign pairs (green driver rows cited): spark int32 / duck
    BIGINT (w1_rank_orders r02), spark timestamp / duck DATE
    (w13_rollup_chain r04), spark double / duck DECIMAL (a18 r04 —
    duck decimals land float64)."""
    import duckdb as _dd
    import os

    from gcpdatapipelines_spark.io import TABLES
    from pyspark.sql import types as T

    con = _dd.connect()
    for t in TABLES:
        p = os.path.join(SF_SMOKE, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def compatible(s, d):
        d = d.upper()
        if d.startswith("HUGEINT"):
            return False  # float64 in pandas vs spark int64 — driver red
        if isinstance(s, T.DecimalType):
            # spark decimal -> object(Decimal); only safe if duck also
            # emits a decimal of identical (p, s)
            return d == f"DECIMAL({s.precision},{s.scale})"
        if isinstance(s, (T.LongType, T.IntegerType, T.ShortType)):
            return d in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT")
        if isinstance(s, (T.DoubleType, T.FloatType)):
            return d in ("DOUBLE", "FLOAT") or d.startswith("DECIMAL")
        if isinstance(s, T.StringType):
            return d == "VARCHAR"
        if isinstance(s, T.BooleanType):
            return d == "BOOLEAN"
        if isinstance(s, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            return d in ("DATE",) or d.startswith("TIMESTAMP")
        return False

    problems = []
    for name, sql in Q.ORACLE_SQL.items():
        try:
            r = con.sql(sql)
            dtypes = dict(zip(r.columns, [str(t) for t in r.types]))
        except Exception as e:  # oracle must at least plan on the fixture
            problems.append(f"{name}: duck error {e}")
            continue
        schema = Q.SPARK_QUERIES[name](spark, SF_SMOKE).schema
        for f in schema.fields:
            d = dtypes.get(f.name)
            if d is None:
                problems.append(f"{name}.{f.name}: column missing in oracle")
            elif not compatible(f.dataType, d):
                problems.append(
                    f"{name}.{f.name}: spark={f.dataType.simpleString()} "
                    f"duck={d}"
                )
    assert not problems, "\n".join(problems)


# ---------------------------------------------------------------------------
# evidence rotation (driver CORRECTNESS-aware ordering)
# ---------------------------------------------------------------------------


def test_rotation_orders_red_then_upgraded_first():
    import __spark_entry__ as entry_mod
    
    recorded, red, rows_only = entry_mod._driver_record_state()
    order = list(entry_mod.queries())
    # every latest-red query sorts before every non-red one
    if red:
        last_red = max(order.index(n) for n in red if n in order)
        assert last_red < len(red), "red queries must open the catalog"
    # a rows-only-recorded query that now has an oracle re-enters the
    # window right after the reds (stronger evidence replaces weak)
    upgraded = [n for n in rows_only if n not in red and n in Q.ORACLE_SQL]
    for n in upgraded:
        assert order.index(n) < 50, f"{n} upgraded but outside record window"


# ---------------------------------------------------------------------------
# rotation: rows-only rows must never livelock as red (r5 verdict #5)
# ---------------------------------------------------------------------------


def _write_correctness(tmp_path, rows: dict) -> str:
    p = tmp_path / "CORRECTNESS_r99.json"
    p.write_text(json.dumps(rows))
    return str(tmp_path)


def _one_rows_only_name() -> str:
    names = [n for n in Q.SPARK_QUERIES if n not in Q.ORACLE_SQL]
    assert names, "catalog has no rows-only query to test with"
    return names[0]


def _one_oracle_name() -> str:
    return next(n for n in Q.SPARK_QUERIES if n in Q.ORACLE_SQL)


def test_rows_only_row_is_not_red_regardless_of_err_text(tmp_path):
    """The driver's err label for the no-oracle disposition is unknown
    until the first rows-only row lands; none of the plausible labels
    may classify the row red (that would burn 15 of 50 recording slots
    every round from r7 on)."""
    name = _one_rows_only_name()
    for err in (None, "no_oracle", "rows-only", "no oracle sql registered",
                "skipped: no oracle", "weaker rows-only check"):
        root = _write_correctness(
            tmp_path,
            {name: {"rows_match": True, "schema_match": False,
                    "hash_match": False, "spark_rows": 123,
                    "oracle_rows": None, "err": err}},
        )
        recorded, red, weak = entry_mod._driver_record_state(root=root)
        assert name in recorded
        assert name not in red, f"rows-only row went red under err={err!r}"


def test_rows_only_crash_row_is_red(tmp_path):
    """A rows-only query that produced no rows on the driver DID fail —
    that must still re-enter the window."""
    name = _one_rows_only_name()
    for sr in (None, 0):
        root = _write_correctness(
            tmp_path,
            {name: {"rows_match": False, "schema_match": False,
                    "hash_match": False, "spark_rows": sr,
                    "oracle_rows": None, "err": "spark error"}},
        )
        _, red, _ = entry_mod._driver_record_state(root=root)
        assert name in red


def test_oracle_backed_hash_mismatch_is_red(tmp_path):
    name = _one_oracle_name()
    root = _write_correctness(
        tmp_path,
        {name: {"rows_match": True, "schema_match": True,
                "hash_match": False, "spark_rows": 5,
                "oracle_rows": 5, "err": None}},
    )
    _, red, _ = entry_mod._driver_record_state(root=root)
    assert name in red


def test_oracle_backed_green_is_not_red_or_weak(tmp_path):
    name = _one_oracle_name()
    root = _write_correctness(
        tmp_path,
        {name: {"rows_match": True, "schema_match": True,
                "hash_match": True, "spark_rows": 5,
                "oracle_rows": 5, "err": None}},
    )
    recorded, red, weak = entry_mod._driver_record_state(root=root)
    assert name in recorded and name not in red and name not in weak


def test_weak_row_upgrades_when_oracle_exists(tmp_path):
    """A historical rows-only record of a query that NOW carries an
    oracle should re-enter the window for stronger evidence."""
    name = _one_oracle_name()
    root = _write_correctness(
        tmp_path,
        {name: {"rows_match": True, "schema_match": None,
                "hash_match": None, "spark_rows": 77,
                "oracle_rows": None, "err": "no_oracle"}},
    )
    recorded, red, weak = entry_mod._driver_record_state(root=root)
    # rows-only disposition of an oracle-backed name: not red (err is
    # the benign label, no explicit False) but weak -> upgraded lane
    assert name in weak and name not in red
