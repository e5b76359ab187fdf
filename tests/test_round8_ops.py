"""Round-8 (judge round 6) additions: rotation robustness to unknown
driver err labels, exact-integer corr matrix, timezone-pin regression."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entry_mod
import gcpdatapipelines_spark.queries as qmod
from tests.conftest import SF_SMOKE

# Heavyweight parity/property sweep: slow tier (see conftest).
pytestmark = pytest.mark.slow



# ---------------------------------------------------------------------------
# rotation: rows-only rows must never livelock as red (r5 verdict #5)
# ---------------------------------------------------------------------------


def _write_correctness(tmp_path, rows: dict) -> str:
    p = tmp_path / "CORRECTNESS_r99.json"
    p.write_text(json.dumps(rows))
    return str(tmp_path)


def _one_rows_only_name() -> str:
    names = [n for n in qmod.SPARK_QUERIES if n not in qmod.ORACLE_SQL]
    assert names, "catalog has no rows-only query to test with"
    return names[0]


def _one_oracle_name() -> str:
    return next(n for n in qmod.SPARK_QUERIES if n in qmod.ORACLE_SQL)


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


# ---------------------------------------------------------------------------
# a24 exact-integer corr matrix
# ---------------------------------------------------------------------------


def test_a24_ppm_matches_numpy(spark):
    """The integer long-division ppm must equal floor(corr^2 * 1e6) of
    the cent-quantized inputs (numpy ground truth) for every pair."""
    import numpy as np
    import pandas as pd

    got = qmod.SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE).toPandas()
    pdf = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    enc = {
        "l_quantity": np.floor(pdf.l_quantity.values),
        "l_extendedprice": np.round(pdf.l_extendedprice.values * 100),
        "l_discount": np.round(pdf.l_discount.values * 100),
        "l_tax": np.round(pdf.l_tax.values * 100),
    }
    assert len(got) == 6
    for _, row in got.iterrows():
        c = np.corrcoef(enc[row.col_a], enc[row.col_b])[0, 1]
        want_ppm = int(np.floor(c * c * 1e6))
        # the documented reduction slack is <= 1e-9 relative; at ppm
        # granularity that's at most one unit on a boundary value
        assert abs(int(row.corr2_ppm) - want_ppm) <= 1, (row.col_a, row.col_b)
        assert int(row.corr2_sign) == int(np.sign(c)) or c == 0


def test_a24_all_integer_output(spark):
    got = qmod.SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE)
    kinds = {f.dataType.simpleString() for f in got.schema.fields}
    assert kinds == {"string", "bigint"}, kinds  # zero doubles in the output


def test_a24_single_scan_plan(spark):
    """Plan contract: ONE scan of lineitem (14 co-moments in one
    aggregate), no join except the constant 6-row VALUES tail."""
    plan = (
        qmod.SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan or "LocalTableScan" in plan


# ---------------------------------------------------------------------------
# io.read_table timezone pin (r5 verdict #1)
# ---------------------------------------------------------------------------


def test_read_table_pins_utc(spark):
    from gcpdatapipelines_spark.io import read_table

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        read_table(spark, SF_SMOKE, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_unix_micros_invariant_under_session_tz(spark):
    """Absolute epoch-us outputs must not depend on the caller's session
    timezone — the exact class behind w17_session_table's driver red."""
    import pyspark.sql.functions as F

    from gcpdatapipelines_spark.io import read_table

    def first_us():
        ev = read_table(spark, SF_SMOKE, "events")
        return (
            ev.select(F.unix_micros("ts").alias("us"))
            .orderBy("us").limit(1).collect()[0].us
        )

    utc = first_us()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ny = first_us()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert utc == ny


# ---------------------------------------------------------------------------
# portable.trunc_dp non-finite guard (r5 ADVICE)
# ---------------------------------------------------------------------------


def test_trunc_dp_nan_inf_passthrough_matches_duckdb(spark):
    """Spark floor(DOUBLE) returns BIGINT (NaN->0, inf saturates); the
    guard must pass NaN/±inf through unchanged and agree with the
    DuckDB twin bit-for-bit, including -0.0 normalization."""
    import math

    import duckdb

    from gcpdatapipelines_spark.operators.portable import trunc_dp, trunc_dp_sql

    vals = [1.2345678, -1.2345678, 0.0, -0.0, float("nan"),
            float("inf"), float("-inf"), 123456.789]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.y for r in df.select(trunc_dp("x", 3).alias("y")).collect()]
    want = duckdb.sql(
        "SELECT " + trunc_dp_sql("x", 3) + " AS y FROM (SELECT "
        "unnest([1.2345678, -1.2345678, 0.0, -0.0, 'nan'::DOUBLE, "
        "'inf'::DOUBLE, '-inf'::DOUBLE, 123456.789]::DOUBLE[]) AS x)"
    ).fetchall()
    want = [r[0] for r in want]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if math.isnan(w):
            assert math.isnan(g)
        else:
            assert g == w
            assert math.copysign(1.0, g) == math.copysign(1.0, w), (g, w)


def test_routed_rest_arm_keeps_null_routes(spark, tmp_path):
    """Rows with a NULL route column must land in __rest, not vanish:
    ~isin(...) is NULL for NULL input and a bare filter drops it."""
    import gcpdatapipelines_spark.streaming as S

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id BIGINT, lang STRING"
    spark.createDataFrame(
        [(1, "en"), (2, None), (3, "zh"), (4, "xx")], schema
    ).write.mode("overwrite").parquet(str(src / "d.parquet"))
    stream = (
        spark.readStream.schema(schema).format("parquet").load(str(src / "d.parquet"))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    qs = S.routed_write_streams_per_trigger(
        stream, out, ckpt, {"en": "1 seconds"}, available_now=True
    )
    for q in qs:
        q.awaitTermination()
    rest = spark.read.parquet(f"{out}/lang=__rest")
    ids = {r.doc_id for r in rest.collect()}
    assert ids == {2, 3, 4}, ids  # NULL route included


def test_routed_empty_triggers_rejected(spark):
    import gcpdatapipelines_spark.streaming as S

    with pytest.raises(ValueError, match="non-empty"):
        S.routed_write_streams_per_trigger(None, "o", "c", {})
    with pytest.raises(ValueError, match="unparseable"):
        S.routed_write_streams_per_trigger(None, "o", "c", {"en": "not an interval"})


# ---------------------------------------------------------------------------
# avg_rank2 / a42_spearman
# ---------------------------------------------------------------------------


def test_avg_rank2_matches_pandas_average_rank(spark):
    import pandas as pd

    from gcpdatapipelines_spark.operators.rows import avg_rank2

    vals = [3.0, 1.0, 2.0, 2.0, 2.0, 5.0, 1.0, 7.5]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i INT, x DOUBLE")
    got = {r.i: r.r2 for r in avg_rank2(df, "x", "r2", nshards=3).collect()}
    want = (pd.Series(vals).rank() * 2).astype(int)
    assert got == {i: int(want[i]) for i in range(len(vals))}


def test_avg_rank2_partitioning_invariant(spark):
    from gcpdatapipelines_spark.operators.rows import avg_rank2

    rows = [(i, float((i * 13) % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "i INT, x DOUBLE")
    a = sorted((r.i, r.r2) for r in avg_rank2(df, "x", "r2").collect())
    b = sorted((r.i, r.r2) for r in avg_rank2(df.repartition(17), "x", "r2").collect())
    assert a == b


def test_a42_spearman_matches_pandas(spark):
    """ppm values must equal floor(rho^2 * 1e6) of pandas' spearman
    (average ranks) up to the documented reduction slack."""
    import numpy as np
    import pandas as pd

    got = qmod.SPARK_QUERIES["a42_spearman"](spark, SF_SMOKE).toPandas()
    pdf = pd.read_parquet(
        f"{SF_SMOKE}/lineitem.parquet",
        columns=["l_quantity", "l_extendedprice", "l_discount"],
    )
    ranks = {c: pdf[c].rank().values for c in pdf.columns}
    assert len(got) == 3
    for _, row in got.iterrows():
        rho = np.corrcoef(ranks[row.col_a], ranks[row.col_b])[0, 1]
        want_ppm = int(np.floor(rho * rho * 1e6))
        assert abs(int(row.rho2_ppm) - want_ppm) <= 1, (row.col_a, row.col_b)
        assert int(row.rho2_sign) == int(np.sign(rho)) or rho == 0


# ---------------------------------------------------------------------------
# group_kfold / sim_recall_eval / sim_mmr_rerank / pagerank tier
# ---------------------------------------------------------------------------


def test_group_kfold_never_splits_a_group(spark):
    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.sample import group_kfold

    ev = read_table(spark, SF_SMOKE, "events").select("user_id", "event_id")
    folds = group_kfold(ev, "user_id", k=5)
    import pyspark.sql.functions as F

    per_user = folds.groupBy("user_id").agg(
        F.countDistinct("fold").alias("nf")
    )
    assert per_user.filter(F.col("nf") > 1).count() == 0
    spread = {r.fold for r in folds.select("fold").distinct().collect()}
    assert spread == {0, 1, 2, 3, 4}


def test_recall_eval_bounds_and_parity(spark):
    got = qmod.SPARK_QUERIES["sim_recall_eval"](spark, SF_SMOKE).collect()
    assert len(got) == 3
    for r in got:
        assert 0 <= r.n_hits <= 10
        assert r.recall_at_10 == r.n_hits / 10.0


def test_mmr_rerank_diversifies(spark):
    """MMR must (a) keep the most relevant candidate first, (b) never
    repeat an id, (c) produce scores that are lam*rel - (1-lam)*maxsim
    against the selected prefix (recomputed in the test)."""
    import math

    from gcpdatapipelines_spark.io import read_table
    from gcpdatapipelines_spark.operators.similarity import mmr_rerank

    emb = read_table(spark, SF_SMOKE, "embeddings")
    out = mmr_rerank(emb, query_id=0, k=6, n_cand=15).collect()
    assert [r.rank for r in out] == list(range(6))
    ids = [r.vec_id for r in out]
    assert len(set(ids)) == 6
    assert out[0].mmr == 0.7 * out[0].rel
    # mmr = 0.7*rel - 0.3*maxsim with |maxsim| <= 1 (a NEGATIVE max
    # cosine to the selected set is a diversity bonus, so mmr may
    # exceed 0.7*rel)
    for r in out[1:]:
        assert 0.7 * r.rel - 0.3 - 1e-12 <= r.mmr <= 0.7 * r.rel + 0.3 + 1e-12
        assert not math.isnan(r.mmr)
