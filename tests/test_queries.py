"""queries.py: catalog entries checked against hand models, plans and their oracle twins."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from gcpdatapipelines_spark import queries as Q
from gcpdatapipelines_spark.plans import formatted_plan
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_c4_funnel_stages_materialized_no_corpus_rescan(spark, sf_dir):
    """After the stage checkpoints the final funnel plan must read the
    materialized stage outputs, not re-scan documents.parquet (the
    fused plan scanned it 5x)."""
    import __spark_entry__ as entry

    df = entry.queries()["pipeline_c4_funnel"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Scan parquet" not in plan, plan
    assert "ExistingRDD" in plan


def test_w17_probes_partition_the_select(spark):
    """The three probes + duration_us must jointly cover every w17
    output column (that is what makes a probe red NAME the guilty
    column family instead of re-redding the whole row)."""
    qs = Q.queries()
    main = set(qs["w17_session_table"](spark, SF_SMOKE).columns)
    ids = set(qs["w17_probe_ids"](spark, SF_SMOKE).columns)
    bounds = set(qs["w17_probe_bounds"](spark, SF_SMOKE).columns)
    value = set(qs["w17_probe_value"](spark, SF_SMOKE).columns)
    # probe union covers identity, counts, conversion, value, and the
    # absolute form of the bounds whose relative form main now carries
    assert ids == {"user_id", "sess_id", "n_events", "converted"}
    assert bounds == {"user_id", "sess_id", "session_start_us", "session_end_us"}
    assert value == {"user_id", "sess_id", "total_value"}
    assert main == {
        "user_id",
        "sess_id",
        "session_start_rel_us",
        "session_end_rel_us",
        "n_events",
        "total_value",
        "duration_us",
        "converted",
    }


def test_w17_relative_bounds_plan_broadcasts_the_corpus_min(spark):
    """The corpus-min subtraction must enter the plan as a broadcast of
    a 1-row aggregate — not a cartesian product and not a global
    window (which would single-partition the session table)."""
    plan = (
        Q.queries()["w17_session_table"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # both windows share ONE (user, ts, event_id) sort: exactly one
    # user-keyed exchange feeds the window pair
    assert plan.count("Window") >= 1


def test_w17_relative_bounds_consistent_with_absolute(spark):
    """rel = abs - min(abs) row-for-row, and duration matches both
    forms — the probes and the production entry describe ONE session
    table."""
    qs = Q.queries()
    rel = {
        (r.user_id, r.sess_id): r
        for r in qs["w17_session_table"](spark, SF_SMOKE).collect()
    }
    bounds = qs["w17_probe_bounds"](spark, SF_SMOKE).collect()
    t0 = min(r.session_start_us for r in bounds)
    assert len(bounds) == len(rel)
    for r in bounds:
        m = rel[(r.user_id, r.sess_id)]
        assert m.session_start_rel_us == r.session_start_us - t0
        assert m.session_end_rel_us == r.session_end_us - t0
        assert m.duration_us == r.session_end_us - r.session_start_us


# ---------------------------------------------------------------------------
# text_zipf_fit: ln truncation-boundary audit (the NOTES HLL procedure)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_zipf_ln_boundary_margin(sf_dir):
    """Every ln value the zipf fit floor-truncates at 6 dp must sit
    far from a truncation boundary relative to worst-case cross-libm
    log divergence (~a few ulps). Margin demanded: 1e-3 scaled units
    vs ~5e-9 scaled worst-case divergence at ln <= 12 — >= 2e5x.
    If this ever fails on regenerated fixtures, coarsen the dp or move
    the query to the exact-integer probe surface."""
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    rows = con.sql(
        """
        WITH counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                      AS token FROM documents)
            GROUP BY token),
        top AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 200),
        rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r
               FROM top)
        SELECT r, n FROM rk
        """
    ).fetchall()
    assert len(rows) > 10
    worst = 1.0
    for r, n in rows:
        for v in (math.log(float(r)), math.log(float(n))):
            if v == 0.0:  # ln(1): exact zero in every engine
                continue
            s = v * 1e6
            frac = s - math.floor(s)
            worst = min(worst, frac, 1.0 - frac)
    assert worst > 1e-3, f"zipf ln value within {worst} of a 6dp boundary"


def test_zipf_probe_is_pure_integer_surface():
    """The counts probe must contain no float function at all — it is
    the libm-free half of the zipf diagnosis."""
    sql = Q.ORACLE_SQL["text_zipf_probe_counts"]
    for bad in ("ln(", "log(", "floor(", "DOUBLE", "DECIMAL"):
        assert bad not in sql, f"{bad!r} leaked into the integer probe"


def test_zipf_slope_near_minus_one(spark):
    """Sanity: the corpus is natural-ish text; the fitted exponent
    must be negative and in a plausible Zipf band."""
    out = Q.queries()["text_zipf_fit"](spark, SF_SMOKE).first()
    assert out.n_points > 10
    assert -3.0 < out.zipf_slope < -0.05


# ---------------------------------------------------------------------------
# FFD oracle sanity: the catalog Spark packer obeys the invariants the
# recursive-CTE oracle enforces pair-for-pair at the driver
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_recursive_cte_oracle(spark):
    """Cross-engine parity at test scale: the applyInPandas FFD kernel
    and the DuckDB recursive CTE assign the identical (shard, bin) to
    every doc."""
    import duckdb

    from gcpdatapipelines_spark import queries as Q

    sf_dir = SF_SMOKE
    spark_out = (
        Q.SPARK_QUERIES["sample_pack_sequences"](spark, sf_dir)
        .toPandas()
        .sort_values(["doc_id"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    duck_out = (
        con.sql(Q.ORACLE_SQL["sample_pack_sequences"])
        .df()
        .sort_values(["doc_id"])
        .reset_index(drop=True)
    )
    assert len(spark_out) == len(duck_out) > 0
    for col in ["shard", "doc_id", "n_tokens", "bin_id"]:
        assert list(spark_out[col]) == list(duck_out[col]), col


def test_semantic_keep_no_cartesian(spark):
    from gcpdatapipelines_spark.queries import SPARK_QUERIES

    plan = (
        SPARK_QUERIES["dedup_semantic_keep"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corr_matrix_single_scan(spark):
    from gcpdatapipelines_spark.queries import SPARK_QUERIES

    plan = (
        SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, "moment CTE must not re-scan per pair"


def test_winsorized_mean_clips_outliers(spark):
    """A single extreme outlier moves the raw mean but barely the
    winsorized one; with no outliers the two agree."""
    from gcpdatapipelines_spark.queries import SPARK_QUERIES
    import tempfile, os

    vals = [float(v) for v in range(1, 100)] + [100000.0]
    rows = [
        (i, "2024-01-01 00:00:00", 1, "x", v, "{}")
        for i, v in enumerate(vals)
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING,"
            " value DOUBLE, props STRING",
        ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
            os.path.join(d, "events.parquet")
        )
        got = SPARK_QUERIES["a41_winsorized_mean"](spark, d).collect()[0]
    assert got["mean_raw"] > 1000
    assert got["mean_winsorized"] < 60, got


# ------------------------------------------------- pareto concentration


def test_pareto_concentration_crossing_rule(spark, sf_dir):
    """n_top80 is the minimal prefix of revenue-ranked customers whose
    cumulative share reaches 80%: check against a python replay on one
    nation."""
    from gcpdatapipelines_spark.queries import SPARK_QUERIES
    from gcpdatapipelines_spark.io import read_table
    import collections

    out = {r["c_nationkey"]: r for r in
           SPARK_QUERIES["w31_pareto_concentration"](spark, sf_dir).collect()}
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    rows = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_nationkey", "o_custkey", "o_totalprice")
        .collect()
    )
    rev = collections.defaultdict(float)
    nation = {}
    for r in rows:
        rev[r["o_custkey"]] += r["o_totalprice"]
        nation[r["o_custkey"]] = r["c_nationkey"]
    nk = next(iter(out))
    custs = sorted(
        [(v, k) for k, v in rev.items() if nation[k] == nk],
        key=lambda t: (-t[0], t[1]),
    )
    total = sum(v for v, _ in custs)
    cum, n80 = 0.0, 0
    for v, _ in custs:
        if cum < 0.8 * total - 1e-6:
            n80 += 1
        cum += v
    assert out[nk]["n_customers"] == len(custs)
    assert abs(out[nk]["n_top80"] - n80) <= 0  # exact decimal crossing


# ---------------------------------------------------------------------------
# a24 exact-integer corr matrix
# ---------------------------------------------------------------------------


def test_a24_ppm_matches_numpy(spark):
    """The integer long-division ppm must equal floor(corr^2 * 1e6) of
    the cent-quantized inputs (numpy ground truth) for every pair."""
    import numpy as np
    import pandas as pd

    got = Q.SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE).toPandas()
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
    got = Q.SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE)
    kinds = {f.dataType.simpleString() for f in got.schema.fields}
    assert kinds == {"string", "bigint"}, kinds  # zero doubles in the output


def test_a24_single_scan_plan(spark):
    """Plan contract: ONE scan of lineitem (14 co-moments in one
    aggregate), no join except the constant 6-row VALUES tail."""
    plan = (
        Q.SPARK_QUERIES["a24_corr_matrix"](spark, SF_SMOKE)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "CartesianProduct" not in plan or "LocalTableScan" in plan


def test_a42_spearman_matches_pandas(spark):
    """ppm values must equal floor(rho^2 * 1e6) of pandas' spearman
    (average ranks) up to the documented reduction slack."""
    import numpy as np
    import pandas as pd

    got = Q.SPARK_QUERIES["a42_spearman"](spark, SF_SMOKE).toPandas()
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


def test_recall_eval_bounds_and_parity(spark):
    got = Q.SPARK_QUERIES["sim_recall_eval"](spark, SF_SMOKE).collect()
    assert len(got) == 3
    for r in got:
        assert 0 <= r.n_hits <= 10
        assert r.recall_at_10 == r.n_hits / 10.0


def test_qte_catalog_entry_partitioning_invariant(spark):
    from gcpdatapipelines_spark.queries import SPARK_QUERIES
    from tests.conftest import SF_SMOKE

    a = [tuple(r) for r in SPARK_QUERIES["a45_quantile_treatment"](spark, SF_SMOKE).collect()]
    b = [tuple(r) for r in SPARK_QUERIES["a45_quantile_treatment"](spark, SF_SMOKE).collect()]
    assert a == b and len(a) == 3
