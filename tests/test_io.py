"""Sources/sinks (S*/K*) and schema-mode tests (SURVEY.md §1.3)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from gcpdatapipelines_spark import io
from tests.conftest import SF_SMOKE, jobs_started_by


def test_bq_string_schema_to_ddl():
    # reference compact schema csv_to_bq.py:7
    assert (
        io.bq_string_schema_to_ddl("ID:INTEGER,CLASS:STRING,SALES:FLOAT")
        == "ID BIGINT, CLASS STRING, SALES DOUBLE"
    )


def test_bq_dict_schema_to_ddl():
    # reference JSON-dict schema csv_to_bq_NYC.py:10-33
    fields = [
        {"name": "id", "type": "STRING", "mode": "REQUIRED"},
        {"name": "price", "type": "FLOAT", "mode": "NULLABLE"},
    ]
    assert io.bq_dict_schema_to_ddl(fields) == "id STRING NOT NULL, price DOUBLE"


def test_csv_declared_schema_roundtrip(spark, tmp_path):
    """S1 + K4: schema'd CSV read replaces the reference's split+zip
    parse; write with header and read back."""
    p = str(tmp_path / "in.csv")
    with open(p, "w") as f:
        f.write("ID,CLASS,SALES\n1,AAA,1.5\n2,BBB,2.5\n")
    df = io.read_csv(spark, p, schema="ID:INTEGER,CLASS:STRING,SALES:FLOAT")
    assert df.schema.simpleString() == "struct<ID:bigint,CLASS:string,SALES:double>"
    assert df.count() == 2

    out = str(tmp_path / "out")
    io.write_text(df, out, suffix=".csv")
    back = io.read_csv(spark, out, header=True, infer=True)
    assert back.count() == 2


def test_csv_inferred_schema(spark, tmp_path):
    """S5: header-inferred mode (reference read_csv_no_pandas.py:18-24)."""
    p = str(tmp_path / "d.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = io.read_csv(spark, p, infer=True)
    assert df.columns == ["a", "b"]
    assert dict(df.dtypes)["a"] == "int"


def test_append_vs_overwrite(spark, tmp_path):
    """K1 vs K2 write modes (WRITE_APPEND / WRITE_TRUNCATE)."""
    df = spark.range(5)
    p = str(tmp_path / "t")
    io.write_append(df, p)
    io.write_append(df, p)
    assert spark.read.parquet(p).count() == 10
    io.write_overwrite(df, p)
    assert spark.read.parquet(p).count() == 5


def test_fanout(spark, tmp_path):
    """K5: one cached source, two sinks (reference csv_to_bq_NYC.py:128-150)."""
    df = spark.range(100).withColumn("k", F.col("id") % 3)
    agg = df.groupBy("k").count()
    raw, aggp = str(tmp_path / "raw"), str(tmp_path / "agg")
    io.write_fanout(df, raw, agg, aggp)
    assert spark.read.parquet(raw).count() == 100
    assert spark.read.parquet(aggp).count() == 3


def test_load_tables_registers_views(spark, sf_dir):
    tables = io.load_tables(spark, sf_dir, names=("region", "nation"))
    assert set(tables) == {"region", "nation"}
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] == 5


def test_events_ts_is_timestamp(spark, sf_dir):
    """TIMESTAMP(NANOS) parquet surfaces as a proper TimestampType."""
    ev = io.read_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


# ---------------------------------------------------------------------------
# read_table schema memo
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("partitioned", [False, True], ids=["flat", "partitioned"])
def test_read_table_repeat_read_runs_no_job(spark, tmp_path, partitioned):
    """A repeat read_table of an unchanged table takes its schema from
    the session memo: no footer-inference job, same schema and rows."""
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")], "id BIGINT, v STRING, day STRING"
    )
    (df.write.partitionBy("day") if partitioned else df.write).parquet(str(tmp_path / "t.parquet"))
    first, jobs_first = jobs_started_by(spark, lambda: io.read_table(spark, str(tmp_path), "t"))
    again, jobs_again = jobs_started_by(spark, lambda: io.read_table(spark, str(tmp_path), "t"))
    assert jobs_first >= 1  # the count sees the inference job
    assert jobs_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_read_table_memo_misses_on_overwrite_append_and_conf(spark, tmp_path):
    """Each change that can alter the inferred schema re-infers: an
    overwrite with another schema, an appended file (visible under
    mergeSchema) and a flipped nanosAsLong (whose new answer for a
    TIMESTAMP(NANOS) column is Spark's inference error)."""
    d, path = str(tmp_path), str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id BIGINT, v STRING").write.parquet(path)
    io.read_table(spark, d, "t")
    assert io.read_table(spark, d, "t").columns == ["id", "v"]

    io.write_overwrite(spark.createDataFrame([(2, 2.5)], "id BIGINT, w DOUBLE"), path)
    df = io.read_table(spark, d, "t")
    assert df.dtypes == [("id", "bigint"), ("w", "double")]
    assert [tuple(r) for r in df.collect()] == [(2, 2.5)]

    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        io.read_table(spark, d, "t")
        io.write_append(
            spark.createDataFrame([(3, 3.5, "z")], "id BIGINT, w DOUBLE, x STRING"), path
        )
        df = io.read_table(spark, d, "t")
        assert sorted(df.columns) == ["id", "w", "x"]
        assert sorted(tuple(r[c] for c in ("id", "w", "x")) for r in df.collect()) == [
            (2, 2.5, None),
            (3, 3.5, "z"),
        ]
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")

    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_700_000_000_123_456_789
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([ns], pa.timestamp("ns"))}),
        str(tmp_path / "nanos.parquet"),
    )
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        io.read_table(spark, d, "nanos")
        df = io.read_table(spark, d, "nanos")
        assert dict(df.dtypes)["ts"] == "bigint"
        assert df.collect()[0]["ts"] == ns
        # without nanosAsLong Spark has no type for TIMESTAMP(NANOS):
        # re-inference must raise, not reuse the memoized bigint
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            io.read_table(spark, d, "nanos")
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", before)


def test_read_table_two_reads_self_join(spark, tmp_path):
    """Two reads of one table (the second served by the schema memo)
    are independent relations: a self-join on them is not ambiguous."""
    spark.range(5).write.parquet(str(tmp_path / "t.parquet"))
    a = io.read_table(spark, str(tmp_path), "t")
    b = io.read_table(spark, str(tmp_path), "t")
    pairs = a.join(b, a["id"] == b["id"] + 1).select(a["id"].alias("x"), b["id"].alias("y"))
    assert sorted(tuple(r) for r in pairs.collect()) == [(i + 1, i) for i in range(4)]


def test_csv_rejects_quarantined(spark, tmp_path):
    """Malformed rows (wrong arity / unparseable types) land in the
    rejects frame with their raw line; good rows parse fully; nothing
    is silently dropped."""
    from gcpdatapipelines_spark.io import read_csv_with_rejects

    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,amount\n"
        "1,alice,10.5\n"
        "2,bob,not_a_number\n"
        "3,carol,7.25\n"
    )
    good, rejects = read_csv_with_rejects(
        spark, str(p), "id BIGINT, name STRING, amount DOUBLE"
    )
    g = {(r["id"], r["name"], r["amount"]) for r in good.collect()}
    assert g == {(1, "alice", 10.5), (3, "carol", 7.25)}
    rj = [r["raw"] for r in rejects.collect()]
    assert rj == ["2,bob,not_a_number"]


def test_merge_schema_read_unifies_evolved_files(spark, tmp_path):
    """Schema evolution: files written before and after a column was
    added read back as ONE unified schema under mergeSchema, with the
    missing column NULL for old files — the contract an append-only
    ingest (reference csv_to_bq.py APPEND mode) relies on when the
    source adds a field."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id BIGINT, v1 STRING").write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id BIGINT, v1 STRING, v2 DOUBLE"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v1", "v2"}
    rows = {r["id"]: (r["v1"], r["v2"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


# ---------------------------------------------------------------------------
# JSONL
# ---------------------------------------------------------------------------


def test_jsonl_roundtrip_with_schema(spark, tmp_path):
    from gcpdatapipelines_spark.io import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None)], "id BIGINT, name STRING, score DOUBLE"
    )
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(df, path, compression=None)
    back = read_jsonl(spark, path, "id BIGINT, name STRING, score DOUBLE")
    assert {tuple(r) for r in back.collect()} == {(1, "alpha", 1.5), (2, "beta", None)}


def test_jsonl_write_gzip_default(spark, tmp_path):
    import glob

    from gcpdatapipelines_spark.io import write_jsonl

    df = spark.createDataFrame([(1, "x")], "id BIGINT, v STRING")
    path = str(tmp_path / "gz")
    write_jsonl(df, path)
    assert glob.glob(f"{path}/part-*.json.gz")


def test_jsonl_rejects_quarantined(spark, tmp_path):
    from gcpdatapipelines_spark.io import read_jsonl_with_rejects

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "name": "also ok"}\n'
    )
    good, rejects = read_jsonl_with_rejects(
        spark, str(src), "id BIGINT, name STRING"
    )
    assert {(r.id, r.name) for r in good.collect()} == {(1, "ok"), (2, "also ok")}
    raws = [r.raw for r in rejects.collect()]
    assert raws == ["this is not json"]


def test_jsonl_bq_compact_schema_accepted(spark, tmp_path):
    from gcpdatapipelines_spark.io import read_jsonl, write_jsonl

    df = spark.createDataFrame([(7, "z")], "id BIGINT, name STRING")
    path = str(tmp_path / "bq")
    write_jsonl(df, path, compression=None)
    back = read_jsonl(spark, path, "id:INTEGER,name:STRING")
    assert back.collect()[0].id == 7


def test_orc_roundtrip(spark, tmp_path):
    """ORC is a first-class columnar format alongside parquet: same
    write helpers, same predicate-pushdown reader."""
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id BIGINT, k STRING, v DOUBLE"
    )
    p = str(tmp_path / "orc_t")
    io.write_overwrite(df, p, fmt="orc")
    back = spark.read.orc(p)
    assert sorted((r.id, r.k, r.v) for r in back.collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
    ]
    io.write_append(df, p, fmt="orc")
    assert spark.read.orc(p).count() == 4


def test_overwrite_partitions_replaces_only_touched(spark, tmp_path):
    """Dynamic partition overwrite: restating one day leaves every
    other partition byte-identical (the daily-backfill primitive)."""
    p = str(tmp_path / "days")
    full = spark.createDataFrame(
        [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0), ("2024-01-02", 3, 30.0)],
        "day STRING, id BIGINT, v DOUBLE",
    )
    io.write_partitioned(full, p, ["day"])
    restated = spark.createDataFrame(
        [("2024-01-02", 3, 99.0), ("2024-01-02", 4, 44.0)],
        "day STRING, id BIGINT, v DOUBLE",
    )
    io.overwrite_partitions(restated, p, ["day"])
    back = spark.read.parquet(p)
    d1 = sorted((r.id, r.v) for r in back.filter("day = '2024-01-01'").collect())
    d2 = sorted((r.id, r.v) for r in back.filter("day = '2024-01-02'").collect())
    assert d1 == [(1, 10.0), (2, 20.0)]  # untouched partition intact
    assert d2 == [(3, 99.0), (4, 44.0)]  # restated partition replaced


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
