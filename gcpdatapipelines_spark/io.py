"""Sources (SURVEY.md §2.1, S1-S6) and sinks (§2.2, K1-K5).

The reference reads CSV line-by-line into per-row Python dicts
(reference csv_to_bq.py:14-20, read_csv_no_pandas.py:7-28) and writes
to BigQuery tables (csv_to_bq.py:45-48). Here every source is a
DataFrame reader whose schema reaches the scan (so Catalyst prunes
columns and pushes filters down to the parquet/CSV footer), and every
sink is a DataFrame writer. BigQuery `project:dataset.table` ids map to
warehouse paths / saved tables.

Schema declaration supports all three reference modes (SURVEY.md §1.3):
fixed compact-string schemas ('ID:INTEGER,CLASS:STRING'), inferred
header schemas, and dynamically computed schemas (which in Spark simply
flow with the DataFrame — no side-input plumbing needed).
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference compact-string schema types (csv_to_bq.py:7) -> Spark DDL types.
# BigQuery INTEGER is 64-bit, FLOAT is float64 (SURVEY.md §1.2).
_BQ_TO_SPARK = {
    "STRING": "STRING",
    "INTEGER": "BIGINT",
    "FLOAT": "DOUBLE",
    "TIMESTAMP": "TIMESTAMP",
    "BOOLEAN": "BOOLEAN",
    "BYTES": "BINARY",
}


def bq_string_schema_to_ddl(compact: str) -> str:
    """'ID:INTEGER,CLASS:STRING,SALES:FLOAT' -> 'ID BIGINT, CLASS STRING, ...'.

    Parity with the reference's compact schema strings
    (reference csv_to_bq.py:7, pipeline_csv_bq_template.py:11) and its
    string<->dict schema converters (data_transpose.ipynb cells 44-47).
    """
    parts = []
    for field in compact.split(","):
        name, _, typ = field.strip().partition(":")
        parts.append(f"{name} {_BQ_TO_SPARK[typ.strip().upper()]}")
    return ", ".join(parts)


def _as_ddl(schema: str) -> str:
    """A compact BQ schema string ('ID:INTEGER,...') as DDL; a DDL
    string ('ID BIGINT, ...') passes through unchanged."""
    if ":" in schema and " " not in schema.split(",")[0].strip():
        return bq_string_schema_to_ddl(schema)
    return schema


def bq_dict_schema_to_ddl(fields: list[dict]) -> str:
    """JSON-dict schema ({'name','type','mode'} per field, reference
    csv_to_bq_NYC.py:10-33) -> Spark DDL string. REQUIRED/NULLABLE modes
    map to NOT NULL / nullable."""
    parts = []
    for f in fields:
        ddl = f"{f['name']} {_BQ_TO_SPARK[f['type'].upper()]}"
        if f.get("mode", "NULLABLE").upper() == "REQUIRED":
            ddl += " NOT NULL"
        parts.append(ddl)
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# Sources
# ---------------------------------------------------------------------------


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """S1/S5: CSV read. With ``schema`` (DDL or compact BQ string) the
    reference's split+zip parse (csv_to_bq.py:14-20) collapses into the
    scan itself; with ``infer`` the header-becomes-schema mode of
    read_csv_no_pandas.py:18-24 is matched."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(_as_ddl(schema))
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_csv_with_rejects(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Declared-schema CSV read that quarantines malformed rows instead
    of failing or silently nulling them — the ingestion contract a
    production loader needs (the reference's Beam pipelines simply
    crash or drop on a bad row; csv_to_bq.py:14-20 assumes clean
    input).

    Returns (good, rejects): ``good`` has the declared columns for rows
    that parsed; ``rejects`` has the raw offending line (one column,
    ``raw``). Implementation: PERMISSIVE mode with a columnNameOfCorrupt
    sentinel; both frames are cheap filters over one parsed frame,
    which is cached so the two consumers share one scan.

    The parse cache has no handle of its own and this function never
    unpersists it: callers release it with ``spark.catalog.clearCache()``
    (as the ingest benchmark does after each pass). For inputs beyond
    cache capacity, evicted partitions silently re-parse; write
    ``good`` to a parquet intermediate instead of re-reading it."""
    return _read_with_rejects(
        spark.read.option("header", str(header).lower()), "csv", path, schema
    )


def _read_with_rejects(
    reader: DataFrameReader, fmt: str, path: str, schema: str
) -> tuple[DataFrame, DataFrame]:
    """(good, rejects(raw)) of one cached PERMISSIVE ``fmt`` parse of
    ``path`` under ``schema`` plus a ``__corrupt`` sentinel column."""
    df = (
        reader.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "__corrupt")
        .schema(_as_ddl(schema) + ", __corrupt STRING")
        .format(fmt)
        .load(path)
        .cache()  # one scan, two consumers (good + rejects)
    )
    good = df.filter(F.col("__corrupt").isNull()).drop("__corrupt")
    rejects = df.filter(F.col("__corrupt").isNotNull()).select(
        F.col("__corrupt").alias("raw")
    )
    return good, rejects


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """JSON-Lines read — the interchange format every LLM training-data
    pipeline speaks (one JSON document per line). With ``schema`` (DDL
    or BQ compact string) the read is single-pass; without it Spark
    runs an extra schema-inference scan — fine interactively, pass the
    schema in pipelines (the S5-vs-S1 trade, SURVEY §2.1)."""
    r = spark.read
    if schema is not None:
        r = r.schema(_as_ddl(schema))
    return r.json(path)


def read_jsonl_with_rejects(
    spark: SparkSession,
    path: str,
    schema: str,
) -> tuple[DataFrame, DataFrame]:
    """Declared-schema JSONL read that quarantines malformed lines —
    same contract, parse cache and lifecycle as
    :func:`read_csv_with_rejects`. Returns (good, rejects(raw))."""
    return _read_with_rejects(spark.read, "json", path, schema)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-Lines write, one object per line, gzip by default (the
    conventional .jsonl.gz shard shape; pass None for plain text).
    Partition count upstream controls shard count — compose with
    repartition/compact_parquet-style sizing for fixed-size shards."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


# columns stored as parquet TIMESTAMP(NANOS): surfaced as int64 nanos
# under spark.sql.legacy.parquet.nanosAsLong and converted to
# TimestampType (us) here — same truncation DuckDB applies on read.
_NANOS_TS_COLS = {"events": ("ts",)}

# read_table's schema memo: path -> (key, inferred footer schema). The
# key is (application id, _INFERENCE_CONFS values, file listing), so a
# new session, a conf flip or any rewrite of the table misses. Only the
# schema is kept, never a DataFrame: every read still builds a fresh
# plan over Spark's own file listing. Bounded: oldest path out first.
_SCHEMA_MEMO: dict[str, tuple[tuple, StructType]] = {}
_SCHEMA_MEMO_MAX = 256
_SCHEMA_MEMO_LOCK = threading.Lock()
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_GLOB_CHARS = frozenset("*?[{")


def _local_listing(path: str) -> tuple | None:
    """(relative path, size, mtime ns) of every file under ``path``
    (or of ``path`` itself when it is a file), sorted; None when the
    path does not exist. Hidden and ``_``-prefixed files are kept:
    including more than Spark reads can only cause a miss."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((".", st.st_size, st.st_mtime_ns),)
        out = []
        for dirpath, _dirs, files in os.walk(path, followlinks=True):
            for f in files:
                full = os.path.join(dirpath, f)
                fst = os.stat(full)
                out.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(out))
    except OSError:
        return None


def _schema_memo_key(spark: SparkSession, path: str) -> tuple | None:
    """read_table's memo key for ``path``, built without a Spark job in
    a fixed number of py4j calls; None when the path cannot be
    fingerprinted locally (a non-local file system, a glob, a missing
    path, a session without a JVM), which skips the memo."""
    jsc = getattr(spark, "_jsc", None)
    if jsc is None or _GLOB_CHARS.intersection(path):
        return None
    sc = jsc.sc()
    scheme, sep, rest = path.partition(":")
    if sep and len(scheme) > 1:
        # an explicit scheme: only the local file system is listed here
        if scheme != "file":
            return None
        local = "/" + rest.lstrip("/")
    else:
        default_fs = sc.hadoopConfiguration().get("fs.defaultFS") or "file:///"
        if not default_fs.startswith("file:"):
            return None
        local = path
    listing = _local_listing(local)
    if listing is None:
        return None
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    return (sc.applicationId(), confs, listing)


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the footer schema inferred
    by an earlier read of the same unchanged table in this session
    (the inference costs one Spark job; a read with a given schema
    costs none)."""
    key = _schema_memo_key(spark, path)
    hit = _SCHEMA_MEMO.get(path) if key is not None else None
    if hit is not None and hit[0] == key:
        df = spark.read.schema(hit[1]).parquet(path)
        # the relation must surface exactly the inferred schema (order
        # and types of partition columns included); otherwise infer
        if df.schema == hit[1]:
            return df
    df = spark.read.parquet(path)
    if key is not None:
        with _SCHEMA_MEMO_LOCK:
            _SCHEMA_MEMO.pop(path, None)
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
            _SCHEMA_MEMO[path] = (key, df.schema)
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S2: table scan (BigQuery table -> warehouse parquet).

    Timestamp normalization: fixture timestamps have shipped both as
    TIMESTAMP(NANOS) (older data, int64 under nanosAsLong) and as
    TIMESTAMP(MICROS) without a tz marker (current data, which Spark 4
    reads as TIMESTAMP_NTZ under inferTimestampNTZ). Both are lifted to
    the session TimestampType here so every downstream operator sees ONE
    type — NTZ is not castable to double and is rejected by
    ``unix_micros``. The session tz is UTC (session.py), so the
    NTZ -> LTZ cast is value-identity and matches DuckDB's naive read.

    The session timezone is runtime-pinned to UTC here (not only in
    session.get_spark): the driver builds its OWN SparkSession, and under
    a non-UTC session tz the NTZ->LTZ cast shifts every absolute instant
    by the zone offset — local-wall outputs (date_trunc, epoch
    differences) stay invariant, but absolute epoch-µs outputs
    (unix_micros) shift by the offset. That was w17_session_table's
    driver-red signature (rows ✓ schema ✓ hash ✗, every
    session_start_us/_end_us off by exactly the zone offset).

    Schema memo: inferring a parquet schema runs a Spark job that reads
    the footers. The inferred schema is memoized per table path and a
    repeat read of an unchanged table passes it to the reader, so it
    runs no job. The memo key is the Spark application id, the values
    of the parquet confs that change inference (``nanosAsLong``,
    ``inferTimestampNTZ.enabled``, ``binaryAsString``,
    ``int96AsTimestamp``, ``mergeSchema``) and the table's file listing
    (relative paths, sizes, modification times, read with ``os.stat``).
    A new session, a flipped conf, or any overwrite, append or deletion
    of a file misses and re-infers. Only the schema is kept: each call
    returns a new DataFrame (two reads of one table still self-join
    without ambiguity) over Spark's own listing at call time. Tables on
    a non-local file system, glob paths and missing paths are not
    memoized. At most 256 paths are kept, oldest out first.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name in _NANOS_TS_COLS:
        # runtime-set so sessions built without session.get_spark (the
        # driver creates its own) can still scan TIMESTAMP(NANOS)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        field = df.schema[col] if col in df.columns else None
        if field is not None and field.dataType.simpleString() == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    ntz = [f.name for f in df.schema.fields if f.dataType.simpleString() == "timestamp_ntz"]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    """Load fixture tables and register each as a temp view so both the
    DataFrame API and ``spark.sql`` (S3) address them by name."""
    out = {}
    for name in names:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def from_rows(spark: SparkSession, rows, schema=None) -> DataFrame:
    """S4: in-memory literal source (beam.Create equivalent,
    reference data_transpose.py:93-95)."""
    return spark.createDataFrame(rows, schema=schema)


# ---------------------------------------------------------------------------
# Sinks
# ---------------------------------------------------------------------------


def write_append(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """K1: WRITE_APPEND / CREATE_IF_NEEDED (reference csv_to_bq.py:45-48)."""
    df.write.mode("append").format(fmt).save(path)


def write_overwrite(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """K2: WRITE_TRUNCATE (reference csv_to_bq_NYC.py:138-150)."""
    df.write.mode("overwrite").format(fmt).save(path)


def write_text(df: DataFrame, path: str, suffix: str = ".csv") -> None:
    """K4: WriteToText with suffix (reference pipeline.py:69-71). Spark
    writes a directory of part files; suffix parity via option."""
    if suffix == ".csv":
        df.write.mode("overwrite").option("header", "true").csv(path)
    else:
        df.write.mode("overwrite").text(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Hive-style partitioned layout (path/col=value/...). At scale this
    is the difference between scanning 100 TB and scanning one
    partition: filters on partition columns prune directories before a
    single byte is read (PartitionFilters in the plan — asserted in
    tests/test_scale_ops.py)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving every other partition untouched — the daily
    backfill/restatement primitive (re-run one day of a year-
    partitioned table without rewriting the year). Static overwrite
    mode would truncate the whole table first; the dynamic setting is
    scoped to this one write rather than mutated globally on the
    session."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .format(fmt)
        .save(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_col: str | None = None,
) -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_col) at
    write time so later equi-joins/aggs on that column skip the
    shuffle entirely (both sides pre-partitioned). The warehouse-table
    analogue of the reference's BigQuery clustered tables."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def write_range_clustered(
    df: DataFrame, path: str, cols: list[str], num_files: int = 16
) -> None:
    """Range-clustered layout: repartitionByRange + sortWithinPartitions
    on ``cols`` before writing, so each parquet file covers a disjoint
    key range. Readers filtering on those columns then skip whole files
    via footer min/max stats — the single-dimension version of
    z-order clustering, and the cheap way to make a 100 TB fact table
    range-prunable on its hot filter column (file-level skipping
    composes with the row-group stats parquet already keeps).

    Disjointness of per-file ranges is asserted from the actual footers
    in tests/test_scale_ops.py."""
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_column(
    df: DataFrame,
    cols: list[str],
    bits: int = 6,
    out_col: str = "__z",
    sample_error: float = 0.001,
) -> DataFrame:
    """Attach a z-order (Morton) key over ``cols``.

    Each column is rank-quantized to 2^bits levels against its own
    approximate quantile boundaries (approxQuantile — the driver holds
    only the tiny boundary arrays, never data), then the per-column
    bit codes are interleaved into one integer JVM-side. Quantile
    (not uniform) binning makes the z-cells equal-POPULATION, so the
    curve stays balanced under skewed value distributions.

    Rows close in z are close in EVERY clustering column at once —
    the multi-dimensional generalization of range clustering that
    keeps min/max footer stats selective for filters on any of the
    columns, not just the leading one."""
    levels = 1 << bits
    ncols = len(cols)
    if bits * ncols > 63:
        # Java shifts mask the amount; wrapped positions would silently
        # collide and destroy the clustering
        raise ValueError(f"bits*len(cols) = {bits * ncols} exceeds 63 (long width)")
    probs = [i / levels for i in range(1, levels)]
    # ONE quantile pass over all clustering columns (approxQuantile
    # accepts a column list; per-column calls would each scan the data)
    casted = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    all_bounds = casted.approxQuantile(list(cols), probs, sample_error)

    def _rank_fold(c: str, bounds: list[float]):
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        return F.aggregate(
            barr,
            F.lit(0),
            lambda acc, x: acc + F.when(F.col(c).cast("double") > x, 1).otherwise(0),
        )

    # Morton interleave via a per-column LOOKUP TABLE: spread[v] has
    # v's bits redistributed to stride-ncols positions (offset ci).
    # element_at(table, code+1) references each rank fold exactly ONCE
    # — a per-bit shiftleft(code, ...) chain would re-inline the
    # fold `bits` times after projection collapse.
    z = None
    for ci, c in enumerate(cols):
        spread = [
            sum(((v >> b) & 1) << (b * ncols + ci) for b in range(bits))
            for v in range(levels)
        ]
        table = F.array(*[F.lit(v).cast("long") for v in spread])
        contrib = F.element_at(table, _rank_fold(c, all_bounds[ci]) + 1)
        z = contrib if z is None else z + contrib  # disjoint bit positions: + == OR
    return df.withColumn(out_col, z)


def write_zorder_clustered(
    df: DataFrame, path: str, cols: list[str], num_files: int = 16, bits: int = 6
) -> None:
    """Z-order-clustered parquet: range-partition + sort by the
    interleaved z-value, then drop it before writing. Each file covers
    a compact hyper-rectangle of the multi-column key space, so
    filters on ANY clustering column skip whole files via footer
    min/max stats — where write_range_clustered (lexicographic) only
    prunes on its leading column. The multi-dim upgrade for a 100 TB
    fact table with two independent hot filter columns; skipping on
    the second column is asserted from real footers in
    tests/test_scale_ops.py."""
    (
        zorder_column(df, cols, bits=bits)
        .repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def _reads_only_cache(df: DataFrame) -> bool:
    """True when every leaf of ``df``'s plan, with cache entries
    substituted, is an ``InMemoryRelation``: each input is already read
    from one cache entry, so caching ``df`` would store its rows twice."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()  # noqa: SLF001
    return all(leaves.apply(i).nodeName() == "InMemoryRelation" for i in range(leaves.size()))


def write_fanout(df: DataFrame, raw_path: str, agg_df: DataFrame, agg_path: str) -> None:
    """K5: multi-sink fan-out — one source written raw AND aggregated
    (reference csv_to_bq_NYC.py:128-150). The source is scanned once:
    ``df`` is cached for the two writes unless its plan already reads
    only cache entries (``read_csv_with_rejects``' parse cache, or a
    frame the caller cached), which it then leaves as it found them. At
    100 TB the cache would instead be a first-write then re-read, but
    the two-actions-one-lineage shape is identical."""
    owned = not _reads_only_cache(df)
    if owned:
        df.cache()
    try:
        write_overwrite(df, raw_path)
        write_overwrite(agg_df, agg_path)
    finally:
        if owned:
            df.unpersist()


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_bytes`` files (the post-streaming-ingest maintenance job —
    file sinks emit one file per micro-batch per partition, and a 100 TB
    table of 1 MB files makes every scan pay 100M open/seek/footer
    costs). File count derives from the ACTUAL on-disk byte size via the
    Hadoop FileSystem API (works on HDFS/S3A/local alike), not a row
    estimate; the rewrite is one round-robin repartition — no skew, no
    sort, no shuffle beyond the single exchange. Returns the number of
    files written."""
    import math

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(in_path)
    fs = p.getFileSystem(conf)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(in_path).repartition(n_files).write.mode("overwrite").parquet(
        out_path
    )
    return n_files
