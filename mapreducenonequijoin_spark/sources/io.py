"""Scans and sinks (SURVEY.md §2.1).

The reference's input layer is Hadoop ``FileInputFormat`` splits +
per-record parsing inside the Mapper [HADOOP-API]; ours is the Spark
DataFrame reader, which gives columnar Parquet scans with predicate
pushdown and column pruning for free. This module is the ONLY place
that touches storage paths, so sources can be swapped (S3/HDFS/local)
without touching operators.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Fixture tables generated by the driver (TESTDATA.md).
TABLES = [
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
]


# Spark's inferred schema per table, keyed by _files_key; least recently
# used entries are evicted past _SCHEMA_MEMO_MAX.
_SCHEMA_MEMO: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMA_MEMO_MAX = 64


def _files_key(path: str) -> tuple | None:
    """(abspath, sorted (relpath, size, mtime_ns) of every file under
    it) for a local parquet file or directory; None for a path that is
    not on the local file system, which is then never memoized."""
    path = os.path.abspath(path)
    if os.path.isfile(path):
        st = os.stat(path)
        return path, ((".", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    files = []
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            st = os.stat(p)
            files.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return path, tuple(sorted(files))


def _local_path(uri: str) -> str | None:
    """Path of a local file named by a ``file:`` URI (percent-decoded) or
    a bare path; None for another scheme or a path that is not a local
    file (the same local-only rule as ``_files_key``)."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    path = unquote(parsed.path)
    return path if os.path.isfile(path) else None


def scan_row_count(df: DataFrame) -> int | None:
    """Row count of a bare parquet scan, read from the file footers with
    no Spark job; None for any other plan.

    A count is returned only when ``df``'s optimized logical plan is zero
    or more ``Project`` nodes (which keep every row) over a parquet
    ``HadoopFsRelation`` whose files are all on the local file system:
    the count is then the sum of the footers' ``num_rows``. A filter,
    limit, sample, union, join or aggregate changes the row count, and a
    remote file is not read here, so those return None.
    """
    import pyarrow.parquet as pq

    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() == "Project":
        node = node.child()
    if node.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = node.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    paths = [_local_path(f) for f in df.inputFiles()]
    if any(p is None for p in paths):
        return None
    return sum(pq.read_metadata(p).num_rows for p in paths)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table.

    Parquet scan → vectorized reader, pushdown, pruning. At cluster
    scale the same call reads a partitioned directory tree; partition
    pruning applies when the path is partitioned by a column.

    Nanosecond-timestamp handling: ``events.ts`` is Parquet
    TIMESTAMP(NANOS), which Spark 4 refuses to read natively
    (PARQUET_TYPE_ILLEGAL). We read it as raw int64 nanos
    (``nanosAsLong``, a runtime SQL conf so it works under any driver-
    created session) and truncate to microsecond TimestampType with
    integer division — the exact truncation DuckDB 1.0 applies when it
    coerces ns→µs, keeping oracle parity bit-exact.

    NTZ-timestamp handling: if the fixture is written as Parquet
    TIMESTAMP(MICROS, isAdjustedToUTC=false), Spark 4 infers
    TIMESTAMP_NTZ by default, which breaks ``unix_micros`` and
    ``withWatermark``. We disable the inference at the session level
    (runtime conf, effective per-read) AND defensively cast any
    surviving ``timestamp_ntz`` column to ``timestamp`` so plans are
    robust under any session's inference setting. The NTZ→timestamp
    reinterpretation (and every collected timestamp value) is only
    value-identical to the DuckDB oracle when the session time zone is
    UTC, so we pin ``spark.sql.session.timeZone`` here too rather than
    trusting the host TZ of whoever built the session.

    Schema memo: inferring a parquet schema is a Spark job (~0.1 s).
    The inferred schema is memoized per table, keyed on the absolute
    path plus every file's (relative path, size, mtime_ns), so an
    unchanged input is read with ``spark.read.schema`` and no job, and
    any rewrite of the files re-infers. The memo keeps the 64 most
    recently used tables.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    key = _files_key(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
            if len(_SCHEMA_MEMO) > _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.popitem(last=False)
    else:
        _SCHEMA_MEMO.move_to_end(key)
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All fixture tables as a dict of DataFrames (lazy; no I/O yet)."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def read_csv(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """Delimited-text scan — the reference's native format (one record
    per line, positional fields parsed in the Mapper [HADOOP-API]).

    Always pass an explicit schema in production: inference re-reads
    the input and pins types from a sample, both wrong at 100 TB.
    """
    reader = spark.read.options(header=options.pop("header", True), **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """JSON-lines scan; explicit schema avoids a schema-inference pass."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def sink_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                 partition_by: list[str] | None = None) -> None:
    """Write results (reference: TextOutputFormat part-files on HDFS
    [HADOOP-API]). ``partition_by`` enables downstream partition
    pruning — the 100 TB-scale default for date/tenant-keyed outputs.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
