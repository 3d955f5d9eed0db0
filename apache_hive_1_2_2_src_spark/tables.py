"""Catalog layer: register the testdata parquet tables as temp views.

Hive analogue: the Metastore (``metastore/src/java/.../ObjectStore.java``)
holding Table + StorageDescriptor; at query time ``SemanticAnalyzer`` resolves
table names against it. Spark-first answer: `spark.read.parquet` + temp views
(or `enableHiveSupport()` + a real metastore on a cluster — same code path).

Like the Metastore, this layer keeps each table's schema, so query
compilation does not re-read it from the files. Inferring a parquet schema
launches a Spark job that reads a footer (``ParquetFileFormat.inferSchema``
does so even for one file with mergeSchema off); only the first
``load_table`` of a table pays it, and later calls read with the stored
schema. An entry is reused only while both of these match:
  - the table's listing: sorted ``(path, length, modificationTime)`` of its
    files from Hadoop ``FileSystem.listStatus``, so any rewrite, overwrite or
    added file forces a fresh inference;
  - the session values of the confs that shape parquet schema inference
    (``_SCHEMA_CONFS``).
On ``s3a://`` (or any object store) a hit therefore costs a listing (one
``listStatus`` for a table without partition directories) instead of a
Spark job; a miss costs the listing plus the inference job. If the listing
fails (e.g. a missing path) the read falls through to plain
``spark.read.parquet``, so the caller sees Spark's own error.

Scale note: each table is a directory-backed parquet source, so Catalyst
gets partition discovery, predicate pushdown, and column pruning for free;
at 100 TB the only change is the path (s3://...) and `partitionBy` layout.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Semantic confs every query depends on. session.get_session() sets these at
# build time, but an EXTERNAL caller (the correctness driver, a notebook, a
# cluster job) hands us its own SparkSession — so pin them at runtime too.
# All four are runtime-settable (verified: spark.conf.set then read works).
#   - nanosAsLong: testdata events.parquet stores ts as INT64 TIMESTAMP(NANOS)
#     which Spark rejects by default ([PARQUET_TYPE_ILLEGAL]).
#   - UTC + ANSI-off + CORRECTED parser: Hive 1.2.2 semantic parity
#     (TimestampWritable wall-clock reads; NULL-on-bad-cast).
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Idempotently pin semantic confs on any SparkSession (driver-safe)."""
    for key, want in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != want:
                spark.conf.set(key, want)
        except Exception:
            # Non-runtime-settable on some builds → best effort; the session
            # factory (session.py) still sets it at build time.
            pass
    return spark


def hadoop_fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path-class) for ``path`` — works for file://,
    hdfs://, s3a://… anywhere a Hadoop FS implementation is on the
    classpath, unlike local glob/shutil."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return jvm, fs, jvm.org.apache.hadoop.fs.Path


# Session confs whose values change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# Inferred table schemas: path -> (stamp, schema), where stamp is the
# listing fingerprint plus the _SCHEMA_CONFS values at inference time. One
# entry per path: a changed stamp replaces the entry, so rewrites of a
# table do not accumulate stale schemas. No lock: the stamp is read before
# the inference, so a racing writer can only store a stamp older than its
# schema, which the next call sees as a miss.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _listing(spark: SparkSession, path: str) -> tuple:
    """Sorted (path, length, modificationTime) of every file under ``path``
    (a file lists as itself; partition directories are descended)."""
    _, fs, P = hadoop_fs(spark, path)
    out = []
    todo = [P(path)]
    while todo:
        for st in fs.listStatus(todo.pop()):
            if st.isDirectory():
                todo.append(st.getPath())
            else:
                out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from ``_SCHEMAS``
    while the table's files and the schema confs are unchanged."""
    try:
        listing = _listing(spark, path)
    except Py4JJavaError:
        return spark.read.parquet(path)
    stamp = (listing, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Normalize ts to TimestampType regardless of the physical parquet
        # type — the testdata generator has shipped both INT64 TIMESTAMP(NANOS)
        # (arrives as a nanos bigint under nanosAsLong) and plain
        # timestamp[us] (arrives as TIMESTAMP_NTZ). All downstream consumers,
        # including the streaming readers, depend on this single guard.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos-since-epoch long; truncate to micros exactly like
            # DuckDB's TIMESTAMP_NS -> TIMESTAMP read path.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type is not None and ts_type != "timestamp":
            # TIMESTAMP_NTZ (or any future variant): wall-clock cast under the
            # pinned UTC session zone — identical values to DuckDB's read.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
