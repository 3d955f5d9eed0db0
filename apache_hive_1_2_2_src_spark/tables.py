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

The layer also keeps the JVM handles it needs, since at small scale a
load's py4j round trips cost more than its listing. ``hadoop_fs`` keeps
one (FileSystem, Path class) per (SparkContext, scheme://authority) for
every caller (acid, catalog, hive_bucketing, the streaming drains, this
module). The key is the SparkContext object, so a session built after
``spark.stop()`` never gets a stopped context's handle, and the scheme and
authority as Hadoop's ``Path`` parses them, lowercased as Hadoop's own
FileSystem cache keys them; a path without a scheme shares the entry of
the default file system, so ``fs.defaultFS`` must not change on a live
context. A load reads the session's confs once (``_session_confs``, three
JVM calls) for both the pinned semantic confs and the stamp, and a hit
reads with the stored JVM schema instead of re-parsing its JSON.

Scale note: each table is a directory-backed parquet source, so Catalyst
gets partition discovery, predicate pushdown, and column pruning for free;
at 100 TB the only change is the path (s3://...) and `partitionBy` layout.
"""

from __future__ import annotations

import json
import os
import threading
import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# JVM handles kept per SparkContext, so a stopped context's handles are never
# handed to its successor and go away with it: SparkContext -> {key: handle}.
_HANDLES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_HANDLES_LOCK = threading.Lock()


def _handle(spark: SparkSession, key: tuple, make):
    """The handle stored under ``key`` for ``spark``'s SparkContext; ``make()``
    creates it on the first call."""
    with _HANDLES_LOCK:
        handles = _HANDLES.setdefault(spark.sparkContext, {})
        if key not in handles:
            handles[key] = make()
        return handles[key]


def _session_confs(spark: SparkSession) -> dict[str, str]:
    """Every conf set on the session (what ``spark.conf.get(key, None)`` reads
    for each key; an unset key is absent), in three JVM calls."""
    jvm = spark._jvm
    mapper = _handle(spark, ("json",), lambda: jvm.com.fasterxml.jackson.databind.ObjectMapper())
    return json.loads(mapper.writeValueAsString(spark._jsparkSession.conf().getAllAsJava()))


def ensure_confs(spark: SparkSession) -> dict[str, str]:
    """Idempotently pin semantic confs on any SparkSession (driver-safe);
    return the session's confs (``_session_confs``) as they are after
    pinning."""
    confs = _session_confs(spark)
    for key, want in _RUNTIME_CONFS.items():
        if confs.get(key) != want:
            try:
                spark.conf.set(key, want)
                confs[key] = want
            except Exception:
                # Non-runtime-settable on some builds → best effort; the session
                # factory (session.py) still sets it at build time.
                pass
    return confs


def _fs_key(path: str) -> tuple[str, str]:
    """(scheme, authority) of ``path``, split as Hadoop's ``Path`` splits them
    and lowercased as Hadoop's FileSystem cache keys them; a path without a
    scheme keys as ("", ""), the default file system."""
    colon, slash = path.find(":"), path.find("/")
    scheme = ""
    if colon != -1 and (slash == -1 or colon < slash):
        scheme, path = path[:colon], path[colon + 1:]
    authority = ""
    if path.startswith("//"):
        end = path.find("/", 2)
        authority = path[2:] if end == -1 else path[2:end]
    return scheme.lower(), authority.lower()


def hadoop_fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path-class) for ``path`` — works for file://,
    hdfs://, s3a://… anywhere a Hadoop FS implementation is on the
    classpath, unlike local glob/shutil. The FileSystem and the Path class
    are looked up once per (SparkContext, scheme://authority)."""
    jvm = spark._jvm

    def make():
        P = jvm.org.apache.hadoop.fs.Path
        return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P

    fs, P = _handle(spark, ("fs", *_fs_key(path)), make)
    return jvm, fs, P


# Session confs whose values change what parquet schema inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# Inferred table schemas: path -> (stamp, JVM StructType), where stamp is the
# listing fingerprint plus the _SCHEMA_CONFS values at inference time. One
# entry per path: a changed stamp replaces the entry, so rewrites of a
# table do not accumulate stale schemas. No lock: the stamp is read before
# the inference, so a racing writer can only store a stamp older than its
# schema, which the next call sees as a miss.
_SCHEMAS: dict[str, tuple[tuple, object]] = {}


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


def _parquet(spark: SparkSession, path: str, jschema=None) -> DataFrame:
    """``spark.read.parquet(path)``, or ``spark.read.schema(s).parquet(path)``
    with ``jschema`` the JVM StructType of ``s``, made with JVM calls alone
    (PySpark's reader re-parses a schema's JSON and builds a Java list for
    the path on every call)."""
    reader = spark._jsparkSession.read()
    if jschema is not None:
        reader = reader.schema(jschema)
    return DataFrame(reader.format("parquet").load(path), spark)


def _read_parquet(spark: SparkSession, path: str, confs: dict[str, str]) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema taken from ``_SCHEMAS``
    while the table's files and the schema confs (read from ``confs``, the
    session's confs) are unchanged."""
    try:
        listing = _listing(spark, path)
    except Py4JJavaError:
        return _parquet(spark, path)
    stamp = (listing, tuple(confs.get(k) for k in _SCHEMA_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:
        return _parquet(spark, path, hit[1])
    df = _parquet(spark, path)
    _SCHEMAS[path] = (stamp, df._jdf.schema())
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet", ensure_confs(spark))
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
