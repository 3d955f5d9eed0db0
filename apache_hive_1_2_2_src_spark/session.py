"""SparkSession factory with Hive-1.2.2-compatible semantics pinned.

Hive's session/config layer is ``common/src/java/org/apache/hadoop/hive/conf/
HiveConf.java`` (~1,800 knobs) + ``ql/session/SessionState.java``. We need a
handful of Spark confs to (a) pin semantic parity (timezone, case rules) and
(b) enable the optimizations Hive 1.2 had manual knobs for (map-join auto
conversion → autoBroadcastJoinThreshold; skew join → AQE skew join; parallel
reducers → AQE coalescing).

Scale notes (100 TB / 1000-executor design intent):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion replace Hive's compile-time conditional
  tasks (``ql/optimizer/physical/CommonJoinTaskDispatcher.java``).
- ``spark.sql.shuffle.partitions`` is set high-ish and AQE coalesces down;
  on a real cluster you would size it ~2-3× total cores and let AQE trim.
- Arrow enabled so any pandas-UDF extension operator pays batch (not row)
  Python transfer cost.

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.enabled``
= false). When it is on, PySpark wraps every ``functions.*`` call and every
``Column`` operator so that it records the Python call site in the JVM:
a ``getActiveSession`` lookup, a conf read and a ``PySparkCurrentOrigin``
set and clear, several py4j round trips per call. At small scale a
query's build is bound by those round trips: they were more than half of
the 2,490 that the five tpch builds made per pass. The cost of turning it
off: an analysis error (an unresolved column, a type mismatch) still
raises the same ``AnalysisException`` with the same error condition and
message, but the call site in its DataFrame query context is a JVM frame
instead of the Python file and line of the call that built the failing
expression. The Python traceback of the failing call remains.

PySpark reads this flag once per process, from the session that is active
when the first wrapped call runs, and keeps it. A caller that brings its
own session (the external correctness driver, a notebook) keeps PySpark's
default, debugging on, unless ``get_session`` built the first session of
that process.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

APP_NAME = "apache_hive_1_2_2_src_spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = APP_NAME,
    *,
    shuffle_partitions: int | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Semantics pinned for Hive-1.2.2 / DuckDB-oracle parity:
    - UTC session timezone (Hive TIMESTAMP is TZ-naive wall-clock;
      ``serde2/io/TimestampWritable.java``): with UTC both Spark and the
      oracle interpret parquet INT96/INT64 timestamps identically.
    - ANSI off (Hive 1.2 returns NULL on bad casts / division by zero —
      ``LazyPrimitive.parse`` NULL-on-mismatch semantics).

    DataFrame debugging is off; the module docstring gives the trade-off.

    ``hive=True`` builds with ``enableHiveSupport()`` (Spark ships the Hive
    2.3 client jars): CREATE TEMPORARY FUNCTION then loads REAL Hive
    UDF/UDAF/UDTF classes (``ql/udf/**``) verbatim — a reference user's
    custom-UDF jars run unchanged (verified in tests/test_hive_udf_compat).
    The catalog implementation is fixed at JVM startup, so this must be the
    FIRST session built in the process; the default stays in-memory because
    the external correctness driver supplies its own vanilla session.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r19 note: coalescePartitions.parallelismFirst=false (the
        # production-docs suggestion) was A/B-tested at full-bench level
        # and REVERTED: an 8-query subset read 12% faster, but the full
        # suite regressed 119.5 s -> 128.0 s (iterative chains and
        # fan-out joins lose more to under-parallelized post-shuffle
        # stages than metadata-sized shuffles save on empty tasks).
        # Heavy-per-row stages are parallelized explicitly at the
        # operator level instead (the _spread device in extensions).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # testdata events.parquet stores ts as INT64 TIMESTAMP(NANOS), which
        # Spark rejects by default ([PARQUET_TYPE_ILLEGAL]). Read the raw
        # nanos long and convert in tables.load_table (truncate ns -> us,
        # matching DuckDB's TIMESTAMP_NS -> TIMESTAMP read conversion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # A static conf: no per-call Python call-site capture (module doc).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if hive:
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    if hive and spark.conf.get("spark.sql.catalogImplementation", "in-memory") != "hive":
        # getOrCreate silently reuses any existing session, ignoring
        # enableHiveSupport — fail loudly instead of returning a session
        # that can't run CREATE TEMPORARY FUNCTION / metastore DDL.
        raise RuntimeError(
            "get_session(hive=True) must be the FIRST session in this "
            "process: an existing non-Hive SparkSession was reused and the "
            "catalog implementation is fixed at JVM startup. Stop the "
            "existing session (or use a subprocess, as the hive tests do)."
        )
    return spark
