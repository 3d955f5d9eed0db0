"""Catalog / DDL / statistics surface (SURVEY.md §1.1, §1.4, §4).

Hive parity targets: the Metastore object lifecycle
(``metastore/src/java/.../ObjectStore.java`` — createDatabase/createTable/
dropTable, Table + StorageDescriptor persistence), DDLTask
(``ql/exec/DDLTask.java``) executing CREATE/DROP/ALTER, and the stats
backbone: ``ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]``
(``ql/optimizer/StatsOptimizer.java`` answer-from-stats,
``GenericUDAFComputeStats.java`` column NDV/min/max sketches) feeding the
CBO's broadcast-join decisions (``CommonJoinTaskDispatcher.java`` map-join
auto conversion ≡ Spark stats-based autoBroadcastJoinThreshold).

Spark-first answer: ``spark.sql("CREATE/INSERT/ANALYZE/DROP ...")`` against
the session catalog (in-memory here; on a cluster the same statements run
against a real Hive metastore via ``enableHiveSupport()`` — identical code).

Scale note: DDL and ANALYZE are metadata-plane operations — O(1) in data
size except the ANALYZE scan itself, which is a single column-pruned pass.
The lifecycle queries below intentionally materialize a one-row summary on
the driver (collects in THIS module are metadata-plane by design): the
result of a DDL lifecycle is metadata, not data, and the table must be
dropped *before* the result is returned, which a lazy plan over the
dropped table cannot express. Data-plane modules keep collects to
bounds/metadata only (audited per round in SCALE.md).
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (kept for parity with sibling modules)

from apache_hive_1_2_2_src_spark.registry import register
from apache_hive_1_2_2_src_spark.streaming.epoch_store import concurrently
from apache_hive_1_2_2_src_spark.tmputil import scratch_dir
from apache_hive_1_2_2_src_spark.tables import hadoop_fs, load_table


def _scratch_db(spark: SparkSession) -> str:
    """Per-process scratch database name (concurrent runs don't collide)."""
    return f"hive_parity_scratch_{os.getpid()}"


def _drop_db(spark: SparkSession, db: str) -> None:
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # saveAsTable/DROP leaves the managed dir behind in some Spark builds;
    # mirror Hive's warehouse cleanup explicitly.
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    path = wh.removeprefix("file:") + f"/{db}.db"
    shutil.rmtree(path, ignore_errors=True)


@register(
    "ddl_lifecycle",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT n_regionkey) AS n_regions,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           TRUE AS table_visible, TRUE AS dropped_ok
    FROM nation
    """,
    doc="Managed-table lifecycle (ObjectStore.createDatabase/createTable, "
    "DDLTask, SemanticAnalyzer INSERT path): CREATE DATABASE → CREATE TABLE "
    "USING PARQUET AS SELECT → INSERT INTO → catalog-verified read → DROP "
    "TABLE → DROP DATABASE + warehouse-dir cleanup. The returned row is the "
    "post-insert aggregate plus catalog-visibility/drop flags; the oracle is "
    "the same aggregate over the source table (CTAS half + INSERT half = "
    "whole nation).",
    tags=("catalog", "ddl"),
)
def ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark)
    _drop_db(spark, db)  # idempotent: clear any previous run's leftovers
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_ddl_src")
        tbl = f"{db}.nation_managed"
        spark.sql(
            f"CREATE TABLE {tbl} USING PARQUET AS "
            "SELECT * FROM nation_ddl_src WHERE n_regionkey <= 2"
        )
        spark.sql(f"INSERT INTO {tbl} SELECT * FROM nation_ddl_src WHERE n_regionkey > 2")
        table_visible = any(
            t.name == "nation_managed" for t in spark.catalog.listTables(db)
        )
        # one-row lifecycle summary (see module docstring for why collect)
        row = spark.sql(
            f"SELECT COUNT(*) AS n_rows, COUNT(DISTINCT n_regionkey) AS n_regions, "
            f"SUM(n_nationkey) AS key_sum FROM {tbl}"
        ).collect()[0]
        spark.sql(f"DROP TABLE {tbl}")
        dropped_ok = not any(
            t.name == "nation_managed" for t in spark.catalog.listTables(db)
        )
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [(row.n_rows, row.n_regions, row.key_sum, table_visible, dropped_ok)],
        "n_rows long, n_regions long, key_sum long, table_visible boolean, dropped_ok boolean",
    )


@register(
    "analyze_table_stats",
    oracle="""
    SELECT COUNT(*) AS n_rows, TRUE AS stats_rows_match,
           TRUE AS col_stats_present
    FROM supplier
    """,
    doc="ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS] "
    "(StatsOptimizer.java answer-from-stats; GenericUDAFComputeStats NDV/"
    "min/max). Creates a managed copy of supplier, ANALYZEs it, reads the "
    "catalog's rowCount/sizeInBytes back via DESCRIBE EXTENDED, and checks "
    "the stats row count equals the true count and column stats exist "
    "(DESCRIBE EXTENDED col shows non-NULL distinct_count). The stats are "
    "what flip joins to broadcast at plan time — asserted separately in "
    "tests/test_catalog.py.",
    tags=("catalog", "stats"),
)
def analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark) + "_stats"
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_stats_src")
        tbl = f"{db}.supplier_managed"
        spark.sql(
            f"CREATE TABLE {tbl} USING PARQUET AS SELECT * FROM supplier_stats_src"
        )
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
        spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS s_suppkey, s_nationkey")
        true_n = spark.table(tbl).count()
        # catalog-reported statistics (metadata read, tiny)
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
        }
        stats_line = desc.get("Statistics", "")
        stats_rows_match = f"{true_n} rows" in stats_line
        coldesc = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl} s_suppkey").collect()
        }
        ndv = coldesc.get("distinct_count", "NULL")
        col_stats_present = ndv not in ("NULL", None, "")
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [(true_n, stats_rows_match, col_stats_present)],
        "n_rows long, stats_rows_match boolean, col_stats_present boolean",
    )


@register(
    "ddl_partitioned_insert",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderstatus) AS n_partitions,
           TRUE AS alter_ok
    FROM orders
    """,
    doc="Partitioned-table DDL dialect (SemanticAnalyzer partition spec "
    "grammar; FileSinkOperator.getDynOutPaths; DDLTask ALTER): CREATE TABLE "
    "... PARTITIONED BY, static INSERT OVERWRITE TABLE ... PARTITION "
    "(st='F'), dynamic INSERT INTO ... PARTITION (st), SHOW PARTITIONS, "
    "ALTER TABLE ADD COLUMNS — all literal HiveQL accepted by Spark SQL. "
    "Result row = post-insert count + SHOW PARTITIONS count + a flag that "
    "the added column is visible; one-row lifecycle collect as in "
    "ddl_lifecycle (module docstring).",
    tags=("catalog", "ddl", "partition", "sql"),
)
def ddl_partitioned_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spark datasource form: partition column in the schema, USING before
    # PARTITIONED BY. (The Hive-format order is exercised by
    # ddl_stored_as_hive_dialect below when a hive catalog is available.)
    return _partitioned_lifecycle(
        spark,
        sf_dir,
        "_part",
        "CREATE TABLE {tbl} "
        "(o_orderkey BIGINT, o_totalprice DOUBLE, st STRING) "
        "USING PARQUET PARTITIONED BY (st)",
    )


def _partitioned_lifecycle(
    spark: SparkSession, sf_dir: str, db_suffix: str, create_sql: str
) -> DataFrame:
    """Shared partitioned-table lifecycle: CREATE (dialect supplied by the
    caller) → static + dynamic INSERT ... PARTITION → SHOW PARTITIONS →
    ALTER ADD COLUMNS → count; drops everything on the way out."""
    db = _scratch_db(spark) + db_suffix
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_ddlp_src")
        tbl = f"{db}.orders_part"
        spark.sql(create_sql.format(tbl=tbl))
        spark.sql(
            f"INSERT OVERWRITE TABLE {tbl} PARTITION (st='F') "
            "SELECT o_orderkey, o_totalprice FROM orders_ddlp_src "
            "WHERE o_orderstatus = 'F'"
        )
        spark.sql(
            f"INSERT INTO TABLE {tbl} PARTITION (st) "
            "SELECT o_orderkey, o_totalprice, o_orderstatus AS st "
            "FROM orders_ddlp_src WHERE o_orderstatus <> 'F'"
        )
        n_partitions = spark.sql(f"SHOW PARTITIONS {tbl}").count()
        spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS (ingest_note STRING)")
        cols = [f.name for f in spark.table(tbl).schema.fields]
        alter_ok = "ingest_note" in cols
        n_rows = spark.table(tbl).count()
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [(n_rows, n_partitions, alter_ok)],
        "n_rows long, n_partitions long, alter_ok boolean",
    )


@register(
    "ddl_stored_as_hive_dialect",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_orderstatus) AS n_partitions,
           TRUE AS alter_ok
    FROM orders
    """,
    doc="Hive-format DDL dialect (SemanticAnalyzer CREATE TABLE grammar): "
    "literal `PARTITIONED BY (st STRING) STORED AS PARQUET` — partition "
    "column OUTSIDE the schema, STORED AS instead of USING — when the "
    "session catalog is hive (enableHiveSupport / a cluster metastore), "
    "plus hive.exec.dynamic.partition for the dynamic insert. Under a "
    "non-hive catalog (the external driver's vanilla session) it falls "
    "back to the datasource dialect, so the lifecycle result — and the "
    "oracle — is identical either way. The hive branch runs for real in "
    "tests/test_hive_metastore.py (subprocess JVM, Derby metastore).",
    tags=("catalog", "ddl", "partition", "sql", "hive-dialect"),
)
def ddl_stored_as_hive_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    hive_catalog = (
        spark.conf.get("spark.sql.catalogImplementation", "in-memory") == "hive"
    )
    if hive_catalog:
        spark.conf.set("hive.exec.dynamic.partition", "true")
        spark.conf.set("hive.exec.dynamic.partition.mode", "nonstrict")
        create = (
            "CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE) "
            "PARTITIONED BY (st STRING) STORED AS PARQUET"
        )
    else:
        create = (
            "CREATE TABLE {tbl} "
            "(o_orderkey BIGINT, o_totalprice DOUBLE, st STRING) "
            "USING PARQUET PARTITIONED BY (st)"
        )
    return _partitioned_lifecycle(spark, sf_dir, "_sthive", create)


@register(
    "ddl_show_describe",
    oracle="""
    SELECT TRUE AS db_listed, TRUE AS table_listed, 3 AS n_cols,
           TRUE AS describe_has_types, TRUE AS fn_substr, TRUE AS fn_percentile,
           TRUE AS fn_like_filtered, CAST(COUNT(*) AS BIGINT) AS src_rows
    FROM nation
    """,
    doc="Introspection DDL dialect (DDLTask SHOW/DESCRIBE family — "
    "SemanticAnalyzer routes SHOW DATABASES / SHOW TABLES [IN db] / SHOW "
    "FUNCTIONS [LIKE] / DESCRIBE to metadata-only tasks): the statements "
    "run verbatim in Spark SQL and the flags project their results — the "
    "scratch db/table appear in their listings, DESCRIBE returns "
    "name/type rows for every column, SHOW FUNCTIONS contains the Hive "
    "function names (substr, percentile) and honors a LIKE pattern. "
    "Metadata-only: the single data-touching column is the source-row "
    "count reconciling the CTAS. All catalog results are tiny; the "
    "collect-free flags ride one-row frames.",
    tags=("catalog", "ddl", "sql"),
)
def ddl_show_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark) + "_show"
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_show_src")
        spark.sql(
            f"CREATE TABLE {db}.t_show USING PARQUET AS "
            "SELECT n_nationkey, n_name, n_regionkey FROM nation_show_src"
        )
        db_listed = any(
            r.namespace == db for r in spark.sql("SHOW DATABASES").collect()
        )
        table_listed = any(
            r.tableName == "t_show"
            for r in spark.sql(f"SHOW TABLES IN {db}").collect()
        )
        desc = spark.sql(f"DESCRIBE TABLE {db}.t_show").collect()
        cols = {r.col_name: r.data_type for r in desc if not r.col_name.startswith("#")}
        fns = {r.function for r in spark.sql("SHOW FUNCTIONS").collect()}
        liked = {
            r.function for r in spark.sql("SHOW FUNCTIONS LIKE 'perc*'").collect()
        }
        n_src = spark.table(f"{db}.t_show").count()
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [
            (
                db_listed,
                table_listed,
                len(cols),
                cols.get("n_name") == "string" and cols.get("n_nationkey") == "int",
                "substr" in fns,
                "percentile" in fns,
                "percentile" in liked and "substr" not in liked,
                n_src,
            )
        ],
        "db_listed boolean, table_listed boolean, n_cols int, "
        "describe_has_types boolean, fn_substr boolean, fn_percentile boolean, "
        "fn_like_filtered boolean, src_rows bigint",
    )

@register(
    "ddl_view_lifecycle",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS acctbal_cents,
           TRUE AS view_expanded, TRUE AS dropped_ok
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="View lifecycle (SemanticAnalyzer.genResolvedParseTree view "
    "expansion; CreateViewDesc / DDLTask CREATE VIEW — SURVEY §1.1 'View' "
    "row): CREATE VIEW over a managed base table, then INSERT more rows "
    "into the BASE and re-read through the view. Hive 1.2 views are "
    "non-materialized stored SQL text expanded at plan time, so the second "
    "read MUST see the new rows — the `view_expanded` flag asserts exactly "
    "that (per-segment counts through the view equal the full source after "
    "the post-CREATE insert). ALTER VIEW AS re-definition and DROP VIEW "
    "close the lifecycle. Metadata-plane except the two tiny aggregates; "
    "the result rides the view's own aggregate frame (no payload collect).",
    tags=("catalog", "ddl", "view", "sql"),
)
def ddl_view_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark) + "_view"
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_view_src")
        base = f"{db}.customer_base"
        view = f"{db}.seg_summary"
        # CTAS half the base table, define the view, then insert the rest:
        # a materialized view would be stale; an expanded view cannot be.
        spark.sql(
            f"CREATE TABLE {base} USING PARQUET AS "
            "SELECT * FROM customer_view_src WHERE c_custkey % 2 = 0"
        )
        spark.sql(
            f"CREATE VIEW {view} AS "
            "SELECT c_mktsegment, COUNT(*) AS n_customers, "
            "SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS acctbal_cents "
            f"FROM {base} GROUP BY c_mktsegment"
        )
        spark.sql(f"INSERT INTO {base} SELECT * FROM customer_view_src WHERE c_custkey % 2 = 1")
        # ALTER VIEW AS: redefine to the same text (dialect acceptance).
        spark.sql(
            f"ALTER VIEW {view} AS "
            "SELECT c_mktsegment, COUNT(*) AS n_customers, "
            "SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS acctbal_cents "
            f"FROM {base} GROUP BY c_mktsegment"
        )
        through_view = spark.table(view)
        n_via_view = through_view.agg(F.sum("n_customers")).collect()[0][0]
        n_src = spark.table("customer_view_src").count()
        view_expanded = bool(n_via_view == n_src)
        result = [
            (r.c_mktsegment, r.n_customers, r.acctbal_cents)
            for r in through_view.collect()
        ]
        spark.sql(f"DROP VIEW {view}")
        dropped_ok = not any(
            t.name == "seg_summary" for t in spark.catalog.listTables(db)
        )
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [(seg, n, cents, view_expanded, dropped_ok) for seg, n, cents in result],
        "c_mktsegment string, n_customers bigint, acctbal_cents bigint, "
        "view_expanded boolean, dropped_ok boolean",
    )


@register(
    "msck_repair_partitions",
    oracle="""
    SELECT o_orderstatus AS st,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           0 AS pre_repair_rows,
           TRUE AS repaired
    FROM orders
    GROUP BY o_orderstatus
    """,
    doc="Partition discovery: MSCK REPAIR TABLE (Hive's "
    "HiveMetaStoreChecker / DDLTask.msck — `ql/metadata/"
    "HiveMetaStoreChecker.java` walks the filesystem and adds unregistered "
    "partition dirs to the metastore). Files are written OUT OF BAND "
    "(df.write.partitionBy straight to a directory, no catalog involved — "
    "exactly the 'upstream job dropped files into the warehouse' scenario), "
    "an external partitioned table is created over the location, and the "
    "pre-repair read proves the catalog sees ZERO partitions; MSCK REPAIR "
    "TABLE then discovers every st=... directory and the per-partition "
    "counts reconcile against the source. This is the standard Hive "
    "operational idiom for ingest at scale: partition discovery is a "
    "metadata-plane directory walk, never a data scan.",
    tags=("catalog", "ddl", "partition", "sql"),
)
def msck_repair_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark) + "_msck"
    _drop_db(spark, db)
    loc = scratch_dir("msck")
    spark.sql(f"CREATE DATABASE {db}")
    try:
        orders = load_table(spark, sf_dir, "orders")
        # Out-of-band write: partition layout on disk, catalog unaware.
        (
            orders.select(
                "o_orderkey", "o_totalprice", F.col("o_orderstatus").alias("st")
            )
            .repartition("st")
            .write.mode("overwrite")
            .partitionBy("st")
            .parquet(loc)
        )
        tbl = f"{db}.orders_ext"
        spark.sql(
            f"CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE, st STRING) "
            f"USING PARQUET PARTITIONED BY (st) LOCATION '{loc}'"
        )
        pre_repair_rows = spark.table(tbl).count()  # 0: no partitions known
        spark.sql(f"MSCK REPAIR TABLE {tbl}")
        repaired = spark.sql(f"SHOW PARTITIONS {tbl}").count() > 0
        per_part = (
            spark.table(tbl)
            .groupBy("st")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .withColumn("pre_repair_rows", F.lit(int(pre_repair_rows)).cast("int"))
            .withColumn("repaired", F.lit(bool(repaired)))
        )
        out = per_part.collect()  # tiny: one row per partition (3)
    finally:
        _drop_db(spark, db)
        shutil.rmtree(loc, ignore_errors=True)
    return spark.createDataFrame(
        out, "st string, n_rows bigint, pre_repair_rows int, repaired boolean"
    )


@register(
    "ddl_bucketed_dialect_lifecycle",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           4 AS n_buckets, TRUE AS bucket_col_ok,
           TRUE AS renamed_ok, TRUE AS truncated_to_zero
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
    doc="Bucketed-table DDL dialect + the remaining lifecycle verbs "
    "(SemanticAnalyzer CREATE TABLE `CLUSTERED BY (c) SORTED BY (c) INTO "
    "n BUCKETS` grammar — the DDL twin of DataFrame bucketBy; DDLTask "
    "ALTER TABLE ... RENAME TO; TruncateTableDesc): the literal clause "
    "creates a 4-bucket table whose catalog metadata reports Num Buckets "
    "/ Bucket Columns (flags), ALTER RENAME moves it, TRUNCATE empties it "
    "(verified 0), and a re-INSERT reconciles against the source "
    "aggregate. Metadata-plane except the two inserts; per-process names "
    "as in the sibling lifecycles.",
    tags=("catalog", "ddl", "bucket", "sql"),
)
def ddl_bucketed_dialect_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark) + "_bktddl"
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_bktddl")
        t1, t2 = f"{db}.orders_bkt", f"{db}.orders_bkt_renamed"
        spark.sql(
            f"CREATE TABLE {t1} (o_orderkey BIGINT, o_custkey BIGINT) "
            "USING PARQUET CLUSTERED BY (o_custkey) SORTED BY (o_custkey) "
            "INTO 4 BUCKETS"
        )
        spark.sql(
            f"INSERT INTO {t1} SELECT o_orderkey, o_custkey "
            "FROM orders_bktddl WHERE o_orderstatus = 'O'"
        )
        desc = {
            r.col_name: r.data_type
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t1}").collect()
        }
        n_buckets = int(desc.get("Num Buckets", "0"))
        bucket_col_ok = "o_custkey" in desc.get("Bucket Columns", "")
        spark.sql(f"ALTER TABLE {t1} RENAME TO {t2}")
        renamed_ok = any(
            t.name == "orders_bkt_renamed" for t in spark.catalog.listTables(db)
        )
        spark.sql(f"TRUNCATE TABLE {t2}")
        truncated_to_zero = spark.table(t2).count() == 0
        spark.sql(
            f"INSERT INTO {t2} SELECT o_orderkey, o_custkey "
            "FROM orders_bktddl WHERE o_orderstatus = 'O'"
        )
        row = spark.sql(
            f"SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum FROM {t2}"
        ).collect()[0]
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [
            (
                row.n_rows,
                row.key_sum,
                n_buckets,
                bool(bucket_col_ok),
                bool(renamed_ok),
                bool(truncated_to_zero),
            )
        ],
        "n_rows bigint, key_sum bigint, n_buckets int, bucket_col_ok boolean, "
        "renamed_ok boolean, truncated_to_zero boolean",
    )


@register(
    "ddl_insert_values",
    oracle="""
    SELECT CAST(2 + COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_null_prices,
           TRUE AS explain_has_scan
    FROM region
    """,
    doc="INSERT INTO ... VALUES (HIVE-5317, new in 0.14 and part of the "
    "1.2 surface — SemanticAnalyzer rewrites the VALUES clause to a "
    "temporary textfile scan; Spark plans a LocalRelation, no files) plus "
    "the EXPLAIN statement (Hive's primary plan-inspection verb, "
    "`ExplainTask.java` / ExplainSemanticAnalyzer): a literal multi-row "
    "VALUES insert with a NULL cell lands next to rows CTAS'd from "
    "region, the NULL survives the round-trip (counted via IS NULL — the "
    "3VL path), and EXPLAIN's output is projected to an invariant flag "
    "(the text mentions a scan of the table; plan strings themselves are "
    "engine-specific so only the flag is graded).",
    tags=("catalog", "ddl", "sql"),
)
def ddl_insert_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark) + "_vals"
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "region").createOrReplaceTempView("region_vals")
        tbl = f"{db}.region_plus"
        spark.sql(
            f"CREATE TABLE {tbl} USING PARQUET AS "
            "SELECT r_regionkey AS k, r_name AS name, "
            "CAST(1.0 AS DOUBLE) AS price FROM region_vals"
        )
        spark.sql(
            f"INSERT INTO {tbl} VALUES "
            "(100, 'SYNTH-A', 9.5), (101, 'SYNTH-B', NULL)"
        )
        n_rows = spark.table(tbl).count()
        n_null_prices = spark.table(tbl).where("price IS NULL").count()
        explain_rows = spark.sql(f"EXPLAIN SELECT k, name FROM {tbl}").collect()
        explain_text = "\n".join(r[0] for r in explain_rows)
        explain_has_scan = "region_plus" in explain_text and len(explain_text) > 0
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [(n_rows, n_null_prices, bool(explain_has_scan))],
        "n_rows bigint, n_null_prices bigint, explain_has_scan boolean",
    )


@register(
    "load_data_inpath",
    oracle="""
    SELECT CAST(COUNT(CASE WHEN o_orderkey < 1000 THEN 1 END) AS BIGINT)
             AS n_before_load,
           CAST(COUNT(*) AS BIGINT) AS n_after_load,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS inpath_emptied
    FROM orders WHERE o_orderkey < 2000
    """,
    doc="LOAD DATA INPATH ... INTO TABLE (LoadSemanticAnalyzer.java + "
    "MoveTask.java: the files MOVE from the staging path into the table "
    "directory — a metadata-plane rename, NO rewrite and NO scan; the "
    "staging dir is left empty, which distinguishes LOAD from INSERT): "
    "a parquet table is created over an explicit LOCATION with half the "
    "rows, the other half is staged to an 'INPATH' directory, the data "
    "files are renamed into the table location (file-level move, zero "
    "bytes rewritten), REFRESH TABLE drops the stale file listing (Spark "
    "caches it; Hive's metastore needed no refresh for unpartitioned "
    "LOAD), and the table then serves both halves. Scale: LOAD of N TB "
    "is O(#files) renames on any store with atomic rename — this is the "
    "ingest idiom for pre-formatted data at 100 TB; the one caveat "
    "(same as Hive's) is that the mover must write files the table's "
    "format/schema actually matches, which the final aggregate "
    "certifies.",
    tags=("catalog", "ddl", "source"),
)
def load_data_inpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark)
    _drop_db(spark, db)
    base = scratch_dir("load")
    tdir, inpath = os.path.join(base, "tbl"), os.path.join(base, "inpath")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    o.filter(F.col("o_orderkey") < 1000).write.parquet(tdir)
    o.filter(F.col("o_orderkey") >= 1000).write.parquet(inpath)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        tbl = f"{db}.orders_loaded"
        spark.sql(
            f"CREATE TABLE {tbl} (o_orderkey BIGINT, o_custkey BIGINT, "
            f"o_totalprice DOUBLE) USING PARQUET LOCATION '{tdir}'"
        )
        n_before = spark.table(tbl).count()
        # LOAD DATA INPATH == file-level rename into the table location.
        # Through the Hadoop FS API (same discipline as write_hive_bucketed)
        # so the move works on any store with atomic rename, not just
        # file:// — on HDFS/s3a this is the identical MoveTask contract.
        _, fs, P = hadoop_fs(spark, inpath)
        stats = [
            st
            for st in fs.listStatus(P(inpath))
            if st.getPath().getName().endswith(".parquet")
        ]

        def _mv(i: int, st) -> None:
            if not fs.rename(
                st.getPath(), P(os.path.join(tdir, f"load0_{i:05d}.parquet"))
            ):
                raise RuntimeError(f"LOAD move failed for {st.getPath().getName()}")

        # 16-way like write_hive_bucketed's flatten: a LOAD of a 100 TB
        # drop is thousands of renames, minutes sequential on an object
        # store, seconds pooled. All awaited before the emptiness check.
        concurrently(*(partial(_mv, i, st) for i, st in enumerate(stats)))
        moved = len(stats)
        inpath_emptied = moved > 0 and not any(
            st.getPath().getName().endswith(".parquet")
            for st in fs.listStatus(P(inpath))
        )
        spark.sql(f"REFRESH TABLE {tbl}")
        row = spark.sql(
            f"SELECT COUNT(*) AS n, SUM(o_orderkey) AS s FROM {tbl}"
        ).collect()[0]
    finally:
        _drop_db(spark, db)
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        [(n_before, row.n, row.s, inpath_emptied)],
        "n_before_load long, n_after_load long, key_sum long, "
        "inpath_emptied boolean",
    )


@register(
    "export_import_roundtrip",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           TRUE AS schema_roundtrip
    FROM nation GROUP BY n_regionkey
    """,
    doc="EXPORT TABLE ... TO / IMPORT TABLE ... FROM "
    "(ExportSemanticAnalyzer.java / ImportSemanticAnalyzer.java: EXPORT "
    "writes a self-contained dir of `_metadata` — the serialized Table "
    "object incl. schema + partition spec — plus the data files; IMPORT "
    "reads `_metadata`, recreates the table, and moves the files in — "
    "the 1.x cross-warehouse replication/backup idiom): emulated with "
    "the same two-artifact contract — data exported PARTITIONED "
    "(partitionBy the region key) and a `_metadata` JSON carrying the "
    "schema-as-JSON + partition columns + format; the importer "
    "reconstructs the StructType FROM THE METADATA (never re-inferred — "
    "an inference drift is exactly the bug EXPORT/IMPORT exists to "
    "prevent), file-copies the partition dirs to the import location, "
    "and registers the table. The returned per-region aggregate + a "
    "schema-equality flag certify the roundtrip; the oracle is the same "
    "aggregate over the source. Scale: EXPORT/IMPORT is O(#files) copy + "
    "O(1) metadata — at 100 TB use distcp-style parallel copy for the "
    "data plane; the `_metadata` contract is unchanged.",
    tags=("catalog", "ddl", "source"),
)
def export_import_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from pyspark.sql.types import StructType

    base = scratch_dir("exim")
    exp, imp = os.path.join(base, "export"), os.path.join(base, "import")
    n = load_table(spark, sf_dir, "nation")
    try:
        # EXPORT: data (partitioned) + _metadata
        n.write.partitionBy("n_regionkey").parquet(os.path.join(exp, "data"))
        meta = {
            "table": "nation_export",
            "format": "parquet",
            "partition_cols": ["n_regionkey"],
            "schema": json.loads(n.schema.json()),
        }
        with open(os.path.join(exp, "_metadata"), "w") as f:
            json.dump(meta, f)
        # IMPORT: schema FROM metadata, file-level copy, register + read
        with open(os.path.join(exp, "_metadata")) as f:
            got = json.load(f)
        schema = StructType.fromJson(got["schema"])
        shutil.copytree(os.path.join(exp, "data"), os.path.join(imp, "data"))
        imported = (
            spark.read.schema(schema)
            .option("basePath", os.path.join(imp, "data"))
            .parquet(os.path.join(imp, "data"))
        )
        schema_roundtrip = {f.name: f.dataType for f in imported.schema} == {
            f.name: f.dataType for f in n.schema
        }
        out = imported.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )
        # localCheckpoint materializes the result so the export/import
        # dirs can be deleted in the finally below (a lazy plan over
        # deleted files cannot)
        return (
            out.withColumn("schema_roundtrip", F.lit(schema_roundtrip))
            .select("n_regionkey", "n_nations", "key_sum", "schema_roundtrip")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "ddl_alter_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN n_nationkey >= 10 THEN 1 END) AS BIGINT)
             AS n_with_extra,
           CAST(COUNT(CASE WHEN n_nationkey < 10 THEN 1 END) AS BIGINT)
             AS n_null_extra,
           CAST(SUM(CASE WHEN n_nationkey >= 10 THEN n_nationkey * 2 END)
             AS BIGINT) AS extra_sum,
           TRUE AS like_schema_match,
           TRUE AS tblprops_visible
    FROM nation
    """,
    doc="CREATE TABLE LIKE + ALTER TABLE ADD COLUMNS + SET TBLPROPERTIES "
    "(DDLTask.alterTable / DDLSemanticAnalyzer — the 1.2 in-place schema "
    "evolution path; read-side merge lives in schema_evolution_merge): "
    "LIKE clones the schema into an EMPTY table (asserted), rows inserted "
    "BEFORE the ADD COLUMNS read the new column as NULL from their "
    "unchanged files (the Hive contract — ADD COLUMNS is metadata-only, "
    "zero bytes rewritten, which is the only evolution that works at "
    "100 TB), rows inserted after carry real values, and a table "
    "property set via SET TBLPROPERTIES round-trips through SHOW "
    "TBLPROPERTIES. The aggregate splits row counts by NULL/real extra "
    "and sums the real ones; the oracle recomputes from nation.",
    tags=("catalog", "ddl"),
)
def ddl_alter_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark)
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_alter_src")
        base, clone = f"{db}.nat_base", f"{db}.nat_clone"
        spark.sql(
            f"CREATE TABLE {base} USING PARQUET AS "
            "SELECT n_nationkey, n_name FROM nation_alter_src"
        )
        spark.sql(f"CREATE TABLE {clone} LIKE {base}")
        like_schema_match = (
            spark.table(clone).schema == spark.table(base).schema
            and spark.table(clone).count() == 0
        )
        spark.sql(f"INSERT INTO {clone} SELECT * FROM {base} WHERE n_nationkey < 10")
        spark.sql(f"ALTER TABLE {clone} ADD COLUMNS (extra BIGINT)")
        spark.sql(
            f"INSERT INTO {clone} SELECT n_nationkey, n_name, n_nationkey * 2 "
            f"FROM {base} WHERE n_nationkey >= 10"
        )
        spark.sql(f"ALTER TABLE {clone} SET TBLPROPERTIES ('quality' = 'gold')")
        tblprops_visible = any(
            r.key == "quality" and r.value == "gold"
            for r in spark.sql(f"SHOW TBLPROPERTIES {clone}").collect()
        )
        row = spark.sql(
            f"SELECT COUNT(*) AS n_rows, "
            f"COUNT(extra) AS n_with_extra, "
            f"COUNT(CASE WHEN extra IS NULL THEN 1 END) AS n_null_extra, "
            f"SUM(extra) AS extra_sum FROM {clone}"
        ).collect()[0]
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [
            (
                row.n_rows,
                row.n_with_extra,
                row.n_null_extra,
                row.extra_sum,
                like_schema_match,
                tblprops_visible,
            )
        ],
        "n_rows long, n_with_extra long, n_null_extra long, extra_sum long, "
        "like_schema_match boolean, tblprops_visible boolean",
    )


@register(
    "show_functions_registry",
    # Function-registry invariants, constant by construction: the xpath
    # family Hive 1.2 shipped is present name-for-name, the Hive-named
    # string/date fns resolve, and DESCRIBE FUNCTION yields usage text.
    oracle="""
    SELECT CAST(9 AS BIGINT) AS n_xpath_fns,
           TRUE AS hive_names_resolve,
           TRUE AS describe_has_usage
    FROM (SELECT 1)
    """,
    doc="SHOW FUNCTIONS / DESCRIBE FUNCTION (FunctionRegistry.java + "
    "DDLTask.showFunctions/describeFunction — how 1.2 users discovered "
    "the surface): Spark keeps the statements verbatim. The query pins "
    "the registry contract a migrating user depends on: all NINE xpath "
    "family names ship built-in, the Hive-era names (nvl, sentences, "
    "str_to_map, histogram_numeric, percentile_approx) resolve via SHOW "
    "FUNCTIONS LIKE, and DESCRIBE FUNCTION emits usage text. Pure "
    "metadata plane — no table scan.",
    tags=("catalog", "ddl", "functions"),
)
def show_functions_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    xp = [r[0] for r in spark.sql("SHOW FUNCTIONS LIKE 'xpath*'").collect()]
    hive_names = ["nvl", "sentences", "str_to_map", "histogram_numeric",
                  "percentile_approx", "parse_url", "get_json_object"]
    resolve = all(
        spark.sql(f"SHOW FUNCTIONS LIKE '{f}'").count() == 1 for f in hive_names
    )
    desc = " ".join(r[0] for r in spark.sql("DESCRIBE FUNCTION sentences").collect())
    return spark.createDataFrame(
        [(len(xp), resolve, "Usage:" in desc)],
        "n_xpath_fns long, hive_names_resolve boolean, describe_has_usage boolean",
    )


@register(
    "exchange_partition",
    oracle="""
    SELECT CAST(COUNT(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS BIGINT)
             AS n_src_after,
           CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
             AS n_dst_after,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN o_orderkey END)
             AS BIGINT) AS moved_key_sum,
           TRUE AS src_partition_gone,
           TRUE AS dst_partition_present
    FROM orders
    """,
    doc="ALTER TABLE ... EXCHANGE PARTITION (HIVE-4095, new in 0.12; "
    "DDLTask.exchangeTablePartition: the partition's DIRECTORY moves "
    "from source to destination table and the metastore entries follow "
    "— zero bytes rewritten, the atomic-promotion idiom staging "
    "pipelines use to publish a day's data): emulated with the same "
    "three steps over two partitioned parquet tables at explicit "
    "LOCATIONs — Hadoop-FS rename of the partition dir, ALTER TABLE "
    "DROP PARTITION on the source, ALTER TABLE ADD PARTITION on the "
    "destination. The aggregate certifies the moved rows serve from the "
    "DESTINATION table and stopped serving from the source (counts + "
    "moved-key checksum); partition visibility is asserted from SHOW "
    "PARTITIONS on both sides. Scale: O(1) data-plane cost at any "
    "partition size — the whole point of the statement.",
    tags=("catalog", "ddl", "partition"),
)
def exchange_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark)
    _drop_db(spark, db)
    base = scratch_dir("exch")
    a_loc, b_loc = os.path.join(base, "src"), os.path.join(base, "dst")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    o.write.partitionBy("o_orderstatus").parquet(a_loc)
    os.makedirs(b_loc, exist_ok=True)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        src, dst = f"{db}.exch_src", f"{db}.exch_dst"
        for tbl, loc in ((src, a_loc), (dst, b_loc)):
            spark.sql(
                f"CREATE TABLE {tbl} (o_orderkey BIGINT) USING PARQUET "
                f"PARTITIONED BY (o_orderstatus STRING) LOCATION '{loc}'"
            )
        spark.sql(f"MSCK REPAIR TABLE {src}")
        # EXCHANGE PARTITION (o_orderstatus='F'): dir move + metadata ops
        _, fs, P = hadoop_fs(spark, a_loc)
        if not fs.rename(
            P(f"{a_loc}/o_orderstatus=F"), P(f"{b_loc}/o_orderstatus=F")
        ):
            raise RuntimeError("partition dir rename failed")
        spark.sql(f"ALTER TABLE {src} DROP IF EXISTS PARTITION (o_orderstatus='F')")
        spark.sql(f"ALTER TABLE {dst} ADD PARTITION (o_orderstatus='F')")
        src_parts = [r.partition for r in spark.sql(f"SHOW PARTITIONS {src}").collect()]
        dst_parts = [r.partition for r in spark.sql(f"SHOW PARTITIONS {dst}").collect()]
        row = spark.sql(
            f"SELECT (SELECT COUNT(*) FROM {src}) AS n_src, "
            f"(SELECT COUNT(*) FROM {dst}) AS n_dst, "
            f"(SELECT SUM(o_orderkey) FROM {dst}) AS mks"
        ).collect()[0]
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [
            (
                row.n_src,
                row.n_dst,
                row.mks,
                "o_orderstatus=F" not in src_parts,
                dst_parts == ["o_orderstatus=F"],
            )
        ],
        "n_src_after long, n_dst_after long, moved_key_sum long, "
        "src_partition_gone boolean, dst_partition_present boolean",
    )


@register(
    "show_create_table_roundtrip",
    oracle="""
    SELECT TRUE AS ddl_has_schema,
           TRUE AS ddl_has_partitioning,
           TRUE AS ddl_has_tblproperties,
           TRUE AS clone_schema_match,
           TRUE AS clone_partitioned,
           CAST(25 AS BIGINT) AS n_rows_via_clone
    FROM (SELECT 1)
    """,
    doc="SHOW CREATE TABLE (DDLTask.showCreateTable — how 1.2 users copied "
    "and audited table definitions): the emitted DDL must be EXECUTABLE "
    "and faithful, which the query proves by round-trip — create a "
    "partitioned table with properties, capture SHOW CREATE TABLE, "
    "re-execute the emitted DDL under a new name, and assert the clone "
    "carries the same column schema, partitioning, and serves inserted "
    "rows. A SHOW CREATE that drifts from what CREATE accepts (the "
    "classic cross-version migration failure) breaks the re-execution "
    "or the schema equality, not just a string compare. Metadata plane "
    "only.",
    tags=("catalog", "ddl"),
)
def show_create_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    db = _scratch_db(spark)
    _drop_db(spark, db)
    spark.sql(f"CREATE DATABASE {db}")
    try:
        load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_sct_src")
        t1, t2 = f"{db}.sct_orig", f"{db}.sct_clone"
        spark.sql(
            f"CREATE TABLE {t1} (n_nationkey BIGINT, n_name STRING) USING "
            f"PARQUET PARTITIONED BY (n_regionkey BIGINT) "
            f"TBLPROPERTIES ('quality' = 'gold')"
        )
        ddl = spark.sql(f"SHOW CREATE TABLE {t1}").collect()[0][0]
        flags = (
            "n_nationkey BIGINT" in ddl,
            "PARTITIONED BY (n_regionkey)" in ddl,
            "'quality' = 'gold'" in ddl,
        )
        # the round-trip: the emitted DDL must execute under a new name.
        # Regex over the table identifier alone (optionally backticked) so
        # the rewrite survives identifier-quoting changes across Spark
        # versions (ADVICE r11: a plain substring replace of 'db.sct_orig'
        # no-ops if a future Spark emits `db`.`sct_orig`).
        import re as _re

        ddl2, n_sub = _re.subn(r"`?sct_orig`?", "sct_clone", ddl, count=1)
        if n_sub != 1:
            raise ValueError(f"SHOW CREATE TABLE output lacks the table name: {ddl}")
        spark.sql(ddl2)
        schema_match = spark.table(t2).schema == spark.table(t1).schema
        spark.sql(
            f"INSERT INTO {t2} SELECT n_nationkey, n_name, n_regionkey "
            f"FROM nation_sct_src"
        )
        clone_partitioned = (
            len(spark.sql(f"SHOW PARTITIONS {t2}").collect()) == 5
        )
        n = spark.table(t2).count()
    finally:
        _drop_db(spark, db)
    return spark.createDataFrame(
        [(flags[0], flags[1], flags[2], schema_match, clone_partitioned, n)],
        "ddl_has_schema boolean, ddl_has_partitioning boolean, "
        "ddl_has_tblproperties boolean, clone_schema_match boolean, "
        "clone_partitioned boolean, n_rows_via_clone long",
    )


@register(
    "stats_footer_count",
    # The oracle is the full COUNT(*): hash-equality proves the
    # footer-derived count (zero data pages read) equals the true row
    # count — the answer-from-metadata contract.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS footer_rows,
           TRUE AS files_positive,
           TRUE AS rowgroups_ge_files
    FROM lineitem
    """,
    doc="COUNT(*) answered from parquet FOOTERS alone — "
    "StatsOptimizer.java's answer-from-stats specialized to the file "
    "format (Hive 1.2 short-circuits count(*)/min/max from metastore "
    "stats when hive.compute.query.using.stats=on; parquet footers are "
    "the always-fresh equivalent): the lineitem file list fans out to "
    "executors, each opens ONLY the footer via pyarrow "
    "(metadata.num_rows — no data pages, no decompression), and the "
    "counts sum. The certified equality against the oracle's real "
    "COUNT(*) proves the metadata path is trustworthy. Scale: a 100 TB "
    "table with 100k files costs 100k footer reads (KBs each) "
    "distributed across the cluster — milliseconds per executor, no "
    "scan; this is also exactly the machinery a manifest/stats "
    "collector runs after every publish. The file list comes from the "
    "Hadoop FS API (one driver listing — the same path handling every "
    "other read uses, so s3a/hdfs URIs list correctly); the footer "
    "open inside mapInPandas uses pyarrow on the listed paths, which "
    "assumes executors share the driver's filesystem view (true for "
    "local[], HDFS and object stores alike).",
    tags=("catalog", "stats", "source"),
)
def stats_footer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    src = os.path.join(sf_dir, "lineitem.parquet")
    _, fs, P = hadoop_fs(spark, src)
    root = P(src)
    if fs.getFileStatus(root).isDirectory():
        # Keep the FULLY-QUALIFIED URI (scheme + authority + path): the
        # executor-side open resolves it through pyarrow's filesystem
        # layer, so hdfs://nn/x and s3a://bucket/x open the file the
        # driver listed — stripping to the bare path component would
        # silently resolve against the executor's LOCAL filesystem
        # (ADVICE r14).
        files = sorted(
            str(st.getPath().toString())
            for st in fs.listStatus(root)
            if st.getPath().getName().endswith(".parquet")
        )
    else:
        files = [src]
    fdf = spark.createDataFrame([(f,) for f in files], "path string").repartition(
        min(len(files), 32)
    )

    def footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        def opened(uri):
            # Fully-qualified URIs go through pyarrow.fs (s3a -> s3 is
            # the pyarrow spelling of the same store); bare local paths
            # open directly.
            if "://" not in uri and not uri.startswith("file:/"):
                return uri
            import pyarrow.fs as pafs

            pfs, path = pafs.FileSystem.from_uri(
                uri.replace("s3a://", "s3://", 1)
            )
            return pfs.open_input_file(path)

        for pdf in batches:
            rows, groups = [], []
            for p in pdf["path"]:
                md = pq.ParquetFile(opened(p)).metadata
                rows.append(md.num_rows)
                groups.append(md.num_row_groups)
            yield pd.DataFrame(
                {"n_rows": rows, "n_groups": groups, "n_files": [1] * len(rows)}
            )

    agg = fdf.mapInPandas(
        footers, "n_rows bigint, n_groups bigint, n_files bigint"
    ).agg(
        F.sum("n_rows").cast("long").alias("footer_rows"),
        F.sum("n_files").cast("long").alias("n_files"),
        F.sum("n_groups").cast("long").alias("n_groups"),
    )
    return agg.select(
        "footer_rows",
        (F.col("n_files") > 0).alias("files_positive"),
        (F.col("n_groups") >= F.col("n_files")).alias("rowgroups_ge_files"),
    )


@register(
    "stats_footer_minmax",
    # The oracle runs the REAL aggregate; hash-equality proves the
    # footer-statistics path (zero data pages) returns the true
    # min/max/count — the full StatsOptimizer answer-from-stats set.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey,
           TRUE AS all_stats_present
    FROM lineitem
    """,
    doc="MIN/MAX/COUNT answered from parquet FOOTER column statistics — "
    "the rest of StatsOptimizer.java's answer-from-stats set (Hive 1.2 "
    "short-circuits count(*), min(x), max(x) from metastore column "
    "stats when hive.compute.query.using.stats=on; parquet row-group "
    "statistics are the always-fresh equivalent): the file list fans "
    "out via the Hadoop FS API, each executor opens ONLY footers and "
    "folds per-row-group column min/max (pyarrow statistics; "
    "has_min_max checked per row group — a group without stats fails "
    "the query LOUDLY rather than returning a wrong extreme), and the "
    "per-file partials merge with one tiny aggregate. Certified equal "
    "to the oracle's real MIN/MAX/COUNT over the data. Scale: 100k "
    "footers of KBs each across the cluster vs a full column scan — "
    "this is also the exact machinery partition-level stats collectors "
    "and zone-map builders run.",
    tags=("catalog", "stats", "source"),
)
def stats_footer_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    src = os.path.join(sf_dir, "lineitem.parquet")
    _, fs, P = hadoop_fs(spark, src)
    root = P(src)
    if fs.getFileStatus(root).isDirectory():
        # Fully-qualified URIs for the same reason as stats_footer_count:
        # the executor-side pyarrow open must hit the filesystem the
        # driver listed, not the executor's local FS (ADVICE r14).
        files = sorted(
            str(st.getPath().toString())
            for st in fs.listStatus(root)
            if st.getPath().getName().endswith(".parquet")
        )
    else:
        files = [src]
    fdf = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(min(len(files), 32))

    def footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        def opened(uri):
            if "://" not in uri and not uri.startswith("file:/"):
                return uri
            import pyarrow.fs as pafs

            pfs, path = pafs.FileSystem.from_uri(
                uri.replace("s3a://", "s3://", 1)
            )
            return pfs.open_input_file(path)

        # One output frame PER input batch (streamed, never buffered
        # across the whole partition), built with explicit dtypes so an
        # empty batch still casts cleanly to the declared schema
        # (ADVICE r14: the old single-yield form built object-dtype
        # all-empty lists on empty partitions).
        import numpy as np

        for pdf in batches:
            out = {
                "n_rows": [], "min_qty": [], "max_qty": [],
                "min_orderkey": [], "max_orderkey": [], "stats_ok": [],
            }
            for p in pdf["path"]:
                md = pq.ParquetFile(opened(p)).metadata
                names = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                qi, oi = names["l_quantity"], names["l_orderkey"]
                mn_q = mx_q = mn_o = mx_o = None
                ok = True
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    sq, so = g.column(qi).statistics, g.column(oi).statistics
                    if (
                        sq is None or so is None
                        or not sq.has_min_max or not so.has_min_max
                    ):
                        ok = False
                        break
                    mn_q = sq.min if mn_q is None else min(mn_q, sq.min)
                    mx_q = sq.max if mx_q is None else max(mx_q, sq.max)
                    mn_o = so.min if mn_o is None else min(mn_o, so.min)
                    mx_o = so.max if mx_o is None else max(mx_o, so.max)
                if not ok:
                    raise ValueError(
                        f"row group without min/max statistics in {p} — "
                        "the stats path must not silently fall back"
                    )
                out["n_rows"].append(md.num_rows)
                out["min_qty"].append(float(mn_q))
                out["max_qty"].append(float(mx_q))
                out["min_orderkey"].append(int(mn_o))
                out["max_orderkey"].append(int(mx_o))
                out["stats_ok"].append(True)
            yield pd.DataFrame(
                {
                    "n_rows": np.asarray(out["n_rows"], dtype="int64"),
                    "min_qty": np.asarray(out["min_qty"], dtype="float64"),
                    "max_qty": np.asarray(out["max_qty"], dtype="float64"),
                    "min_orderkey": np.asarray(
                        out["min_orderkey"], dtype="int64"
                    ),
                    "max_orderkey": np.asarray(
                        out["max_orderkey"], dtype="int64"
                    ),
                    "stats_ok": np.asarray(out["stats_ok"], dtype="bool"),
                }
            )

    per = fdf.mapInPandas(
        footers,
        "n_rows bigint, min_qty double, max_qty double, "
        "min_orderkey bigint, max_orderkey bigint, stats_ok boolean",
    )
    return per.agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.min("min_qty").alias("min_qty"),
        F.max("max_qty").alias("max_qty"),
        F.min("min_orderkey").alias("min_orderkey"),
        F.max("max_orderkey").alias("max_orderkey"),
        F.bool_and("stats_ok").alias("all_stats_present"),
    )
