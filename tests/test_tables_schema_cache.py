"""tables.load_table keeps each table's inferred schema (the Metastore
analogue): a repeated load launches no Spark job, and a rewritten table or
a changed schema-inference conf forces a fresh inference."""

from __future__ import annotations

import itertools
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from apache_hive_1_2_2_src_spark import tables
from apache_hive_1_2_2_src_spark.plans import plan_text
from apache_hive_1_2_2_src_spark.tables import load_table
from tests.conftest import SF_DIR

# TPC-H Q1, Q4, Q5, Q6 and Q18 as registered.
TPCH = (
    "q1_pricing_summary",
    "workload_order_priority_check",
    "workload_local_supplier_volume",
    "workload_revenue_forecast",
    "workload_large_volume_customer",
)
_GROUPS = itertools.count()


def _jobs_of(spark, fn):
    """(result of fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"schema-cache-{next(_GROUPS)}"
    sc.setJobGroup(group, "tables schema cache test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(tmp_path, name):
    shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    (tmp_path / f"{name}.parquet").chmod(0o644)
    return str(tmp_path)


def test_second_load_launches_no_job(spark, tmp_path):
    sf = _copy_table(tmp_path, "orders")
    cold, cold_jobs = _jobs_of(spark, lambda: load_table(spark, sf, "orders"))
    warm, warm_jobs = _jobs_of(spark, lambda: load_table(spark, sf, "orders"))
    assert cold_jobs >= 1  # the footer-reading inference job is visible
    assert warm_jobs == 0
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()


def test_rewritten_table_gets_new_schema(spark, tmp_path):
    sf = _copy_table(tmp_path, "orders")
    before = load_table(spark, sf, "orders")
    assert "o_extra" not in before.columns
    path = tmp_path / "orders.parquet"
    t = pq.read_table(path)
    pq.write_table(t.append_column("o_extra", pa.array(range(t.num_rows), pa.int64())), path)
    after, jobs = _jobs_of(spark, lambda: load_table(spark, sf, "orders"))
    assert jobs >= 1
    assert after.columns == before.columns + ["o_extra"]
    assert after.agg({"o_extra": "max"}).collect()[0][0] == t.num_rows - 1


def test_schema_conf_change_forces_inference(spark, tmp_path):
    sf = _copy_table(tmp_path, "nation")
    key = "spark.sql.parquet.binaryAsString"
    was = spark.conf.get(key, None)
    load_table(spark, sf, "nation")
    _, warm_jobs = _jobs_of(spark, lambda: load_table(spark, sf, "nation"))
    assert warm_jobs == 0
    spark.conf.set(key, "true" if was == "false" else "false")
    try:
        _, jobs = _jobs_of(spark, lambda: load_table(spark, sf, "nation"))
    finally:
        if was is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, was)
    assert jobs >= 1


def test_missing_table_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "orders")


def test_tpch_plans_equal_cold_and_warm(spark, registry):
    def masked(df):
        return re.sub(r"(#|plan_id=)\d+", r"\1", plan_text(df))

    for name in TPCH:
        tables._SCHEMAS.clear()
        cold = masked(registry[name].build(spark, SF_DIR))
        warm = masked(registry[name].build(spark, SF_DIR))
        assert cold == warm, name
