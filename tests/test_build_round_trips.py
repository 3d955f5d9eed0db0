"""py4j round trips of a warm ``Query.build``: this is to driver round trips
what tests/test_tables_schema_cache.py is to Spark jobs. At small scale a
build waits on the JVM once per round trip, so the budgets below keep the
count from creeping back. Each budget is the count measured when it was set
plus 10%; lower it when a change lowers the count."""

from __future__ import annotations

from apache_hive_1_2_2_src_spark.plans.roundtrips import count_round_trips
from tests.conftest import SF_DIR, TPCH

Q5 = "workload_local_supplier_volume"
Q5_BUDGET = 261  # 238 measured
TPCH_BUDGET = 853  # 776 measured for the five builds


def _warm_round_trips(spark, registry, names):
    """Round trips of building ``names`` once more, after a first build that
    fills the schema cache and the Hadoop handles."""
    for name in names:
        registry[name].build(spark, SF_DIR)
    with count_round_trips(spark) as counted:
        for name in names:
            registry[name].build(spark, SF_DIR)
    return counted.n


def test_q5_build_round_trips(spark, registry):
    n = _warm_round_trips(spark, registry, [Q5])
    assert 0 < n <= Q5_BUDGET, n


def test_tpch_builds_round_trips(spark, registry):
    n = _warm_round_trips(spark, registry, TPCH)
    assert 0 < n <= TPCH_BUDGET, n
