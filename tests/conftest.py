"""Shared fixtures: one small local SparkSession, a DuckDB connection with
the testdata views registered (mirrors the driver's t2 harness), and one
build-and-execute run per registered query shared by the per-query tests."""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass

import pytest
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_1_2_2_src_spark.registry import load_all
from apache_hive_1_2_2_src_spark.session import get_session
from tools.check import oracle_connection

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# [Q] queries whose collected rows tests/test_oracle_equivalence.py compares
# value by value with the oracle; every other query is only counted.
SAMPLE = [
    "q1_pricing_summary",
    "join_three_way",
    "agg_grouping_sets",
    "window_row_number_topk",
    "explode_words",
    "collection_array_suite",
    "dedup_exact",
    "similarity_cosine_topk",
    "text_token_stats",
    "window_tumbling_agg",
    "csv_roundtrip_agg",
    "multimodal_metadata",
    "similarity_kmeans_train",
]


@dataclass(frozen=True)
class QueryRun:
    schema: T.StructType
    count: int
    rows: list[tuple] | None  # the collected rows, for SAMPLE queries only


@pytest.fixture(scope="session")
def spark():
    return get_session("tests", shuffle_partitions=4)


@pytest.fixture(scope="session")
def registry():
    return load_all()


@pytest.fixture(scope="session")
def oracle_con():
    return oracle_connection(SF_DIR)


@pytest.fixture(scope="session")
def query_run(spark, registry):
    """``query_run(name)`` builds ``registry[name]`` at SF_DIR once per session
    and executes it in the same call: ``collect()`` for a SAMPLE query,
    ``count()`` otherwise. The smoke, dtype-parity and oracle-sample tests all
    check this one run, as the reference runs each q-file once against one
    golden ``.q.out`` (SURVEY.md §5). Executing at build time means a later
    query's build cannot change what an earlier one reads. A failed build or
    execution is not kept, so every test that asks for it sees the error."""
    runs: dict[str, QueryRun] = {}

    def run(name: str) -> QueryRun:
        if name not in runs:
            df = registry[name].build(spark, SF_DIR)
            if name in SAMPLE:
                rows = [tuple(r) for r in df.collect()]
                runs[name] = QueryRun(df.schema, len(rows), rows)
            else:
                runs[name] = QueryRun(df.schema, df.count(), None)
        return runs[name]

    return run
