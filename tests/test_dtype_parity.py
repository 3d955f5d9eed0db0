"""Dtype-parity audit: every [Q] oracle's DuckDB ``fetchdf()`` dtypes must be
compatible with the Spark result schema's pandas mapping.

This closes the round-3 failure CLASS (not just the instances): DuckDB returns
``SUM(BIGINT)`` as HUGEINT, which pandas materializes as float64 (``300.0``)
while Spark returns int64 (``300``) — the external driver's canonicalizer
distinguishes them, so such a query hash-fails at the driver even though every
value is numerically identical (r03: ddl_lifecycle, text_token_stats).

The Spark side is the schema of the query's one shared run (the
``query_run`` fixture in conftest.py), so this audit adds only the DuckDB
execution (fast) to the build and execution the smoke test needs anyway.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import types as T

from apache_hive_1_2_2_src_spark.registry import load_all

_REG = load_all()
ORACLED = [n for n, q in _REG.items() if q.oracle is not None]

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOAT_TYPES = (T.FloatType, T.DoubleType)


def spark_kind(dt: T.DataType) -> str:
    if isinstance(dt, _INT_TYPES):
        return "int"
    if isinstance(dt, _FLOAT_TYPES):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.TimestampType):
        return "datetime"
    if isinstance(dt, T.DateType):
        return "date"
    return "object"


def pandas_kind(series) -> str:
    kind_names = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}
    return kind_names.get(series.dtype.kind, "object")


def compatible(expected: str, series) -> bool:
    actual = pandas_kind(series)
    if expected == actual:
        return True
    has_nulls = bool(series.isna().any())
    if expected == "int" and actual in ("float", "object"):
        # nullable-int promotion is fine; int→float with NO nulls is the
        # HUGEINT bug (uncast integer SUM in the oracle) — flag it.
        return has_nulls
    if expected == "bool" and actual == "object":
        return has_nulls
    if expected == "date":
        if actual == "datetime":
            return True  # DuckDB fetchdf DATE → datetime64
        vals = series.dropna()
        return all(isinstance(v, (datetime.date, datetime.datetime)) for v in vals)
    return False


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_dtype_parity(registry, oracle_con, query_run, name):
    q = registry[name]
    schema = query_run(name).schema
    odf = oracle_con.execute(q.oracle).fetchdf()
    expected = {f.name: spark_kind(f.dataType) for f in schema.fields}
    assert sorted(expected) == sorted(odf.columns), f"{name}: column-name mismatch"
    bad = [
        f"{c}: spark_schema={expected[c]} oracle_pandas={odf[c].dtype}"
        for c in odf.columns
        if not compatible(expected[c], odf[c])
    ]
    assert not bad, f"{name}: oracle dtype divergence — {bad}"
