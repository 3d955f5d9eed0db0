"""Per-query smoke tests at sf0.001: every registered query builds, executes,
and returns a stable non-degenerate schema. Mirrors the granularity of the
reference's per-function q-tests (udf_*.q; SURVEY.md §5). Each query's build
and execution is the shared ``query_run`` of conftest.py, which the
dtype-parity and oracle-sample tests check as well."""

from __future__ import annotations

import pytest

from apache_hive_1_2_2_src_spark.registry import load_all
from tests.conftest import SAMPLE

_ALL = sorted(load_all())


def test_named_queries_are_registered():
    """A renamed query must not silently drop out of the value check."""
    assert not set(SAMPLE) - set(_ALL), f"unregistered SAMPLE names: {set(SAMPLE) - set(_ALL)}"


@pytest.mark.parametrize("name", _ALL)
def test_query_executes(query_run, name):
    run = query_run(name)
    assert len(run.schema.fields) > 0, f"{name}: empty schema"
    assert run.count > 0, f"{name}: returned 0 rows at sf0.001"
