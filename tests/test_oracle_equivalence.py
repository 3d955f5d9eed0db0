"""Spark ↔ DuckDB oracle equivalence at sf0.001 for a representative sample
of [Q] queries (the full sweep runs in tools/check.py at sf0.01; this keeps
pytest fast while still exercising the comparison machinery end-to-end).
Rows are normalized with tools/check.py's ``norm_rows``, the sweep's own, and
the Spark rows are the ones the query's shared run collected (``query_run``
in conftest.py)."""

from __future__ import annotations

import os

import pytest

from apache_hive_1_2_2_src_spark.tables import TABLES
from tests.conftest import SAMPLE, SF_DIR
from tools.check import ORACLE_MEMORY_LIMIT, norm_rows, oracle_connection


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_match(registry, oracle_con, query_run, name):
    q = registry[name]
    assert q.oracle is not None, f"{name} has no oracle"
    run = query_run(name)
    scols = run.schema.names
    srows = run.rows
    ores = oracle_con.execute(q.oracle).fetchall()
    ocols = [d[0] for d in oracle_con.description]
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(ores), f"{name}: rowcount {len(srows)} vs {len(ores)}"
    assert norm_rows(scols, srows) == norm_rows(ocols, ores), f"{name}: values differ"


def test_oracle_connection_is_bounded():
    con = oracle_connection(SF_DIR)
    try:
        bounded = con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
        con.execute(f"SET memory_limit = '{ORACLE_MEMORY_LIMIT}'")
        assert bounded == con.execute("SELECT current_setting('memory_limit')").fetchone()[0]
        temp_dir = con.execute("SELECT current_setting('temp_directory')").fetchone()[0]
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        assert os.path.isabs(temp_dir) and os.path.commonpath([repo, temp_dir]) != repo, temp_dir
        views = {r[0] for r in con.execute("SELECT view_name FROM duckdb_views() WHERE NOT internal").fetchall()}
        assert set(TABLES) <= views, f"missing views: {set(TABLES) - views}"
    finally:
        con.close()
