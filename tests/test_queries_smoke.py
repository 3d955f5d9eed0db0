"""Per-query smoke tests at sf0.001: every registered query builds, executes,
and returns a stable non-degenerate schema. Mirrors the granularity of the
reference's per-function q-tests (udf_*.q; SURVEY.md §5). Each query's build
and execution is the shared ``query_run`` of conftest.py, which the
dtype-parity and oracle-sample tests check as well."""

from __future__ import annotations

import os

import pytest

from apache_hive_1_2_2_src_spark.registry import load_all
from tests.conftest import SAMPLE, SF_DIR

# Queries whose row count may legitimately be 0 at sf0.001 (tiny data →
# no near-dup pairs / empty anti-join results).
MAY_BE_EMPTY = {
    "join_left_anti",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_cosine_threshold",
    "text_context_ngrams",
}

_ALL = sorted(load_all())


def test_named_queries_are_registered():
    """A renamed query must not silently drop out of the value check or
    gain a silent empty-result exemption."""
    assert not set(SAMPLE) - set(_ALL), f"unregistered SAMPLE names: {set(SAMPLE) - set(_ALL)}"
    assert not MAY_BE_EMPTY - set(_ALL), f"unregistered MAY_BE_EMPTY names: {MAY_BE_EMPTY - set(_ALL)}"


@pytest.mark.parametrize("name", _ALL)
def test_query_executes(query_run, name):
    run = query_run(name)
    assert len(run.schema.fields) > 0, f"{name}: empty schema"
    if name not in MAY_BE_EMPTY:
        assert run.count > 0, f"{name}: returned 0 rows at sf0.001"


@pytest.mark.parametrize("name", sorted(MAY_BE_EMPTY))
def test_may_be_empty_nonempty_at_grading_sf(spark, registry, name):
    """The sf0.001 exemption must not let an oracle silently certify an
    empty result at the driver's grading scale: every MAY_BE_EMPTY query
    must return rows at sf0.01 (VERDICT r5 polish item — an exemption that
    also held at sf0.01 would make 'oracle matches' vacuously true)."""
    n = registry[name].build(spark, os.path.join(os.path.dirname(SF_DIR), "sf0.01")).count()
    assert n > 0, f"{name}: empty at sf0.01 — its oracle check is vacuous"
