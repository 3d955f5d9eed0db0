"""r19 optimization-device pins: the performance devices introduced in
the first optimization round must be result-invariant.

- concurrently(_materialize, ...) (concurrent independent chain
  training, as in similarity._pq_encode) must produce
  bit-identical codebooks to sequential training: the chains share no
  state, and the quantized trainer is partitioning/lineage-invariant
  (tests/test_kmeans.py), so any divergence here would mean the thread
  pool leaked state between jobs.
- _spread (round-robin repartition before a fan-out join) must not
  change what a rank-windowed report returns: the windows carry full
  deterministic tiebreakers, so results are partitioning-invariant by
  construction.
"""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.extensions.similarity import (
    _ivf_probe2_report,
    _materialize,
    _spread,
    kmeans_centroids_quantized,
)
from apache_hive_1_2_2_src_spark.streaming.epoch_store import concurrently
from apache_hive_1_2_2_src_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_concurrent_chain_training_matches_sequential(spark, emb):
    def sub(m):
        return F.slice("embedding", m * 16 + 1, 16)

    chains = [
        kmeans_centroids_quantized(
            emb.select("vec_id", sub(m).alias("embedding")), 8, 2
        )
        for m in range(4)
    ]
    concurrent = concurrently(*(partial(_materialize, c) for c in chains))
    sequential = [
        _materialize(
            kmeans_centroids_quantized(
                emb.select("vec_id", sub(m).alias("embedding")), 8, 2
            )
        )
        for m in range(4)
    ]
    for m in range(4):
        assert _rows(concurrent[m]) == _rows(sequential[m]), f"chain {m}"


def test_spread_is_result_invariant(spark, emb):
    cent = _materialize(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
    )
    report = _rows(_ivf_probe2_report(emb, cent))
    # the report internally _spreads its clustered side; re-spreading the
    # INPUT (different partition count upstream) must not move a row
    report_spread_input = _rows(_ivf_probe2_report(_spread(emb), cent))
    assert report == report_spread_input
    assert report, "probe report unexpectedly empty"
