"""Contracts of the streaming drain kernel (streaming/epoch_store.py):

- a foreachBatch retry is exact: every probe drain reads only epochs
  before its own and overwrites its own ``epoch=N`` output, so running
  each batch function twice with the same epoch id leaves every drain's
  result unchanged;
- a drain past its timeout stops its query and raises TimeoutError;
- a compacted store is terminal: an append to it is refused;
- staged drops are one file per drop, mtime-ordered, empty drops kept."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from apache_hive_1_2_2_src_spark.streaming import windows as sw
from apache_hive_1_2_2_src_spark.streaming.epoch_store import (
    EpochStore,
    drain,
    stage_drops,
)
from tests.conftest import SF_DIR

_DRAINS = {
    "lsh": lambda spark: sw._lsh_probe_dedup(spark, SF_DIR, n_batches=2),
    "collapsed": lambda spark: sw._collapsed_probe_dedup(spark, SF_DIR, n_batches=2),
    "phash": lambda spark: sw._phash_probe_dedup(spark, SF_DIR, n_batches=2),
    "landmark": lambda spark: sw._landmark_probe_contained(spark, SF_DIR, n_batches=2),
    "ivf": lambda spark: sw.streaming_ivf_index_maintenance(spark, SF_DIR),
}


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def lsh_run(spark):
    """One plain LSH drain: its verdicts and its store locations."""
    rows = _rows(_DRAINS["lsh"](spark))
    return rows, dict(sw.LAST_LSH_STORES)


@pytest.mark.parametrize("name", sorted(_DRAINS))
def test_retried_epoch_gives_the_same_result(spark, monkeypatch, lsh_run, name):
    once = lsh_run[0] if name == "lsh" else _rows(_DRAINS[name](spark))
    assert once

    real = DataStreamWriter.foreachBatch

    def twice(self, func):
        def run_twice(df, epoch_id):
            func(df, epoch_id)
            func(df, epoch_id)

        return real(self, run_twice)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", twice)
    assert _rows(_DRAINS[name](spark)) == once


def test_drain_timeout_stops_the_query_and_raises(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    stage_drops(
        spark.range(40).select(
            F.col("id").alias("k"), F.expr("CAST(id DIV 10 AS INT)").alias("drop")
        ),
        4, inbox,
    )
    writer = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
    )
    with pytest.raises(TimeoutError):
        drain(writer, str(tmp_path / "ckpt"), 0.001, "timeout probe")
    assert spark.streams.active == []


def test_compacted_store_is_terminal(spark, lsh_run):
    stores = lsh_run[1]
    sig = EpochStore(stores["sig"], "sb", stores["store_buckets"])
    sw.compact_partitioned_store(spark, sig.root, "sb")
    rows = spark.read.parquet(sig.root)
    before = _rows(rows)
    with pytest.raises(RuntimeError, match="compacted"):
        sig.append(99, rows.drop("epoch"))
    assert _rows(spark.read.parquet(sig.root)) == before


def test_stage_drops_writes_one_file_per_drop_in_order(spark, tmp_path):
    inbox = str(tmp_path / "inbox")
    # drop 1 has no rows; drop 3 is outside [0, n_drops)
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 2), (4, 3)], "k bigint, drop int"
    )
    stage_drops(df, 3, inbox)
    names = sorted(os.listdir(inbox))
    assert names == [f"drop_{b}.parquet" for b in range(3)]
    mtimes = [os.path.getmtime(os.path.join(inbox, n)) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    counts = [
        spark.read.parquet(os.path.join(inbox, n)).count() for n in names
    ]
    assert counts == [2, 0, 1]
    assert spark.read.parquet(os.path.join(inbox, names[0])).columns == ["k"]
    assert not os.path.exists(inbox + "__stage")
