"""streaming_foreachbatch_upsert's load-bearing claim is batch-count
independence: merging the feed as one big micro-batch or as many small ones
must converge to the identical latest-state table. The registered query
drains in one batch (32 staged files < default trigger limit); this test
forces a multi-batch drain and cross-checks both against the batch argmax."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.streaming.windows import streaming_foreachbatch_upsert
from apache_hive_1_2_2_src_spark.tables import load_table
from tests.conftest import SF_DIR


def _batch_argmax(spark):
    from pyspark.sql.window import Window

    e = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return {
        (r.user_id, r.last_ts, r.last_value)
        for r in (
            e.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "user_id",
                F.col("ts").cast("string").alias("last_ts"),
                F.col("value").alias("last_value"),
            )
            .collect()
        )
    }


def test_upsert_is_batch_count_independent(spark):
    want = _batch_argmax(spark)
    multi = {
        tuple(r)
        for r in streaming_foreachbatch_upsert(
            spark, SF_DIR, max_files_per_trigger=4
        ).collect()
    }
    assert multi == want, (
        f"multi-batch merge diverged from batch argmax: "
        f"only_in_merge={sorted(multi - want)[:3]} missing={sorted(want - multi)[:3]}"
    )


def test_availablenow_redrain_is_exactly_once(spark):
    """Structured Streaming's exactly-once contract (the property Hive's
    hcatalog-streaming bought with ACID txn ids, bought here by the
    checkpoint): draining the SAME inbox a second time against the SAME
    checkpoint must add ZERO rows to the sink — the file source records
    processed files in the checkpoint and re-offers nothing."""
    import os

    from pyspark.sql import functions as F

    from apache_hive_1_2_2_src_spark.streaming.windows import (
        _read_events_stream,
        _stage_events_inbox,
    )
    from apache_hive_1_2_2_src_spark.tmputil import scratch_dir
    from tests.conftest import SF_DIR

    base = scratch_dir("e1x")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, SF_DIR)

    def drain():
        q = (
            _read_events_stream(spark, inbox)
            .select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return spark.read.parquet(sink).count()

    first = drain()
    assert first > 0
    second = drain()
    assert second == first, (
        f"re-drain added {second - first} rows — exactly-once broken"
    )
