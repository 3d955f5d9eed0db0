"""r19 scale audit: write amplification of the streaming latest-state
upsert sink.

The flat foreachBatch upsert (streaming_foreachbatch_upsert) rewrites the
WHOLE ~|users| state table every micro-batch — write cost
O(epochs x |users|) regardless of how few users each batch touches, the
realistic CDC shape (most users idle per interval). The r19 bucketed-state
twin (streaming_upsert_bucketed_state) hash-partitions the state into k
independent generation-swap dirs and rewrites only touched buckets.

This tool stages a CDC-shaped feed — U users seeded in epoch 0, then E
epochs of u-user updates — and drains it both ways, counting rows
rewritten per epoch (the flat form's count comes from its own validation
count; the bucketed form records the per-bucket validated sums in
LAST_BUCKETED_UPSERT). Both final states are asserted equal.

Usage: python tools/measure_upsert_rewrite.py [U E u k]
       (default 50000 12 8 64)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.session import get_session
from apache_hive_1_2_2_src_spark.streaming.epoch_store import drain, stage_drops


def main() -> None:
    args = [int(a) for a in sys.argv[1:]]
    U, E, u, k = (args + [50_000, 12, 8, 64][len(args):])[:4]
    spark = get_session("upsert-rewrite-audit")
    from apache_hive_1_2_2_src_spark.streaming import windows as sw

    base = "/tmp/upsert_rewrite_audit"
    shutil.rmtree(base, ignore_errors=True)
    inbox = os.path.join(base, "inbox")

    # epoch 0 seeds every user; epochs 1..E update u users each
    feed = spark.range(U).select(
        F.col("id").alias("event_id"),
        F.col("id").alias("user_id"),
        F.lit("seed").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit(0).alias("drop"),
    )
    for e in range(1, E + 1):
        feed = feed.unionByName(spark.range(u).select(
            (F.lit(1_000_000 + e * 1000) + F.col("id")).alias("event_id"),
            (F.col("id") * 97 + F.lit(e)).alias("user_id"),
            F.lit("update").alias("event_type"),
            (F.col("id") + F.lit(e)).cast("double").alias("value"),
            F.lit(e).alias("drop"),
        ))
    stage_drops(
        feed.withColumn(
            "ts_us", F.lit(1_600_000_000_000_000) + F.col("drop") * 60
        ).withColumn("props", F.lit(None).cast("string")),
        E + 1, inbox,
    )

    # ---- flat drain (the registered shape, inline, with a row counter)
    state_f = os.path.join(base, "state_flat")
    flat_rows: list[int] = []

    def merge_flat(batch, _epoch):
        sess = batch.sparkSession
        sw.reclaim_state_generation(sess, state_f)
        from apache_hive_1_2_2_src_spark.tables import hadoop_fs

        _, fs, P = hadoop_fs(sess, state_f)
        cur = batch.select("user_id", "ts", "event_id", "value")
        if fs.exists(P(state_f)):
            cur = cur.unionByName(sess.read.parquet(state_f))
        n_users = cur.select("user_id").distinct().count()
        flat_rows.append(n_users)
        sw.commit_state_generation(sess, state_f, sw._latest(cur), n_users)

    t0 = time.time()
    drain(
        sw._read_events_stream(spark, inbox, max_files_per_trigger=1)
        .writeStream.foreachBatch(merge_flat),
        os.path.join(base, "ckpt_flat"), 420, "flat upsert",
    )
    flat_wall = time.time() - t0

    # ---- bucketed drain
    state_b = os.path.join(base, "state_bucketed")
    t0 = time.time()
    sw._bucketed_upsert_drain(
        spark, inbox, state_b, os.path.join(base, "ckpt_bucketed"),
        n_buckets=k, max_files_per_trigger=1,
    )
    buck_wall = time.time() - t0
    buck_rows = list(sw.LAST_BUCKETED_UPSERT["rows_written"])

    # final states equal
    flat = {tuple(r) for r in spark.read.parquet(state_f).collect()}
    bdirs = [
        os.path.join(state_b, d)
        for d in sorted(os.listdir(state_b))
        if d.startswith("b") and "__" not in d
    ]
    buck = {tuple(r) for r in spark.read.parquet(*bdirs).collect()}
    assert flat == buck, (len(flat), len(buck))

    print(json.dumps({
        "users": U, "epochs": E + 1, "updates_per_epoch": u, "buckets": k,
        "flat_rows_rewritten_total": int(sum(flat_rows)),
        "bucketed_rows_rewritten_total": int(sum(buck_rows)),
        "amplification_ratio": round(sum(flat_rows) / sum(buck_rows), 2),
        "flat_wall_s": round(flat_wall, 1),
        "bucketed_wall_s": round(buck_wall, 1),
        "flat_rows_per_epoch": flat_rows,
        "bucketed_rows_per_epoch": buck_rows,
    }))
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
