"""r18 scale audit (VERDICT r17 item 5): streaming ACID ingest
checkpoint/offset-log growth across MANY foreachBatch epochs.

SCALE.md r17 measured the LSH store's checkpoint; this measures the ACID
sink's (the streaming_acid_delta_ingest / _full_layout_ingest shape):
a file-source stream drained one staged file per trigger into ACID delta
dirs, at 15 / 30 / 60 epochs, under (a) default retention and (b)
spark.sql.streaming.minBatchesToRetain=10.

What grows where (the three candidate unbounded resources):
- ckpt/offsets + ckpt/commits: one small file per epoch, PURGED by the
  engine down to minBatchesToRetain (default 100) — bounded.
- ckpt/sources/0: one entry per ingested file, compacted every
  compactInterval (default 10) into a CUMULATIVE .compact file — bytes
  grow O(total files ever seen); never purged (the entries are the
  seen-file dedup state). This is the true long-horizon growth item.
- table/delta_N_N dirs: O(epochs) — already bounded by the certified
  ACID minor/major compaction (acid.py), not re-measured here.

Usage: python tools/measure_acid_ckpt_growth.py
Prints one JSON line per (epochs, retention) run.
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


def _dir_stats(d: str) -> tuple[int, int]:
    files = bytes_ = 0
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            try:
                bytes_ += os.path.getsize(p)
                files += 1
            except OSError:
                pass
    return files, bytes_


def run(spark, epochs: int, retain: int | None, tag: str) -> dict:
    base = f"/tmp/acid_ckpt_audit_{tag}"
    shutil.rmtree(base, ignore_errors=True)
    inbox = os.path.join(base, "inbox")
    table = os.path.join(base, "table")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(table)

    # one tiny parquet drop per epoch (10 keys each), replayed in order
    stage_drops(
        spark.range(epochs * 10).select(
            F.col("id").alias("k"),
            F.lit("U").alias("op"),
            F.expr("CAST(id DIV 10 AS INT)").alias("drop"),
        ),
        epochs, inbox,
    )

    if retain is not None:
        spark.conf.set("spark.sql.streaming.minBatchesToRetain", str(retain))
    else:
        spark.conf.unset("spark.sql.streaming.minBatchesToRetain")

    def write_delta(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        batch_df.write.mode("overwrite").parquet(
            f"{table}/delta_{batch_id + 1}_{batch_id + 1}"
        )

    t0 = time.time()
    drain(
        spark.readStream.schema("k bigint, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(write_delta),
        ckpt, 420, "acid checkpoint audit",
    )
    wall = time.time() - t0

    def count(d):
        p = os.path.join(ckpt, d)
        return len(os.listdir(p)) if os.path.isdir(p) else 0

    src_files, src_bytes = _dir_stats(os.path.join(ckpt, "sources"))
    ck_files, ck_bytes = _dir_stats(ckpt)
    deltas = sum(1 for n in os.listdir(table) if n.startswith("delta_"))
    compacts = []
    srcdir = os.path.join(ckpt, "sources", "0")
    if os.path.isdir(srcdir):
        compacts = sorted(
            (n, os.path.getsize(os.path.join(srcdir, n)))
            for n in os.listdir(srcdir)
            if n.endswith(".compact")
        )
    out = {
        "epochs": epochs,
        "minBatchesToRetain": retain or "default(100)",
        "wall_s": round(wall, 1),
        "offsets_files": count("offsets"),
        "commits_files": count("commits"),
        "sources_log_files": src_files,
        "sources_log_bytes": src_bytes,
        "ckpt_total_files": ck_files,
        "ckpt_total_bytes": ck_bytes,
        "delta_dirs": deltas,
        "compact_file_sizes": [s for _, s in compacts],
    }
    shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    spark = get_session("acid-ckpt-audit")
    for epochs in (15, 30, 60):
        print(json.dumps(run(spark, epochs, None, f"d{epochs}")))
    print(json.dumps(run(spark, 60, 10, "r10")))
    spark.stop()


if __name__ == "__main__":
    main()
