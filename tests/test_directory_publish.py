"""The staged-directory publish devices on the paths no other test takes:

- the positional-file flatten of both bucketed writers refuses a staging
  write that split a bucket across files, before any rename: the layout
  already at the target survives and the staging dir is removed;
- the bucketed upsert reclaims a crash left inside a bucket's generation
  swap and a stale side root, then drains on to the argmax of all drops.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def _listing(root: str) -> dict:
    """relative path -> (size, mtime) of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = (os.path.getsize(p), os.path.getmtime(p))
    return out


def _write_flat(df, path):
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import write_hive_bucketed

    write_hive_bucketed(df, "k", 4, path, kind="long")


def _write_nested(df, path):
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import (
        write_hive_partitioned_bucketed,
    )

    write_hive_partitioned_bucketed(df, "pt", "k", 4, path, kind="long")


@pytest.mark.parametrize("write", [_write_flat, _write_nested], ids=["flat", "nested"])
def test_flatten_refuses_split_bucket_before_any_rename(spark, tmp_path, write):
    path = str(tmp_path / "out")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("pt"),
        (F.col("id") * 3).alias("v"),
    )
    write(df, path)
    before = _listing(path)
    assert before

    # with 5 records per file every bucket of 25-50 rows is split
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "5")
    try:
        with pytest.raises(RuntimeError, match="split across"):
            write(df.withColumn("v", F.col("v") + 1), path)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert _listing(path) == before
    assert not os.path.exists(path + ".__staging")


def _stage_drop(spark, base, inbox, drop, rows):
    from apache_hive_1_2_2_src_spark.streaming.windows import _assert_stream_schema

    df = (
        spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, value double"
        )
        .withColumn("ts_us", F.lit(1_600_000_000_000_000 + drop))
        .withColumn("props", F.lit(None).cast("string"))
    )
    _assert_stream_schema(df)
    stage_dir = f"{base}/stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
    part = next(f for f in os.listdir(stage_dir) if f.endswith(".parquet"))
    dest = f"{inbox}/drop_{drop}.parquet"
    os.rename(f"{stage_dir}/{part}", dest)
    os.utime(dest, (1_600_000_000 + 60 * drop,) * 2)


def test_bucketed_upsert_reclaims_crash_states(spark, tmp_path):
    """A drain that died inside bucket j's swap (``b`` absent, its
    ``__old`` and its validated ``__next`` present) and before removing
    its side root: the next drain reclaims both and converges to the
    argmax over every drop."""
    from apache_hive_1_2_2_src_spark.streaming.windows import (
        _bucketed_upsert_drain,
        _latest,
    )

    n_buckets = 4
    base = str(tmp_path / "bu")
    inbox, state, ckpt = f"{base}/inbox", f"{base}/state", f"{base}/ckpt"
    os.makedirs(inbox)
    drops = [
        [(i, i, "click", float(i)) for i in range(32)],
        [(100 + i, i, "click", 100.0 + i) for i in range(8)],
        [(200 + i, i, "click", 200.0 + i) for i in range(4, 12)],
    ]
    _stage_drop(spark, base, inbox, 0, drops[0])
    _bucketed_upsert_drain(spark, inbox, state, ckpt, n_buckets, max_files_per_trigger=1)

    # The crash: drop 1's merge had swapped bucket j out to __old with its
    # validated new generation in __next, and had not yet removed the side
    # root. Drop 1 was never checkpoint-committed, so it is re-delivered.
    ub = F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)).cast("int")
    j = spark.createDataFrame([(0,)], "user_id long").select(ub).first()[0]
    b = f"{state}/b{j:05d}"
    old = spark.read.parquet(b)
    late = spark.createDataFrame(
        [(u, e, v) for e, u, _, v in drops[1]], "user_id long, event_id long, value double"
    ).select("user_id", F.timestamp_micros(F.lit(1_600_000_000_000_001)).alias("ts"),
             "event_id", "value").where(ub == j)
    _latest(old.unionByName(late)).write.parquet(b + "__next")
    os.rename(b, b + "__old")
    stale = spark.createDataFrame([(0, 0, -1.0)], "user_id long, event_id long, value double")
    stale.write.parquet(f"{state}__next_root/ub={j}")

    for drop in (1, 2):
        _stage_drop(spark, base, inbox, drop, drops[drop])
    _bucketed_upsert_drain(spark, inbox, state, ckpt, n_buckets, max_files_per_trigger=1)

    assert sorted(os.listdir(state)) == [f"b{i:05d}" for i in range(n_buckets)]
    assert not os.path.exists(f"{state}__next_root")
    got = {
        (r.user_id, r.value)
        for r in spark.read.parquet(*(f"{state}/b{i:05d}" for i in range(n_buckets))).collect()
    }
    want = {}
    for rows in drops:  # later drops carry later ts
        want.update({u: v for _, u, _, v in rows})
    assert got == set(want.items())
