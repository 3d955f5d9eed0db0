"""Time-window aggregation over the events table + Structured Streaming
ingest (SURVEY.md §2.10).

The reference has NO streaming query engine — its only streaming artifact is
transactional micro-batch ingest (``hcatalog/streaming/.../HiveEndPoint.java``,
``TransactionBatch.java``: open txn batch → write rows → commit → rows visible
to later batch queries). Parity = Structured Streaming file source →
``writeStream`` parquet sink with checkpointing (streaming_ingest_demo below).

Tumbling/sliding/session windows are net-new Spark capability beyond the
reference (clearly labeled as such), declared [Q] because their batch forms
are SQL-expressible for the DuckDB oracle via date_trunc arithmetic.

Scale notes: window(ts, ...) is an ordinary groupBy on a derived column —
one shuffle of ~|windows × event_types| rows after map-side partial agg. The
session window uses Spark's built-in session_window (state-store-backed when
streaming; a sort-based agg in batch). Nothing here collects to the driver.

Every streaming query here drains through ``streaming/epoch_store.py``:
``stage_drops`` stages ordered inbox drops, ``drain`` runs the availableNow
drain (and raises on timeout), and ``EpochStore`` is the epoch-keyed state
store of the foreachBatch probes (its docstring states the store contract).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.operators.helpers import dsum, sql_dsum
from apache_hive_1_2_2_src_spark.registry import register
from apache_hive_1_2_2_src_spark.streaming.epoch_store import (
    EpochStore,
    append_async,
    concurrently,
    drain,
    range_drop,
    stage_drops,
)
from apache_hive_1_2_2_src_spark.tmputil import scratch_dir
from apache_hive_1_2_2_src_spark.tables import hadoop_fs, load_table


# Explicit schema for the staged events inbox written by _stage_events_inbox.
# File streams require an explicit schema; we stage through load_table (which
# normalizes ts to TimestampType whatever the physical testdata format) and
# carry the timestamp as micros-since-epoch so the ts type can never drift
# from the generator's physical layout — the round-4 regression was exactly
# such a drift (events.ts changed INT64-nanos -> timestamp[us] and hard-coded
# readStream schemas kept the old assumption). Non-ts columns are guarded
# too: parquet file streams silently return NULL for schema columns absent
# from the files, so _stage_events_inbox fails LOUDLY if the staged frame's
# columns diverge from this schema instead of letting NULLs flow.
_EVENTS_STREAM_COLS = ("event_id", "user_id", "event_type", "value", "props", "ts_us")
_EVENTS_STREAM_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "value double, props string, ts_us bigint"
)


def _assert_stream_schema(staged: DataFrame) -> None:
    """Fail loudly if a staged inbox frame's columns drifted from the
    module-owned stream schema. Shared by EVERY inbox writer (including the
    dedup query's duplicate-overlay inbox) — a staged frame that bypasses
    this guard would surface regenerated-testdata drift as silent NULLs
    through the fixed readStream schema."""
    if sorted(staged.columns) != sorted(_EVENTS_STREAM_COLS):
        raise RuntimeError(
            "events schema drifted from the module-owned stream schema: "
            f"staged={sorted(staged.columns)} expected={sorted(_EVENTS_STREAM_COLS)} "
            "— update _EVENTS_STREAM_SCHEMA/_EVENTS_STREAM_COLS together"
        )

# One staged inbox per sf_dir per process: the plain-events streaming
# queries (ingest, watermark window, stateful agg, upsert) read identical
# content, so re-encoding the table once per query is waste. Each inbox is
# a scratch_dir, removed at process exit like every other scratch dir.
_INBOX_CACHE: dict[str, str] = {}


def _stage_events_inbox(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table into a file-stream inbox directory (memoized
    per sf_dir).

    The inbox simulates an arriving micro-batch ("txn batch" in
    hcatalog-streaming terms). ts is written as unix micros (bigint) so the
    stream-side schema is owned by this module, not the testdata generator;
    any other column drift in regenerated testdata raises here instead of
    flowing through the readStream schema as silent NULLs.
    """
    cached = _INBOX_CACHE.get(sf_dir)
    if cached and os.path.isdir(cached):
        return cached
    e = load_table(spark, sf_dir, "events")
    staged = e.withColumn("ts_us", F.unix_micros("ts")).drop("ts")
    _assert_stream_schema(staged)
    inbox = os.path.join(scratch_dir("events_inbox"), "inbox")
    staged.write.mode("overwrite").parquet(inbox)
    _INBOX_CACHE[sf_dir] = inbox
    return inbox


def _read_events_stream(
    spark: SparkSession, inbox: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """readStream over a staged inbox, restoring ts to TimestampType.

    ``max_files_per_trigger`` splits an availableNow drain into multiple
    micro-batches (test hook for batch-count-independence properties).
    Single owner of the stream-side schema — do NOT inline copies of it
    (the round-4 regression was a duplicated schema drifting).
    """
    stream = spark.readStream.schema(_EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        stream.parquet(inbox)
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .drop("ts_us")
    )


@register(
    "window_tumbling_agg",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS win_start,
           event_type,
           COUNT(*) AS n,
           {sum_value}
    FROM events
    GROUP BY 1, 2
    """.format(sum_value=sql_dsum("value", "sum_value")),
    doc="Tumbling 1-hour window agg over events.ts — window() is a derived "
    "groupBy column; Hive 1.2 users hand-wrote the same with "
    "floor(unix_timestamp/3600) (no window syntax existed).",
    tags=("streaming", "window"),
)
def window_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("w.start").cast("string").alias("win_start"), "event_type", "n", "sum_value"
        )
    )


@register(
    "window_sliding_agg",
    oracle="""
    WITH contrib AS (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws,
             value
      FROM events
    )
    SELECT CAST(ws AS VARCHAR) AS win_start, COUNT(*) AS n, {sum_value}
    FROM contrib
    GROUP BY win_start
    """.format(sum_value=sql_dsum("value", "sum_value")),
    doc="Sliding window (2h length, 1h slide): each event contributes to 2 "
    "windows; Spark's window() expands rows exactly like the oracle's "
    "2-element unnest.",
    tags=("streaming", "window"),
)
def window_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .select(F.col("w.start").cast("string").alias("win_start"), "n", "sum_value")
    )


@register(
    "window_session_agg",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, value,
             -- >= : session_window is half-open [start, start+gap), so an
             -- event landing exactly on start+gap opens a NEW session
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id,
           CAST(MIN(ts) AS VARCHAR) AS session_start,
           COUNT(*) AS n_events,
           {sum_value}
    FROM sessions
    GROUP BY user_id, session_id
    """.format(sum_value=sql_dsum("value", "sum_value")),
    doc="Session window (30-min gap) per user — Spark session_window() merges "
    "events closer than the gap; the oracle rebuilds sessions with the "
    "classic lag+cumsum idiom. session_window.start == MIN(ts).",
    tags=("streaming", "window", "session"),
)
def window_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "streaming_ingest_demo",
    oracle="""
    SELECT COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users,
           CAST(CAST(MIN(ts) AS DATE) AS VARCHAR) AS first_day
    FROM events
    """,
    doc="Structured Streaming ingest parity with hcatalog-streaming "
    "(HiveEndPoint.java / TransactionBatch.java): file-source readStream "
    "over the events parquet → writeStream parquet sink + checkpoint "
    "(trigger=availableNow processes all data then stops, like draining "
    "txn batches); the sink is then queried as an ordinary batch table — "
    "exactly Hive's ingest-then-query model with exactly-once semantics "
    "from the checkpoint instead of ACID txn ids.",
    tags=("streaming", "ingest"),
)
def streaming_ingest_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("stream")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    # File streams need a DIRECTORY of arriving files; stage the events
    # table into one (the micro-batch "txn batch" being committed). Staging
    # goes through load_table so ts is already normalized to TimestampType
    # whatever the physical testdata format — the readStream schema below is
    # ours, not the generator's, and can never drift from it.
    inbox = _stage_events_inbox(spark, sf_dir)
    stream = _read_events_stream(spark, inbox).withColumn(
        "ingest_batch", F.spark_partition_id()
    )
    drain(
        stream.writeStream.format("parquet").option("path", sink),
        ckpt, 120, "streaming_ingest_demo",
    )
    back = spark.read.parquet(sink)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").cast("date").cast("string").alias("first_day"),
    )


@register(
    "streaming_watermark_window",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS mts FROM events),
    wins AS (
      SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_closed_windows,
           CAST(SUM(n) AS BIGINT) AS n_events_emitted,
           CAST(MIN(ws) AS VARCHAR) AS min_win_start,
           CAST(MAX(ws) AS VARCHAR) AS max_win_start
    FROM wins, mx
    WHERE ws + INTERVAL 1 HOUR <= mts - INTERVAL 2 HOUR
    """,
    doc="Streaming tumbling-window agg with late-data watermark: readStream "
    "over staged event files → withWatermark('ts', '2 hours') → 1h "
    "window counts → append-mode parquet sink (only windows the watermark "
    "has closed are emitted), availableNow trigger. This is the stateful-"
    "streaming capability Hive 1.2 never had (its hcatalog-streaming was "
    "ingest-only); state is bounded by the watermark — the 100 TB/day "
    "design constraint. Oracled (round-5 [R]->[Q] flip): on a drained "
    "availableNow run the final watermark is max(ts) - 2h and append mode "
    "emits exactly the windows whose end <= that watermark, which the "
    "oracle recomputes in batch SQL (count, event sum, min/max win_start).",
    tags=("streaming", "window", "watermark"),
)
def streaming_watermark_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("wm")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)
    stream = (
        _read_events_stream(spark, inbox)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("string").alias("win_start"), "event_type", "n")
    )
    drain(
        stream.writeStream.format("parquet").outputMode("append").option("path", sink),
        ckpt, 120, "streaming_watermark_window",
    )
    back = spark.read.parquet(sink)
    return back.agg(
        F.count(F.lit(1)).alias("n_closed_windows"),
        F.sum("n").alias("n_events_emitted"),
        F.min("win_start").alias("min_win_start"),
        F.max("win_start").alias("max_win_start"),
    )


@register(
    "streaming_stateful_user_agg",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running state (count + max) maintained in the state store, "
    "emitted when the availableNow run drains the single staged batch — "
    "the Spark-native form of a custom GenericUDAF over a stream, a "
    "capability with no Hive 1.2 analogue. Deterministic on a one-batch "
    "stage, so fully oracled against the batch GROUP BY.",
    tags=("streaming", "stateful", "pandas_udf"),
)
def streaming_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base = scratch_dir("state")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "max_value": [mx]})

    stream = (
        _read_events_stream(spark, inbox)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, max_value double",
            stateStructType="n bigint, mx double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drain(
        stream.writeStream.format("parquet").outputMode("append").option("path", sink),
        ckpt, 120, "streaming_stateful_user_agg",
    )
    return spark.read.parquet(sink)


@register(
    "window_multires_rollup",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day,
           CASE WHEN GROUPING(hour(ts)) = 0 THEN hour(ts) END AS hr,
           GROUPING(hour(ts)) AS is_day_total,
           COUNT(*) AS n,
           {sum_value}
    FROM events
    GROUP BY GROUPING SETS ((date_trunc('day', ts), hour(ts)),
                            (date_trunc('day', ts)))
    """.format(sum_value=sql_dsum("value", "sum_value")),
    doc="Hypertable-style multi-resolution rollup: hourly AND daily "
    "aggregates of the events stream in ONE pass via GROUPING SETS over "
    "derived time buckets (grouping() flag marks the day totals) — one "
    "expand + one shuffle instead of two jobs over 100 TB of events.",
    tags=("streaming", "window", "rollup"),
)
def window_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("d"), F.hour("ts").alias("h"), "value"
    )
    e.createOrReplaceTempView("events_buckets")
    return spark.sql(
        """
        SELECT CAST(d AS STRING) AS day,
               h AS hr,
               GROUPING(h) AS is_day_total,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events_buckets
        GROUP BY GROUPING SETS ((d, h), (d))
        """
    )


@register(
    "streaming_dedup_exact",
    oracle="""
    SELECT COUNT(*) AS n_after_dedup, TRUE AS all_unique
    FROM events
    """,
    doc="Streaming exact dedup — dropDuplicatesWithinWatermark (Spark 3.5+): "
    "the streaming half of the dedup surface (batch half: dedup_exact). "
    "Input is the events stream with every 5th event duplicated (an "
    "at-least-once ingest, exactly what hcatalog-streaming retries "
    "produce); state is bounded by the 2h watermark instead of growing "
    "forever — the property that makes streaming dedup runnable on a "
    "100 TB/day feed. Deterministic: duplicates share their original's "
    "event time, so they always fall inside the watermark and the surviving "
    "row count equals the distinct-event count, which the oracle checks.",
    tags=("streaming", "dedup", "watermark"),
)
def streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("sdedup")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = os.path.join(base, "inbox")
    # Stage events + an every-5th-event duplicate overlay (same payload,
    # same event time — an at-least-once redelivery). Same inbox layout as
    # _stage_events_inbox (ts carried as micros bigint).
    e = load_table(spark, sf_dir, "events")
    dup = e.filter(F.col("event_id") % 5 == 0)
    staged = e.unionAll(dup).withColumn("ts_us", F.unix_micros("ts")).drop("ts")
    _assert_stream_schema(staged)
    staged.write.mode("overwrite").parquet(inbox)
    stream = _read_events_stream(spark, inbox)
    drain(
        stream.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("parquet")
        .option("path", sink),
        ckpt, 120, "streaming_dedup_exact",
    )
    back = spark.read.parquet(sink)
    return back.agg(
        F.count(F.lit(1)).alias("n_after_dedup"),
        (F.countDistinct("event_id") == F.count(F.lit(1))).alias("all_unique"),
    )


def _latest(df: DataFrame) -> DataFrame:
    """Per-user latest row, argmax by (ts, event_id): the merge of both
    upsert drains."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "ts", "event_id", "value")
    )


def _reclaim_generation(fs, P, path: str, side: str) -> bool:
    """Entry-time crash reclamation for the ``path`` / ``path__old`` /
    ``path<side>`` generation-swap layout that ``_swap_generation``
    leaves, on the Hadoop FS API (file://, hdfs://, s3a://):

    - ``path`` present: any ``__old``/``<side>`` sidecars are stale
      leftovers of an interrupted prior swap — deleted.
    - ``path`` absent + ``__old`` present: crashed inside the two-rename
      window. ``<side>`` (validated before the window opened) is renamed
      into place if present, else ``__old`` is restored; a complete
      generation reappears either way, never a mix.
    - neither present: nothing to reclaim.

    Returns whether ``path`` exists afterwards."""
    tgt, old, nxt = P(path), P(path + "__old"), P(path + side)
    if fs.exists(tgt):
        fs.delete(old, True)
        fs.delete(nxt, True)
        return True
    if not fs.exists(old):
        return False
    done = fs.exists(nxt) and fs.rename(nxt, tgt)
    if not done and not fs.rename(old, tgt):
        raise RuntimeError(f"could not restore {path} from __old")
    fs.delete(old, True)
    fs.delete(nxt, True)
    return True


def _swap_generation(fs, P, path: str, side: str) -> None:
    """Swap the written and validated side dir ``path<side>`` into place:
    rename(path -> __old), rename(side -> path), delete __old. A failed
    second rename puts the original back before raising. The caller
    validates the side dir BEFORE calling, which is what makes
    ``_reclaim_generation``'s promote-the-side-dir rule safe."""
    tgt, old, nxt = P(path), P(path + "__old"), P(path + side)
    if fs.exists(tgt) and not fs.rename(tgt, old):
        raise RuntimeError(f"rename {path} -> __old failed; {path} untouched")
    if not fs.rename(nxt, tgt):
        fs.rename(old, tgt)  # put the original back before failing
        raise RuntimeError(f"rename {side} -> {path} failed; restored")
    fs.delete(old, True)


def reclaim_state_generation(sess: SparkSession, state: str) -> None:
    """Entry-time crash reclamation for the ``state`` / ``state__old`` /
    ``state__next`` layout of commit_state_generation
    (``_reclaim_generation``)."""
    _, fs, P = hadoop_fs(sess, state)
    _reclaim_generation(fs, P, state, "__next")


def commit_state_generation(
    sess: SparkSession, state: str, gen: DataFrame, expected_rows: int
) -> None:
    """Write ``gen`` as the next generation of ``state`` and swap it into
    place. The side dir is fully written AND row-count-validated against
    ``expected_rows`` BEFORE the first rename — a lost or partial side
    write can never enter the swap window, which is what makes
    reclaim_state_generation's promote-``__next``-when-``state``-absent
    rule safe. Writing to a side dir (not overwrite-in-place) matters
    twice over: overwriting the parquet dir a plan is simultaneously
    reading races file deletion, and a crash mid-overwrite would lose
    state merged by checkpoint-committed earlier batches."""
    _, fs, P = hadoop_fs(sess, state)
    gen.write.mode("overwrite").parquet(state + "__next")
    n_gen = sess.read.parquet(state + "__next").count()
    if n_gen != expected_rows:
        fs.delete(P(state + "__next"), True)
        raise RuntimeError(
            f"state generation row count {n_gen} != expected "
            f"{expected_rows}; {state} untouched"
        )
    _swap_generation(fs, P, state, "__next")


@register(
    "streaming_foreachbatch_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT user_id,
           CAST(ts AS VARCHAR) AS last_ts,
           CAST(value AS DOUBLE) AS last_value
    FROM ranked WHERE rk = 1
    """,
    doc="foreachBatch upsert sink (the MERGE pattern every CDC/latest-state "
    "pipeline runs — Hive 1.2's closest analogue was INSERT OVERWRITE a "
    "latest-snapshot partition): readStream over the staged events inbox -> "
    "foreachBatch merges each micro-batch into a per-user latest-state "
    "table (existing state UNION batch -> argmax by (ts, event_id) via "
    "row_number -> overwrite). Idempotent and batch-count-independent: "
    "re-merging any batch, or splitting the feed into N batches, yields "
    "the same fixpoint, which is why the availableNow drain is fully "
    "oracle-checkable against the batch argmax. State table size is "
    "~|users|, not |events| — bounded regardless of feed length; on a "
    "cluster the overwrite becomes MERGE INTO on a transactional table "
    "with the identical foreachBatch body. The state-generation swap "
    "runs on the Hadoop FS API with validate-before-rename + entry-time "
    "crash reclamation (r19 — the one generation swap, _swap_generation; "
    "crash states pinned in tests/test_round19_ops.py), so the same "
    "body also runs against hdfs:// and s3a:// state locations. The "
    "full-state rewrite per batch is this form's write-amplification "
    "ceiling (SCALE.md r19: O(epochs x |users|)); when that is the "
    "bill, streaming_upsert_bucketed_state bounds it to touched "
    "buckets with the identical fixpoint.",
    tags=("streaming", "upsert", "foreachbatch"),
)
def streaming_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    base = scratch_dir("upsert")
    state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)

    def merge(batch: DataFrame, _epoch: int) -> None:
        # State-generation swap on the Hadoop FS API (r19 — VERDICT r18
        # item 2, through _reclaim_generation and _swap_generation): runs
        # unchanged against file://, hdfs://, s3a:// state locations — this was the
        # last os.rename state mutation in a registered query. Crash
        # states are reclaimed at entry and the new generation is
        # validated before the first rename (helpers below; pinned in
        # tests/test_round19_ops.py). An interrupted batch was never
        # checkpoint-committed, so the stream re-delivers it and the
        # merge re-converges by argmax idempotence.
        sess = batch.sparkSession
        reclaim_state_generation(sess, state)
        _, fs, P = hadoop_fs(sess, state)
        cur = batch.select("user_id", "ts", "event_id", "value")
        if fs.exists(P(state)):
            cur = cur.unionByName(sess.read.parquet(state))
        # The argmax keeps exactly one row per user, so the generation's
        # row count must equal the input's distinct-user count — the
        # validation commit_state_generation checks before renaming.
        n_users = cur.select("user_id").distinct().count()
        commit_state_generation(sess, state, _latest(cur), n_users)

    # A multi-batch drain rewrites the full state table per batch — slower
    # than the single-batch queries' 120 s budget.
    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger)
        .writeStream.foreachBatch(merge),
        ckpt, 300, "streaming_foreachbatch_upsert",
    )
    return spark.read.parquet(state).select(
        "user_id",
        F.col("ts").cast("string").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


# Last streaming_upsert_bucketed_state drain — the rewrite-amplification
# measurement and the layout pins read these.
LAST_BUCKETED_UPSERT: dict = {}


def _bucketed_upsert_drain(
    spark: SparkSession,
    inbox: str,
    state: str,
    ckpt: str,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain ``inbox`` into a BUCKETED latest-state store: per-user argmax
    state hash-partitioned into ``n_buckets`` independent generation-swap
    dirs (``state/b00000`` ...), each reclaimed and swapped by the one
    generation swap (``_reclaim_generation``/``_swap_generation``, side
    dir ``__next``). Each micro-batch
    rewrites ONLY the buckets its users hash into — the flat upsert's
    full-state rewrite (O(epochs x |users|) write amplification,
    SCALE.md r19) becomes O(epochs x |touched buckets| x |bucket|), the
    same plan-level pruning contract as the LSH state stores.

    Crash contract: the merged generation for ALL touched buckets is
    written to one side root and validated per bucket BEFORE the first
    rename; the per-bucket swaps then commit independently. A crash
    between bucket swaps leaves buckets on two generations — safe,
    because the interrupted batch was never checkpoint-committed: the
    stream re-delivers it and the argmax merge is idempotent per user,
    so re-merging converges both generations to the same fixpoint (the
    same argument as the flat form's re-delivery, pinned in
    tests/test_round19_ops.py)."""

    def ub_of(c: str):
        return F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets)).cast("int")

    def bdir(j: int) -> str:
        return f"{state}/b{j:05d}"

    LAST_BUCKETED_UPSERT.clear()
    LAST_BUCKETED_UPSERT.update(
        {"state": state, "n_buckets": n_buckets, "touched": [],
         "rows_written": []}
    )

    def merge(batch: DataFrame, _epoch: int) -> None:
        sess = batch.sparkSession
        _, fs, P = hadoop_fs(sess, state)
        side = state + "__next_root"
        # entry-time reclaim: a stale side root is a pre-swap crash (state
        # intact — delete it); each bucket dir reclaims its own crash
        # states through the one generation reclaim.
        fs.delete(P(side), True)
        for j in range(n_buckets):
            _reclaim_generation(fs, P, bdir(j), "__next")
        cur = batch.select("user_id", "ts", "event_id", "value").withColumn(
            "ub", ub_of("user_id")
        )
        touched = sorted(
            r["ub"] for r in cur.select("ub").distinct().collect()
        )
        if not touched:
            return
        prior_paths = [bdir(j) for j in touched if fs.exists(P(bdir(j)))]
        if prior_paths:
            cur = cur.unionByName(
                sess.read.parquet(*prior_paths).withColumn(
                    "ub", ub_of("user_id")
                )
            )
        merged = _latest(cur).withColumn("ub", ub_of("user_id"))
        merged.repartition(len(touched), "ub").write.partitionBy(
            "ub"
        ).parquet(side)
        # validate per bucket BEFORE any rename: side rows per bucket must
        # equal the merged input's distinct users per bucket
        exp = {
            r["ub"]: r["n"]
            for r in cur.groupBy("ub")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        got = {
            r["ub"]: r["n"]
            for r in sess.read.parquet(side)
            .groupBy("ub")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if got != exp:
            fs.delete(P(side), True)
            raise RuntimeError(
                f"bucketed upsert generation diverges per bucket: "
                f"{got} != {exp}; state untouched"
            )
        for j in touched:
            b = bdir(j)
            if not fs.rename(P(f"{side}/ub={j}"), P(b + "__next")):
                raise RuntimeError(f"rename side -> {b}__next failed")
            _swap_generation(fs, P, b, "__next")
        fs.delete(P(side), True)
        LAST_BUCKETED_UPSERT["touched"].append(touched)
        # rows rewritten this epoch == the validated per-bucket sums
        # (already collected — no extra job); the rewrite-amplification
        # measurement reads this.
        LAST_BUCKETED_UPSERT["rows_written"].append(int(sum(exp.values())))

    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger)
        .writeStream.foreachBatch(merge),
        ckpt, 300, "streaming_upsert_bucketed_state",
    )


@register(
    "streaming_upsert_bucketed_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events
    )
    SELECT user_id,
           CAST(ts AS VARCHAR) AS last_ts,
           CAST(value AS DOUBLE) AS last_value
    FROM ranked WHERE rk = 1
    """,
    doc="BUCKETED-state twin of streaming_foreachbatch_upsert (r19 scale "
    "audit, SCALE.md r19): the flat upsert rewrites the WHOLE ~|users| "
    "state table every micro-batch — O(epochs x |users|) write "
    "amplification, the one cost that grows without bound on a "
    "minutes-cadence feed over a large user base. Here the state is "
    "hash-partitioned into n_buckets independent generation-swap dirs "
    "(xxhash64(user_id) mod k — the LSH state-store discipline), each "
    "micro-batch rewrites ONLY its touched buckets, and the drain runs "
    "genuinely multi-batch (maxFilesPerTrigger=16 over the 32-file "
    "inbox). Same fixpoint, same oracle as the flat form — the driver "
    "hash match certifies that bucketing the state changes NOTHING "
    "about the answer; per-bucket crash reclamation and the "
    "mixed-generation re-delivery argument are pinned in "
    "tests/test_round19_ops.py. Measured (SCALE.md r19, 50k users x "
    "12 CDC epochs of 8 updates, k=64): 650,000 rows rewritten flat "
    "vs 122,885 bucketed — 8.1x less per steady-state epoch, "
    "k/min(u,k)-shaped. At 100 TB pick k so a bucket ~ one task "
    "(e.g. 4096): a batch touching u users rewrites min(u, k)/k "
    "of the state instead of all of it.",
    tags=("streaming", "upsert", "foreachbatch", "bucket"),
)
def streaming_upsert_bucketed_state(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> DataFrame:
    base = scratch_dir("bupsert")
    state, ckpt = os.path.join(base, "state"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)
    _bucketed_upsert_drain(
        spark, inbox, state, ckpt, n_buckets, max_files_per_trigger=16
    )
    _, fs, P = hadoop_fs(spark, state)
    bucket_dirs = [
        f"{state}/b{j:05d}"
        for j in range(n_buckets)
        if fs.exists(P(f"{state}/b{j:05d}"))
    ]
    return spark.read.parquet(*bucket_dirs).select(
        "user_id",
        F.col("ts").cast("string").alias("last_ts"),
        F.col("value").cast("double").alias("last_value"),
    )


@register(
    "streaming_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sum_value}
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """.format(sum_value=sql_dsum("value", "sum_value")),
    doc="Stream-static enrichment join (the ingest-time dimension lookup "
    "every event pipeline runs; Hive 1.2's analogue was a batch MapJoin "
    "after landing): events readStream joined to the STATIC customer "
    "dimension on user_id = c_custkey inside the stream, then sunk and "
    "batch-aggregated per market segment. Stream-static joins need no "
    "watermark and keep NO join state — each micro-batch broadcast-joins "
    "the dim exactly like a batch MapJoin, which is why this is the "
    "scale-free way to denormalize at ingest (the dim re-reads per batch, "
    "picking up dimension updates for free). Oracle: the identical batch "
    "join + agg.",
    tags=("streaming", "join", "ingest"),
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("senrich")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = _read_events_stream(spark, inbox).join(
        F.broadcast(dim), F.col("user_id") == F.col("c_custkey")
    )
    drain(
        enriched.select("user_id", "value", "c_mktsegment")
        .writeStream.format("parquet")
        .option("path", sink),
        ckpt, 120, "streaming_static_enrich",
    )
    return (
        spark.read.parquet(sink)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "sum_value"),
        )
    )


@register(
    "streaming_stream_join",
    oracle="""
    SELECT COUNT(*) AS n_attributed,
           COUNT(DISTINCT p_event) AS n_purchases,
           COUNT(DISTINCT user_id) AS n_users
    FROM (
      SELECT c.user_id, p.event_id AS p_event
      FROM events c JOIN events p
        ON c.user_id = p.user_id
       AND c.event_type = 'click' AND p.event_type = 'purchase'
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
    )
    """,
    doc="Stream-stream interval join (click->purchase attribution, the "
    "canonical funnel join; completely beyond Hive 1.2, which had no "
    "stateful streaming at all — labeled beyond-reference like the window "
    "aggs): the events inbox read as TWO streams (clicks, purchases), "
    "each watermarked 3h, inner-joined on user_id with the event-time "
    "band p.ts in (c.ts, c.ts + 2h]. The time bound PLUS both watermarks "
    "is what lets Spark expire join state — without the band the click "
    "state would grow forever, the make-or-break property at 100 TB/day "
    "(state ~ |events in 5h|, not |events ever|). Joined pairs are sunk "
    "then batch-counted; oracle is the identical batch self-join. "
    "Deterministic: inner join, no late data in an availableNow drain.",
    tags=("streaming", "join", "watermark"),
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("ssjoin")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)
    clicks = (
        _read_events_stream(spark, inbox)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "3 hours")
    )
    purchases = (
        _read_events_stream(spark, inbox)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("p_event"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "3 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 2 HOURS")),
    )
    drain(
        joined.select("c_user", "p_event")
        .writeStream.format("parquet")
        .option("path", sink),
        ckpt, 180, "streaming_stream_join",
    )
    return spark.read.parquet(sink).agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.countDistinct("p_event").alias("n_purchases"),
        F.countDistinct("c_user").alias("n_users"),
    )


@register(
    "streaming_partitioned_ingest",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    doc="PARTITIONED streaming ingest (hcatalog-streaming's HiveEndPoint "
    "targets a table PARTITION — ql/../HiveEndPoint.java takes partitionVals "
    "— so partitioned landing is the reference's own ingest shape): "
    "readStream over the staged events inbox → writeStream with "
    "partitionBy(event_type) → a Hive-layout partitioned parquet sink "
    "(event_type=click/ dirs), then a partition-PRUNED batch read of two "
    "partitions reconciled against the source. The builder asserts the "
    "sink directory really is hive-partitioned (partition dirs exist) so "
    "the layout contract — what makes downstream partition pruning work — "
    "is itself verified, not assumed. Exactly-once from the checkpoint; "
    "at scale this is the landing-zone pattern for every event feed.",
    tags=("streaming", "ingest", "partition"),
)
def streaming_partitioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("pingst")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)
    drain(
        _read_events_stream(spark, inbox)
        .writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", sink),
        ckpt, 120, "streaming_partitioned_ingest",
    )
    part_dirs = {d for d in os.listdir(sink) if d.startswith("event_type=")}
    if not {"event_type=click", "event_type=purchase"} <= part_dirs:
        raise RuntimeError(
            f"sink is not hive-partitioned by event_type: {sorted(part_dirs)}"
        )
    back = spark.read.parquet(sink).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "streaming_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'purchase' THEN 1800 ELSE 600 END AS gap_s
      FROM events
    ),
    o AS (
      SELECT user_id, ts, gap_s,
             MAX(epoch_us(ts) + gap_s * 1000000) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end_us
      FROM e
    ),
    s AS (
      SELECT *, CASE WHEN prev_end_us IS NULL
                       OR epoch_us(ts) >= prev_end_us THEN 1 ELSE 0 END AS brk
      FROM o
    ),
    g AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    sess AS (
      SELECT user_id,
             MIN(ts) AS session_start,
             MAX(ts + gap_s * INTERVAL 1 SECOND) AS session_end,
             COUNT(*) AS n_ev
      FROM g GROUP BY user_id, sid
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM events)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_closed_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events_emitted,
           CAST(MIN(session_start) AS VARCHAR) AS first_session_start
    FROM sess, wm
    WHERE session_end <= w
    """,
    doc="STREAMING dynamic-gap sessionization (the stateful twin of the "
    "batch events_session_dynamic_gap — Structured Streaming runs the "
    "identical session_window(per-event gap) expression with state kept "
    "per open session and evicted by the watermark): readStream over the "
    "staged inbox -> withWatermark 2h -> session_window(purchase 30 min / "
    "else 10 min) -> append sink, availableNow drain. Append mode emits "
    "exactly the sessions whose END the final watermark (max ts - 2h) has "
    "passed, which the oracle recomputes in batch SQL (running-MAX "
    "islands + the watermark cutoff). Open sessions at the cut hold "
    "state, never emit — the bounded-state contract that makes per-user "
    "sessions runnable on an unbounded 100 TB/day feed.",
    tags=("streaming", "session", "watermark"),
)
def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch_dir("sdyn")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    inbox = _stage_events_inbox(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", "30 minutes").otherwise(
        "10 minutes"
    )
    stream = (
        _read_events_stream(spark, inbox)
        .withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_ev",
        )
    )
    drain(
        stream.writeStream.format("parquet").outputMode("append").option("path", sink),
        ckpt, 120, "streaming_session_dynamic_gap",
    )
    back = spark.read.parquet(sink)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_closed_sessions"),
        F.sum("n_ev").cast("long").alias("n_events_emitted"),
        F.min("session_start").alias("first_session_start"),
    )


def file_source_ledger_retention_confs(
    compact_interval: int = 10,
    cleanup_delay_ms: int = 0,
    min_batches_to_retain: int = 10,
) -> dict[str, str]:
    """The sources/0 seen-file-ledger retention recipe as CODE (r19 —
    VERDICT r18 item 6; SCALE.md r18 regime 3 recorded it as prose).

    A file-source checkpoint's ``sources/0`` dir accumulates one entry
    file per epoch plus a CUMULATIVE ``.compact`` ledger rewritten every
    ``compactInterval`` epochs — the one unbounded checkpoint resource
    (O(files-ever-seen) bytes per compact; ~100 B/file measured). The
    engine's own cleaner bounds the FILE COUNT, but only after
    ``cleanupDelay`` (default 10 min) — which never fires inside short
    drains and lets minutes-cadence jobs carry hundreds of obsolete
    entry files between compactions. Applying these confs when the
    stream STARTS keeps ``sources/0`` at ~compactInterval entry files +
    ONE live ledger (measured at 65 epochs in
    tests/test_round19_ops.py; without the recipe the r18 measurement
    held 120 entry files + every ``.compact`` ever written). Superseded
    ``.compact`` files are governed by ``minBatchesToRetain`` — the SAME
    knob that purges offsets/commits (r18: 120 -> 22 files at
    retain=10) — while entry files answer to ``deletion`` +
    ``cleanupDelay``; the recipe sets all three, because setting only
    the delay still retains every old ledger. The live ledger's CONTENT
    still grows with files-ever-seen — that part is inherent to the
    source's exactly-once contract, and the coarse-granularity +
    inbox/checkpoint rotation rule (SCALE.md r18) remains the firehose
    answer."""
    return {
        "spark.sql.streaming.fileSource.log.compactInterval":
            str(compact_interval),
        "spark.sql.streaming.fileSource.log.deletion": "true",
        "spark.sql.streaming.fileSource.log.cleanupDelay":
            str(cleanup_delay_ms),
        "spark.sql.streaming.minBatchesToRetain":
            str(min_batches_to_retain),
    }


@register(
    "streaming_acid_delta_ingest",
    # Exactly-once through the WHOLE chain: every event lands in exactly
    # one delta dir, resolution unions the deltas, and the merged table
    # must reproduce the source aggregates bit-for-bit. Cents are floored
    # from the double in BOTH engines (identical IEEE math), never summed
    # as doubles.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events
    """,
    doc="Streaming ingest INTO an ACID delta tree — the full "
    "hcatalog-streaming parity (HiveEndPoint.java / TransactionBatch."
    "java write delta_M_M/ directories per committed txn batch; "
    "AcidUtils resolves them at read): foreachBatch writes micro-batch "
    "i as delta_{i+1}_{i+1}/ parquet under the table root (append-only "
    "rows keyed by the unique event_id, op='U'), the drain is split "
    "into multiple micro-batches via maxFilesPerTrigger, and the final "
    "read goes through resolve_acid_state + highest-version merge — so "
    "a row lost or duplicated ANYWHERE in the chain (stream checkpoint, "
    "delta naming, directory resolution, merge) breaks the exact "
    "aggregates vs the batch source. The batch COUNT is deliberately "
    "not an output (file-split-dependent); the invariants are "
    "batch-count-independent. At scale this is Hive's streaming-ingest "
    "model verbatim: small deltas land continuously, readers always see "
    "a consistent merge, compaction (acid_minor/major_compaction) bounds "
    "the delta chain.",
    tags=("streaming", "acid", "ingest"),
)
def streaming_acid_delta_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.operators.acid import read_acid_table

    base = scratch_dir("stream_acid")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    _, fs, P = hadoop_fs(spark, table)
    fs.delete(P(table), True)
    fs.mkdirs(P(table))
    inbox = _stage_events_inbox(spark, sf_dir)

    def write_delta(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.col("event_id").alias("k"),
                F.col("event_type").alias("st"),
                F.floor(F.col("value") * 100).cast("long").alias("p"),
                F.lit("U").alias("op"),
            )
            # overwrite, keyed by batch_id: Structured Streaming re-invokes
            # foreachBatch with the SAME batch_id on retry/restart — the
            # replay must clobber a half-written delta dir, not error on it
            # (and a partial dir left behind would match _DELTA_RE and leak
            # partial rows into every later merge).
            .write.mode("overwrite")
            .parquet(f"{table}/delta_{batch_id + 1}_{batch_id + 1}")
        )

    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger=8)
        .writeStream.foreachBatch(write_delta),
        ckpt, 180, "acid delta ingest",
    )
    merged = read_acid_table(spark, table)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.countDistinct("st").alias("n_types"),
        F.sum("p").cast("long").alias("sum_cents"),
    )


# Last _lsh_probe_dedup run's state-store locations — the scale-harness
# regression gate in tests/test_round13_ops.py reads the REAL stores.
LAST_LSH_STORES: dict = {}

# Last streaming_ivf_index_maintenance run's cell store — the r18 compactor
# pin reads the REAL post-drain IVF store, not a synthetic one.
LAST_IVF_STORES: dict = {}


def _distinct(df: DataFrame, col: str | Column) -> list:
    """The distinct values of one column of ``df``, collected: the
    partition list a pruned store read takes."""
    return [r[0] for r in df.select(col).distinct().collect()]


def compact_partitioned_store(
    spark: SparkSession, path: str, part_col: str = "pb"
) -> tuple[int, int]:
    """Housekeeping compactor for the hash-partitioned streaming state
    stores (sig/shingle/landmark/IVF): every foreachBatch drop appends
    ONE parquet file per touched ``part_col=<v>`` dir, so file count
    grows O(epochs x buckets) while bytes stay O(state) — measured
    54 -> 216 files across 3 -> 12 drops on the same corpus (SCALE.md
    r17); at a minutes-cadence year that is millions of small files.
    Rewrites the store to one file per partition dir (read -> write to
    a side dir with the repartition-first discipline -> validate ->
    directory swap), preserving the ``part_col=`` layout so probe-side
    partition pruning is untouched. Returns (files_before, files_after).

    All filesystem metadata ops go through the Hadoop FS API (r18 —
    VERDICT r17 item 1), so the compactor runs unchanged against
    file://, hdfs://, and s3a:// stores; file counting is ONE
    ``inputFiles()`` round trip (the r12-measured fast listing, see
    write_hive_bucketed) rather than per-file gateway calls.

    Crash contract: the side store ``__compact`` is fully written AND
    row-count-validated before ``_swap_generation`` renames it into
    place, and ``_reclaim_generation`` reclaims every crash state at
    entry (stale sidecars deleted; an interrupted swap finished or rolled
    back); with neither ``path`` nor ``__old`` it raises
    FileNotFoundError. A reader CAN observe a missing ``path`` inside the two-rename window
    itself (rename(path, old) committed, rename(side, path) not yet) —
    run the compactor between drops with probes quiesced, exactly like
    the ACID Cleaner runs between transactions. On HDFS each rename is
    an atomic metadata op; on S3A a dir rename is a non-atomic
    copy+delete, so the quiesce window is longer but the entry-time
    reclaim still restores any interruption."""
    _, fs, P = hadoop_fs(spark, path)
    if not _reclaim_generation(fs, P, path, "__compact"):
        raise FileNotFoundError(f"no store at {path} (and no __old to reclaim)")

    def _nfiles() -> int:
        return sum(
            1 for f in spark.read.parquet(path).inputFiles()
            if f.endswith(".parquet")
        )

    before = _nfiles()
    df = spark.read.parquet(path)
    # Per-partition source counts, ONE groupBy (bounded by store_buckets —
    # metadata-sized). k == 0 means an existing-but-empty store (all rows
    # expired/compacted away): nothing to rewrite, and repartition(0)
    # would die with an opaque Spark error (ADVICE r18) — return early,
    # store untouched.
    src_counts = {
        r[0]: r[1] for r in df.groupBy(part_col).count().collect()
    }
    k = len(src_counts)
    if k == 0:
        return before, before
    df.repartition(k, part_col).write.mode("overwrite").partitionBy(
        part_col
    ).parquet(path + "__compact")
    # Validate the side store PER PARTITION, not by a single total (ADVICE
    # r18): a total can balance a dropped row in one partition against a
    # duplicated row in another; the per-key comparison also catches rows
    # landing in the wrong `part_col=` dir.
    side_counts = {
        r[0]: r[1]
        for r in spark.read.parquet(path + "__compact")
        .groupBy(part_col)
        .count()
        .collect()
    }
    if src_counts != side_counts:
        fs.delete(P(path + "__compact"), True)
        bad = sorted(
            str(v)
            for v in set(src_counts) | set(side_counts)
            if src_counts.get(v) != side_counts.get(v)
        )
        raise RuntimeError(
            f"compacted store per-partition counts diverge at "
            f"{part_col}={bad[:5]}; store untouched"
        )
    _swap_generation(fs, P, path, "__compact")
    return before, _nfiles()


def _lsh_probe_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int, store_buckets: int = 8
) -> DataFrame:
    """Build + drain the incremental LSH-dedup stream; shared by the
    registered query and the batch-count-independence pytest.

    ``store_buckets`` is the STATE-STORE partitioning dial — the thing that
    makes the probe O(|batch|) instead of O(|corpus|) at scale. Both state
    stores are written hash-partitioned (signature store by
    xxhash64(sig) mod k, shingle store by doc_id mod k), and each probe
    reads only the partitions it can touch: the signature probe prunes to
    the batch's own signature buckets, and the Jaccard verify prunes to
    the partitions holding the (few) candidate partner docs. Partition
    pruning is plan-level (PartitionFilters on the parquet scan — files in
    other ``sb=``/``db=`` dirs are never listed into the scan). At test
    scale k=8; at 100 TB pick k so a shingle partition ≈ one task's worth
    (say 4096) — the verify then reads |partners| partitions out of 4096
    instead of the whole corpus-sized store. Verdicts are k-invariant
    (pinned store_buckets=1 vs 8 in tests/test_streaming_lsh_dedup.py)."""
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        _shingles,
        _words,
        band_candidates,
        jaccard_prior_verdicts,
        minhash_band_sigs,
    )

    THRESHOLD = 0.7

    base = scratch_dir("slsh")
    inbox = os.path.join(base, "inbox")
    sig_store = EpochStore(os.path.join(base, "sig_store"), "sb", store_buckets)
    sh_store = EpochStore(os.path.join(base, "sh_store"), "db", store_buckets)
    out = EpochStore(os.path.join(base, "verdicts"))
    # exposed for the scale-harness regression gate (tests read the real
    # post-drain stores and assert the probes' bytes-ratio stays pruned)
    LAST_LSH_STORES["sig"] = sig_store.root
    LAST_LSH_STORES["shingle"] = sh_store.root
    LAST_LSH_STORES["store_buckets"] = store_buckets

    # Stage the corpus as n_batches "daily drops": contiguous doc_id
    # ranges, replayed in ingest order. Row order within a drop file is
    # free; the drain is insensitive to it (verdicts are groupBy/join
    # products of the set).
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = d.agg(F.max("doc_id")).first()[0]
    stage_drops(
        d.withColumn("drop", range_drop("doc_id", hi, n_batches)), n_batches, inbox
    )

    def probe_and_index(batch: DataFrame, epoch_id: int) -> None:
        sp = batch.sparkSession
        # store-present flags captured at epoch ENTRY, before this epoch's
        # own appends (which overlap the probe, below) can create the dirs.
        had_sig, had_sh = sig_store.exists(), sh_store.exists()
        # the verdict roster is the raw batch (one-file scan); only the
        # shingle explode needs the spread copy below.
        roster = batch.select("doc_id")
        # r19: each micro-batch arrives as ONE file (one scan partition),
        # so the shingle explode + 16-hash minhash otherwise runs as a
        # single serial task per epoch — spread the batch across cores
        # first (one tiny extra shuffle of |batch| doc rows; all downstream
        # results are groupBy/join products, partitioning-invariant).
        batch = batch.repartition(sp.sparkContext.defaultParallelism)
        sh_b = batch.select(
            "doc_id", F.explode(_shingles(_words())).alias("sh")
        ).persist()
        buckets_b = (
            minhash_band_sigs(sh_b, "doc_id")
            .withColumn("sb", F.pmod(F.xxhash64(F.col("sig")), F.lit(store_buckets)))
            .persist()
        )
        # Signature-store probe, PRUNED: equal sig => equal sb, so only the
        # store partitions holding the batch's own signature buckets can
        # contain a candidate. No store yet: the collect job is skipped.
        needed_sb = _distinct(buckets_b, "sb") if had_sig else []
        # r20: the two store appends overlap the probe, verify and
        # verdicts work (every store read is `epoch < epoch_id`). The
        # needed_sb collect above has already materialized sh_b/buckets_b,
        # so the appends write cached frames.
        with append_async(
            epoch_id,
            (sig_store, buckets_b),
            (
                sh_store,
                sh_b.withColumn("db", F.pmod(F.col("doc_id"), F.lit(store_buckets))),
            ),
        ):
            prior_sig = sig_store.prior(
                sp, epoch_id, "doc_id bigint, band int, sig string", needed_sb
            )
            # Probe: batch docs vs (index ∪ batch), partner strictly
            # earlier (smaller doc_id == earlier drop or earlier within
            # this drop).
            all_sig = prior_sig.unionByName(buckets_b.select("doc_id", "band", "sig"))
            cand = band_candidates(buckets_b, all_sig).persist()
            # Shingle-store verify read, PRUNED to the candidate partners'
            # doc partitions — the big win: the shingle store is
            # corpus-sized, but near-dup partners are few. Batch docs'
            # shingles come from sh_b (not yet in the store).
            partner_dbs = (
                _distinct(cand, F.pmod(F.col("old_id"), F.lit(store_buckets)))
                if had_sh
                else []
            )
            all_sh = sh_store.prior(
                sp, epoch_id, "doc_id bigint, sh string", partner_dbs
            ).unionByName(sh_b)
            # r20: the new_id side of the verify only ever touches BATCH
            # docs and doc_ids do not recur across drops, so sh_b alone
            # serves that side (at scale: batch-sized, not store-sized).
            out.append(
                epoch_id,
                jaccard_prior_verdicts(roster, cand, sh_b, all_sh, THRESHOLD),
            )
        for frame in (sh_b, buckets_b, cand):
            frame.unpersist()

    drain(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(probe_and_index),
        os.path.join(base, "ckpt"), 300, "LSH dedup",
    )
    return spark.read.parquet(out.root).select("doc_id", "n_dup_prior", "verdict")


# Exact-Jaccard prior-dup-count oracle — defined in extensions.dedup (the
# import direction this module already uses for _shingles/_words) and
# shared three ways: the incremental query (certifies banded-LSH recall +
# incremental index bookkeeping), the compaction query (same verdicts
# re-derived from the COMPACTED stores — hash equality is the
# compaction-invisibility certificate), and dedup_collapse_prior_counts
# (the exact-collapse algebra certificate).
from apache_hive_1_2_2_src_spark.extensions.dedup import (  # noqa: E402
    PRIOR_DUP_COUNT_ORACLE as _LSH_DEDUP_ORACLE,
)


@register(
    "streaming_dedup_lsh_incremental",
    oracle=_LSH_DEDUP_ORACLE,
    doc="STREAMING incremental near-dup dedup — the daily-ingest loop the "
    "batch twin (dedup_incremental_batch) models, closed end-to-end with "
    "real accumulated state (beyond-reference; the 1.2-era analogue is "
    "hcatalog-streaming feeding a nightly dedup job): documents arrive as "
    "ordered drops (maxFilesPerTrigger=1), and each foreachBatch "
    "(1) minhashes the batch (k=16, 4 bands — same params as "
    "dedup_minhash_lsh), (2) PROBES the accumulated band-signature index "
    "for earlier near-dups and verifies candidates with exact Jaccard "
    "against the accumulated shingle store, (3) emits keep/drop verdicts, "
    "and (4) appends the batch's signatures to the index — epoch-keyed "
    "overwrites make retries exactly-once (the ACID-delta recipe). "
    "Verdicts are slicing-invariant ('earlier' = smaller doc_id whether "
    "the partner came in a prior drop or the same one), pinned by the "
    "1-vs-3-batch equality pytest. Scale: per-drop cost is "
    "|batch|·bands probe rows against an index read that prunes to the "
    "probed (band,sig) keys via the shuffle join — never a corpus "
    "rescan; the signature store grows 4 rows/doc and the shingle store "
    "~|doc| shingles/doc (at 100 TB: store xxhash64(shingle) instead of "
    "text — 8-byte keys — and compact the epoch dirs nightly).",
    tags=("streaming", "dedup", "lsh", "foreachbatch", "pipeline", "incremental"),
)
def streaming_dedup_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_probe_dedup(spark, sf_dir, n_batches=3)


@register(
    "streaming_dedup_compact_store",
    oracle=_LSH_DEDUP_ORACLE,
    doc="State-store COMPACTION invisibility, certified externally (r18; "
    "the store twin of streaming_acid_compact_during_ingest's guarantee): "
    "drain the 3-drop incremental LSH ingest, compact BOTH accumulated "
    "state stores in place with compact_partitioned_store (the Hadoop-FS "
    "rewrite-and-swap housekeeping op that bounds the O(epochs x buckets) "
    "file growth, SCALE.md r17/r18), then RE-DERIVE every verdict in "
    "batch form from the COMPACTED stores ALONE — candidates from the "
    "signature store's (band, sig) self-join with the partner strictly "
    "earlier, exact-Jaccard verify against the shingle store. The oracle "
    "is the same exact-Jaccard SQL as the incremental query, so the hash "
    "match proves (1) the compaction was a pure rewrite — any row lost, "
    "doubled, or mis-partitioned by the swap shifts a count — and (2) the "
    "accumulated stores alone carry the full corpus state. The plan also "
    "asserts the compactor actually ran: file counts must drop to at most "
    "one per partition dir. Scale: the re-probe is the batch LSH shape "
    "(shuffles on (band, sig) then on doc_id — dedup_minhash_lsh's cost "
    "class); compaction reads+writes O(state) bytes once, the price that "
    "buys bounded file counts for every later probe.",
    tags=("streaming", "dedup", "lsh", "compaction", "incremental"),
)
def streaming_dedup_compact_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        band_candidates,
        jaccard_prior_verdicts,
    )

    THRESHOLD = 0.7
    _lsh_probe_dedup(spark, sf_dir, n_batches=3).count()
    sig_dir = LAST_LSH_STORES["sig"]
    sh_dir = LAST_LSH_STORES["shingle"]
    k = LAST_LSH_STORES["store_buckets"]

    # r20: the two store compactions are independent (different dirs,
    # each internally read→side-write→validate→swap) — overlap them
    # instead of compacting serially.
    def _compact(store: str, part_col: str) -> None:
        before, after = compact_partitioned_store(spark, store, part_col)
        if after > k or after >= before:
            raise AssertionError(
                f"compaction did not collapse {store}: {before} -> {after} "
                f"files (buckets={k})"
            )

    concurrently(lambda: _compact(sig_dir, "sb"), lambda: _compact(sh_dir, "db"))

    sig = spark.read.parquet(sig_dir).select("doc_id", "band", "sig")
    sh = spark.read.parquet(sh_dir).select("doc_id", "sh")
    roster = load_table(spark, sf_dir, "documents").select("doc_id")
    return jaccard_prior_verdicts(
        roster, band_candidates(sig, sig), sh, sh, THRESHOLD
    )


# Last _collapsed_probe_dedup run's store locations — for the mega-cluster
# regression gate and the store-shape pins in tests/test_round18_ops.py.
LAST_COLLAPSED_STORES: dict = {}


def _collapsed_probe_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int, store_buckets: int = 8
) -> DataFrame:
    """The exact-collapse composition of the incremental LSH dedup
    (SCALE.md r18 audit fix, streaming form): state is kept per DISTINCT
    CONTENT, not per doc, so a mega-cluster of byte-identical documents
    never reaches any pairwise stage — the uncollapsed probe pays
    C(m, 2) candidate pairs on m clones (measured 13.6 s -> 51 s at
    m=4000), this form pays O(m) ledger rows.

    Three hash-partitioned stores replace the two doc-level ones:
    - sig store: band signatures of ONE representative per gkey
      (md5(text)), partitioned by sb = hash(sig) mod k — probed exactly
      like the doc-level store, pruned to the batch's own sig buckets;
    - shingle store: representative shingles per gkey, partitioned by
      gb = hash(gkey) mod k — the Jaccard verify reads only the partner
      groups' buckets;
    - member ledger: (gkey, doc_id) per ingested doc, partitioned by
      lb = hash(gkey) mod k — the ONLY per-doc state, linear.

    Per batch: collapse to groups, probe the sig store for partner
    GROUPS, verify group pairs with exact Jaccard at the representative
    level, then expand to per-doc counts with the windowed
    queries-UNION-events pass from dedup.exact_collapse_prior_dup_counts
    (rows, never pairs): n_dup_prior(d) = #{members e of partner groups
    (own group included when it has shingles) with e.doc_id < d.doc_id},
    members drawn from the ledger (prior epochs) plus the batch itself.
    Re-arriving content appends ledger rows only — its signatures and
    shingles are already in the stores (anti-join keeps them unique, so
    group-level state is idempotent under content re-ingestion).
    Verdicts equal streaming_dedup_lsh_incremental's row for row (same
    exact-Jaccard oracle; both driver-certified), batch-count-invariant
    like every probe here."""
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        _shingles,
        _words,
        minhash_band_sigs,
    )

    THRESHOLD = 0.7

    base = scratch_dir("cslsh")
    inbox = os.path.join(base, "inbox")
    sig_store = EpochStore(os.path.join(base, "sig_store"), "sb", store_buckets)
    sh_store = EpochStore(os.path.join(base, "sh_store"), "gb", store_buckets)
    led_store = EpochStore(os.path.join(base, "member_ledger"), "lb", store_buckets)
    out = EpochStore(os.path.join(base, "verdicts"))
    LAST_COLLAPSED_STORES["sig"] = sig_store.root
    LAST_COLLAPSED_STORES["shingle"] = sh_store.root
    LAST_COLLAPSED_STORES["ledger"] = led_store.root
    LAST_COLLAPSED_STORES["store_buckets"] = store_buckets

    # the same contiguous doc_id drops as _lsh_probe_dedup
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hi = d.agg(F.max("doc_id")).first()[0]
    stage_drops(
        d.withColumn("drop", range_drop("doc_id", hi, n_batches)), n_batches, inbox
    )

    gbucket = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(store_buckets))  # noqa: E731

    def probe_and_index(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        sp = batch.sparkSession
        # store-present flags captured at epoch ENTRY — this epoch's own
        # appends overlap the probe below and may create the dirs mid-epoch.
        had_sig, had_sh, had_led = (
            sig_store.exists(), sh_store.exists(), led_store.exists()
        )
        g = batch.select("doc_id", "text", F.md5("text").alias("gkey"))
        members_b = g.select("gkey", "doc_id").persist()
        reps_b = (
            g.groupBy("gkey")
            .agg(F.min(F.struct("doc_id", "text")).alias("m"))
            .select("gkey", F.col("m.text").alias("text"))
        )
        # r19: spread the representatives before shingling — AQE
        # coalesces the gkey groupBy to ~1 partition, serializing the
        # shingle explode (results partitioning-invariant).
        sh_b = reps_b.repartition(
            sp.sparkContext.defaultParallelism
        ).select(
            "gkey", F.explode(_shingles(_words())).alias("sh")
        ).persist()
        n_sh_b = sh_b.groupBy("gkey").agg(F.count(F.lit(1)).alias("n_sh"))
        buckets_b = (
            minhash_band_sigs(sh_b, "gkey")
            .withColumn("sb", F.pmod(F.xxhash64(F.col("sig")), F.lit(store_buckets)))
            .persist()
        )
        batch_gkeys = members_b.select("gkey").distinct()

        # r20: the two prune collects that depend only on the BATCH
        # (signature buckets for the probe, ledger buckets for the
        # new-gkey anti-join) are independent — run them concurrently.
        needed_sb, batch_lb = concurrently(
            (lambda: _distinct(buckets_b, "sb")) if had_sig else list,
            (lambda: _distinct(members_b, gbucket("gkey"))) if had_led else list,
        )
        # Content already in the stores appends ledger rows only: the
        # anti-join keeps group-level state unique under re-ingestion.
        new_gkeys = batch_gkeys.join(
            led_store.prior(sp, epoch_id, "gkey string", batch_lb).distinct(),
            "gkey",
            "left_anti",
        ).persist()

        # ---- the appends overlap the probe/verify/expansion below; every
        # store read in this epoch is `epoch < epoch_id`, so the
        # concurrently landing epoch=<this> rows (the ledger append the
        # new_gkeys anti-join reads around included) stay invisible.
        with append_async(
            epoch_id,
            (sig_store, buckets_b.join(new_gkeys, "gkey")),
            (
                sh_store,
                sh_b.join(new_gkeys, "gkey").withColumn("gb", gbucket("gkey")),
            ),
            (led_store, members_b.withColumn("lb", gbucket("gkey"))),
        ):
            # ---- candidate GROUP pairs: batch groups vs (store ∪ batch)
            all_sig = sig_store.prior(
                sp, epoch_id, "gkey string, band int, sig string", needed_sb
            ).unionByName(buckets_b.select("gkey", "band", "sig"))
            gp = (
                buckets_b.alias("nb")
                .join(
                    all_sig.alias("ob"),
                    (F.col("nb.band") == F.col("ob.band"))
                    & (F.col("nb.sig") == F.col("ob.sig"))
                    & (F.col("nb.gkey") != F.col("ob.gkey")),
                )
                .select(
                    F.col("nb.gkey").alias("ga"), F.col("ob.gkey").alias("gb2")
                )
                .distinct()
                .persist()
            )

            # ---- exact-Jaccard verify at the representative level
            partner_gb = _distinct(gp, gbucket("gb2")) if had_sh else []
            # anti-join drops store rows for gkeys also in this batch
            # — re-arriving content would otherwise double its shingles
            all_sh = (
                sh_store.prior(sp, epoch_id, "gkey string, sh string", partner_gb)
                .join(batch_gkeys, "gkey", "left_anti")
                .unionByName(sh_b)
            )
            # r20: the ga side of the verify join and its norm only ever
            # touch BATCH groups (ga comes from buckets_b), and the
            # anti-join keeps batch gkeys' shingles out of the store read,
            # so sh_b alone serves that side (at scale: one side of the
            # verify drops from store-sized to batch-sized).
            n_sh = all_sh.groupBy("gkey").agg(F.count(F.lit(1)).alias("n_sh"))
            common = (
                gp.join(sh_b.alias("sa"), F.col("ga") == F.col("sa.gkey"))
                .join(
                    all_sh.alias("sb2"),
                    (F.col("gb2") == F.col("sb2.gkey"))
                    & (F.col("sa.sh") == F.col("sb2.sh")),
                )
                .groupBy("ga", "gb2")
                .agg(F.count(F.lit(1)).alias("n_common"))
            )
            jac = F.col("n_common") / (
                F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_common")
            )
            verified = (
                common.join(n_sh_b.alias("na"), F.col("ga") == F.col("na.gkey"))
                .join(n_sh.alias("nb"), F.col("gb2") == F.col("nb.gkey"))
                .filter(jac >= THRESHOLD)
                .select("ga", "gb2")
            )
            # own group is its own partner iff it has shingles (J = 1; a
            # zero-shingle group never pairs, the collapse-algebra edge)
            self_pairs = n_sh_b.select(
                F.col("gkey").alias("ga"), F.col("gkey").alias("gb2")
            )
            partners = verified.unionByName(self_pairs).distinct().persist()

            # ---- expansion: windowed queries ∪ events, rows never pairs
            partner_lb = _distinct(partners, gbucket("gb2")) if had_led else []
            all_members = led_store.prior(
                sp, epoch_id, "gkey string, doc_id bigint", partner_lb
            ).unionByName(members_b)
            events = partners.join(
                all_members.alias("m"), F.col("gb2") == F.col("m.gkey")
            ).select(
                F.col("ga").alias("gkey"),
                F.col("m.doc_id").alias("doc_id"),
                F.lit(1).alias("is_event"),
            )
            queries = members_b.select(
                "gkey", "doc_id", F.lit(0).alias("is_event")
            )
            wcum = (
                Window.partitionBy("gkey")
                .orderBy("doc_id", "is_event")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            verdicts = (
                queries.unionByName(events)
                .withColumn(
                    "n_dup_prior",
                    F.coalesce(F.sum("is_event").over(wcum), F.lit(0)),
                )
                .filter(F.col("is_event") == 0)
                .select(
                    "doc_id",
                    F.col("n_dup_prior").cast("long").alias("n_dup_prior"),
                    F.when(F.col("n_dup_prior") > 0, "drop")
                    .otherwise("keep")
                    .alias("verdict"),
                )
            )
            out.append(epoch_id, verdicts)
        for frame in (members_b, sh_b, buckets_b, gp, partners, new_gkeys):
            frame.unpersist()

    drain(
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(probe_and_index),
        os.path.join(base, "ckpt"), 300, "collapsed LSH dedup",
    )
    return spark.read.parquet(out.root).select("doc_id", "n_dup_prior", "verdict")


@register(
    "streaming_dedup_collapse_incremental",
    oracle=_LSH_DEDUP_ORACLE,
    doc="STREAMING incremental near-dup dedup with EXACT-COLLAPSE state "
    "(the r18 mega-cluster audit fix composed into the streaming path — "
    "SCALE.md r18): all three state stores are keyed per DISTINCT "
    "CONTENT (md5(text)) with a linear per-doc member ledger, so m "
    "byte-identical documents cost O(m) ledger rows instead of the "
    "uncollapsed probe's C(m,2) candidate pairs (measured 13.6 -> 51 s "
    "at m=4000 clones there; flat here). Per drop: collapse the batch to "
    "groups, probe the rep-level signature store (pruned to the batch's "
    "own sig buckets), exact-Jaccard-verify GROUP pairs against the "
    "rep-level shingle store (pruned to partner buckets), then expand to "
    "per-doc counts with one windowed queries-UNION-events pass per home "
    "group — rows, never pairs. Re-arriving content appends only ledger "
    "rows (anti-join keeps group state unique). Same exact-Jaccard "
    "oracle as streaming_dedup_lsh_incremental / _compact_store / "
    "dedup_collapse_prior_counts — the FOURTH independently certified "
    "execution strategy for the one semantic, and the one to run on "
    "boilerplate-heavy corpora.",
    tags=("streaming", "dedup", "lsh", "foreachbatch", "incremental", "skew"),
)
def streaming_dedup_collapse_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _collapsed_probe_dedup(spark, sf_dir, n_batches=3)


def _publish_partition_deltas(
    sp: SparkSession,
    table: str,
    part_col: str,
    batch_id: int,
    write_stage: Callable[[str], None],
) -> None:
    """The one partition-delta publish: ``write_stage`` writes micro-batch
    ``batch_id`` as a ``<part_col>=<v>`` tree into the dot-prefixed
    ``table/.stage_{batch_id+1}`` (invisible to partition discovery and
    the acid resolver while half-written), then each staged ``pt=v`` dir
    is renamed to ``table/pt=v/delta_{batch_id+1}_{batch_id+1}`` and the
    stage is removed. A replayed batch_id deletes ITS OWN delta dirs
    before renaming, so the replay replaces rather than double-appends."""
    delta = f"delta_{batch_id + 1}_{batch_id + 1}"
    stage = f"{table}/.stage_{batch_id + 1}"
    write_stage(stage)
    _, fs, P = hadoop_fs(sp, table)
    for st in fs.listStatus(P(stage)):
        name = st.getPath().getName()
        if not name.startswith(f"{part_col}="):
            continue
        dest = P(f"{table}/{name}/{delta}")
        # retry semantics: clobber THIS batch's own delta dir only
        if fs.exists(dest):
            fs.delete(dest, True)
        fs.mkdirs(P(f"{table}/{name}"))
        if not fs.rename(st.getPath(), dest):
            raise RuntimeError(f"rename failed: {name}/{delta}")
    fs.delete(P(stage), True)


def write_partitioned_delta(
    rows: DataFrame, table: str, part_col: str, batch_id: int
) -> None:
    """Write one micro-batch as per-partition delta dirs —
    ``table/<part_col>=<v>/delta_{batch_id+1}_{batch_id+1}`` — through
    ``_publish_partition_deltas`` (retry-idempotent; pinned by the
    redrain test in tests/test_acid_dirs.py)."""
    _publish_partition_deltas(
        rows.sparkSession, table, part_col, batch_id,
        lambda stage: rows.write.mode("overwrite")
        .partitionBy(part_col).parquet(stage),
    )


@register(
    "streaming_acid_partitioned_ingest",
    # Exactly-once through the whole partitioned chain: every event lands
    # in exactly one (partition, delta) dir, per-partition resolution
    # unions the deltas, and the merged table must reproduce the source
    # aggregates per partition bit-for-bit.
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
           CAST(COUNT(DISTINCT user_id % 5) AS BIGINT) AS n_st,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
    FROM events GROUP BY event_type
    """,
    doc="Streaming ingest INTO a PARTITIONED ACID tree — hcatalog-"
    "streaming's actual contract (HiveEndPoint is constructed with a "
    "partition-values list; each TransactionBatch writes delta_M_M "
    "INSIDE the partition dir): each foreachBatch stages micro-batch i "
    "with a dynamic partitionBy(event_type) write, then renames every "
    "staged et=v dir to et=v/delta_{i+1}_{i+1} — a retry with the same "
    "batch_id clobbers its own delta dirs (epoch-keyed exactly-once, "
    "the flat ingest's recipe composed with dynamic partitioning). The "
    "final read is read_acid_table_partitioned: per-partition "
    "resolution, two relations total, (partition, key) merge. A row "
    "lost or doubled anywhere (checkpoint replay, stage rename, "
    "resolution, merge) breaks the per-partition aggregates vs the "
    "batch source. At scale this is Hive streaming verbatim: deltas "
    "land continuously per partition, compaction bounds each "
    "partition's chain independently.",
    tags=("streaming", "acid", "ingest", "partitioned"),
)
def streaming_acid_partitioned_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.operators.acid import (
        read_acid_table_partitioned,
    )

    base = scratch_dir("stream_pacid")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    _, fs, P = hadoop_fs(spark, table)
    fs.delete(P(table), True)
    fs.mkdirs(P(table))
    inbox = _stage_events_inbox(spark, sf_dir)

    def write_delta(batch_df: DataFrame, batch_id: int) -> None:
        write_partitioned_delta(
            batch_df.select(
                F.col("event_type").alias("et"),
                F.col("event_id").alias("k"),
                (F.col("user_id") % 5).cast("string").alias("st"),
                F.floor(F.col("value") * 100).cast("long").alias("p"),
                F.lit("U").alias("op"),
            ),
            table, "et", batch_id,
        )

    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger=8)
        .writeStream.foreachBatch(write_delta),
        ckpt, 180, "partitioned acid ingest",
    )
    merged = read_acid_table_partitioned(spark, table, "et")
    return merged.groupBy(F.col("et").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.countDistinct("st").alias("n_st"),
        F.sum("p").cast("long").alias("sum_cents"),
    )


@register(
    "streaming_acid_bucketed_ingest",
    # Whole-table aggregates AND a pruned point lookup certified against
    # the batch source: the lookup's correctness proves every micro-batch
    # routed every row to the Hive bucket its key demands (a misroute
    # hides the row from the pruned read), and the totals prove
    # exactly-once ingest.
    oracle="""
    WITH t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
    ),
    pk AS (
      SELECT event_id, CAST(FLOOR(value * 100) AS BIGINT) AS p_cents
      FROM events WHERE event_id = 77
    )
    SELECT t.n_rows, t.n_keys, t.sum_cents,
           pk.event_id AS lookup_key, pk.p_cents AS lookup_cents,
           CAST((xor(77::BIGINT, 77::BIGINT >> 32) & 4294967295)
                % 2147483648 % 8 AS INT) AS key_bucket
    FROM t CROSS JOIN pk
    """,
    doc="Streaming ingest writing BUCKETED delta files — hcatalog-"
    "streaming's literal on-disk contract (transactional tables must be "
    "CLUSTERED BY; TransactionBatch writes positional bucket files into "
    "each delta_M_M): every foreachBatch routes its micro-batch through "
    "write_hive_bucketed INTO delta_{i+1}_{i+1}/ (8 buckets, "
    "LongWritable routing, retries clobber their own delta). "
    "Certification is two-sided: whole-table aggregates over the "
    "resolved merge prove exactly-once, and a read_acid_bucketed_point "
    "lookup for one key — which opens ONLY that key's bucket file in "
    "each delta — must surface the row, proving every batch's writer "
    "routed correctly (a misroute is invisible to full scans but hides "
    "the key from the pruned read). At 100 TB this is the streaming-"
    "warehouse steady state: continuous small bucketed deltas, "
    "O(1+deltas) point reads between compactions.",
    tags=("streaming", "acid", "ingest", "bucketing"),
)
def streaming_acid_bucketed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.operators.acid import (
        read_acid_bucketed_point,
        read_acid_table,
    )
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import write_hive_bucketed

    n = 8
    base = scratch_dir("stream_bacid")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    _, fs, P = hadoop_fs(spark, table)
    fs.delete(P(table), True)
    fs.mkdirs(P(table))
    inbox = _stage_events_inbox(spark, sf_dir)

    def write_delta(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select(
            F.col("event_id").alias("k"),
            F.col("event_type").alias("st"),
            F.floor(F.col("value") * 100).cast("long").alias("p"),
            F.lit("U").alias("op"),
        )
        # write_hive_bucketed overwrites its target dir atomically-enough
        # for the retry contract (validates before renaming, removes
        # partial output on failure) — a replayed batch_id rebuilds its
        # own delta dir.
        write_hive_bucketed(
            rows, "k", n, f"{table}/delta_{batch_id + 1}_{batch_id + 1}",
            kind="long",
        )

    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger=8)
        .writeStream.foreachBatch(write_delta),
        ckpt, 240, "bucketed acid ingest",
    )
    totals = read_acid_table(spark, table).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.sum("p").cast("long").alias("sum_cents"),
    )
    snap, _n_files = read_acid_bucketed_point(spark, table, n, 77, kind="long")
    point = snap.select(
        F.col("k").alias("lookup_key"),
        F.col("p").cast("long").alias("lookup_cents"),
    )
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import hive_bucket_of

    return totals.crossJoin(point).select(
        "n_rows", "n_keys", "sum_cents", "lookup_key", "lookup_cents",
        F.lit(hive_bucket_of(77, n, "long")).cast("int").alias("key_bucket"),
    )


def write_partitioned_bucketed_delta(
    rows: DataFrame,
    table: str,
    part_col: str,
    key: str,
    n_buckets: int,
    batch_id: int,
    kind: str = "long",
) -> None:
    """Write one micro-batch as the COMPLETE Hive transactional shape —
    ``table/<part_col>=<v>/delta_{i+1}_{i+1}/000000_0…`` (partition dirs
    holding this batch's delta dir holding positional bucket files):
    ``write_hive_partitioned_bucketed`` builds the nested layout in ONE
    Spark job into a dot-prefixed staging tree (invisible to partition
    discovery and the acid resolver while half-written; the writer itself
    validates one-file-per-(partition,bucket) before any rename), then one
    driver rename per partition publishes ``pt=v`` as ``pt=v/delta_M_M``.
    Retry-idempotent like write_partitioned_delta: a replayed batch_id
    deletes ITS OWN delta dirs before renaming. Scale: the staging write
    is one shuffle of the micro-batch; publication is |parts-in-batch|
    renames — O(1) FS metadata per partition per batch, the
    hcatalog-streaming TransactionBatch cost shape.

    Visibility caveat (ADVICE r13): the per-partition renames are NOT
    collectively atomic — a crash mid-loop leaves a TORN batch
    (delta_N_N published in some partitions only) that concurrent
    readers can see until the batch retries and the idempotent replay
    completes it. Real Hive hides this through the metastore: the txn
    stays open until every partition is written, and readers'
    ValidTxnList filters the half-written txn out (the acid.ValidTxnList
    path models exactly that read side). Single-FS alternatives if
    atomic visibility is ever needed without a metastore: publish a
    top-level commit marker per batch (readers resolve deltas against
    the marker set), or stage the whole batch under one dir and expose
    it via a final symlink/manifest swap."""
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import write_hive_partitioned_bucketed

    _publish_partition_deltas(
        rows.sparkSession, table, part_col, batch_id,
        lambda stage: write_hive_partitioned_bucketed(
            rows, part_col, key, n_buckets, stage, kind=kind
        ),
    )


@register(
    "streaming_acid_full_layout_ingest",
    # Two-sided certification against the batch source: whole-table
    # aggregates over the per-partition merge prove exactly-once ingest
    # through the composed staging/rename chain, and the TRIPLE-pruned
    # point lookup (partition dir -> acid state -> ONE bucket file per
    # delta) proves every micro-batch routed every row to the partition
    # AND bucket its values demand — a misroute survives full scans but
    # hides the key from the pruned read.
    oracle="""
    WITH t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
    ),
    pk AS (
      SELECT event_type AS lookup_part, event_id AS lookup_key,
             CAST(FLOOR(value * 100) AS BIGINT) AS lookup_cents
      FROM events WHERE event_id = 77
    )
    SELECT t.n_rows, t.n_keys, t.sum_cents,
           pk.lookup_part, pk.lookup_key, pk.lookup_cents,
           CAST((xor(77::BIGINT, 77::BIGINT >> 32) & 4294967295)
                % 2147483648 % 8 AS INT) AS key_bucket
    FROM t CROSS JOIN pk
    """,
    doc="Streaming ingest writing the COMPLETE Hive transactional layout "
    "— part=v/delta_M_M/positional-bucket-files, the on-disk shape a "
    "production hcatalog-streaming feed produces continuously "
    "(HiveEndPoint is constructed with partitionVals AND transactional "
    "tables must be CLUSTERED BY, so every TransactionBatch writes "
    "bucket files inside each partition's delta): each foreachBatch "
    "runs write_hive_partitioned_bucketed into a dot-staged tree (one "
    "shuffle; partition x bucket routing validated before any rename), "
    "then publishes pt=v/delta_{i+1}_{i+1} with one rename per "
    "partition — epoch-keyed exactly-once, retries clobber their own "
    "deltas. Certification composes BOTH prior ingest certifications: "
    "whole-table aggregates via read_acid_table_partitioned (per-"
    "partition resolution, two relations) prove no row lost or doubled, "
    "and a read_acid_full_point lookup — which opens ONLY the key's "
    "bucket file in each delta of ONE partition dir, asserted equal to "
    "that partition's acid-dir count at runtime — proves per-batch "
    "partition+bucket routing. At 100 TB this is the streaming "
    "warehouse steady state verbatim: continuous small bucketed deltas "
    "per partition, per-partition compaction bounds each chain, "
    "O(1 + deltas) primary-key reads between compactions.",
    tags=("streaming", "acid", "ingest", "partitioned", "bucketing"),
)
def streaming_acid_full_layout_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from apache_hive_1_2_2_src_spark.operators.acid import (
        read_acid_full_point,
        read_acid_table_partitioned,
    )
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import hive_bucket_of

    n = 8
    base = scratch_dir("stream_flacid")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    _, fs, P = hadoop_fs(spark, table)
    fs.delete(P(table), True)
    fs.mkdirs(P(table))
    inbox = _stage_events_inbox(spark, sf_dir)

    def write_delta(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_partitioned_bucketed_delta(
            batch_df.select(
                F.col("event_type").alias("et"),
                F.col("event_id").alias("k"),
                (F.col("user_id") % 5).cast("string").alias("st"),
                F.floor(F.col("value") * 100).cast("long").alias("p"),
                F.lit("U").alias("op"),
            ),
            table, "et", "k", n, batch_id,
        )

    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger=8)
        .writeStream.foreachBatch(write_delta),
        ckpt, 300, "full-layout acid ingest",
    )
    totals = read_acid_table_partitioned(spark, table, "et").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.sum("p").cast("long").alias("sum_cents"),
    )
    # partition value for the lookup key comes from query context (the
    # production caller supplies partition + key); here: one 1-row probe
    # of the batch SOURCE table, never the streamed tree.
    pv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") == 77)
        .select("event_type")
        .first()[0]
    )
    snap, n_files = read_acid_full_point(
        spark, table, "et", pv, n, 77, kind="long"
    )
    # pin the pruning arithmetic at runtime: exactly ONE file per acid dir
    # of the ONE selected partition (batch count is drain-dependent, so
    # the assertion lives here, not in the oracle)
    n_dirs = sum(
        1
        for st in fs.listStatus(P(f"{table}/et={pv}"))
        if st.getPath().getName().startswith(("delta_", "base_"))
    )
    if n_files != n_dirs:
        raise AssertionError(
            f"triple-pruned lookup opened {n_files} files, expected one "
            f"per acid dir ({n_dirs}) in partition et={pv}"
        )
    point = snap.select(
        F.col("et").alias("lookup_part"),
        F.col("k").alias("lookup_key"),
        F.col("p").cast("long").alias("lookup_cents"),
    )
    return totals.crossJoin(point).select(
        "n_rows", "n_keys", "sum_cents",
        "lookup_part", "lookup_key", "lookup_cents",
        F.lit(hive_bucket_of(77, n, "long")).cast("int").alias("key_bucket"),
    )


@register(
    "streaming_acid_compact_during_ingest",
    # The oracle is the SAME contract as the pure ingest: whole-table
    # aggregates + the pruned point lookup against the batch source.
    # Hash-equality is exactly the compaction guarantee — a major
    # compaction that runs BETWEEN transactions while ingest continues
    # must be invisible to every reader (pure rewrite), and the lookup
    # proves the compacted base is itself correctly BUCKETED (a misroute
    # in the compactor's rewrite hides the key from the pruned read).
    oracle="""
    WITH t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_keys,
             CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM events
    ),
    pk AS (
      SELECT event_type AS lookup_part, event_id AS lookup_key,
             CAST(FLOOR(value * 100) AS BIGINT) AS lookup_cents
      FROM events WHERE event_id = 77
    )
    SELECT t.n_rows, t.n_keys, t.sum_cents,
           pk.lookup_part, pk.lookup_key, pk.lookup_cents,
           CAST(TRUE AS BOOLEAN) AS compacted,
           CAST((xor(77::BIGINT, 77::BIGINT >> 32) & 4294967295)
                % 2147483648 % 8 AS INT) AS key_bucket
    FROM t CROSS JOIN pk
    """,
    doc="Major compaction DURING streaming ingest — the Hive compactor's "
    "actual operating mode (Initiator queues a partition while the "
    "HiveEndPoint keeps writing; Worker's compaction job commits a new "
    "base BETWEEN transactions and later deltas stack on top of it): "
    "the full-layout ingest runs as usual, but after micro-batch 1 "
    "lands, the lookup key's partition is major-compacted IN the "
    "foreachBatch sequence — its merged snapshot rewritten through "
    "write_hive_bucketed as et=v/base_2 (a BUCKETED base, as Hive's "
    "compactor preserves CLUSTERED BY), with the covered deltas left in "
    "place — and ingest continues appending delta_3_3... on top. "
    "Certification: whole-table aggregates must be bit-identical to the "
    "never-compacted contract (compaction is a pure rewrite, invisible "
    "mid-stream), the triple-pruned lookup must open exactly "
    "1 + |post-base deltas| files (runtime-asserted against the "
    "partition's resolved state), and the partition must actually have "
    "resolved to the new base (asserted — the test is vacuous "
    "otherwise). At 100 TB this is the steady-state warehouse loop: "
    "continuous per-partition ingest, per-partition compaction debt "
    "paid between transactions, point reads O(1 + recent deltas) "
    "forever.",
    tags=("streaming", "acid", "ingest", "compaction", "bucketing",
          "partitioned"),
)
def streaming_acid_compact_during_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from apache_hive_1_2_2_src_spark.operators.acid import (
        read_acid_full_point,
        read_acid_table,
        read_acid_table_partitioned,
        resolve_acid_state,
    )
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import (
        hive_bucket_of,
        write_hive_bucketed,
    )

    n = 8
    base = scratch_dir("stream_cacid")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    _, fs, P = hadoop_fs(spark, table)
    fs.delete(P(table), True)
    fs.mkdirs(P(table))
    # own 4-drop inbox: the shared memoized inbox is ONE part file, which
    # availableNow drains as a single micro-batch — this query's whole
    # point is transactions continuing AFTER the compaction, so it needs
    # real batch boundaries (event_id ranges replayed in ingest order).
    inbox = os.path.join(base, "inbox")
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("event_id")).first()[0]
    stage_drops(
        ev.withColumn("ts_us", F.unix_micros("ts"))
        .drop("ts")
        .withColumn("drop", range_drop("event_id", hi, 4)),
        4, inbox,
    )
    pv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") == 77)
        .select("event_type")
        .first()[0]
    )
    pdir = f"{table}/et={pv}"

    def write_delta(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_partitioned_bucketed_delta(
            batch_df.select(
                F.col("event_type").alias("et"),
                F.col("event_id").alias("k"),
                (F.col("user_id") % 5).cast("string").alias("st"),
                F.floor(F.col("value") * 100).cast("long").alias("p"),
                F.lit("U").alias("op"),
            ),
            table, "et", "k", n, batch_id,
        )
        if batch_id == 1:
            # the compactor's turn: between transactions, rewrite the
            # lookup partition's merged snapshot as a BUCKETED base_2
            # covering deltas 1..2; later batches stack delta_3_3... on
            # top. Idempotent on batch replay (the bucketed writer
            # rebuilds its target dir).
            sp = batch_df.sparkSession
            write_hive_bucketed(
                read_acid_table(sp, pdir).drop("ver"),
                "k", n, f"{pdir}/base_2", kind="long",
            )

    drain(
        # one file per micro-batch so the compactor demonstrably runs
        # BETWEEN transactions with more ingest still to come
        _read_events_stream(spark, inbox, max_files_per_trigger=1)
        .writeStream.foreachBatch(write_delta),
        ckpt, 300, "compact-during-ingest",
    )
    base_dir, _txn, deltas = resolve_acid_state(spark, pdir)
    if base_dir != "base_2":
        raise AssertionError(
            f"compaction did not take effect: resolved base={base_dir!r} "
            f"(expected base_2) in {pdir}"
        )
    totals = read_acid_table_partitioned(spark, table, "et").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.sum("p").cast("long").alias("sum_cents"),
    )
    snap, n_files = read_acid_full_point(
        spark, table, "et", pv, n, 77, kind="long"
    )
    if n_files != 1 + len(deltas):
        raise AssertionError(
            f"triple-pruned lookup opened {n_files} files, expected "
            f"1 + {len(deltas)} (base bucket + one per post-base delta)"
        )
    point = snap.select(
        F.col("et").alias("lookup_part"),
        F.col("k").alias("lookup_key"),
        F.col("p").cast("long").alias("lookup_cents"),
    )
    return totals.crossJoin(point).select(
        "n_rows", "n_keys", "sum_cents",
        "lookup_part", "lookup_key", "lookup_cents",
        F.lit(True).alias("compacted"),
        F.lit(hive_bucket_of(77, n, "long")).cast("int").alias("key_bucket"),
    )


@register(
    "streaming_acid_upsert_delete_ingest",
    # The oracle replays the three-batch edit history from the batch
    # source: batch 1 inserts everything, batch 2 UPDATES every k%7==0
    # key (+1000 cents), batch 3 DELETES every k%11==0 key. Hash-equality
    # certifies cross-batch version ordering (delta_3 beats delta_2 beats
    # delta_1 for the same key), tombstone semantics through the merge,
    # and the pruned lookup of an UPDATED key surfacing the new price.
    oracle="""
    WITH ev AS (
      SELECT event_id AS k, event_type AS et,
             CAST(FLOOR(value * 100) AS BIGINT) AS c
      FROM events
    ),
    fin AS (
      SELECT k, et, CASE WHEN k % 7 = 0 THEN c + 1000 ELSE c END AS p
      FROM ev WHERE k % 11 <> 0
    )
    SELECT CAST((SELECT COUNT(*) FROM fin) AS BIGINT) AS n_live,
           CAST((SELECT SUM(p) FROM fin) AS BIGINT) AS sum_cents_live,
           CAST((SELECT COUNT(*) FROM ev WHERE k % 11 = 0) AS BIGINT)
             AS n_deleted,
           CAST((SELECT c + 1000 FROM ev WHERE k = 14) AS BIGINT)
             AS lookup_cents,
           TRUE AS deleted_key_absent
    """,
    doc="Streaming ingest carrying UPDATES and DELETES — the part of "
    "hcatalog-streaming's contract the insert-only ingests don't "
    "exercise (TransactionBatch.write carries the operation; AcidUtils "
    "merge resolves the same key across deltas by transaction order, "
    "tombstones win): three mtime-ordered drops drain one per "
    "micro-batch into the partitioned+bucketed layout — batch 1 inserts "
    "all events, batch 2 re-writes every k%7==0 key with +1000 cents, "
    "batch 3 tombstones every k%11==0 key (op='D'). The per-(partition,"
    "key) highest-version merge must land exactly the replayed final "
    "state: updated keys show the new price (a pruned point lookup of "
    "key 14 is part of the certified output), deleted keys vanish (the "
    "pruned lookup of key 22 is runtime-asserted EMPTY — a tombstone "
    "that fails to dominate its earlier versions resurrects the row), "
    "and keys hit by both (k%77==0) stay deleted because delta_3 "
    "outranks delta_2. At 100 TB this is CDC-into-warehouse: continuous "
    "keyed upserts/deletes, per-partition merge-on-read, compaction "
    "folding tombstones away.",
    tags=("streaming", "acid", "ingest", "upsert", "partitioned",
          "bucketing"),
)
def streaming_acid_upsert_delete_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from apache_hive_1_2_2_src_spark.operators.acid import (
        read_acid_full_point,
        read_acid_table_partitioned,
    )

    n = 8
    base = scratch_dir("stream_udacid")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    _, fs, P = hadoop_fs(spark, table)
    fs.delete(P(table), True)
    fs.mkdirs(P(table))
    ev = load_table(spark, sf_dir, "events")
    staged_all = ev.withColumn("ts_us", F.unix_micros("ts")).drop("ts")
    inbox = os.path.join(base, "inbox")
    drops = (
        staged_all,  # batch 0: insert everything
        staged_all.where(F.col("event_id") % 7 == 0),  # batch 1: updates
        staged_all.where(F.col("event_id") % 11 == 0),  # batch 2: deletes
    )
    tagged = [df.withColumn("drop", F.lit(b)) for b, df in enumerate(drops)]
    stage_drops(
        tagged[0].unionByName(tagged[1]).unionByName(tagged[2]), 3, inbox
    )

    def write_delta(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cents = F.floor(F.col("value") * 100).cast("long")
        rows = batch_df.select(
            F.col("event_type").alias("et"),
            F.col("event_id").alias("k"),
            (F.col("user_id") % 5).cast("string").alias("st"),
            (cents + (1000 if batch_id == 1 else 0)).alias("p"),
            F.lit("D" if batch_id == 2 else "U").alias("op"),
        )
        write_partitioned_bucketed_delta(rows, table, "et", "k", n, batch_id)

    drain(
        _read_events_stream(spark, inbox, max_files_per_trigger=1)
        .writeStream.foreachBatch(write_delta),
        ckpt, 300, "upsert/delete ingest",
    )
    # _merge_latest already drops tombstoned keys (OrcRawRecordMerger
    # semantics) — the merged view IS the live set
    live = read_acid_table_partitioned(spark, table, "et")
    totals = live.agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("p").cast("long").alias("sum_cents_live"),
    )
    # deleted = keys ingested minus keys surviving the merge: n_live comes
    # from the TREE, so a tombstone that fails to dominate inflates n_live
    # and breaks BOTH columns
    n_total = ev.count()
    n_live_now = live.count()
    n_deleted = n_total - n_live_now
    # pruned lookup of an UPDATED key (14 = 7*2): must show +1000
    pv14 = ev.filter(F.col("event_id") == 14).select("event_type").first()[0]
    snap14, _nf = read_acid_full_point(spark, table, "et", pv14, n, 14)
    upd = snap14.select(F.col("p").cast("long").alias("lookup_cents"))
    # pruned lookup of a DELETED key (22 = 11*2): tombstone must dominate
    pv22 = ev.filter(F.col("event_id") == 22).select("event_type").first()[0]
    snap22, _nf2 = read_acid_full_point(spark, table, "et", pv22, n, 22)
    alive22 = snap22.count()
    if alive22 != 0:
        raise AssertionError(
            "tombstone failed to dominate: deleted key 22 still visible"
        )
    return (
        totals.withColumn("n_deleted", F.lit(n_deleted).cast("long"))
        .crossJoin(upd)
        .select(
            "n_live", "sum_cents_live", "n_deleted", "lookup_cents",
            F.lit(True).alias("deleted_key_absent"),
        )
    )


def _sivf_oracle() -> str:
    from apache_hive_1_2_2_src_spark.extensions.similarity import (
        _kmq_train_ctes,
        _sql_cos,
    )

    sql, cur = _kmq_train_ctes(frm="trainset")
    fcos = _sql_cos("m.embedding", "c.ce")
    qcos = _sql_cos("p.qe", "l.embedding")
    parts = [
        "WITH trainset AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id < 250),",
        *sql,
    ]
    parts.append(
        f"""fullassign AS (
      SELECT m.vec_id, m.embedding, c.cid,
             ROW_NUMBER() OVER (PARTITION BY m.vec_id
                                ORDER BY {fcos} DESC, c.cid) AS rnk
      FROM embeddings m CROSS JOIN {cur} c
    ),
    clustered AS (SELECT vec_id, embedding, cid FROM fullassign WHERE rnk = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qe, cid AS pcid
      FROM fullassign WHERE vec_id >= 490 AND rnk <= 2
    ),
    scored AS (
      SELECT p.query_id, l.vec_id AS cand_id, ROUND({qcos}, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
                                ORDER BY {qcos} DESC, l.vec_id) AS rk
      FROM probes p JOIN clustered l
        ON l.cid = p.pcid AND l.vec_id <> p.query_id
    )
    SELECT query_id, cand_id, cosine, rk FROM scored WHERE rk <= 3"""
    )
    return "\n".join(parts)


@register(
    "streaming_ivf_index_maintenance",
    # The oracle builds the index in ONE BATCH (trained quantizer on the
    # initial slice, full assignment, probe top-3); the Spark side built
    # it INCREMENTALLY over three streaming drops. Hash-equality is the
    # index-freshness contract: how vectors arrived must be invisible to
    # search results.
    oracle=_sivf_oracle(),
    doc="STREAMING IVF index maintenance — the index-freshness loop a "
    "vector-serving system runs (FAISS train-then-add contract, fed "
    "continuously): the coarse quantizer trains ONCE on the initial "
    "corpus slice (quantized-Lloyd, bit-replayable), then vectors "
    "arrive in three ordered drops and each foreachBatch assigns its "
    "batch to trained cells (broadcast centroids, argmax cosine) and "
    "appends to a cell-PARTITIONED inverted-list store with epoch-keyed "
    "exactly-once writes (the LSH state-store recipe). The post-drain "
    "probe reads ONLY the probed cells' partitions — runtime-asserted "
    "from input_file_name ground truth — and its top-3 must hash-equal "
    "the oracle's BATCH-built index: how vectors arrived is invisible "
    "to search. Scale: per-drop cost is |batch|*k comparisons + one "
    "partitioned append; the store grows one file per cell per epoch "
    "(compact per cell like ACID deltas); probes stay "
    "O(cells_probed/cells) of the corpus forever.",
    tags=(
        "streaming", "similarity", "ivf", "incremental", "pipeline",
        "foreachbatch",
    ),
)
def streaming_ivf_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.extensions.similarity import (
        _KMQ_ITERS,
        _KMQ_K,
        _cos,
        _rank_cells,
        _topk,
        kmeans_centroids_quantized,
    )

    base = scratch_dir("sivf")
    inbox = os.path.join(base, "inbox")
    store = EpochStore(os.path.join(base, "cell_store"), "cell", _KMQ_K)
    LAST_IVF_STORES["cell"] = store.root

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # The quantizer trains ONCE on the initial corpus slice (FAISS's
    # train-then-add contract); streamed vectors are assigned, never
    # retrained — exactly how a serving index stays query-consistent.
    cent = kmeans_centroids_quantized(
        e.filter(F.col("vec_id") < 250), _KMQ_K, _KMQ_ITERS
    ).localCheckpoint(eager=True)

    # three ordered drops covering the FULL vector set (initial + new)
    hi = e.agg(F.max("vec_id")).first()[0]
    stage_drops(e.withColumn("drop", range_drop("vec_id", hi, 3)), 3, inbox)

    def assign_and_append(batch: DataFrame, epoch_id: int) -> None:
        # one file per cell dir per epoch, epoch-keyed overwrite
        store.append(
            epoch_id,
            _rank_cells(batch, cent)
            .where(F.col("rnk") == 1)
            .select("vec_id", "embedding", F.col("cid").alias("cell")),
        )

    drain(
        spark.readStream.schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(assign_and_append),
        os.path.join(base, "ckpt"), 180, "ivf index ingest",
    )

    # ---- post-drain probe: top-2 cells per query, partition-pruned read
    probes = (
        _rank_cells(e.where(F.col("vec_id") >= 490), cent)
        .where(F.col("rnk") <= 2)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("cid").alias("pcid"),
        )
    )
    probed = sorted({r.pcid for r in probes.select("pcid").distinct().collect()})
    idx = spark.read.parquet(store.root).where(F.col("cell").isin(probed))
    # runtime pruning assertion from EXECUTION ground truth
    # (input_file_name; df.inputFiles() ignores filter-based pruning —
    # tools/scale_harness.py's documented pitfall)
    touched = {
        r.f for r in idx.select(F.input_file_name().alias("f")).distinct().collect()
    }
    bad = [f for f in touched if not any(f"/cell={c}/" in f for c in probed)]
    if bad or not touched:
        raise AssertionError(
            f"probe read escaped the probed cell partitions: {bad[:3]}"
        )
    scored = (
        F.broadcast(probes)
        .join(
            idx,
            (F.col("cell") == F.col("pcid"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            _cos(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    return _topk(scored, "cos", 3, "cosine")


# ------------- Streaming incremental pHash image dedup (r15) -------------


def _sphash_oracle() -> str:
    # One-batch replay of the incremental run: the UNCAPPED banded pair
    # graph (the stream probes its store by band equality with no
    # hot-bucket cap — state grows monotonically, so a cap would make
    # verdicts drop-order-dependent), each key's duplicate count = its
    # strictly-earlier partners within Hamming reach. How the images
    # ARRIVED must be invisible to the verdicts.
    from apache_hive_1_2_2_src_spark.extensions.dedup import _phash_ctes

    return (
        "WITH " + _phash_ctes(cap=1_000_000_000) + """,
    keys AS (
      SELECT doc_id * 10 + vcode AS key, doc_id, variant FROM variants
    ),
    dup AS (SELECT kb AS key, COUNT(*) AS n FROM kept GROUP BY kb)
    SELECT k.key, k.doc_id, k.variant,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_dup_prior,
           CASE WHEN COALESCE(d.n, 0) > 0 THEN 'drop' ELSE 'keep' END
             AS verdict
    FROM keys k LEFT JOIN dup d ON d.key = k.key
    """
    )


@register(
    "streaming_dedup_phash_incremental",
    oracle=_sphash_oracle(),
    doc="STREAMING image near-dup dedup — dedup_image_phash made "
    "incremental (the multimodal twin of streaming_dedup_lsh_"
    "incremental): image payloads arrive in three ordered drops; each "
    "foreachBatch perceptually hashes its batch's REAL bytes "
    "(phash64_bands), probes a fingerprint store PARTITIONED by "
    "hash(band) mod k for earlier partners within Hamming reach — the "
    "probe read is partition-PRUNED to the batch's own band buckets "
    "and runtime-asserted from input_file_name ground truth — then "
    "appends its fingerprints with epoch-keyed exactly-once writes. "
    "Verdict per image: count of strictly-earlier near-duplicates, "
    "keep/drop. Hash-certified against the one-batch SQL replay: "
    "arrival order is invisible to verdicts. Scale: per-drop cost is "
    "O(|batch| x bucket density), never O(|corpus|); the store reads "
    "|batch bands| of k partitions; re-encoded and grid-invisible "
    "variants arriving AFTER their originals are dropped at Hamming 0 "
    "— the streaming-ingest dedup gate a multimodal training pipeline "
    "runs before paying decode/training cost downstream.",
    tags=(
        "streaming", "dedup", "multimodal", "phash", "incremental",
        "foreachbatch",
    ),
)
def streaming_dedup_phash_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _phash_probe_dedup(spark, sf_dir, n_batches=3)


# ledger for the scale-harness regression gate (the LSH-store pattern):
# tests read the real post-drain store and assert the probes' bytes
# ratio stays pruned
LAST_PHASH_STORE: dict = {}

# the pHash fingerprint store's columns (partition column pb aside)
_FP_SCHEMA = (
    "key bigint, band_idx int, band_val int, b0 int, b1 int, b2 int, b3 int"
)


def _phash_probe_dedup(
    spark: SparkSession, sf_dir: str, n_batches: int, store_k: int = 8
) -> DataFrame:
    """Build + drain the incremental pHash-dedup stream; shared by the
    registered query (n_batches=3) and the batch-count-independence /
    store-pruning pytests. ``store_k`` is the state-store partitioning
    dial — verdicts must be k-invariant (k=1 = no pruning possible)."""
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        _BANDS,
        _HAMMING,
        _PHASH_HAMMING_MAX,
        _band_rows,
        _decode_payloads,
    )
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        phash64_bands,
        stage_phash_payloads,
    )

    base = scratch_dir("sphash")
    inbox = os.path.join(base, "inbox")
    store = EpochStore(os.path.join(base, "fp_store"), "pb", store_k)
    out = EpochStore(os.path.join(base, "verdicts"))

    LAST_PHASH_STORE["store"] = store.root
    LAST_PHASH_STORE["store_k"] = store_k
    pay = spark.read.parquet(stage_phash_payloads(spark, sf_dir))
    # ordered drops by doc range (key = doc_id*10 + vcode, so doc
    # order IS key order: later drops always carry larger keys)
    stage_drops(
        pay.withColumn("drop", range_drop("doc_id", 200, n_batches)), n_batches, inbox
    )

    def probe_and_index(batch: DataFrame, epoch_id: int) -> None:
        sp = batch.sparkSession
        fp = _decode_payloads(
            batch, "phash", lambda buf: (phash64_bands(buf),), _BANDS
        )
        bands = (
            _band_rows(fp)
            .withColumn(
                "pb",
                F.pmod(
                    F.xxhash64(F.col("band_idx"), F.col("band_val")),
                    F.lit(store_k),
                ),
            )
            .persist()
        )
        needed_pb = _distinct(bands, "pb") if store.exists() else []
        prior = store.prior(sp, epoch_id, _FP_SCHEMA, needed_pb)
        if needed_pb:
            # runtime pruning assertion from EXECUTION ground truth
            # (input_file_name; df.inputFiles() ignores filter pruning)
            touched = {
                r.f
                for r in prior.select(
                    F.input_file_name().alias("f")
                ).distinct().collect()
            }
            bad = [
                f for f in touched
                if not any(f"/pb={p}/" in f for p in needed_pb)
            ]
            if bad:
                raise AssertionError(
                    f"store probe escaped its band partitions: {bad[:3]}"
                )
        allb = prior.unionByName(bands.select(*prior.columns))
        cand = (
            bands.alias("nb")
            .join(
                allb.alias("ob"),
                (F.col("nb.band_idx") == F.col("ob.band_idx"))
                & (F.col("nb.band_val") == F.col("ob.band_val"))
                & (F.col("ob.key") < F.col("nb.key")),
            )
            .select(
                F.col("nb.key").alias("new_key"),
                F.col("ob.key").alias("old_key"),
                F.col("nb.b0").alias("a0"), F.col("nb.b1").alias("a1"),
                F.col("nb.b2").alias("a2"), F.col("nb.b3").alias("a3"),
                F.col("ob.b0").alias("c0"), F.col("ob.b1").alias("c1"),
                F.col("ob.b2").alias("c2"), F.col("ob.b3").alias("c3"),
            )
            .distinct()
        )
        dups = (
            cand.withColumn("hamming", F.expr(_HAMMING))
            .filter(F.col("hamming") <= _PHASH_HAMMING_MAX)
            .groupBy("new_key")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumnRenamed("new_key", "key")
        )
        verdicts = (
            fp.select("key", "doc_id", "variant")
            .join(dups, "key", "left")
            .select(
                "key", "doc_id", "variant",
                F.coalesce("n", F.lit(0)).cast("long").alias("n_dup_prior"),
                F.when(F.coalesce("n", F.lit(0)) > 0, "drop")
                .otherwise("keep")
                .alias("verdict"),
            )
        )
        out.append(epoch_id, verdicts)
        store.append(epoch_id, bands.select(*prior.columns, "pb"))
        bands.unpersist()

    drain(
        spark.readStream.schema("doc_id bigint, variant string, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(probe_and_index),
        os.path.join(base, "ckpt"), 300, "pHash dedup",
    )
    return spark.read.parquet(out.root).select(
        "key", "doc_id", "variant", "n_dup_prior", "verdict"
    )


# ------- Streaming incremental containment landmark store (r15 preview) ---
#
# The containment triad's streaming form: audio clips arrive in ordered
# drops; each foreachBatch decodes its batch's REAL WAV bytes to
# positional energy landmarks, probes a landmark store PARTITIONED by
# hash(shingle) mod k for earlier keys sharing 3-gram landmarks, votes
# offsets against those earlier keys only, and emits one-sided
# containment verdicts (ka = earlier key, kb = later key — exactly the
# batch query's a.key < b.key orientation, so the drained union must
# reproduce dedup_audio_contained's kept set regardless of arrival
# order). Pytest-certified this round (tests/test_round15_ops.py);
# rides the r16 FRESH window as a registered query per COVERAGE.md's
# r16 plan.

LAST_LMK_STORE: dict = {}


def _landmark_probe_contained(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 3,
    store_k: int = 8,
    payloads_path: str | None = None,
    n_docs: int = 200,
) -> DataFrame:
    """``payloads_path``/``n_docs`` let overlay tests drive the SAME probe
    over a synthetic corpus (e.g. the hot-silence overlay); the
    registered query always uses the staged fixture corpus defaults."""
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        _cap_hot_landmarks,
        _decode_payloads,
        _frame_shingles,
    )
    from apache_hive_1_2_2_src_spark.extensions.multimodal import (
        stage_audio_clip_payloads,
        wav_energy_frames,
    )

    base = scratch_dir("slmk")
    inbox = os.path.join(base, "inbox")
    store = EpochStore(os.path.join(base, "lmk_store"), "pb", store_k)
    counts = EpochStore(os.path.join(base, "counts"))
    out = EpochStore(os.path.join(base, "verdicts"))
    LAST_LMK_STORE["store"] = store.root
    LAST_LMK_STORE["store_k"] = store_k

    pay = spark.read.parquet(
        payloads_path or stage_audio_clip_payloads(spark, sf_dir)
    )
    stage_drops(
        pay.withColumn("drop", range_drop("doc_id", n_docs, n_batches)),
        n_batches, inbox,
    )

    def probe_and_index(batch: DataFrame, epoch_id: int) -> None:
        sp = batch.sparkSession
        fsig = _decode_payloads(
            batch, "aclip",
            lambda buf: enumerate(map(str, wav_energy_frames(buf))),
            ("t int", "sig string"),
        )
        sh = (
            _frame_shingles(fsig, 3, ":")
            .withColumn(
                "pb",
                F.pmod(F.xxhash64(F.col("shingle")), F.lit(store_k)),
            )
            .persist()
        )
        # partition-pruned probe: only the batch's own pb buckets. That
        # the pruning actually holds at the FILE level is gated post-drain
        # by the bytes-ratio test (assert_prune_ratio over the real store
        # in tests/test_round15_ops.py) — an in-batch input_file_name
        # check against pb dirs would be vacuous here, since the .where()
        # already constrains surviving rows.
        prior = store.prior(
            sp, epoch_id, "key bigint, t int, shingle string",
            _distinct(sh, "pb") if store.exists() else [],
        )
        # earlier = the store plus same-batch smaller keys: verdicts see
        # exactly the strictly-earlier key set, so arrival order is
        # invisible (the pHash-store device)
        earlier = prior.withColumn("is_new", F.lit(False)).unionByName(
            sh.select("key", "t", "shingle").withColumn(
                "is_new", F.lit(True)
            )
        )
        # hot-landmark cap: the batch query's _cap_hot_landmarks over
        # the prefix (SCALE.md's measured ~449,000x silence overlay):
        # drop probe rows whose landmark's SO-FAR document frequency
        # (store rows in the batch's pb buckets + this batch — complete
        # per landmark, since pb = hash(shingle) co-locates every
        # occurrence) exceeds the cap. The landmark STORE keeps hot rows
        # so later batches still see true prefix df; on a hot-free
        # corpus this equals the batch query's global cap exactly (the
        # oracle's batch-replay pins certify it), while a landmark that
        # turns hot mid-stream stops matching from that batch on — the
        # bounded-state trade every no-retraction incremental index
        # makes.
        cool = _cap_hot_landmarks(earlier)
        votes = (
            cool.filter(F.col("is_new")).alias("nb")
            .join(
                cool.alias("ob"),
                (F.col("nb.shingle") == F.col("ob.shingle"))
                & (F.col("ob.key") < F.col("nb.key")),
            )
            .groupBy(
                F.col("ob.key").alias("ka"),
                F.col("nb.key").alias("kb"),
                (F.col("ob.t") - F.col("nb.t")).alias("off"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = (
            votes.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("ka", "kb").orderBy(
                        F.col("cnt").desc(), F.abs("off"), F.col("off")
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select("ka", "kb", F.col("off").alias("best_off"))
        )
        tot = votes.groupBy("ka", "kb").agg(F.sum("cnt").alias("n_match"))
        # per-key landmark counts: ONE row per key, so the counts store
        # is metastore-sized (|corpus| rows) and the full read below is
        # metadata, unlike the landmark store whose reads must prune.
        # Counts range over the key's COOL landmarks (cap mirrored from
        # the batch query: nsa/nsb denominators count informative
        # landmarks only, frozen at insertion time).
        batch_counts = (
            cool.filter(F.col("is_new"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        all_counts = counts.prior(
            sp, epoch_id, "key bigint, n_sh bigint"
        ).unionByName(batch_counts)
        kept = (
            best.join(tot, ["ka", "kb"])
            .join(
                all_counts.select(
                    F.col("key").alias("ka"), F.col("n_sh").alias("nsa")
                ),
                "ka",
            )
            .join(
                all_counts.select(
                    F.col("key").alias("kb"), F.col("n_sh").alias("nsb")
                ),
                "kb",
            )
            .filter(2 * F.col("n_match") >= F.least("nsa", "nsb"))
            .select(
                "ka", "kb", "best_off",
                F.col("n_match").cast("long").alias("n_match"),
                F.when(
                    2 * F.col("n_match") >= F.greatest("nsa", "nsb"),
                    F.lit("neardup"),
                ).otherwise(F.lit("contained")).alias("relation"),
                (F.col("n_match") == F.least("nsa", "nsb")).alias("full"),
            )
        )
        out.append(epoch_id, kept)
        counts.append(epoch_id, batch_counts.coalesce(1))
        store.append(epoch_id, sh.select("key", "t", "shingle", "pb"))
        sh.unpersist()

    drain(
        spark.readStream.schema("doc_id bigint, variant string, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(inbox)
        .writeStream.foreachBatch(probe_and_index),
        os.path.join(base, "ckpt"), 300, "landmark containment",
    )
    return spark.read.parquet(out.root).select(
        "ka", "kb", "best_off", "n_match", "relation", "full"
    )


def _stream_contained_oracle() -> str:
    # Pair-level one-batch replay: the drained union of per-epoch kept
    # frames must equal the BATCH containment verdict set exactly —
    # arrival order, drop count, and store partitioning all invisible.
    from apache_hive_1_2_2_src_spark.extensions.dedup import (
        _AUDIO_CLIP_CTES,
        _containment_sql,
    )

    return _AUDIO_CLIP_CTES + _containment_sql() + """
    SELECT ka, kb, CAST(best_off AS INTEGER) AS best_off,
           CAST(n_match AS BIGINT) AS n_match,
           CASE WHEN 2 * n_match >= GREATEST(nsa, nsb) THEN 'neardup'
                ELSE 'contained' END AS relation,
           n_match = LEAST(nsa, nsb) AS "full"
    FROM kept
    """


@register(
    "streaming_dedup_contained_incremental",
    oracle=_stream_contained_oracle(),
    doc="STREAMING clip containment — the containment triad's "
    "incremental form (the landmark twin of streaming_dedup_phash_"
    "incremental): audio clips arrive in three ordered drops; each "
    "foreachBatch decodes its batch's REAL WAV bytes to positional "
    "energy landmarks, 3-gram shingles them, probes a landmark store "
    "PARTITIONED by hash(shingle) mod k for earlier keys (probe reads "
    "bytes-ratio-gated at 24.6% measured for a 2-of-8 probe — "
    "tests/test_round15_ops.py), votes offsets against strictly-"
    "earlier keys only, and emits one-sided containment verdicts in "
    "the batch query's (ka < kb) orientation. The hash oracle is the "
    "PAIR-LEVEL batch replay: the drained union must equal "
    "dedup_audio_contained's kept set exactly — arrival order, drop "
    "count (pinned 1-drop == 3-drop), and store partitioning are all "
    "invisible, cross-drop pairs included (doc 133's stolen excerpt "
    "arrives a drop before its doc-134 container). Scale: per-drop "
    "cost is O(|batch| x shingle-bucket density), never O(|corpus|); "
    "the per-key counts store is metastore-sized; hot landmarks "
    "(silence spans — SCALE.md's measured ~449,000x overlay) are "
    "capped IN PLAN at so-far df <= 64 over store+batch, mirroring "
    "the batch query's _cap_hot_landmarks. PRECONDITION for the "
    "pair-level oracle equality: the fixture corpus is hot-FREE (no "
    "landmark's global df exceeds 64) — on a corpus with a globally-"
    "hot landmark the so-far cap diverges from the batch query's "
    "global cap (early batches still match a landmark whose PREFIX "
    "df <= 64), the bounded-state trade every no-retraction index "
    "makes; the synthetic hot-silence overlay covering that branch "
    "lives in tests/test_round16_ops.py, so a fixture change that "
    "introduces a hot landmark shows up here first.",
    tags=(
        "streaming", "dedup", "multimodal", "temporal", "incremental",
        "foreachbatch",
    ),
)
def streaming_dedup_contained_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _landmark_probe_contained(spark, sf_dir, n_batches=3)
