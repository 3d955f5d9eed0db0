"""ACID table emulation: base + delta merge-on-read, minor and major
compaction (SURVEY §1.1's one deliberate architecture swap, completed).

Hive 1.2.2's transactional tables store a ``base_N/`` snapshot plus
``delta_M_M/`` directories of row-versioned edits; every read merges them
(reference anchors: ``ql/io/AcidUtils.java`` — directory resolution,
``ql/io/orc/OrcRawRecordMerger.java`` — (txnid, bucket, rowid) merge with
highest-transaction-wins + delete tombstones, ``ql/txn/compactor/Worker.java``
— minor/major compaction). The Spark-native answer is the Delta/Iceberg
shape: the SAME algebra expressed as a union + per-key argmax over a
version column — no lock manager needed for the read path, and Catalyst
plans the merge as one shuffle with map-side partial ``max_by``.

Round 9 makes the directory half REAL: every query materializes the edit
history as an actual ``base_0/ + delta_1_1/ + delta_2_2/`` parquet tree
(versions live in the directory NAMES, not the files) and reads it back
through ``resolve_acid_state()`` — highest-base selection, covered-delta
elimination, widest-range preference, junk-dir filtering — the parts of
``AcidUtils.getAcidState`` with historical bugs, now exercised against
files on disk (tests/test_acid_dirs.py pins each rule in isolation).

Three registered queries certify the three halves of the story:

- ``acid_read_compacted``   — merge-on-read: resolve the tree, merge
  base ∪ delta_1_1 ∪ delta_2_2, highest version wins per key, delete
  tombstones drop the row, the ``_tmp_junk`` decoy is skipped.
- ``acid_minor_compaction`` — the compactor reads the delta chain from
  disk, writes ``delta_1_2/`` BESIDE the originals (the cleaner, not the
  compactor, removes them later); the re-read must prefer the widest
  range or edits double-apply. Same oracle, hash-checked.
- ``acid_major_compaction`` — materialize the merged snapshot as
  ``base_2/`` inside the tree, leave the stale ``base_0/`` + deltas in
  place, re-resolve: only ``base_2`` may be read — a leaking stale base
  is hash-visible. Proves compaction is a pure rewrite.

Determinism: the edit batches derive from ``orders`` by integer-modulus
rules evaluated identically in Spark and the DuckDB oracle CTEs (no rand,
no time); money flows through DECIMAL(18,2) (registry.py rules).

Txn visibility (r14, VERDICT r13 item 4): ``resolve_acid_state`` and
``read_acid_table`` now take an optional ``ValidTxnList`` — the
high-watermark + exception-txn form of ``ValidReadTxnList`` that
``AcidUtils.getAcidState`` receives from the metastore's transaction
manager. A base is selectable only if its txn is valid; a delta survives
only if its txn range contains at least one valid txn
(``isTxnRangeValid != NONE``), so deltas written by ABORTED txns and
deltas above the watermark (OPEN writers) are invisible to readers.
``acid_txn_visibility`` certifies it against a tree containing both an
aborted and an open delta. What still is NOT carried is the live
lock/txn MANAGER itself (lock queues, heartbeats — SURVEY §1.1
architecture swap): the ValidTxnList is an input here, exactly as it is
an input to getAcidState in the reference. A real deployment replaces
the whole mechanism with a snapshot-isolation table format
(Delta Lake / Iceberg), where an aborted writer never publishes a
snapshot — strictly stronger than read-time filtering.

Scale (100 TB): the merge shuffles once on the row key; at cluster scale
the base is bucketed on the key so merge-on-read co-locates shuffle-free
(the ``bucketed_smb_join`` layout), and deltas stay small between
compactions — exactly why Hive compacts. ``max_by(struct, ver)`` carries a
map-side partial, so shuffle volume is ~|distinct keys touched|, not
~|rows x versions|. Delete tombstones cost one filter, no extra pass.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.operators.helpers import dec
from apache_hive_1_2_2_src_spark.registry import register
from apache_hive_1_2_2_src_spark.sources.io import _tmp
from apache_hive_1_2_2_src_spark.tables import hadoop_fs, load_table

# The shared edit-batch derivation (modulus rules — see module docstring):
#   delta v1: key%7==0 -> UPDATE price+10 ; key%7==1 -> DELETE
#   delta v2: key%21==0 -> DELETE (tombstone over the v1 update)
#             key%7==1 AND key%2==0 -> UPSERT back (status 'R', price 42.00)
_ACID_CTES = """
    base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p, 0 AS ver, 'U' AS op
      FROM orders
    ),
    d1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10
                            AS DECIMAL(18,2)) END AS p,
             1 AS ver,
             CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE 'D' END AS op
      FROM orders WHERE o_orderkey % 7 IN (0, 1)
    ),
    d2 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 21 = 0 THEN o_orderstatus ELSE 'R' END AS st,
             CASE WHEN o_orderkey % 21 = 0 THEN NULL
                  ELSE CAST(42.00 AS DECIMAL(18,2)) END AS p,
             2 AS ver,
             CASE WHEN o_orderkey % 21 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
      WHERE o_orderkey % 21 = 0 OR (o_orderkey % 7 = 1 AND o_orderkey % 2 = 0)
    )
"""

# Merge-on-read + verdict aggregate: one row per surviving key's latest
# version, reconciled per status (count, exact decimal total, key span).
_ACID_ORACLE = f"""
    WITH {_ACID_CTES},
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
    ),
    latest AS (
      SELECT k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DOUBLE) AS sum_price,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY st
"""


def _acid_versions(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Base snapshot + the two derived delta batches (k, st, p, ver, op)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        dec("o_totalprice").alias("p"),
        F.lit(0).alias("ver"),
        F.lit("U").alias("op"),
    )
    d1 = o.filter(F.col("o_orderkey") % 7 < 2).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            (dec("o_totalprice") + 10).cast("decimal(18,2)"),
        ).alias("p"),
        F.lit(1).alias("ver"),
        F.when(F.col("o_orderkey") % 7 == 0, "U").otherwise("D").alias("op"),
    )
    d2 = o.filter(
        (F.col("o_orderkey") % 21 == 0)
        | ((F.col("o_orderkey") % 7 == 1) & (F.col("o_orderkey") % 2 == 0))
    ).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 21 == 0, F.col("o_orderstatus"))
        .otherwise(F.lit("R"))
        .alias("st"),
        F.when(
            F.col("o_orderkey") % 21 == 0, F.lit(None).cast("decimal(18,2)")
        )
        .otherwise(F.lit("42.00").cast("decimal(18,2)"))
        .alias("p"),
        F.lit(2).alias("ver"),
        F.when(F.col("o_orderkey") % 21 == 0, "D").otherwise("U").alias("op"),
    )
    return base, d1, d2


_BASE_RE = re.compile(r"^base_(\d+)$")
_DELTA_RE = re.compile(r"^delta_(\d+)_(\d+)$")


@dataclass(frozen=True)
class ValidTxnList:
    """``ValidReadTxnList`` semantics (reference anchor: common/.../
    ValidReadTxnList.java, consumed by AcidUtils.getAcidState): a txn is
    visible iff it is at or below the high-watermark and not in the
    exception list (exceptions = txns open or aborted at snapshot time).
    A delta directory's range is readable iff at least one txn in it is
    visible (``isTxnRangeValid != NONE`` — a compacted delta_M1_M2 holds
    only data that was committed when the compactor ran, so partial
    validity suffices)."""

    high_watermark: int
    exceptions: frozenset = frozenset()

    def is_valid(self, txn: int) -> bool:
        return txn <= self.high_watermark and txn not in self.exceptions

    def is_range_valid(self, mn: int, mx: int) -> bool:
        # Arithmetic, never O(range-width): the range holds a visible txn
        # iff it reaches below the watermark and the exceptions falling
        # inside it don't cover every id (ADVICE r14 — a compacted delta
        # can span millions of txn ids; the reference ValidReadTxnList
        # answers isTxnRangeValid from the sorted exceptions array).
        hi = min(mx, self.high_watermark)
        if mn > hi:
            return False
        in_range = sum(1 for e in self.exceptions if mn <= e <= hi)
        return (hi - mn + 1) > in_range


def resolve_acid_state(
    spark: SparkSession,
    table_path: str,
    txn_list: ValidTxnList | None = None,
) -> tuple[str | None, int, list[tuple[int, int, str]]]:
    """``AcidUtils.getAcidState`` directory resolution over a REAL tree
    (reference anchor: ql/io/AcidUtils.java): pick the highest ``base_N``;
    a delta is obsolete if its whole txn range is covered by that base or
    by an already-selected wider delta (minor compaction leaves
    ``delta_1_1`` and ``delta_2_2`` beside the ``delta_1_2`` it produced
    until the cleaner runs — readers must prefer the widest range, never
    double-count); anything not matching ``base_N``/``delta_M1_M2``
    (staging dirs, _tmp junk) is ignored. With ``txn_list`` (r14), bases
    from invalid txns and deltas whose whole range is invisible
    (aborted, or open above the watermark) are dropped BEFORE the
    covered-delta elimination — getAcidState's txn-list-aware form.

    Returns ``(base_dirname | None, base_txn, [(min, max, dirname), …])``
    with the surviving deltas in txn order.
    """
    _, fs, P = hadoop_fs(spark, table_path)
    root = P(table_path)
    if not fs.exists(root):
        raise FileNotFoundError(table_path)
    names = [
        st.getPath().getName() for st in fs.listStatus(root) if st.isDirectory()
    ]
    return _resolve_from_names(names, txn_list)


def _resolve_from_names(
    names: list[str], txn_list: ValidTxnList | None = None
) -> tuple[str | None, int, list[tuple[int, int, str]]]:
    """The pure AcidUtils.getAcidState algebra over a listed name set —
    shared by the flat resolver above (one listStatus) and the
    partitioned reader's BULK listing (one glob for the whole tree,
    r18)."""
    bases: list[tuple[int, str]] = []
    deltas: list[tuple[int, int, str]] = []
    for nm in names:
        if m := _BASE_RE.match(nm):
            bases.append((int(m.group(1)), nm))
        elif m := _DELTA_RE.match(nm):
            deltas.append((int(m.group(1)), int(m.group(2)), nm))
    if txn_list is not None:
        bases = [b for b in bases if txn_list.is_valid(b[0])]
        deltas = [d for d in deltas if txn_list.is_range_valid(d[0], d[1])]
    base_txn, base_dir = max(bases) if bases else (-1, None)
    live = sorted(
        (d for d in deltas if d[1] > base_txn), key=lambda d: (d[0], -d[1])
    )
    chosen: list[tuple[int, int, str]] = []
    covered = base_txn
    for mn, mx, nm in live:
        if mx <= covered:
            continue  # contained in the base or a wider already-chosen delta
        chosen.append((mn, mx, nm))
        covered = mx
    return base_dir, base_txn, chosen


def _glob_escape(path: str) -> str:
    """Backslash-escape Hadoop-glob metacharacters (`* ? [ ] { } \\`) so a
    LITERAL directory path reads as itself through ``spark.read`` — which
    glob-interprets every path it is handed. Partition VALUES are safe
    (Hive escapePathName percent-encodes glob chars on write); the table
    root is the only place raw metacharacters can appear (ADVICE r18: a
    `b[1]acid` root silently matched nothing, or worse, its `b1acid`
    char-class neighbor)."""
    return re.sub(r"([*?\[\]{}\\])", r"\\\1", path)


def read_acid_table(
    spark: SparkSession,
    table_path: str,
    txn_list: ValidTxnList | None = None,
) -> DataFrame:
    """Merge-on-read over a real base/delta directory tree: resolve the
    live directories (resolve_acid_state — honoring ``txn_list`` when
    given, so aborted/open deltas never reach the merge), attach each
    row's version from its DIRECTORY name (base_N → N, delta_M1_M2 → M2
    — the files themselves carry only (k, st, p, op), like Hive's
    txn-id-in-the-path layout), then highest-version-wins merge with one
    shuffle."""
    base_dir, base_txn, deltas = resolve_acid_state(spark, table_path, txn_list)
    parts: list[DataFrame] = []
    if base_dir is not None:
        parts.append(
            spark.read.parquet(_glob_escape(f"{table_path}/{base_dir}")).withColumn(
                "ver", F.lit(base_txn)
            )
        )
    if deltas:
        # ONE relation over all surviving deltas, version derived from the
        # directory name each row was read from (delta_M1_M2 -> M2 — the
        # identical value the resolver's mx carries). The previous
        # one-read-PER-delta form built a plan node pair per directory:
        # measured 20.6 s DataFrame build / 611 plan lines at 300 deltas
        # (~69 ms/delta, the r10 bucket-map-join driver-cost class) —
        # and hundreds of deltas is the NORMAL state of a streaming-
        # ingested table between compactions, exactly when read cost
        # matters most (SCALE.md §ACID delta-count audit).
        dpaths = [_glob_escape(f"{table_path}/{nm}") for _mn, _mx, nm in deltas]
        raw = F.regexp_extract(F.input_file_name(), r"/delta_\d+_(\d+)/[^/]*$", 1)
        # Loud guard (ADVICE r11): a file NOT directly under its
        # delta_M1_M2 dir (nested subdir, empty input_file_name) yields ''
        # here; cast('long') would turn that into NULL and the desc-sort
        # merge would silently DROP that delta's updates (nulls sort last).
        # raise_error at scan time instead — an unparseable layout must
        # never produce a quietly stale snapshot.
        ver = F.when(
            raw == "",
            F.expr(
                "raise_error(concat('read_acid_table: cannot derive delta "
                "version from file path: ', input_file_name()))"
            ).cast("string"),
        ).otherwise(raw).cast("long")
        parts.append(spark.read.parquet(*dpaths).withColumn("ver", ver))
    if not parts:
        raise FileNotFoundError(f"no base_N/delta_M_M dirs under {table_path}")
    return _merge_latest(*parts)


def materialize_acid_layout(spark: SparkSession, sf_dir: str, path: str) -> str:
    """Write the derived edit history as a REAL Hive-ACID-shaped tree:
    ``base_0/`` + ``delta_1_1/`` + ``delta_2_2/`` parquet dirs whose files
    hold (k, st, p, op) — versions live in the directory names — plus a
    ``_tmp_junk`` decoy dir the resolver must ignore. The tree is rebuilt
    from scratch each call (the compaction queries mutate it)."""
    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    base, d1, d2 = _acid_versions(spark, sf_dir)
    base.drop("ver").write.parquet(f"{path}/base_0")
    d1.drop("ver").write.parquet(f"{path}/delta_1_1")
    d2.drop("ver").write.parquet(f"{path}/delta_2_2")
    # AcidUtils ignores non-acid names (staging/tmp); prove it with a decoy
    # whose schema would break the union if it leaked into the merge.
    spark.range(3).write.parquet(f"{path}/_tmp_junk")
    return path


def _merge_latest(*versions: DataFrame, keys: tuple[str, ...] = ("k",)) -> DataFrame:
    """Highest-version-wins merge (OrcRawRecordMerger semantics): one
    shuffle on the row key(s); max_by(struct) keeps the partial-aggregation
    map-side combine, so shuffle volume is ~|keys|, not ~|rows x deltas|.
    For a partitioned table the key is (partition, k) — a row id is only
    unique within its partition, exactly Hive's (origTxn, bucket, rowId)
    scoping."""
    allv = versions[0]
    for v in versions[1:]:
        allv = allv.unionByName(v)
    return (
        allv.groupBy(*keys)
        .agg(F.max_by(F.struct("op", "st", "p"), F.col("ver")).alias("w"))
        .select(*keys, "w.op", "w.st", "w.p")
        .filter(F.col("op") != "D")
    )


def _verdict(snapshot: DataFrame) -> DataFrame:
    return snapshot.groupBy(F.col("st").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p").cast("double").alias("sum_price"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


@register(
    "acid_read_compacted",
    oracle=_ACID_ORACLE,
    doc="ACID merge-on-read over a REAL directory tree (ql/io/AcidUtils."
    "java getAcidState + ql/io/orc/OrcRawRecordMerger.java highest-txn-"
    "wins): the derived edit history is materialized as base_0/ + "
    "delta_1_1/ + delta_2_2/ parquet dirs (files carry only the row data; "
    "versions come from the DIRECTORY names, plus a _tmp_junk decoy the "
    "resolver must skip), then resolved by directory listing and merged "
    "with ONE shuffle via groupBy(key).max_by(struct, version); tombstone "
    "winners drop. The verdict aggregate (per-status count, exact decimal "
    "total, key span) shifts if a tombstone leaks, an update double-"
    "applies, a resurrected key is lost, or the resolver reads a wrong "
    "dir. Oracle replays the identical version algebra with a ROW_NUMBER "
    "window in DuckDB.",
    tags=("workload", "acid", "merge"),
)
def acid_read_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout(spark, sf_dir, _tmp("acid_read_table"))
    return _verdict(read_acid_table(spark, table))


@register(
    "acid_minor_compaction",
    oracle=_ACID_ORACLE,
    doc="MINOR compaction (ql/txn/compactor/Worker.java, minor mode): "
    "collapse the delta chain into one delta — per-key argmax over the "
    "DELTAS ONLY, tombstones kept (they must still mask base rows!) — "
    "then merge base ∪ compacted-delta. Registered against the SAME "
    "oracle as acid_read_compacted: hash-equality certifies the algebra "
    "compact(d1,d2) ∘ merge(base) ≡ merge(base,d1,d2), i.e. minor "
    "compaction never changes a read. Round 9 runs it over the REAL tree: "
    "the compactor reads delta_1_1/ + delta_2_2/, writes delta_1_2/ "
    "BESIDE them (Hive's cleaner removes the narrow deltas later, not the "
    "compactor), and the re-read's resolver must prefer the widest range "
    "— selecting delta_1_2 and skipping both covered originals, or every "
    "edit double-applies. Two subtle bugs pinned: dropping tombstones "
    "during minor compaction (they still mask base rows) resurrects every "
    "deleted key; reading narrow+wide deltas together double-counts.",
    tags=("workload", "acid", "compaction"),
)
def acid_minor_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout(spark, sf_dir, _tmp("acid_minor_table"))
    # The compactor's input is the resolved delta CHAIN from disk; version
    # still comes from each directory name.
    d1 = spark.read.parquet(f"{table}/delta_1_1").withColumn("ver", F.lit(1))
    d2 = spark.read.parquet(f"{table}/delta_2_2").withColumn("ver", F.lit(2))
    # Deltas-only argmax — keep tombstones (filter op != 'D' here would be
    # the resurrect-deleted-keys bug).
    compacted = (
        d1.unionByName(d2)
        .groupBy("k")
        .agg(F.max_by(F.struct("op", "st", "p"), F.col("ver")).alias("w"))
        .select("k", "w.op", "w.st", "w.p")
    )
    compacted.write.parquet(f"{table}/delta_1_2")
    return _verdict(read_acid_table(spark, table))


@register(
    "acid_major_compaction",
    oracle=_ACID_ORACLE,
    doc="MAJOR compaction (ql/txn/compactor/Worker.java, major mode): "
    "materialize the merged snapshot as the NEW base_2/ INSIDE the table "
    "tree (parquet rewrite — tombstones and overwritten versions "
    "physically gone), leaving the stale base_0/ and both delta dirs in "
    "place exactly as Hive does until the cleaner runs, then re-resolve "
    "and re-read. Same oracle as acid_read_compacted: hash-equality "
    "across the write+read roundtrip proves compaction is a pure rewrite "
    "AND that the resolver picks the highest base while discarding the "
    "stale base and every delta the new base covers — the historical "
    "AcidUtils bug class (old base_N leaking after major compaction) is "
    "hash-visible. At 100 TB the rewrite is partitioned + bucketed on the "
    "key so post-compaction reads prune AND co-locate.",
    tags=("workload", "acid", "compaction", "sink"),
)
def acid_major_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout(spark, sf_dir, _tmp("acid_major_table"))
    read_acid_table(spark, table).write.parquet(f"{table}/base_2")
    # Stale base_0/, delta_1_1/, delta_2_2/ still on disk: the re-read's
    # resolution must see ONLY base_2 (highest base, all deltas <= 2).
    return _verdict(read_acid_table(spark, table))


def read_acid_table_partitioned(
    spark: SparkSession, table_path: str, part_col: str
) -> DataFrame:
    """Merge-on-read over Hive's REAL partitioned transactional layout —
    ``table/<part_col>=<v>/{base_N, delta_M1_M2}/files`` (AcidUtils
    resolves state PER PARTITION; a partition is the unit of
    base/delta bookkeeping, reference anchor ql/io/AcidUtils.java +
    ql/metadata/Partition.java). Resolution runs per partition dir
    (16-way parallel listings, flat in p); the READ is two relations
    total regardless of p·deltas — one over every surviving base dir,
    one over every surviving delta dir — with BOTH the version AND the
    partition value derived from ``input_file_name()`` (base_N → N,
    delta_M1_M2 → M2; the partition value is %xx-unescaped, with '+'
    pre-escaped so url_decode cannot turn a literal plus into a space;
    ``__HIVE_DEFAULT_PARTITION__`` maps back to NULL). Unparseable
    paths raise loudly (same guard class as the flat reader). The merge
    keys on (partition, k): one shuffle, map-side max_by partial.

    Listing is HYBRID (r18): one root listStatus counts the partition
    dirs; at most ``_SMALL_TREE_PARTS`` of them resolve with direct
    per-partition listStatus (sub-100 ms, no job overhead — the common
    registered-query shape), while larger trees switch to ONE
    distributed listing job so driver py4j cost stays O(1) and object-
    store LIST calls fan out across executors (SCALE.md r18: the pooled
    form cost 5.0 s of driver-bound round trips at p=1000)."""
    # BULK listing (r18): the r17 form resolved each partition with its
    # own listStatus through a 16-way Python thread pool — ~10 py4j round
    # trips per partition, GIL-contended, measured 13.6 s at p=1000
    # (SCALE.md r18). ONE distributed listing job now enumerates every
    # leaf file of the tree (binaryFile source with only the `path`
    # column selected — content pruned, never read; executors fan the
    # LIST calls out, exactly Spark's own InMemoryFileIndex pattern, so
    # this also parallelizes on an object store), and the per-partition
    # getAcidState algebra runs in Python over the grouped dir names.
    # py4j cost is O(1); driver holds one string per leaf file —
    # metadata-scale, the same thing every Spark scan's file index holds.
    # Two deviations from the listStatus form, both pathological: an acid
    # dir with ZERO files is invisible (our writers always emit at least
    # one part file, even for 0-row frames), and a FILE named like an
    # acid dir would be picked up (nothing creates those).
    prefix = f"{part_col}="
    _, fs, P = hadoop_fs(spark, table_path)
    root = P(table_path)
    if not fs.exists(root):
        raise FileNotFoundError(table_path)
    pdirs = [
        st.getPath().getName()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    ]
    if not pdirs:
        raise FileNotFoundError(f"no {part_col}= partition dirs under {table_path}")
    if len(pdirs) <= _SMALL_TREE_PARTS:
        base_paths, delta_paths = [], []
        for d in sorted(pdirs):
            base_dir, _txn, deltas = resolve_acid_state(
                spark, f"{table_path}/{d}"
            )
            if base_dir is not None:
                base_paths.append(f"{table_path}/{d}/{base_dir}")
            delta_paths += [f"{table_path}/{d}/{nm}" for _mn, _mx, nm in deltas]
        return _partitioned_merge(spark, table_path, part_col, base_paths,
                                  delta_paths)
    # Hadoop glob semantics: `* ? [ ] { }` (and backslash) in the PATTERN
    # are metacharacters. Partition values are safe — Hive/Spark
    # escapePathName percent-encodes glob chars on write — but a raw
    # table_path containing one would silently match nothing (ADVICE r18).
    # Backslash-escape the table_path portion so it always matches itself
    # literally; only the trailing `{prefix}*/*` stays a glob.
    glob_root = _glob_escape(table_path)
    try:
        leaf = (
            spark.read.format("binaryFile")
            .load(f"{glob_root}/{prefix}*/*")
            .select("path")
            .collect()
        )
    except Exception as exc:
        # The partition dirs were just confirmed to exist via listStatus,
        # so a failure HERE is the listing job itself (permissions, FS
        # outage, classpath) — say that, not "no partition dirs" (ADVICE
        # r18: the misdiagnosis sent operators hunting a layout problem).
        raise RuntimeError(
            f"distributed listing of {table_path} failed (partition dirs "
            f"exist; the binaryFile listing job errored)"
        ) from exc
    children: dict[str, set[str]] = {}
    for row in leaf:
        # binaryFile's path column is Hadoop Path.toString — the RAW
        # on-disk name behind a scheme prefix, NOT url-encoded (unlike
        # input_file_name()), so Hive-escaped dir names like
        # pt=x%25y%3Dz must pass through UNDECODED: strip the scheme
        # textually, never url-decode (the r18 first cut unquoted and
        # double-decoded the partition dir — path-not-found on read).
        raw = re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", "", row["path"])
        segs = raw.rstrip("/").split("/")
        # .../<pt=v>/<acid dir>/<leaf file>
        children.setdefault(segs[-3], set()).add(segs[-2])
    children = {d: v for d, v in children.items() if d.startswith(prefix)}
    if not children:
        raise FileNotFoundError(f"no {part_col}= partition dirs under {table_path}")
    base_paths, delta_paths = [], []
    for d in sorted(children):
        base_dir, _txn, deltas = _resolve_from_names(sorted(children[d]))
        if base_dir is not None:
            base_paths.append(f"{table_path}/{d}/{base_dir}")
        delta_paths += [f"{table_path}/{d}/{nm}" for _mn, _mx, nm in deltas]
    return _partitioned_merge(spark, table_path, part_col, base_paths,
                              delta_paths)


# Partition-count threshold for the hybrid listing above: at or below it,
# direct per-partition listStatus beats launching a listing job (the job
# pays ~0.3-0.5 s of scheduling for ANY tree; 32 sequential listStatus
# calls cost ~50 ms locally and one pooled LIST burst on an object store).
_SMALL_TREE_PARTS = 32


def _partitioned_merge(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    base_paths: list[str],
    delta_paths: list[str],
) -> DataFrame:
    """Build the two-relation merge over resolved base/delta dirs —
    shared tail of read_acid_table_partitioned's two listing paths."""

    def loud(raw, what):
        return F.when(
            raw == "",
            F.expr(
                f"raise_error(concat('read_acid_table_partitioned: cannot "
                f"derive {what} from file path: ', input_file_name()))"
            ).cast("string"),
        ).otherwise(raw)

    praw = loud(
        F.regexp_extract(
            F.input_file_name(), f"/{re.escape(part_col)}=([^/]+)/", 1
        ),
        "partition value",
    )

    # TWO decode layers: input_file_name() returns the URI-ENCODED path
    # (a literal '%' arrives as '%25'), and the on-disk dir name itself is
    # Hive-escapePathName-encoded ('%' in the VALUE is '%25' on disk).
    # Each decode protects literal '+' first — url_decode would turn it
    # into a space (form-encoding semantics Hive never uses). Probed and
    # pinned in tests/test_acid_dirs.py with a 'x%y=z' partition value.
    def undec(c):
        return F.url_decode(F.replace(c, F.lit("+"), F.lit("%2B")))

    pdec = undec(undec(praw))
    part = F.when(pdec == "__HIVE_DEFAULT_PARTITION__", F.lit(None)).otherwise(pdec)
    parts: list[DataFrame] = []
    if base_paths:
        bver = loud(
            F.regexp_extract(F.input_file_name(), r"/base_(\d+)/[^/]*$", 1),
            "base version",
        ).cast("long")
        parts.append(
            spark.read.parquet(*[_glob_escape(p) for p in base_paths])
            .withColumn("ver", bver)
            .withColumn(part_col, part)
        )
    if delta_paths:
        dver = loud(
            F.regexp_extract(F.input_file_name(), r"/delta_\d+_(\d+)/[^/]*$", 1),
            "delta version",
        ).cast("long")
        parts.append(
            spark.read.parquet(*[_glob_escape(p) for p in delta_paths])
            .withColumn("ver", dver)
            .withColumn(part_col, part)
        )
    if not parts:
        raise FileNotFoundError(f"no base_N/delta_M_M dirs under {table_path}")
    return _merge_latest(*parts, keys=(part_col, "k"))


def materialize_acid_layout_partitioned(
    spark: SparkSession, sf_dir: str, path: str, part_col: str = "pt"
) -> str:
    """The derived edit history as a PARTITIONED transactional tree:
    ``pt=p{0,1,2}/`` dirs (pt = k % 3 — version-stable, so no row ever
    migrates partitions), each holding its own ``base_0 + delta_1_1 +
    delta_2_2``, plus a ``_tmp_junk`` decoy inside one partition AND a
    non-partition junk dir at the root — both must be ignored."""
    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    base, d1, d2 = _acid_versions(spark, sf_dir)
    for df, dname in ((base, "base_0"), (d1, "delta_1_1"), (d2, "delta_2_2")):
        tagged = df.withColumn("__pt", (F.col("k") % 3).cast("int"))
        for pt in range(3):
            tagged.filter(F.col("__pt") == pt).drop("__pt", "ver").write.parquet(
                f"{path}/{part_col}=p{pt}/{dname}"
            )
    spark.range(3).write.parquet(f"{path}/{part_col}=p1/_tmp_junk")
    spark.range(2).write.parquet(f"{path}/not_a_partition")
    return path


@register(
    "acid_read_partitioned",
    oracle=f"""
    WITH {_ACID_CTES},
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
    ),
    latest AS (
      SELECT k, st, p, op, 'p' || CAST(k % 3 AS VARCHAR) AS pt,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT pt, st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DOUBLE) AS sum_price,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY pt, st
    """,
    doc="ACID merge-on-read over Hive's PARTITIONED transactional layout "
    "(AcidUtils per-partition state + Partition.java: pt=p0/p1/p2 dirs "
    "each with their own base_0 + delta_1_1 + delta_2_2, a _tmp_junk "
    "decoy inside one partition and a non-partition junk dir at the "
    "root): per-partition resolution (16-way parallel listings), then "
    "TWO relations total — all bases, all surviving deltas — with "
    "version AND partition value both derived from input_file_name() "
    "(loud guards on unparseable paths), merged with one (pt, k) "
    "shuffle. Output reconciles the snapshot per (partition, status); "
    "the oracle replays the whole edit history. Plan size is constant "
    "in p·deltas — the r11 ACID plan-growth fix carried to the "
    "partitioned shape.",
    tags=("source", "acid", "partitioned"),
)
def acid_read_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout_partitioned(
        spark, sf_dir, _tmp("acid_part_tree")
    )
    snap = read_acid_table_partitioned(spark, table, "pt")
    return snap.groupBy("pt", F.col("st").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p").cast("double").alias("sum_price"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


@register(
    "acid_compact_partition",
    # Same oracle as acid_read_partitioned: hash-equality certifies that
    # compacting ONE partition is invisible to readers (compaction is a
    # pure rewrite) AND that resolution stays per-partition — a stale
    # base/delta leaking inside p1, or p0/p2 accidentally resolving
    # against p1's new base, shifts the per-partition aggregates.
    oracle=f"""
    WITH {_ACID_CTES},
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
    ),
    latest AS (
      SELECT k, st, p, op, 'p' || CAST(k % 3 AS VARCHAR) AS pt,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT pt, st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DOUBLE) AS sum_price,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY pt, st
    """,
    doc="Per-PARTITION major compaction (Worker.java runs one compaction "
    "job per partition; Initiator.java queues partitions independently): "
    "in the partitioned tree, partition pt=p1 alone is major-compacted — "
    "its merged snapshot written as pt=p1/base_3 with the stale base_0 "
    "and both deltas left in place — while p0/p2 keep their full "
    "base+delta chains. The re-read must produce the identical snapshot "
    "(same oracle as acid_read_partitioned): per-partition resolution "
    "picks p1's new base and ignores its covered dirs without touching "
    "the siblings' merge paths. At 100 TB this is the operational point "
    "of partitioned ACID — compaction debt is paid partition-by-"
    "partition, never as one table-wide rewrite.",
    tags=("workload", "acid", "compaction", "partitioned"),
)
def acid_compact_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout_partitioned(
        spark, sf_dir, _tmp("acid_part_compact")
    )
    # compact ONLY pt=p1: merged snapshot of that partition dir -> base_3
    read_acid_table(spark, f"{table}/pt=p1").write.parquet(
        f"{table}/pt=p1/base_3"
    )
    snap = read_acid_table_partitioned(spark, table, "pt")
    return snap.groupBy("pt", F.col("st").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p").cast("double").alias("sum_price"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    )


def materialize_acid_layout_bucketed(
    spark: SparkSession, sf_dir: str, path: str, n_buckets: int
) -> str:
    """The derived edit history as a BUCKETED transactional tree — Hive
    1.2's actual requirement (transactional tables MUST be CLUSTERED BY
    ... INTO N BUCKETS; every base_N/delta_M_M dir holds the positional
    bucket files hcatalog-streaming's TransactionBatch writes): base_0 +
    delta_1_1 + delta_2_2, each written through write_hive_bucketed on
    the row key, so file i of EVERY dir holds exactly Hive-bucket-i
    rows."""
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import (
        write_hive_bucketed,
    )

    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    base, d1, d2 = _acid_versions(spark, sf_dir)
    for df, dname in ((base, "base_0"), (d1, "delta_1_1"), (d2, "delta_2_2")):
        write_hive_bucketed(
            df.drop("ver"), "k", n_buckets, f"{path}/{dname}", kind="long"
        )
    return path


def read_acid_bucketed_point(
    spark: SparkSession,
    table_path: str,
    n_buckets: int,
    key_value,
    kind: str = "long",
) -> tuple[DataFrame, int]:
    """Point lookup on a bucketed ACID table: resolve the tree, open ONLY
    the key's positional bucket file in the base and in each surviving
    delta — (1 + |deltas|) files instead of (1 + |deltas|)·n — then run
    the usual highest-version merge on that slice. This is the composed
    read Hive's own point queries get from CLUSTERED BY + AcidUtils, and
    the reason transactional tables must be bucketed: at 100 TB a primary-
    key lookup touches ~KBs of base + a few delta files, never a scan.
    Returns (snapshot-of-key DataFrame, files_opened)."""
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import hive_bucket_of

    base_dir, base_txn, deltas = resolve_acid_state(spark, table_path)
    b = hive_bucket_of(key_value, n_buckets, kind)
    parts: list[DataFrame] = []
    n_files = 0
    if base_dir is not None:
        parts.append(
            spark.read.parquet(_glob_escape(f"{table_path}/{base_dir}/{b:06d}_0")).withColumn(
                "ver", F.lit(base_txn)
            )
        )
        n_files += 1
    if deltas:
        dpaths = [_glob_escape(f"{table_path}/{nm}/{b:06d}_0")
                  for _mn, _mx, nm in deltas]
        raw = F.regexp_extract(F.input_file_name(), r"/delta_\d+_(\d+)/[^/]*$", 1)
        ver = F.when(
            raw == "",
            F.expr(
                "raise_error(concat('read_acid_bucketed_point: cannot derive "
                "delta version from file path: ', input_file_name()))"
            ).cast("string"),
        ).otherwise(raw).cast("long")
        parts.append(spark.read.parquet(*dpaths).withColumn("ver", ver))
        n_files += len(dpaths)
    if not parts:
        raise FileNotFoundError(f"no base_N/delta_M_M dirs under {table_path}")
    snap = _merge_latest(*parts).filter(F.col("k") == key_value)
    return snap, n_files


_ACID_POINT_KEY = 14  # %7==0 -> updated in v1; survives v2
_ACID_POINT_BUCKETS = 8


@register(
    "acid_bucketed_point_lookup",
    # The oracle replays the edit history for the ONE key and pins the
    # file-count arithmetic: 3 of 24 files opened (base + 2 deltas, one
    # bucket each). A misrouted write (key in the wrong bucket file) or a
    # wrong bucket pick reads an empty slice and zeroes the row.
    oracle=f"""
    WITH {_ACID_CTES},
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
    ),
    latest AS (
      SELECT k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT k, st AS o_orderstatus, CAST(p AS DOUBLE) AS price,
           CAST(3 AS INT) AS files_opened,
           CAST(3 * {_ACID_POINT_BUCKETS} AS INT) AS total_files,
           CAST((xor(k, k >> 32) & 4294967295) % 2147483648
                % {_ACID_POINT_BUCKETS} AS INT) AS key_bucket
    FROM latest WHERE rn = 1 AND op <> 'D' AND k = {_ACID_POINT_KEY}
    """,
    doc="Point lookup on a BUCKETED transactional table — the composed "
    "read Hive 1.2 mandates bucketing for (transactional tables must be "
    "CLUSTERED BY; TransactionBatch writes positional bucket files into "
    "every delta): the edit history is materialized with "
    "write_hive_bucketed inside base_0/delta_1_1/delta_2_2, then the "
    "lookup opens ONLY the key's bucket file in the base and each "
    "surviving delta — 3 of 24 files, asserted from the actual pruned "
    "reads — and merges highest-version-wins on that slice. The key "
    "(14 = 7·2) is updated by delta v1 and survives v2, so the merge "
    "must surface the UPDATED price from the delta's bucket file. At "
    "100 TB this is the primary-key read path: O(1 + deltas) files, "
    "never a scan.",
    tags=("source", "acid", "bucketing", "interop"),
)
def acid_bucketed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _ACID_POINT_BUCKETS
    table = materialize_acid_layout_bucketed(
        spark, sf_dir, _tmp("acid_bucketed_tree"), n
    )
    snap, n_files = read_acid_bucketed_point(
        spark, table, n, _ACID_POINT_KEY, kind="long"
    )
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import hive_bucket_of

    return snap.select(
        "k",
        F.col("st").alias("o_orderstatus"),
        F.col("p").cast("double").alias("price"),
        F.lit(n_files).cast("int").alias("files_opened"),
        F.lit(3 * n).cast("int").alias("total_files"),
        F.lit(hive_bucket_of(_ACID_POINT_KEY, n, "long")).cast("int").alias(
            "key_bucket"
        ),
    )


def materialize_acid_layout_full(
    spark: SparkSession, sf_dir: str, path: str, part_col: str, n_buckets: int
) -> str:
    """The COMPLETE Hive 1.2 transactional layout — partition dirs, each
    holding base/delta dirs, each holding positional bucket files
    (``pt=v/delta_M1_M2/000000_0`` — what a real 1.2 warehouse's
    streaming-fed transactional fact table looks like on disk)."""
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import (
        write_hive_bucketed,
    )

    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    base, d1, d2 = _acid_versions(spark, sf_dir)
    for df, dname in ((base, "base_0"), (d1, "delta_1_1"), (d2, "delta_2_2")):
        tagged = df.withColumn("__pt", (F.col("k") % 3).cast("int"))
        for pt in range(3):
            part = tagged.filter(F.col("__pt") == pt).drop("__pt", "ver")
            write_hive_bucketed(
                part, "k", n_buckets, f"{path}/{part_col}=p{pt}/{dname}",
                kind="long",
            )
    return path


def read_acid_full_point(
    spark: SparkSession,
    table_path: str,
    part_col: str,
    part_value,
    n_buckets: int,
    key_value,
    kind: str = "long",
) -> tuple[DataFrame, int]:
    """Point lookup on the FULL layout, all three prunings composed:
    partition selection (ONE dir's state resolved — O(1) listings, not
    O(p)), AcidUtils base/delta resolution within it, and bucket pruning
    (one positional file per surviving dir). Opens (1 + |deltas|) files
    of the table's p·(1+deltas)·n. Returns (snapshot DataFrame,
    files_opened)."""
    from apache_hive_1_2_2_src_spark.sources.hive_bucketing import (
        list_hive_partitions,
    )

    by_val = list_hive_partitions(spark, table_path, part_col)
    if part_value is not None:
        part_value = str(part_value)  # Hive partition values are strings
    if part_value not in by_val:
        raise ValueError(
            f"partition {part_value!r} not present at {table_path} "
            f"(have {sorted(by_val, key=str)})"
        )
    pdir = f"{table_path}/{by_val[part_value]}"
    snap, n_files = read_acid_bucketed_point(
        spark, pdir, n_buckets, key_value, kind=kind
    )
    return snap.withColumn(part_col, F.lit(part_value)), n_files


@register(
    "acid_full_layout_point_lookup",
    # Oracle replays the edit history for the one key and pins the
    # pruning arithmetic: 3 files opened of the 72 on disk (3 partitions
    # x 3 acid dirs x 8 buckets). Key 14: partition p2 (14%3), updated by
    # delta v1 (+10), survives v2.
    oracle=f"""
    WITH {_ACID_CTES},
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
    ),
    latest AS (
      SELECT k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT 'p' || CAST(k % 3 AS VARCHAR) AS pt,
           k, st AS o_orderstatus, CAST(p AS DOUBLE) AS price,
           CAST(3 AS INT) AS files_opened,
           CAST(3 * 3 * {_ACID_POINT_BUCKETS} AS INT) AS total_files
    FROM latest WHERE rn = 1 AND op <> 'D' AND k = {_ACID_POINT_KEY}
    """,
    doc="Point lookup on the COMPLETE Hive 1.2 transactional layout "
    "(pt=v/delta_M_M/000000_0 — partition dirs holding base/delta dirs "
    "holding positional bucket files, the on-disk shape of a streaming-"
    "fed transactional fact table): partition pruning resolves ONE "
    "dir's acid state (O(1) listings, not O(p)), bucket pruning opens "
    "ONE positional file per surviving base/delta, and the highest-"
    "version merge runs on that slice — 3 of the 72 files on disk, "
    "asserted. The key is updated by delta v1 inside the same partition "
    "and must surface the updated price. At 100 TB with 365 partitions "
    "x 1024 buckets this is the primary-key read: O(1 + deltas) files "
    "regardless of table size — the composition the whole interop "
    "surface (partitioned layouts + bucket hashing + AcidUtils) exists "
    "to enable.",
    tags=("source", "acid", "bucketing", "partitioned", "interop"),
)
def acid_full_layout_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _ACID_POINT_BUCKETS
    table = materialize_acid_layout_full(
        spark, sf_dir, _tmp("acid_full_tree"), "pt", n
    )
    pv = f"p{_ACID_POINT_KEY % 3}"
    snap, n_files = read_acid_full_point(
        spark, table, "pt", pv, n, _ACID_POINT_KEY, kind="long"
    )
    return snap.select(
        "pt", "k",
        F.col("st").alias("o_orderstatus"),
        F.col("p").cast("double").alias("price"),
        F.lit(n_files).cast("int").alias("files_opened"),
        F.lit(3 * 3 * n).cast("int").alias("total_files"),
    )


_INIT_MINOR_THRESHOLD = 3  # demo-scale stand-in for
# hive.compactor.delta.num.threshold (default 10): the DECISION SHAPE is
# what's exercised — per-partition delta counts against a threshold


@register(
    "acid_initiator_policy_report",
    # Structural columns (dir/delta counts, the needs_minor flag) replay
    # the constructed skew; the live-row aggregates are data-dependent
    # and certify the merge THROUGH the skewed chains — partition p0's
    # final price depends on WHICH of its four deltas owns each key
    # ((k//3)%4), so a version-ordering slip in any chain breaks the sum.
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    fin AS (
      SELECT k, 'p' || CAST(k % 3 AS VARCHAR) AS pt,
             CASE WHEN k % 3 = 0 THEN c + 1 + (k // 3) % 4
                  WHEN k % 3 = 1 AND (k // 3) % 2 = 0 THEN c + 1
                  ELSE c END AS p
      FROM o
    )
    SELECT pt,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(p) AS BIGINT) AS sum_cents,
           CAST(CASE pt WHEN 'p0' THEN 5 WHEN 'p1' THEN 2 ELSE 1 END
                AS INT) AS n_acid_dirs,
           CAST(CASE pt WHEN 'p0' THEN 4 WHEN 'p1' THEN 1 ELSE 0 END
                AS INT) AS n_deltas,
           CASE pt WHEN 'p0' THEN TRUE ELSE FALSE END AS needs_minor
    FROM fin GROUP BY pt
    """,
    doc="The compactor INITIATOR's decision input — Hive 1.2 runs a "
    "background Initiator that inspects each partition's delta chain "
    "and queues compactions when hive.compactor.delta.num.threshold is "
    "exceeded (ql/txn/compactor/Initiator.java; threshold 3 here as the "
    "demo-scale stand-in for the default 10): a SKEWED partitioned tree "
    "is materialized (p0: base + FOUR deltas, each owning the (k//3)%4 "
    "== j key slice; p1: base + one delta updating the even slice; p2: "
    "base only — exactly the uneven compaction debt a real warehouse "
    "accumulates), per-partition acid state is resolved (one listing "
    "per partition, the Initiator's own cost shape), and the report "
    "joins the POLICY decision (delta count vs threshold) with the "
    "data-dependent live snapshot per partition. Scale: the inspection "
    "is metadata-only and per-partition-parallel; the snapshot "
    "aggregates are the usual two-relation merge — at 100 TB the "
    "Initiator's sweep costs |partitions| listings, nothing else.",
    tags=("workload", "acid", "compaction", "partitioned", "catalog"),
)
def acid_initiator_policy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _tmp("acid_initiator_tree")
    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rows = o.select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 3).alias("pt_n"),
        ((F.col("o_orderkey") / 3).cast("long") % 4).alias("slice"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    base = rows.select(
        "k", "pt_n", F.lit("x").alias("st"), F.col("c").alias("p"),
        F.lit("U").alias("op"),
    )
    for pt in range(3):
        base.filter(F.col("pt_n") == pt).drop("pt_n").write.parquet(
            f"{path}/pt=p{pt}/base_0"
        )
    # p0: four deltas, delta_j owning key slice (k//3)%4 == j-1
    for j in range(1, 5):
        rows.filter((F.col("pt_n") == 0) & (F.col("slice") == j - 1)).select(
            "k", F.lit("x").alias("st"),
            (F.col("c") + j).alias("p"), F.lit("U").alias("op"),
        ).write.parquet(f"{path}/pt=p0/delta_{j}_{j}")
    # p1: one delta updating the even (k//3)%2 slice
    rows.filter((F.col("pt_n") == 1) & (F.col("slice") % 2 == 0)).select(
        "k", F.lit("x").alias("st"),
        (F.col("c") + 1).alias("p"), F.lit("U").alias("op"),
    ).write.parquet(f"{path}/pt=p1/delta_1_1")
    # the Initiator sweep: per-partition state resolution, metadata only
    policy = []
    for pt in range(3):
        base_dir, _txn, deltas = resolve_acid_state(spark, f"{path}/pt=p{pt}")
        n_dirs = (1 if base_dir else 0) + len(deltas)
        policy.append(
            (f"p{pt}", n_dirs, len(deltas),
             len(deltas) >= _INIT_MINOR_THRESHOLD)
        )
    pol = spark.createDataFrame(
        policy, "pt string, n_acid_dirs int, n_deltas int, needs_minor boolean"
    )
    live = read_acid_table_partitioned(spark, path, "pt").groupBy("pt").agg(
        F.count(F.lit(1)).cast("long").alias("n_live"),
        F.sum("p").cast("long").alias("sum_cents"),
    )
    return live.join(F.broadcast(pol), "pt").select(
        "pt", "n_live", "sum_cents", "n_acid_dirs", "n_deltas", "needs_minor"
    )


# ------------------------- txn-visibility read (ValidTxnList, r14) ----
#
# Tree: base_0 + delta_1_1 (committed) + delta_2_2 (ABORTED) +
# delta_3_3 (committed) + delta_4_4 (OPEN, above the watermark).
# Snapshot: ValidTxnList(high_watermark=3, exceptions={2}) — the reader
# must merge base ∪ d1 ∪ d3 ONLY. The oracle replays exactly that
# algebra; if the aborted d2 (status flips, upserts) or the open d4
# (mass deletes) leaked into the merge, the per-status counts/totals
# shift and the value hash breaks.
_ACID_TXN_ORACLE = f"""
    WITH {_ACID_CTES},
    d3 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 7
                  AS DECIMAL(18,2)) AS p,
             3 AS ver, 'U' AS op
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d3
    ),
    latest AS (
      SELECT k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DOUBLE) AS sum_price,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM latest WHERE rn = 1 AND op <> 'D'
    GROUP BY st
"""


def materialize_acid_layout_txn(
    spark: SparkSession, sf_dir: str, path: str
) -> str:
    """The txn-visibility fixture tree: the standard base_0/d1/d2 history
    plus delta_3_3 (committed: +7.00 price update on the k%5==0 slice)
    and delta_4_4 (an OPEN writer's mass delete of the k%3==0 slice —
    data that is physically on disk but must be invisible below the
    watermark). d2 plays the ABORTED txn."""
    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    base, d1, d2 = _acid_versions(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    d3 = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        (dec("o_totalprice") + 7).cast("decimal(18,2)").alias("p"),
        F.lit("U").alias("op"),
    )
    d4 = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.lit(None).cast("decimal(18,2)").alias("p"),
        F.lit("D").alias("op"),
    )
    base.drop("ver").write.parquet(f"{path}/base_0")
    d1.drop("ver").write.parquet(f"{path}/delta_1_1")
    d2.drop("ver").write.parquet(f"{path}/delta_2_2")
    d3.write.parquet(f"{path}/delta_3_3")
    d4.write.parquet(f"{path}/delta_4_4")
    return path


@register(
    "acid_txn_visibility",
    oracle=_ACID_TXN_ORACLE,
    doc="ValidTxnList-aware merge-on-read — the last AcidUtils gap "
    "(reference anchors: ql/io/AcidUtils.java getAcidState's txnList "
    "parameter + common ValidReadTxnList + metastore/txn/TxnHandler."
    "java's open/aborted bookkeeping, which produces the list): the "
    "tree holds base_0 + delta_1_1 (committed) + delta_2_2 (ABORTED) + "
    "delta_3_3 (committed) + delta_4_4 (OPEN writer above the "
    "watermark); the read snapshot is ValidTxnList(hwm=3, "
    "exceptions={2}), so the merge must see base ∪ d1 ∪ d3 only. "
    "Runtime-asserted: the resolver returns exactly [delta_1_1, "
    "delta_3_3]; hash-certified: the aborted txn's status flips/upserts "
    "and the open txn's mass deletes are physically on disk but change "
    "the per-status totals the moment they leak. Scale: visibility "
    "filtering is pure directory-name metadata — zero data reads for "
    "excluded deltas.",
    tags=("workload", "acid", "merge", "txn"),
)
def acid_txn_visibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout_txn(spark, sf_dir, _tmp("acid_txn_table"))
    snapshot = ValidTxnList(high_watermark=3, exceptions=frozenset({2}))
    base_dir, _txn, deltas = resolve_acid_state(spark, table, snapshot)
    if base_dir != "base_0" or [d[2] for d in deltas] != [
        "delta_1_1",
        "delta_3_3",
    ]:
        raise AssertionError(
            f"txn-list resolution wrong: base={base_dir} deltas={deltas}"
        )
    return _verdict(read_acid_table(spark, table, snapshot))


# ------------------------------- Cleaner (obsolete-dir removal, r14) --


def clean_acid_obsolete(spark: SparkSession, table_path: str) -> list[str]:
    """The compactor CLEANER's disk half (reference anchor:
    ql/txn/compactor/Cleaner.java — Hive runs it as a background thread
    after Worker finishes; until it runs, readers skip the obsolete dirs
    every single read): delete every acid directory that resolution
    would never read — stale bases below the chosen base, and deltas
    whose whole txn range is covered by the chosen base or a chosen
    wider delta. Non-acid names (staging, _tmp junk) are untouched —
    the Cleaner owns only what getAcidState parses. Returns the deleted
    directory names (sorted) so callers can assert the exact set.
    Scale: pure FS metadata — one listing + one delete per obsolete
    dir; no data is read."""
    base_dir, _txn, chosen = resolve_acid_state(spark, table_path)
    keep = {base_dir} | {nm for _mn, _mx, nm in chosen}
    _, fs, P = hadoop_fs(spark, table_path)
    removed = []
    for st in fs.listStatus(P(table_path)):
        if not st.isDirectory():
            continue
        nm = st.getPath().getName()
        if nm in keep or not (_BASE_RE.match(nm) or _DELTA_RE.match(nm)):
            continue
        fs.delete(st.getPath(), True)
        removed.append(nm)
    return sorted(removed)


@register(
    "acid_cleaner_after_compaction",
    oracle=_ACID_ORACLE,
    doc="The full compaction LIFECYCLE: Worker then Cleaner "
    "(ql/txn/compactor/Worker.java + Cleaner.java): minor compaction "
    "writes delta_1_2 BESIDE delta_1_1/delta_2_2, the Cleaner then "
    "deletes exactly the two covered narrow deltas (runtime-asserted: "
    "removed == [delta_1_1, delta_2_2]; base_0 and the _tmp_junk decoy "
    "survive), and the post-clean read must still equal the original "
    "base ∪ d1 ∪ d2 merge — the SAME oracle as acid_read_compacted, so "
    "hash-equality certifies clean(compact(T)) reads identically to T: "
    "the Cleaner is invisible to queries, it only reclaims space and "
    "shrinks every future read's directory list. Scale: the Cleaner is "
    "one listing + one delete per obsolete dir, metadata-only — the "
    "whole point is that reads stop paying the covered-delta skip "
    "forever.",
    tags=("workload", "acid", "compaction"),
)
def acid_cleaner_after_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout(spark, sf_dir, _tmp("acid_cleaner_table"))
    d1 = spark.read.parquet(f"{table}/delta_1_1").withColumn("ver", F.lit(1))
    d2 = spark.read.parquet(f"{table}/delta_2_2").withColumn("ver", F.lit(2))
    compacted = (
        d1.unionByName(d2)
        .groupBy("k")
        .agg(F.max_by(F.struct("op", "st", "p"), F.col("ver")).alias("w"))
        .select("k", "w.op", "w.st", "w.p")
    )
    compacted.write.parquet(f"{table}/delta_1_2")
    removed = clean_acid_obsolete(spark, table)
    if removed != ["delta_1_1", "delta_2_2"]:
        raise AssertionError(f"cleaner removed wrong set: {removed}")
    _, fs, P = hadoop_fs(spark, table)
    left = sorted(
        st.getPath().getName()
        for st in fs.listStatus(P(table))
        if st.isDirectory()
    )
    if left != ["_tmp_junk", "base_0", "delta_1_2"]:
        raise AssertionError(f"unexpected post-clean tree: {left}")
    return _verdict(read_acid_table(spark, table))


# --------------------- ValidTxnList derived from a txn log (r14) ------
#
# metastore/txn/TxnHandler.java keeps TXNS(txn_id, state, started,
# ...); getOpenTxns() at snapshot time yields the high-watermark (max
# allocated id) + the exception list (every txn not committed yet) from
# which ValidReadTxnList is built. The log below is a deterministic
# literal both engines share: by snapshot time T=10, txns 1/3 committed,
# txn 2 ABORTED (at ts 5), txn 4 OPEN (allocated at ts 6, no commit).
_TXN_LOG = (
    (1, "commit", 2),
    (2, "open", 3),
    (2, "abort", 5),
    (3, "commit", 4),
    (4, "open", 6),
)
_TXN_SNAPSHOT_TS = 10

_TXN_LOG_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({t}, '{s}', {ts})" for t, s, ts in _TXN_LOG
) + ") AS txn_log(txn_id, state, ts)"


def valid_txn_list_from_log(as_of_ts: int) -> ValidTxnList:
    """Build the read snapshot from the txn log exactly as
    TxnHandler.getOpenTxns does: high-watermark = max txn id allocated
    by ``as_of_ts``; exceptions = allocated txns whose latest state by
    ``as_of_ts`` is not 'commit' (open or aborted)."""
    latest: dict[int, str] = {}
    for t, s, ts in sorted(_TXN_LOG, key=lambda r: r[2]):
        if ts <= as_of_ts:
            latest[t] = s
    hwm = max(latest) if latest else 0
    exceptions = frozenset(t for t, s in latest.items() if s != "commit")
    return ValidTxnList(high_watermark=hwm, exceptions=exceptions)


@register(
    "acid_txn_snapshot_from_log",
    # The oracle recomputes the snapshot FROM THE LOG in SQL (latest
    # state per txn at T=10 -> hwm + exception list as a canonical
    # string) and replays the resulting base ∪ d1 ∪ d3 merge; the
    # derived snapshot columns certify the TxnHandler half, the
    # aggregates certify the read it produces.
    oracle=f"""
    WITH log AS ({_TXN_LOG_SQL}),
    latest AS (
      SELECT txn_id, state,
             ROW_NUMBER() OVER (PARTITION BY txn_id ORDER BY ts DESC) AS rn
      FROM log WHERE ts <= {_TXN_SNAPSHOT_TS}
    ),
    cur AS (SELECT txn_id, state FROM latest WHERE rn = 1),
    snap AS (
      SELECT CAST(MAX(txn_id) AS BIGINT) AS high_watermark,
             COALESCE(string_agg(CASE WHEN state <> 'commit'
                                      THEN CAST(txn_id AS VARCHAR) END,
                                 ',' ORDER BY txn_id), '') AS exceptions
      FROM cur
    ),
    {_ACID_CTES.strip().rstrip()},
    d3 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 7
                  AS DECIMAL(18,2)) AS p,
             3 AS ver, 'U' AS op
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d3
    ),
    merged AS (
      SELECT k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT s.high_watermark, s.exceptions,
           m.st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(m.p) AS DOUBLE) AS sum_price,
           MIN(m.k) AS min_key, MAX(m.k) AS max_key
    FROM merged m CROSS JOIN snap s
    WHERE m.rn = 1 AND m.op <> 'D'
    GROUP BY s.high_watermark, s.exceptions, m.st
    """,
    doc="ValidTxnList DERIVED from a transaction log — the TxnHandler "
    "half of the txn-visibility story (metastore/txn/TxnHandler.java "
    "getOpenTxns + common ValidReadTxnList construction): a txn event "
    "log (open/commit/abort, timestamped) is snapshotted at T=10; the "
    "latest state per txn yields high-watermark=4 and exceptions={2,4} "
    "(2 aborted, 4 still open), the resulting ValidTxnList drives the "
    "read of the same 5-dir tree acid_txn_visibility uses, and the "
    "output carries BOTH the derived snapshot (hwm + canonical "
    "exception string, certified against the oracle's SQL derivation) "
    "AND the merge aggregates it produces. Scale: the log scan is "
    "metadata-sized (the metastore's TXNS table), the visibility "
    "filter is directory-name-only.",
    tags=("workload", "acid", "merge", "txn", "catalog"),
)
def acid_txn_snapshot_from_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = materialize_acid_layout_txn(
        spark, sf_dir, _tmp("acid_txnlog_table")
    )
    snap = valid_txn_list_from_log(_TXN_SNAPSHOT_TS)
    if snap.high_watermark != 4 or snap.exceptions != frozenset({2, 4}):
        raise AssertionError(f"derived snapshot wrong: {snap}")
    exceptions_str = ",".join(str(t) for t in sorted(snap.exceptions))
    return read_acid_table(spark, table, snap).groupBy(
        F.col("st").alias("o_orderstatus")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p").cast("double").alias("sum_price"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
    ).select(
        F.lit(4).cast("long").alias("high_watermark"),
        F.lit(exceptions_str).alias("exceptions"),
        "o_orderstatus", "n", "sum_price", "min_key", "max_key",
    )


# ------------- Concurrent writers: lock manager + interleaved log (r15) --
#
# The last TxnHandler gap (VERDICT r14 missing #3): TWO interleaved writer
# sequences against one table. Hive 1.2's lock manager
# (metastore/txn/TxnHandler.java checkLock's jump table + DbLockManager)
# grants SHARED_WRITE || SHARED_WRITE — concurrent INSERT/UPDATE writers
# are LEGAL and the outcome is decided by txn ordering at read time
# (delta_M_M directory names + ValidTxnList), not by mutual exclusion.
# EXCLUSIVE (DROP/INSERT OVERWRITE) conflicts with everything, and
# checkLock is FIFO: a WAITING incompatible request blocks every later
# request it conflicts with (no starvation / no barging).

_LOCK_COMPAT: dict[tuple[str, str], bool] = {
    # (requested, held) -> compatible; TxnHandler.jumpTable semantics
    ("SR", "SR"): True, ("SR", "SW"): True, ("SR", "X"): False,
    ("SW", "SR"): True, ("SW", "SW"): True, ("SW", "X"): False,
    ("X", "SR"): False, ("X", "SW"): False, ("X", "X"): False,
}


class AcidLockManager:
    """FIFO lock queue with Hive 1.2 compatibility semantics (reference
    anchor: metastore/txn/TxnHandler.java checkLock — locks are examined
    in extLockId order; a request is granted iff compatible with every
    GRANTED lock on the resource AND every WAITING request queued ahead
    of it, so an incompatible waiter blocks later arrivals instead of
    being starved by a stream of compatible ones)."""

    def __init__(self) -> None:
        self._queues: dict[str, list[tuple[int, int, str, str]]] = {}
        self._next_id = 0

    def request(self, txn: int, lock_type: str, resource: str) -> str:
        if lock_type not in ("SR", "SW", "X"):
            raise ValueError(f"unknown lock type {lock_type}")
        q = self._queues.setdefault(resource, [])
        self._next_id += 1
        q.append([self._next_id, txn, lock_type, "WAITING"])
        self._promote(resource)
        return self.state(txn, resource)

    def _promote(self, resource: str) -> None:
        q = self._queues.get(resource, [])
        for i, entry in enumerate(q):
            if entry[3] == "ACQUIRED":
                continue
            ok = all(
                _LOCK_COMPAT[(entry[2], other[2])]
                for other in q[:i]
                # everything ahead in the queue counts, granted OR
                # waiting — the no-barging rule
            )
            if ok:
                entry[3] = "ACQUIRED"
            # a blocked waiter does NOT stop us from scanning on: later
            # entries must re-check against it and will block if
            # incompatible (q[:i] includes it)

    def state(self, txn: int, resource: str) -> str:
        for entry in self._queues.get(resource, []):
            if entry[1] == txn:
                return entry[3]
        raise KeyError(f"txn {txn} holds no lock on {resource}")

    def release(self, txn: int, resource: str | None = None) -> None:
        for res, q in self._queues.items():
            if resource is not None and res != resource:
                continue
            q[:] = [e for e in q if e[1] != txn]
            self._promote(res)


# The interleaved two-writer log: A = txns 1 (commit) and 3 (ABORT),
# B = txns 2 (commit) and 4 (still OPEN at the last read). A
# deterministic literal both engines share.
_CONC_LOG = (
    (1, "open", 1),
    (2, "open", 2),
    (1, "commit", 4),
    (3, "open", 5),
    (2, "commit", 6),
    (3, "abort", 7),
    (4, "open", 8),
)
_CONC_READ_TS = (5, 7, 9)

_CONC_LOG_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({t}, '{s}', {ts})" for t, s, ts in _CONC_LOG
) + ") AS txn_log(txn_id, state, ts)"


def valid_txn_list_from_events(
    log: tuple[tuple[int, str, int], ...], as_of_ts: int
) -> ValidTxnList:
    """TxnHandler.getOpenTxns over an arbitrary event log (the r14
    valid_txn_list_from_log generalized to a log parameter): hwm = max
    txn allocated by ``as_of_ts``; exceptions = allocated txns whose
    latest state by then is not 'commit'."""
    latest: dict[int, str] = {}
    for t, s, ts in sorted(log, key=lambda r: r[2]):
        if ts <= as_of_ts:
            latest[t] = s
    hwm = max(latest) if latest else 0
    return ValidTxnList(
        high_watermark=hwm,
        exceptions=frozenset(t for t, s in latest.items() if s != "commit"),
    )


def materialize_acid_layout_concurrent(
    spark: SparkSession, sf_dir: str, path: str
) -> str:
    """The two-writer fixture tree: base_0 plus one single-txn delta per
    writer step, all physically on disk regardless of txn fate —
    exactly what a reader of a Hive table with in-flight writers sees.
      delta_1_1  writer A, committed: price+10 on k%4==0
      delta_2_2  writer B, committed: status->'R', price 42.00 on k%4==1
      delta_3_3  writer A, ABORTED:   delete k%6==0
      delta_4_4  writer B, OPEN:      price+99 on k%4==2
    """
    _, fs, P = hadoop_fs(spark, path)
    fs.delete(P(path), True)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        dec("o_totalprice").alias("p"),
        F.lit("U").alias("op"),
    )
    d1 = o.filter(F.col("o_orderkey") % 4 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        (dec("o_totalprice") + 10).cast("decimal(18,2)").alias("p"),
        F.lit("U").alias("op"),
    )
    d2 = o.filter(F.col("o_orderkey") % 4 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.lit("R").alias("st"),
        F.lit("42.00").cast("decimal(18,2)").alias("p"),
        F.lit("U").alias("op"),
    )
    d3 = o.filter(F.col("o_orderkey") % 6 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.lit(None).cast("decimal(18,2)").alias("p"),
        F.lit("D").alias("op"),
    )
    d4 = o.filter(F.col("o_orderkey") % 4 == 2).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        (dec("o_totalprice") + 99).cast("decimal(18,2)").alias("p"),
        F.lit("U").alias("op"),
    )
    base.write.parquet(f"{path}/base_0")
    d1.write.parquet(f"{path}/delta_1_1")
    d2.write.parquet(f"{path}/delta_2_2")
    d3.write.parquet(f"{path}/delta_3_3")
    d4.write.parquet(f"{path}/delta_4_4")
    return path


@register(
    "acid_concurrent_writers",
    # The oracle derives all three reader snapshots FROM THE LOG in SQL
    # (latest-state-per-txn at each read_ts -> hwm + exception string)
    # and replays each read's merge over exactly the committed-by-then
    # deltas; hash-equality certifies mid-flight invisibility, abort
    # invisibility, and exactly-once application of each commit.
    oracle=f"""
    WITH log AS ({_CONC_LOG_SQL}),
    reads(read_ts) AS (VALUES (5), (7), (9)),
    latest AS (
      SELECT r.read_ts, l.txn_id, l.state,
             ROW_NUMBER() OVER (PARTITION BY r.read_ts, l.txn_id
                                ORDER BY l.ts DESC) AS rn
      FROM reads r JOIN log l ON l.ts <= r.read_ts
    ),
    cur AS (SELECT read_ts, txn_id, state FROM latest WHERE rn = 1),
    snap AS (
      SELECT read_ts, CAST(MAX(txn_id) AS BIGINT) AS high_watermark,
             COALESCE(string_agg(CASE WHEN state <> 'commit'
                                      THEN CAST(txn_id AS VARCHAR) END,
                                 ',' ORDER BY txn_id), '') AS exceptions
      FROM cur GROUP BY read_ts
    ),
    vis AS (SELECT read_ts, txn_id FROM cur WHERE state = 'commit'),
    base AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(o_totalprice AS DECIMAL(18,2)) AS p, 0 AS ver, 'U' AS op
      FROM orders
    ),
    w1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10
                  AS DECIMAL(18,2)) AS p, 1 AS ver, 'U' AS op
      FROM orders WHERE o_orderkey % 4 = 0
    ),
    w2 AS (
      SELECT o_orderkey AS k, 'R' AS st,
             CAST(42.00 AS DECIMAL(18,2)) AS p, 2 AS ver, 'U' AS op
      FROM orders WHERE o_orderkey % 4 = 1
    ),
    w3 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(NULL AS DECIMAL(18,2)) AS p, 3 AS ver, 'D' AS op
      FROM orders WHERE o_orderkey % 6 = 0
    ),
    w4 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 99
                  AS DECIMAL(18,2)) AS p, 4 AS ver, 'U' AS op
      FROM orders WHERE o_orderkey % 4 = 2
    ),
    deltas AS (
      SELECT * FROM w1 UNION ALL SELECT * FROM w2
      UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4
    ),
    all_rows AS (
      SELECT r.read_ts, b.k, b.st, b.p, b.ver, b.op
      FROM reads r CROSS JOIN base b
      UNION ALL
      SELECT v.read_ts, d.k, d.st, d.p, d.ver, d.op
      FROM deltas d JOIN vis v ON v.txn_id = d.ver
    ),
    merged AS (
      SELECT read_ts, k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY read_ts, k
                                ORDER BY ver DESC) AS rn
      FROM all_rows
    )
    SELECT CAST(m.read_ts AS BIGINT) AS read_ts,
           s.high_watermark, s.exceptions,
           m.st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(m.p) AS DOUBLE) AS sum_price,
           MIN(m.k) AS min_key, MAX(m.k) AS max_key
    FROM merged m JOIN snap s ON s.read_ts = m.read_ts
    WHERE m.rn = 1 AND m.op <> 'D'
    GROUP BY m.read_ts, s.high_watermark, s.exceptions, m.st
    """,
    doc="CONCURRENT WRITERS — the TxnHandler lock/visibility story end "
    "to end (reference anchors: metastore/txn/TxnHandler.java "
    "lock/checkLock + getOpenTxns, ql/io/AcidUtils.java getAcidState "
    "with in-flight deltas): writers A (txns 1 commit, 3 ABORT) and B "
    "(txns 2 commit, 4 OPEN) interleave against ONE table — their "
    "SHARED_WRITE locks are granted CONCURRENTLY (runtime-asserted "
    "through AcidLockManager, the checkLock jump-table semantics that "
    "make interleaved deltas legal), all four deltas land on disk, and "
    "three readers at T=5/7/9 derive per-reader ValidTxnLists from the "
    "shared event log. Certified per read: T=5 sees only A's first "
    "commit (B mid-flight invisible), T=7 adds B's commit but never "
    "A's aborted delete, T=9 still excludes B's open second write — "
    "each commit applied exactly once, snapshot columns "
    "(hwm+exceptions) certified against the oracle's own SQL "
    "derivation. Scale: visibility is directory-name metadata; the "
    "three reads share one cached tree and merge with one shuffle "
    "each.",
    tags=("workload", "acid", "merge", "txn"),
)
def acid_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The lock-manager half: both writers' SHARED_WRITE locks must be
    # granted concurrently (this is what makes the interleaved tree
    # legal in Hive), while an EXCLUSIVE probe queued behind them waits.
    lm = AcidLockManager()
    if lm.request(1, "SW", "db.t") != "ACQUIRED":
        raise AssertionError("writer A SHARED_WRITE not granted")
    if lm.request(2, "SW", "db.t") != "ACQUIRED":
        raise AssertionError("concurrent writer B SHARED_WRITE not granted")
    if lm.request(99, "X", "db.t") != "WAITING":
        raise AssertionError("EXCLUSIVE must wait behind shared writers")
    lm.release(99)

    table = materialize_acid_layout_concurrent(
        spark, sf_dir, _tmp("acid_conc_table")
    )
    expect = {
        5: ["delta_1_1"],
        7: ["delta_1_1", "delta_2_2"],
        9: ["delta_1_1", "delta_2_2"],
    }
    parts: list[DataFrame] = []
    for ts in _CONC_READ_TS:
        snap = valid_txn_list_from_events(_CONC_LOG, ts)
        _bd, _bt, deltas = resolve_acid_state(spark, table, snap)
        if [d[2] for d in deltas] != expect[ts]:
            raise AssertionError(
                f"read@{ts}: resolved {deltas}, expected {expect[ts]}"
            )
        exceptions_str = ",".join(str(t) for t in sorted(snap.exceptions))
        parts.append(
            _verdict(read_acid_table(spark, table, snap)).select(
                F.lit(ts).cast("long").alias("read_ts"),
                F.lit(snap.high_watermark).cast("long").alias(
                    "high_watermark"
                ),
                F.lit(exceptions_str).alias("exceptions"),
                "o_orderstatus", "n", "sum_price", "min_key", "max_key",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------- EXCLUSIVE writer: INSERT OVERWRITE + Cleaner lifecycle (r15) --


@register(
    "acid_exclusive_overwrite_lifecycle",
    # The oracle replays the pre-overwrite merge once and derives all
    # three phases from it: 'before' = the merge itself,
    # 'after_overwrite' and 'after_clean' = the merge with the
    # overwrite's +5 rewrite — hash-equality certifies that the
    # EXCLUSIVE writer's snapshot is exactly the merged table it
    # replaced and that the Cleaner changes nothing a reader sees.
    oracle=f"""
    WITH {_ACID_CTES},
    all_rows AS (
      SELECT * FROM base UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM d2
    ),
    latest AS (
      SELECT k, st, p, op,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY ver DESC) AS rn
      FROM all_rows
    ),
    snap AS (SELECT k, st, p FROM latest WHERE rn = 1 AND op <> 'D')
    SELECT 'before' AS phase, st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DOUBLE) AS sum_price,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM snap GROUP BY st
    UNION ALL
    SELECT ph.phase, st AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p + 5 AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MIN(k) AS min_key, MAX(k) AS max_key
    FROM snap, (VALUES ('after_overwrite'), ('after_clean')) AS ph(phase)
    GROUP BY ph.phase, st
    """,
    doc="EXCLUSIVE-lock writer lifecycle — INSERT OVERWRITE under the "
    "lock manager, composed with the Cleaner (reference anchors: "
    "TxnHandler.java's EXCLUSIVE compatibility row — insert overwrite "
    "and drop take X — plus AcidUtils.getAcidState's highest-base "
    "rule and Cleaner.java's stale-base removal): a reader's "
    "SHARED_READ blocks the X request, a second reader queues BEHIND "
    "the waiting X (no barging — both runtime-asserted through "
    "AcidLockManager), and only after the reader releases does the "
    "writer rewrite the merged snapshot (+5.00 on every price) as "
    "base_3 ABOVE the old tree. Resolution then selects base_3 with "
    "zero deltas (the old base_0/d1/d2 are covered), the Cleaner "
    "removes exactly those three dirs, and the three certified reads "
    "prove the story: 'before' = the base∪d1∪d2 merge, "
    "'after_overwrite' = the rewrite, 'after_clean' identical to it — "
    "the overwrite is atomic-by-directory-name and the Cleaner is "
    "invisible to readers. Scale: the overwrite is one full-table "
    "rewrite (exactly what INSERT OVERWRITE costs), everything else "
    "is directory metadata.",
    tags=("workload", "acid", "txn", "compaction"),
)
def acid_exclusive_overwrite_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    table = materialize_acid_layout(spark, sf_dir, _tmp("acid_xlock_table"))

    # Lock choreography: reader in -> X waits -> late reader queues
    # behind the X -> reader out -> X runs.
    lm = AcidLockManager()
    if lm.request(10, "SR", "db.t") != "ACQUIRED":
        raise AssertionError("reader SHARED_READ not granted")
    if lm.request(3, "X", "db.t") != "WAITING":
        raise AssertionError("EXCLUSIVE must wait behind the reader")
    if lm.request(11, "SR", "db.t") != "WAITING":
        raise AssertionError("late reader must queue behind the waiting X")
    # Eagerly materialize each phase's verdict BEFORE mutating the tree:
    # Spark plans are lazy, and the overwrite/clean steps delete files a
    # deferred 'before' scan would still reference — the exact reason
    # Hive's Cleaner waits out reader leases before deleting (the
    # localCheckpoint is this test's reader lease; the frames are
    # metadata-sized verdict rows).
    before = _verdict(read_acid_table(spark, table)).withColumn(
        "phase", F.lit("before")
    ).localCheckpoint(eager=True)
    lm.release(10)
    if lm.state(3, "db.t") != "ACQUIRED":
        raise AssertionError("X not promoted after the reader released")

    # The X writer's INSERT OVERWRITE: rewrite the merged snapshot with
    # +5.00 prices as base_3 (txn 3 > every existing dir).
    snap = read_acid_table(spark, table).select(
        "k", "st",
        (F.col("p") + 5).cast("decimal(18,2)").alias("p"),
        F.lit("U").alias("op"),
    )
    snap.write.parquet(f"{table}/base_3")
    lm.release(3)
    if lm.state(11, "db.t") != "ACQUIRED":
        raise AssertionError("late reader not promoted after X released")

    base_dir, _txn, deltas = resolve_acid_state(spark, table)
    if base_dir != "base_3" or deltas:
        raise AssertionError(
            f"post-overwrite resolution wrong: {base_dir} {deltas}"
        )
    after = _verdict(read_acid_table(spark, table)).withColumn(
        "phase", F.lit("after_overwrite")
    ).localCheckpoint(eager=True)

    removed = clean_acid_obsolete(spark, table)
    if removed != ["base_0", "delta_1_1", "delta_2_2"]:
        raise AssertionError(f"cleaner removed wrong set: {removed}")
    cleaned = _verdict(read_acid_table(spark, table)).withColumn(
        "phase", F.lit("after_clean")
    )

    cols = ["phase", "o_orderstatus", "n", "sum_price", "min_key", "max_key"]
    return (
        before.select(*cols)
        .unionByName(after.select(*cols))
        .unionByName(cleaned.select(*cols))
    )


# --------- SHOW LOCKS / SHOW TRANSACTIONS / SHOW COMPACTIONS (r15) --------

# Deterministic introspection fixtures both engines share. Lock ids are
# assigned 1..8 in request order (AcidLockManager._next_id), so the SQL
# replay can reconstruct the queue positions arithmetically.
_SHOW_LOCK_REQS = (
    (10, "SR", "default.orders"),
    (11, "SR", "default.orders"),
    (12, "X", "default.orders"),     # waits behind both readers
    (13, "SR", "default.orders"),    # no barging: waits behind the X
    (10, "SW", "default.lineitem"),
    (14, "SW", "default.lineitem"),  # concurrent shared writers
    (15, "X", "default.part@p=1"),   # first on its resource: acquired
    (16, "SW", "default.part@p=1"),  # waits behind the X
)

_SHOW_LOCK_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({i + 1}, {t}, '{lt}', '{res}')"
    for i, (t, lt, res) in enumerate(_SHOW_LOCK_REQS)
) + ") AS lock_reqs(lock_id, txn_id, lock_type, resource)"

# Compaction queue history: latest event per id is the SHOW state
# (Initiator -> Worker -> Cleaner pipeline states, TxnHandler.showCompact).
_SHOW_COMPACT_LOG = (
    (1, "default", "orders", "", "MAJOR", "initiated", 1),
    (1, "default", "orders", "", "MAJOR", "working", 3),
    (1, "default", "orders", "", "MAJOR", "succeeded", 6),
    (2, "default", "lineitem", "ds=1", "MINOR", "initiated", 2),
    (2, "default", "lineitem", "ds=1", "MINOR", "working", 5),
    (3, "default", "lineitem", "ds=2", "MINOR", "initiated", 4),
    (4, "default", "part", "", "MAJOR", "initiated", 2),
    (4, "default", "part", "", "MAJOR", "working", 4),
    (4, "default", "part", "", "MAJOR", "failed", 7),
    (5, "default", "orders", "ds=9", "MINOR", "initiated", 3),
    (5, "default", "orders", "ds=9", "MINOR", "working", 5),
    (5, "default", "orders", "ds=9", "MINOR", "ready for cleaning", 8),
)

_SHOW_COMPACT_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({i}, '{db}', '{tb}', '{pt}', '{ty}', '{ev}', {ts})"
    for i, db, tb, pt, ty, ev, ts in _SHOW_COMPACT_LOG
) + ") AS compact_log(id, db, tbl, part, kind, event, ts)"

@register(
    "acid_show_locks_txns_compactions",
    # The oracle re-derives all three introspection tables in SQL: lock
    # grant state from the FIFO queue rule (WAITING iff ANY earlier
    # request on the resource is EXCLUSIVE-incompatible — granted or
    # waiting, the no-barging semantics), open/aborted txns from the
    # latest-state-per-txn fold of the shared writer log, and compaction
    # states from the latest event per queue id.
    oracle=f"""
    WITH lock_reqs AS ({_SHOW_LOCK_SQL}),
    txn_log AS ({_CONC_LOG_SQL}),
    compact_log AS ({_SHOW_COMPACT_SQL}),
    locks AS (
      SELECT a.lock_id, a.txn_id, a.lock_type, a.resource,
             CASE WHEN EXISTS (
               SELECT 1 FROM lock_reqs b
               WHERE b.resource = a.resource AND b.lock_id < a.lock_id
                 AND (b.lock_type = 'X' OR a.lock_type = 'X')
             ) THEN 'WAITING' ELSE 'ACQUIRED' END AS state
      FROM lock_reqs a
    ),
    latest_txn AS (
      SELECT txn_id, state,
             ROW_NUMBER() OVER (PARTITION BY txn_id ORDER BY ts DESC) AS rn
      FROM txn_log
    ),
    latest_comp AS (
      SELECT id, db, tbl, part, kind, event,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY ts DESC) AS rn
      FROM compact_log
    )
    SELECT 'lock' AS surface, CAST(lock_id AS BIGINT) AS id,
           split_part(resource, '.', 1) AS db,
           split_part(split_part(resource, '.', 2), '@', 1) AS tbl,
           CASE WHEN resource LIKE '%@%'
                THEN split_part(resource, '@', 2) ELSE '' END AS part,
           CASE lock_type WHEN 'SR' THEN 'SHARED_READ'
                WHEN 'SW' THEN 'SHARED_WRITE'
                ELSE 'EXCLUSIVE' END AS kind,
           state, CAST(txn_id AS BIGINT) AS txn
    FROM locks
    UNION ALL
    SELECT 'txn', CAST(txn_id AS BIGINT), '', '', '', '',
           CASE state WHEN 'open' THEN 'OPEN' ELSE 'ABORTED' END,
           CAST(txn_id AS BIGINT)
    FROM latest_txn WHERE rn = 1 AND state <> 'commit'
    UNION ALL
    SELECT 'compaction', CAST(id AS BIGINT), db, tbl, part, kind, event,
           CAST(NULL AS BIGINT)
    FROM latest_comp WHERE rn = 1
    """,
    doc="SHOW LOCKS / SHOW TRANSACTIONS / SHOW COMPACTIONS — Hive 1.2's "
    "transactional introspection DDL (reference anchors: "
    "ql/exec/DDLTask.java showLocks/showTxns/showCompactions backed by "
    "metastore/txn/TxnHandler.java showLocks, getOpenTxnsInfo, "
    "showCompact), normalized into one certified frame: lock rows carry "
    "the FIFO queue's grant state (two readers ACQUIRED, the EXCLUSIVE "
    "behind them WAITING, a late reader queued behind the X — the "
    "no-barging row — plus concurrent SHARED_WRITE grants and an X "
    "that arrived first), txn rows list exactly the open/aborted txns "
    "from the shared two-writer event log (committed txns never show), "
    "and compaction rows fold the Initiator->Worker->Cleaner queue "
    "history to its latest state (initiated/working/succeeded/failed/"
    "ready-for-cleaning all exercised). The Spark side derives the "
    "queue state TWICE — operationally through AcidLockManager and "
    "declaratively through the same anti-join rule the oracle uses — "
    "and asserts they agree, pinning the Python jump table to the SQL "
    "semantics. Scale: introspection reads metastore-sized frames; "
    "everything here is metadata, no table scan.",
    tags=("workload", "acid", "txn", "ddl"),
)
def acid_show_locks_txns_compactions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # Operational half: replay the request sequence through the real
    # lock manager and capture each lock's final state.
    lm = AcidLockManager()
    for txn, lt, res in _SHOW_LOCK_REQS:
        lm.request(txn, lt, res)
    states = {}
    for lock_id, (txn, lt, res) in enumerate(_SHOW_LOCK_REQS, start=1):
        states[lock_id] = lm.state(txn, res)

    lock_rows = spark.createDataFrame(
        [
            (lock_id, txn, lt, res, states[lock_id])
            for lock_id, (txn, lt, res) in enumerate(
                _SHOW_LOCK_REQS, start=1
            )
        ],
        "lock_id long, txn_id long, lock_type string, resource string, "
        "mgr_state string",
    )
    # Declarative half: the FIFO/no-barging grant rule as an anti-join —
    # WAITING iff any earlier request on the resource is X-incompatible.
    a, b = lock_rows.alias("a"), lock_rows.alias("b")
    blocked = (
        a.join(
            b,
            (F.col("b.resource") == F.col("a.resource"))
            & (F.col("b.lock_id") < F.col("a.lock_id"))
            & (
                (F.col("b.lock_type") == "X")
                | (F.col("a.lock_type") == "X")
            ),
            "left_semi",
        )
        .select(F.col("a.lock_id").alias("lock_id"))
        .withColumn("state", F.lit("WAITING"))
    )
    locks = (
        lock_rows.join(blocked, "lock_id", "left")
        .withColumn("state", F.coalesce("state", F.lit("ACQUIRED")))
    )
    mismatch = locks.filter(F.col("state") != F.col("mgr_state")).count()
    if mismatch:
        raise AssertionError(
            "lock-manager state disagrees with the SQL grant rule on "
            f"{mismatch} locks"
        )
    lock_out = locks.select(
        F.lit("lock").alias("surface"),
        F.col("lock_id").cast("long").alias("id"),
        F.split_part(F.col("resource"), F.lit("."), F.lit(1)).alias("db"),
        F.split_part(
            F.split_part(F.col("resource"), F.lit("."), F.lit(2)),
            F.lit("@"), F.lit(1),
        ).alias("tbl"),
        F.when(
            F.col("resource").contains("@"),
            F.split_part(F.col("resource"), F.lit("@"), F.lit(2)),
        ).otherwise(F.lit("")).alias("part"),
        F.when(F.col("lock_type") == "SR", "SHARED_READ")
        .when(F.col("lock_type") == "SW", "SHARED_WRITE")
        .otherwise("EXCLUSIVE").alias("kind"),
        "state",
        F.col("txn_id").cast("long").alias("txn"),
    )

    txn_log = spark.createDataFrame(
        list(_CONC_LOG), "txn_id long, state string, ts long"
    )
    txn_out = (
        txn_log.groupBy("txn_id")
        .agg(F.max_by("state", "ts").alias("last_state"))
        .filter(F.col("last_state") != "commit")
        .select(
            F.lit("txn").alias("surface"),
            F.col("txn_id").cast("long").alias("id"),
            F.lit("").alias("db"), F.lit("").alias("tbl"),
            F.lit("").alias("part"), F.lit("").alias("kind"),
            F.when(F.col("last_state") == "open", "OPEN")
            .otherwise("ABORTED").alias("state"),
            F.col("txn_id").cast("long").alias("txn"),
        )
    )

    comp_log = spark.createDataFrame(
        list(_SHOW_COMPACT_LOG),
        "id long, db string, tbl string, part string, kind string, "
        "event string, ts long",
    )
    comp_out = (
        comp_log.groupBy("id", "db", "tbl", "part", "kind")
        .agg(F.max_by("event", "ts").alias("state"))
        .select(
            F.lit("compaction").alias("surface"),
            F.col("id").cast("long").alias("id"),
            "db", "tbl", "part", "kind", "state",
            F.lit(None).cast("long").alias("txn"),
        )
    )
    return lock_out.unionByName(txn_out).unionByName(comp_out)


# --------- Heartbeat timeout housekeeper (r15) ----------------------------

# Heartbeat event log: (txn_id, event in open/heartbeat/commit, ts).
# Housekeeper sweep at T=10 with timeout W=5: an OPEN txn whose last
# open/heartbeat event is older than T-W times out and is ABORTED
# (TxnHandler.performTimeOuts); committed txns are immune.
_HB_LOG = (
    (1, "open", 1),
    (5, "open", 1),
    (2, "open", 2),
    (3, "open", 3),
    (5, "heartbeat", 3),
    (1, "heartbeat", 4),
    (3, "commit", 5),
    (4, "open", 6),
    (1, "heartbeat", 7),
)
_HB_NOW, _HB_TIMEOUT = 10, 5

_HB_LOG_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({t}, '{e}', {ts})" for t, e, ts in _HB_LOG
) + ") AS hb_log(txn_id, event, ts)"

# The lock queue at sweep time: the doomed txn 2 holds an EXCLUSIVE
# lock; two readers wait behind it. Removing txn 2's locks must promote
# BOTH readers (FIFO re-promotion after timeout).
_HB_LOCK_REQS = (
    (2, "X", "default.orders"),
    (1, "SR", "default.orders"),
    (4, "SR", "default.orders"),
    (5, "SW", "default.lineitem"),
    (4, "SW", "default.lineitem"),
)

_HB_LOCK_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({i + 1}, {t}, '{lt}', '{res}')"
    for i, (t, lt, res) in enumerate(_HB_LOCK_REQS)
) + ") AS lock_reqs(lock_id, txn_id, lock_type, resource)"


@register(
    "acid_heartbeat_timeout",
    # The oracle derives both phases in SQL: txn states fold to the
    # latest event; a txn times out iff still open with its newest
    # open/heartbeat older than NOW - TIMEOUT; 'after' locks are the
    # queue minus timed-out txns' entries with grant states re-derived
    # by the same no-barging EXISTS rule over the SURVIVORS.
    oracle=f"""
    WITH hb_log AS ({_HB_LOG_SQL}),
    lock_reqs AS ({_HB_LOCK_SQL}),
    latest AS (
      SELECT txn_id, event,
             ROW_NUMBER() OVER (PARTITION BY txn_id ORDER BY ts DESC) AS rn
      FROM hb_log
    ),
    cur AS (SELECT txn_id, event AS last_event FROM latest WHERE rn = 1),
    beat AS (
      SELECT txn_id, MAX(ts) AS last_beat
      FROM hb_log WHERE event IN ('open', 'heartbeat') GROUP BY txn_id
    ),
    txns AS (
      SELECT c.txn_id,
             CASE WHEN c.last_event = 'commit' THEN 'COMMITTED'
                  ELSE 'OPEN' END AS before_state,
             CASE WHEN c.last_event = 'commit' THEN 'COMMITTED'
                  WHEN b.last_beat < {_HB_NOW} - {_HB_TIMEOUT}
                  THEN 'ABORTED' ELSE 'OPEN' END AS after_state
      FROM cur c JOIN beat b ON b.txn_id = c.txn_id
    ),
    doomed AS (
      SELECT txn_id FROM txns
      WHERE before_state = 'OPEN' AND after_state = 'ABORTED'
    ),
    locks_before AS (
      SELECT a.lock_id, a.txn_id, a.lock_type, a.resource,
             CASE WHEN EXISTS (
               SELECT 1 FROM lock_reqs b
               WHERE b.resource = a.resource AND b.lock_id < a.lock_id
                 AND (b.lock_type = 'X' OR a.lock_type = 'X')
             ) THEN 'WAITING' ELSE 'ACQUIRED' END AS state
      FROM lock_reqs a
    ),
    survivors AS (
      SELECT * FROM lock_reqs
      WHERE txn_id NOT IN (SELECT txn_id FROM doomed)
    ),
    locks_after AS (
      SELECT a.lock_id, a.txn_id, a.lock_type, a.resource,
             CASE WHEN EXISTS (
               SELECT 1 FROM survivors b
               WHERE b.resource = a.resource AND b.lock_id < a.lock_id
                 AND (b.lock_type = 'X' OR a.lock_type = 'X')
             ) THEN 'WAITING' ELSE 'ACQUIRED' END AS state
      FROM survivors a
    )
    SELECT 'before' AS phase, 'txn' AS surface,
           CAST(txn_id AS BIGINT) AS id, '' AS kind, before_state AS state
    FROM txns
    UNION ALL
    SELECT 'after', 'txn', CAST(txn_id AS BIGINT), '', after_state FROM txns
    UNION ALL
    SELECT 'before', 'lock', CAST(lock_id AS BIGINT), lock_type, state
    FROM locks_before
    UNION ALL
    SELECT 'after', 'lock', CAST(lock_id AS BIGINT), lock_type, state
    FROM locks_after
    """,
    doc="Heartbeat TIMEOUT housekeeping — the AcidHouseKeeperService "
    "sweep (reference anchors: metastore/txn/TxnHandler.java "
    "performTimeOuts + timeOutLocks, ql/txn/AcidHouseKeeperService."
    "java): an OPEN transaction whose newest open/heartbeat event is "
    "older than NOW - timeout is ABORTED by the housekeeper (committed "
    "txns immune, freshly-opened and freshly-beaten txns survive), and "
    "the dead txns' locks leave the queue — which must PROMOTE the "
    "FIFO waiters behind them (two readers blocked by the doomed "
    "writer's EXCLUSIVE both acquire after the sweep; a shared-writer "
    "pair where one partner dies keeps the survivor granted). The "
    "Spark side replays the sweep operationally through AcidLockManager "
    "(request -> release(doomed) -> re-check) AND derives both phases "
    "declaratively; the runtime asserts the two agree on every lock "
    "before returning. Scale: housekeeping is metastore-sized metadata "
    "— the point of covering it is correctness of what readers see "
    "next, not throughput.",
    tags=("workload", "acid", "txn"),
)
def acid_heartbeat_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Operational sweep through the real lock manager.
    lm = AcidLockManager()
    for txn, lt, res in _HB_LOCK_REQS:
        lm.request(txn, lt, res)
    before_states = {
        i + 1: lm.state(txn, res)
        for i, (txn, lt, res) in enumerate(_HB_LOCK_REQS)
    }
    # performTimeOuts: latest open/heartbeat older than NOW - TIMEOUT
    last_event: dict[int, str] = {}
    last_beat: dict[int, int] = {}
    for t, e, ts in sorted(_HB_LOG, key=lambda r: r[2]):
        last_event[t] = e
        if e in ("open", "heartbeat"):
            last_beat[t] = ts
    doomed = {
        t
        for t, e in last_event.items()
        if e != "commit" and last_beat[t] < _HB_NOW - _HB_TIMEOUT
    }
    if doomed != {2, 5}:
        raise AssertionError(f"timeout sweep picked {doomed}, expected 2,5")
    for t in doomed:
        lm.release(t)
    after_states = {
        i + 1: lm.state(txn, res)
        for i, (txn, lt, res) in enumerate(_HB_LOCK_REQS)
        if txn not in doomed
    }
    # The promotion the sweep must cause: both readers behind the doomed
    # X acquire; the surviving shared writer stays granted.
    if after_states != {2: "ACQUIRED", 3: "ACQUIRED", 5: "ACQUIRED"}:
        raise AssertionError(f"post-sweep promotion broken: {after_states}")

    hb = spark.createDataFrame(
        list(_HB_LOG), "txn_id long, event string, ts long"
    )
    cur = hb.groupBy("txn_id").agg(
        F.max_by("event", "ts").alias("last_event")
    )
    beat = (
        hb.filter(F.col("event").isin("open", "heartbeat"))
        .groupBy("txn_id")
        .agg(F.max("ts").alias("last_beat"))
    )
    txns = cur.join(beat, "txn_id").select(
        "txn_id",
        F.when(F.col("last_event") == "commit", "COMMITTED")
        .otherwise("OPEN").alias("before_state"),
        F.when(F.col("last_event") == "commit", "COMMITTED")
        .when(
            F.col("last_beat") < F.lit(_HB_NOW - _HB_TIMEOUT), "ABORTED"
        )
        .otherwise("OPEN").alias("after_state"),
    )
    lock_rows = spark.createDataFrame(
        [
            (i + 1, txn, lt, res)
            for i, (txn, lt, res) in enumerate(_HB_LOCK_REQS)
        ],
        "lock_id long, txn_id long, lock_type string, resource string",
    )

    def grant_states(rows: DataFrame) -> DataFrame:
        a, b = rows.alias("a"), rows.alias("b")
        blocked = (
            a.join(
                b,
                (F.col("b.resource") == F.col("a.resource"))
                & (F.col("b.lock_id") < F.col("a.lock_id"))
                & (
                    (F.col("b.lock_type") == "X")
                    | (F.col("a.lock_type") == "X")
                ),
                "left_semi",
            )
            .select(F.col("a.lock_id").alias("lock_id"))
            .withColumn("state", F.lit("WAITING"))
        )
        return rows.join(blocked, "lock_id", "left").withColumn(
            "state", F.coalesce("state", F.lit("ACQUIRED"))
        )

    doomed_df = txns.filter(
        (F.col("before_state") == "OPEN")
        & (F.col("after_state") == "ABORTED")
    ).select("txn_id")
    locks_before = grant_states(lock_rows)
    survivors = lock_rows.join(doomed_df, "txn_id", "left_anti")
    locks_after = grant_states(survivors)

    # Pin the declarative derivation to the operational sweep.
    got_before = {
        r["lock_id"]: r["state"] for r in locks_before.collect()
    }
    if got_before != before_states:
        raise AssertionError(
            f"before-phase SQL rule disagrees: {got_before}"
        )
    got_after = {r["lock_id"]: r["state"] for r in locks_after.collect()}
    if got_after != after_states:
        raise AssertionError(f"after-phase SQL rule disagrees: {got_after}")

    def txn_phase(phase: str, col: str) -> DataFrame:
        return txns.select(
            F.lit(phase).alias("phase"), F.lit("txn").alias("surface"),
            F.col("txn_id").cast("long").alias("id"),
            F.lit("").alias("kind"), F.col(col).alias("state"),
        )

    def lock_phase(phase: str, rows: DataFrame) -> DataFrame:
        return rows.select(
            F.lit(phase).alias("phase"), F.lit("lock").alias("surface"),
            F.col("lock_id").cast("long").alias("id"),
            F.col("lock_type").alias("kind"), "state",
        )

    return (
        txn_phase("before", "before_state")
        .unionByName(txn_phase("after", "after_state"))
        .unionByName(lock_phase("before", locks_before))
        .unionByName(lock_phase("after", locks_after))
    )
