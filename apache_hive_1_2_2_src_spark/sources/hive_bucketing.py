"""Hive-1.2-compatible bucketing: compute Hive's bucket ids inside Spark,
write flat bucketed layouts Hive 1.2 can read bucket-aware, and read such
layouts back WITH bucket pruning.

SURVEY §1.1 / SCALE.md §interop establish the hash mismatch: Spark's
``bucketBy`` routes rows by Murmur3 while Hive 1.2 buckets by
``ObjectInspectorUtils.hashCode`` (reference anchors:
``serde2/objectinspector/ObjectInspectorUtils.java`` — ``intValue`` for
ints, ``(int)(v ^ (v >>> 32))`` for longs, the Java ``String.hashCode``
31-fold over UTF-16 code units for strings; ``ql/exec/ReduceSinkOperator``
routes with ``(hash & Integer.MAX_VALUE) % numBuckets``; a NULL key hashes
to 0 → bucket 0). Mixing the two layouts silently misplaces rows. This
module makes the boundary crossable in BOTH directions:

- ``hive_string_hash(col)`` / ``hive_int_hash(col)`` / ``hive_long_hash``
  — Hive's hash as pure Spark codegen expressions. The string fold runs
  over the UTF-16BE encoding of the value (hex + per-unit ``conv``), so it
  is exact for EVERY string Java can represent — including non-Latin
  scripts and surrogate pairs, which each contribute their two code units
  exactly as ``String.hashCode`` does. (The round-8 version folded
  ``ascii()`` code points and was exact only below U+0080.)
- ``hive_bucket_id(col, n, kind)`` — the resulting bucket id, with NULL
  keys routed to bucket 0 like Hive.
- ``write_hive_bucketed(df, key, n, path)`` — a FLAT directory of exactly
  ``n`` files named ``000000_0 … 00000{n-1}_0`` where file *i* holds
  precisely the rows Hive assigns to bucket *i* (Hive 1.2 maps buckets to
  files by lexicographic name order) — i.e. a layout that satisfies the
  ``CLUSTERED BY`` contract, which tests/test_bucketing_interop.py proves
  Spark's own ``bucketBy`` does NOT. The flatten pass goes through the
  Hadoop FileSystem API (not local ``glob``/``shutil``), so it works on
  any Hadoop-supported store (HDFS, file://, s3a:// with a
  rename-supporting committer); all buckets are validated BEFORE the
  first rename and a failed flatten removes the partial output, so a Hive
  reader can never observe a half-built layout.
- ``read_hive_bucketed(spark, path, …, buckets=…)`` — bucket-PRUNED scan
  of such a layout: for a literal key predicate only ``len(buckets)`` of
  the ``n`` files are opened (the ``BucketMapJoinOptimizer.java`` /
  table-sample-on-bucket read contract); ``hive_hash_value()`` is the
  driver-side replica that picks the bucket for a literal.
- Round 12 extends the trilogy to the NESTED real-warehouse shape
  (``part=<v>/000000_0`` — ``FileSinkOperator.getDynOutPaths``):
  ``write_hive_partitioned_bucketed`` / ``read_hive_partitioned_bucketed``
  (partition pruning composes with bucket pruning: |parts|·|buckets| of
  p·n files), ``hive_part_bucket_map_join`` and
  ``hive_part_smb_merge_join`` (partition-pruned fact, per-bucket
  co-located joins), and ``validate_hive_sorted_partitioned_bucketed``.
  The SMB engine (inner/left/full + sub_split) is shared via
  ``_smb_cogroup_join``; the ACID module composes these layouts further
  (bucket files inside base/delta dirs — see operators/acid.py).

Scale: the bucket id is one codegen expression; the write shuffles once
(repartition on the bucket id). The pruned read is a metadata-level win:
probing one key in a 100 TB table bucketed 1024-ways opens 1/1024 of the
files — no scan, no shuffle. Hive's flat layout requires exactly one file
per bucket, so each bucket serializes through one write task; at very
large scale prefer many buckets (files stay ~HDFS-block-sized) — the same
tradeoff Hive itself has.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_hive_1_2_2_src_spark.registry import register
from apache_hive_1_2_2_src_spark.streaming.epoch_store import concurrently
from apache_hive_1_2_2_src_spark.tables import hadoop_fs, load_table

_2_32 = 4_294_967_296
_2_31 = 2_147_483_648
_I32_MIN, _I32_MAX = -2_147_483_648, 2_147_483_647


def hive_string_hash(col: str) -> Column:
    """Java ``String.hashCode`` (= Hive 1.2 Text hash) as unsigned mod 2^32.

    ``h = Σ u[i]·31^(n-1-i)`` over UTF-16 code units with int32 wraparound —
    computed by folding ``acc·31 + unit`` mod 2^32 (keeps the BIGINT
    accumulator < 1.4e11, far from overflow). The units come from
    ``hex(encode(col, 'UTF-16BE'))``: 4 hex chars per code unit, decoded
    with ``conv(…, 16, 10)``. UTF-16BE is BOM-free and encodes
    supplementary characters as their surrogate pair, so the fold sees
    exactly the units ``String.hashCode`` sees — exact for ALL strings,
    not just Latin-1. The outer single-element ``transform`` binds the hex
    string once per row (not once per unit).
    """
    fold = (
        f"transform(array(hex(encode({col}, 'UTF-16BE'))), h -> "
        f"aggregate(transform(sequence(1, length(h) DIV 4), "
        f"i -> CAST(conv(substring(h, i * 4 - 3, 4), 16, 10) AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> (acc * 31 + x) % {_2_32}))[0]"
    )
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — guard "".
    return F.when(F.length(col) == 0, F.lit(0).cast("long")).otherwise(F.expr(fold))


def hive_int_hash(col: str) -> Column:
    """Hive 1.2 INT hash: the value itself (``IntWritable.hashCode``), as
    unsigned mod 2^32 so the bucket math below is sign-correct.

    Values outside int32 raise at runtime instead of silently mis-routing:
    a Hive INT column can never hold them, and a BIGINT column hashes
    differently (use ``kind='long'``)."""
    v = F.col(col).cast("long")
    return F.when(
        (v < _I32_MIN) | (v > _I32_MAX),
        F.expr(
            f"raise_error(concat('hive_int_hash: value out of int32 range "
            f"(use kind=long for BIGINT keys): ', CAST({col} AS STRING)))"
        ).cast("long"),
    ).otherwise(F.pmod(v, F.lit(_2_32)))


def hive_long_hash(col: str) -> Column:
    """Hive 1.2 BIGINT hash: ``(int)(v ^ (v >>> 32))``
    (``LongWritable.hashCode``), as unsigned mod 2^32. Note Int(-5) and
    Long(-5) hash DIFFERENTLY in Hive (-5 vs 4) — kind must follow the
    Hive column type, not the value range."""
    v = f"CAST({col} AS BIGINT)"
    return F.pmod(F.expr(f"{v} ^ shiftrightunsigned({v}, 32)"), F.lit(_2_32))


_HASHES = {"string": hive_string_hash, "int": hive_int_hash, "long": hive_long_hash}


def hive_bucket_id(col: str, n_buckets: int, kind: str = "string") -> Column:
    """Hive's ``(hash & Integer.MAX_VALUE) % numBuckets``: masking bit 31
    of the unsigned 32-bit value is exactly mod 2^31. NULL keys hash to 0
    (ObjectInspectorUtils.hashCode(null) == 0) → bucket 0."""
    h = F.coalesce(_HASHES[kind](col), F.lit(0).cast("long"))
    return ((h % _2_31) % n_buckets).cast("int")


def hive_hash_value(value, kind: str = "string") -> int:
    """Driver-side replica of the Hive hash for a LITERAL key value —
    used to pick the bucket file(s) for a pruned read. Unsigned mod 2^32,
    same contract as the Column forms above."""
    if value is None:
        return 0
    if kind == "string":
        data = str(value).encode("utf-16-be")
        h = 0
        for i in range(0, len(data), 2):
            h = (h * 31 + int.from_bytes(data[i : i + 2], "big")) & 0xFFFFFFFF
        return h
    v = int(value)
    if kind == "int":
        if not (_I32_MIN <= v <= _I32_MAX):
            raise ValueError(f"int key out of int32 range: {v}")
        return v & 0xFFFFFFFF
    if kind == "long":
        return (v ^ ((v & 0xFFFFFFFFFFFFFFFF) >> 32)) & 0xFFFFFFFF
    raise ValueError(f"unknown kind: {kind}")


def hive_bucket_of(value, n_buckets: int, kind: str = "string") -> int:
    """Bucket number Hive assigns to a literal key value."""
    return (hive_hash_value(value, kind) % _2_31) % n_buckets


def _parquet_files(fs, path_cls, d: str) -> list[str]:
    p = path_cls(d)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().toString()
        for st in fs.listStatus(p)
        if st.getPath().getName().endswith(".parquet")
    )


def _flatten_positional(
    spark: SparkSession,
    path: str,
    staging: str,
    parse: Callable[[list[str]], dict],
    template: DataFrame,
) -> None:
    """The one positional-file flatten of the bucketed writers.
    ``staging`` holds a ``partitionBy(..., "__hb")`` write; ``parse`` maps
    its leaf files (decoded paths) to {(subdir, bucket) -> files}, with an
    entry for every positional file the layout needs (subdir ``""`` is the
    flat layout). Each file is renamed to ``path/<subdir>/<bucket>_0`` and
    an empty pair gets a 0-row copy of ``template`` (Hive's reader
    requires all n present). A pair split across files is refused BEFORE
    any rename, a failed placement removes the output dir, and the
    staging dir is removed in every case, so a reader can never mistake a
    half-built directory for a complete bucketed table."""
    from concurrent.futures import ThreadPoolExecutor
    from urllib.parse import unquote, urlparse

    jvm, fs, P = hadoop_fs(spark, path)
    try:
        # ONE inputFiles() round trip enumerates all staged leaf files
        # (the JVM lists in parallel) — beats BOTH prior forms measured
        # at n=1024: per-dir pooled listStatus 1.0 s (n py4j calls) and
        # recursive listFiles 9.8 s (~3 gateway round-trips per file);
        # at 100x128 the per-leaf listing was ~8.3 s of a 48.6 s nested
        # write. Paths come back URI-encoded; one unquote recovers the
        # on-disk names the renames need ('+' is untouched by unquote).
        files = parse([
            unquote(urlparse(f).path)
            for f in spark.read.parquet(staging).inputFiles()
        ])
        split = {pb: fls for pb, fls in files.items() if len(fls) > 1}
        if split:
            # repartition + partitionBy puts each (subdir, bucket) in one
            # task's output; >1 file means that invariant broke — refuse
            # BEFORE any rename so no partial layout ever exists.
            raise RuntimeError(f"buckets split across multiple files: {split}")
        if any(not fls for fls in files.values()):
            template.write.mode("overwrite").parquet(f"{staging}/__empty")
            empty = P(_parquet_files(fs, P, f"{staging}/__empty")[0])
        out = P(path)
        if fs.exists(out):
            fs.delete(out, True)

        def _dir(subdir: str) -> str:
            return f"{path}/{subdir}" if subdir else path

        for subdir in dict.fromkeys(sd for sd, _ in files):
            fs.mkdirs(P(_dir(subdir)))

        def _place(pb: tuple[str, int]) -> None:
            dest = P(f"{_dir(pb[0])}/{pb[1]:06d}_0")
            if files[pb]:
                if not fs.rename(P(files[pb][0]), dest):
                    raise RuntimeError(f"rename failed for {pb}")
            else:
                jvm.org.apache.hadoop.fs.FileUtil.copy(
                    fs, empty, fs, dest, False,
                    spark._jsc.hadoopConfiguration(),
                )

        # Parallel placement: renames are driver-side FS metadata calls
        # (py4j is thread-safe; HDFS/s3a clients too). Measured 0.8 s vs
        # ~3 s sequential at n=1024 locally; on an object store at
        # ~50 ms/rename the 16-way pool is the difference between minutes
        # and seconds. All futures are AWAITED before any cleanup so a
        # failure still tears down a quiescent out dir — no rename races
        # the delete.
        with ThreadPoolExecutor(max_workers=16) as pool:
            errs = [f.exception() for f in [pool.submit(_place, pb) for pb in files]]
        first = next((e for e in errs if e is not None), None)
        if first is not None:
            fs.delete(out, True)  # never leave a partial layout
            raise first
    finally:
        fs.delete(P(staging), True)


def write_hive_bucketed(
    df: DataFrame,
    key: str,
    n_buckets: int,
    path: str,
    kind: str = "string",
    sorted_by: str | None = None,
) -> None:
    """Write a flat Hive-1.2-readable bucketed layout: n_buckets files,
    ``000000_0``-style names in bucket order, file i = Hive bucket i.

    ``sorted_by`` adds ``SORTED BY (col ASC)`` parity: each bucket file is
    written in ascending ``sorted_by`` order (NULLs first, Spark/Hive ASC
    default), the layout Hive's SMB machinery
    (``SortedMergeBucketMapJoinOptimizer.java``) requires. Rows are sorted
    WITHIN tasks by (bucket, key): two bucket ids can share one task after
    ``repartition(n, __hb)``, and partitionBy then splits them into
    per-bucket files preserving the task's row order — so each file comes
    out key-sorted.

    partitionBy gives exact bucket→directory routing (a plain
    ``repartition(n, col)`` re-hashes the bucket id with Spark's hash, so
    file order would NOT be bucket order); ``_flatten_positional`` then
    renames the files into Hive's positional naming via the Hadoop
    FileSystem API (single-file check before any rename, schema-bearing
    files for empty buckets, no partial output on failure). NULL keys
    route to bucket 0 (Hive's rule) — they never reach partitionBy's
    __HIVE_DEFAULT_PARTITION__ path, which the round-8 version silently
    dropped."""
    spark = df.sparkSession
    staging = path + ".__staging"
    staged = df.withColumn("__hb", hive_bucket_id(key, n_buckets, kind)).repartition(
        n_buckets, "__hb"
    )
    if sorted_by is not None:
        staged = staged.sortWithinPartitions("__hb", sorted_by)
    staged.write.mode("overwrite").partitionBy("__hb").parquet(staging)

    def parse(leaves: list[str]) -> dict:
        files: dict = {("", b): [] for b in range(n_buckets)}
        for f in leaves:
            files["", int(f.split("/")[-2].split("=", 1)[1])].append(f)
        return files

    # partitionBy strips only __hb, so bucket files carry the full row
    # schema; empty buckets get a 0-row copy of that schema.
    _flatten_positional(spark, path, staging, parse, df.limit(0))


def read_hive_bucketed(
    spark: SparkSession,
    path: str,
    n_buckets: int,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Bucket-pruned read of a flat Hive-1.2 bucketed layout: open ONLY
    the positional files for ``buckets`` (all n if None). For a literal
    key predicate, pick the bucket with ``hive_bucket_of(value, n, kind)``
    — the read-side half of the CLUSTERED BY contract
    (BucketMapJoinOptimizer.java / TABLESAMPLE(BUCKET x OUT OF n) both
    assume exactly this file↔bucket mapping). The caller must still apply
    the key filter: a bucket holds every key that hashes to it."""
    if buckets is None:
        buckets = list(range(n_buckets))
    bad = [b for b in buckets if not (0 <= b < n_buckets)]
    if bad:
        raise ValueError(f"bucket ids out of range: {bad}")
    if len(set(buckets)) == n_buckets:
        # full read: ONE directory listing instead of n per-path lookups —
        # the per-path form costs the driver ~4.5 ms/file (measured,
        # SCALE.md §SMB plan-cost audit: 4.6 s to BUILD the plan at 1024
        # buckets), the glob form is flat in n. The explicit file-count
        # check below keeps the per-path form's loud failure on a
        # missing/extra bucket file — a glob over a corrupt layout would
        # otherwise silently read fewer buckets (wrong rows, no error).
        _, fs, P = hadoop_fs(spark, path)
        found = sorted(
            st.getPath().getName()
            for st in fs.listStatus(P(path))
            if st.getPath().getName().endswith("_0")
        )
        want = [f"{b:06d}_0" for b in range(n_buckets)]
        if found != want:
            raise ValueError(
                f"layout at {path} is not {n_buckets}-bucketed: found "
                f"{len(found)} positional files"
            )
        return spark.read.option("pathGlobFilter", "*_0").parquet(path)
    return spark.read.parquet(*[f"{path}/{b:06d}_0" for b in sorted(set(buckets))])


@register(
    "hive_bucket_id_compat",
    # Independent DuckDB replica of the Java spec: the same 31-fold via
    # list_reduce (prepend-0 gives the explicit zero accumulator) — two
    # implementations of String.hashCode that must agree value-for-value.
    # (DuckDB folds code POINTS via ord(); the Spark side folds UTF-16
    # code UNITS — identical on this all-ASCII corpus, and the unit form
    # is the Java-exact one, property-tested in
    # tests/test_bucketing_interop.py on non-ASCII and surrogate pairs.)
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey,
             CASE WHEN length(o_orderpriority) = 0 THEN 0
                  ELSE list_reduce(
                    list_prepend(CAST(0 AS BIGINT), list_transform(
                      range(1, length(o_orderpriority) + 1),
                      i -> CAST(ord(substr(o_orderpriority, i, 1)) AS BIGINT))),
                    (a, b) -> (a * 31 + b) % {_2_32})
             END AS sh,
             o_orderkey % {_2_32} AS ih
      FROM orders
    ),
    b AS (
      SELECT CAST((sh % {_2_31}) % 16 AS INT) AS str_bucket,
             CAST((ih % {_2_31}) % 16 AS INT) AS int_bucket,
             sh
      FROM h
    )
    SELECT str_bucket, int_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(sh) AS BIGINT) AS hash_checksum
    FROM b GROUP BY str_bucket, int_bucket
    """,
    doc="Hive-1.2 bucket-id computation inside Spark (ObjectInspectorUtils."
    "hashCode parity): Java String.hashCode as a codegen aggregate fold "
    "over orders.o_orderpriority and the int identity hash over "
    "o_orderkey, both through Hive's (hash & Integer.MAX_VALUE) % 16 "
    "routing; output is the 2-D bucket histogram + an exact hash checksum "
    "so one wrong code point breaks the hash. The oracle recomputes the "
    "Java spec independently in DuckDB (list_reduce fold). This is the "
    "expression write_hive_bucketed() routes with — the Hive-ward half of "
    "the interop contract whose Spark-ward half (bucketBy mismatch) is "
    "pinned in tests/test_bucketing_interop.py.",
    tags=("source", "bucketing", "interop"),
)
def hive_bucket_id_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    b = o.select(
        hive_bucket_id("o_orderpriority", 16, "string").alias("str_bucket"),
        hive_bucket_id("o_orderkey", 16, "int").alias("int_bucket"),
        hive_string_hash("o_orderpriority").alias("sh"),
    )
    return b.groupBy("str_bucket", "int_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sh").cast("long").alias("hash_checksum"),
    )


_READ_PRUNE_KEY = "1-URGENT"
_READ_PRUNE_BUCKETS = 8


@register(
    "hive_bucketed_read_prune",
    # The oracle recomputes BOTH halves of the pruned-read contract from
    # the raw table: (a) the '1-URGENT' slice the caller actually wants,
    # and (b) the full population of the ONE bucket file the pruned scan
    # opened — every row whose Java-hash bucket equals the literal key's
    # bucket (the same list_reduce String.hashCode replica as
    # hive_bucket_id_compat). If the writer misplaced one row, or the
    # reader opened the wrong file, bucket_rows or the sums diverge.
    oracle=f"""
    WITH h AS (
      SELECT o_orderpriority, o_totalprice,
             CAST((list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_transform(
                 range(1, length(o_orderpriority) + 1),
                 i -> CAST(ord(substr(o_orderpriority, i, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % {_2_32}) % {_2_31})
               % {_READ_PRUNE_BUCKETS} AS INT) AS bucket
      FROM orders
    ),
    lit AS (
      SELECT CAST((list_reduce(
               list_prepend(CAST(0 AS BIGINT), list_transform(
                 range(1, length('{_READ_PRUNE_KEY}') + 1),
                 i -> CAST(ord(substr('{_READ_PRUNE_KEY}', i, 1)) AS BIGINT))),
               (a, b) -> (a * 31 + b) % {_2_32}) % {_2_31})
               % {_READ_PRUNE_BUCKETS} AS INT) AS key_bucket
    )
    SELECT (SELECT key_bucket FROM lit) AS key_bucket,
           CAST(1 AS INT) AS files_opened,
           CAST(COUNT(*) AS BIGINT) AS bucket_rows,
           CAST(COUNT(*) FILTER (WHERE o_orderpriority = '{_READ_PRUNE_KEY}')
                AS BIGINT) AS key_rows,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                FILTER (WHERE o_orderpriority = '{_READ_PRUNE_KEY}')
                AS DECIMAL(18,2)) AS DOUBLE) AS key_revenue
    FROM h WHERE bucket = (SELECT key_bucket FROM lit)
    """,
    doc="Bucket-PRUNED read of a Hive-1.2 flat bucketed layout (read-side "
    "CLUSTERED BY contract, BucketMapJoinOptimizer.java anchor): orders is "
    "written 8-way Hive-bucketed on o_orderpriority, then the scan for the "
    "'1-URGENT' key opens ONLY that key's positional bucket file — "
    "files_opened is asserted = 1 from the actual Spark inputFiles() of "
    "the pruned DataFrame, 1/8th of the table touched. Output reconciles "
    "the pruned scan against the raw table: the bucket file's full row "
    "count (every priority that co-hashes there) plus the key slice's "
    "exact count and DECIMAL-summed revenue. The oracle recomputes bucket "
    "membership from the raw table via the DuckDB String.hashCode replica "
    "— a writer misroute OR a reader wrong-file both break the hash.",
    tags=("source", "bucketing", "interop", "write-path"),
)
def hive_bucketed_read_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _READ_PRUNE_BUCKETS
    out = _tmp("hive_bucketed_orders")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    write_hive_bucketed(o, "o_orderpriority", n, out, kind="string")
    kb = hive_bucket_of(_READ_PRUNE_KEY, n, "string")
    pruned = read_hive_bucketed(spark, out, n, buckets=[kb])
    files_opened = len(pruned.inputFiles())  # the pruning proof: 1 of 8
    key = F.col("o_orderpriority") == _READ_PRUNE_KEY
    return pruned.agg(
        F.lit(kb).cast("int").alias("key_bucket"),
        F.lit(files_opened).cast("int").alias("files_opened"),
        F.count(F.lit(1)).alias("bucket_rows"),
        F.count(F.when(key, 1)).alias("key_rows"),
        F.sum(F.when(key, F.col("o_totalprice")).cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .cast("double")
        .alias("key_revenue"),
    )


def hive_bucket_map_join(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    n_buckets: int,
    on_a: str,
    on_b: str,
    chunk_buckets: int = 1,
    how: str = "inner",
) -> DataFrame:
    """Hive's BUCKET MAP JOIN over two Hive-written flat layouts
    (``BucketMapJoinOptimizer.java`` / ``MapJoinProcessor``): both tables
    are CLUSTERED BY the join key INTO the same n, so bucket i of A can
    only match bucket i of B — the join runs as independent per-bucket
    joins (small side broadcast per bucket) and the FACT side never
    shuffles. This is exactly the plan Hive 1.2 picks when
    hive.optimize.bucketmapjoin=true; here it also proves the two writers
    routed identically — one misrouted row loses its match and breaks the
    caller's aggregate. No Exchange on the key ever appears
    (plan-asserted in tests/test_bucketing_interop.py).

    ``chunk_buckets`` bounds DRIVER-side planning cost at high bucket
    counts. Measured (local[32], tiny files): plan construction is ~75 ms
    per per-bucket read — 14.6 s at 64 buckets, 38.9 s at 256, ~2.6 min
    extrapolated at 1024 — because each bucket costs two spark.read calls
    plus a Join+Union node pair. With ``chunk_buckets=c`` the same join
    runs as ceil(n/c) chunk joins: each reads buckets [i*c, (i+1)*c) of
    BOTH sides in one multi-file spark.read and joins on the key alone.
    Correct because the key DETERMINES the bucket (both layouts share one
    hash): a matching pair lives in the same bucket, hence the same chunk,
    and no pair spans chunks — each appears exactly once. Broadcast memory
    per chunk join is c/n of the small side (Hive's per-bucket hashtable
    bound, scaled by c), so c dials plan size against executor memory:
    1024 buckets at c=32 is 32 plan nodes and 1/32 of the small side
    resident per task. The default c=1 keeps the strict one-bucket-ata-
    time Hive semantics, which is also the sharpest interop certificate
    (a cross-bucket misroute loses its match; with c>1 a misroute WITHIN
    a chunk would still match, weakening that signal — use c=1 when the
    point is to verify a foreign writer).

    ``how`` supports ``'inner'`` and ``'left'`` (MapJoinOperator executes
    LEFT OUTER map joins with the small side on the right): the per-chunk
    Spark join carries the outer semantics natively — NULL-key fact rows
    route to bucket 0 and come back unmatched with NULL right columns,
    and per-chunk unmatched == globally unmatched because each left row
    lives in exactly one chunk. Right-outer = swap the sides.

    Both layouts must have exactly ``n_buckets`` positional files —
    verified up front: joining an m-bucketed layout as n-bucketed would
    silently lose every pair whose two hashes disagree mod m vs mod n
    (Hive raises the same error via CLUSTERED BY metadata)."""
    spark_ = spark
    _, fs, P = hadoop_fs(spark_, path_a)
    for side, path in (("left", path_a), ("right", path_b)):
        found = sorted(
            st.getPath().getName()
            for st in fs.listStatus(P(path))
            if st.getPath().getName().endswith("_0")
        )
        want = [f"{b:06d}_0" for b in range(n_buckets)]
        if found != want:
            raise ValueError(
                f"{side} layout at {path} is not {n_buckets}-bucketed: "
                f"found {len(found)} positional files"
            )
    if not 1 <= chunk_buckets <= n_buckets:
        raise ValueError(
            f"chunk_buckets must be in [1, {n_buckets}], got {chunk_buckets}"
        )
    if how not in ("inner", "left"):
        raise ValueError(
            f"how must be 'inner' or 'left' (right = swap the sides), got {how!r}"
        )
    parts = []
    for lo in range(0, n_buckets, chunk_buckets):
        chunk = list(range(lo, min(lo + chunk_buckets, n_buckets)))
        # Alias the two sides so the join resolves even when both layouts
        # use the SAME key column name (the common CLUSTERED BY setup):
        # a bare F.col(on_a) == F.col(on_b) is ambiguous in that case.
        a = read_hive_bucketed(spark, path_a, n_buckets, buckets=chunk).alias(
            "__bmj_l"
        )
        bb = read_hive_bucketed(spark, path_b, n_buckets, buckets=chunk).alias(
            "__bmj_r"
        )
        joined = a.join(
            F.broadcast(bb),
            F.col(f"__bmj_l.{on_a}") == F.col(f"__bmj_r.{on_b}"),
            how,
        )
        if on_a == on_b:
            # Equi-join on a shared column name: keep one copy of the key
            # so the result has unique column names and the per-bucket
            # unionByName works. The RIGHT copy is dropped — load-bearing
            # for how='left', where unmatched rows carry the value only in
            # the left copy (the right one is NULL).
            joined = joined.drop(F.col(f"__bmj_r.{on_b}"))
        parts.append(joined)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_BMJ_BUCKETS = 8


@register(
    "hive_bucket_map_join",
    # The oracle is the PLAIN join over the raw tables: hash-equality
    # certifies that (a) both writers routed every row to the Hive bucket
    # its key demands (a misroute loses the pair), and (b) the n
    # per-bucket joins exactly tile the full join (no pair crosses
    # buckets; none is double-counted).
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="BUCKET MAP JOIN over Hive-written layouts (BucketMapJoinOptimizer"
    ".java parity, completing the interop trilogy: write + pruned read + "
    "co-located join): orders and customer are both written with "
    "write_hive_bucketed on the customer key (kind='long' — "
    "LongWritable.hashCode routing), then joined bucket-by-bucket (8 "
    "independent per-bucket joins, dimension side broadcast per bucket) "
    "with the fact side never shuffling on the key. The oracle is the "
    "plain unbucketed join: one row misrouted by EITHER writer, or one "
    "bucket pair skipped/doubled by the join, shifts the per-segment "
    "counts and revenue. tests/test_bucketing_interop.py asserts the "
    "no-shuffle plan shape.",
    tags=("source", "bucketing", "interop", "join"),
)
def hive_bucket_map_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _BMJ_BUCKETS
    op, cp = _tmp("bmj_orders"), _tmp("bmj_customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_hive_bucketed(o, "o_custkey", n, op, kind="long")
    write_hive_bucketed(c, "c_custkey", n, cp, kind="long")
    joined = hive_bucket_map_join(spark, op, cp, n, "o_custkey", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# Conf-isolated helper sessions, ONE per (SparkContext, purpose) — a
# newSession() carries its own SessionState, so creating one per call
# accumulates session state in a long-lived driver (ADVICE r12). Keyed by
# applicationId (unique per context, unlike id() which the allocator can
# reuse) so a stopped-and-recreated context gets fresh sessions.
_ISO_SESSIONS: dict[tuple[str, str], SparkSession] = {}
_ISO_LOCK = __import__("threading").Lock()
# Serializes the sorted-layout scan's per-call maxPartitionBytes set + run
# on the shared "sorted-scan" session (conf is read at execution time).
_SORTED_SCAN_LOCK = __import__("threading").Lock()


def _iso_session(spark: SparkSession, purpose: str) -> SparkSession:
    """Return the cached conf-isolated session for ``purpose`` (created on
    first use). Callers own the conf they set on it; anything that mutates
    a conf per call must serialize its set+use (see _check_sorted_files).
    Entries keyed by a STOPPED context are evicted on lookup (ADVICE
    r13): in a long-lived driver that restarts its SparkContext, the old
    context's sessions (and their JVM SessionState) would otherwise
    accumulate forever — the same leak class the per-call newSession()
    had, one tier up."""
    key = (spark.sparkContext.applicationId, purpose)
    with _ISO_LOCK:
        for k in [k for k in _ISO_SESSIONS
                  if _ISO_SESSIONS[k].sparkContext._jsc is None
                  or _ISO_SESSIONS[k].sparkContext._jsc.sc().isStopped()]:
            del _ISO_SESSIONS[k]
        s = _ISO_SESSIONS.get(key)
        if s is None:
            s = spark.newSession()
            _ISO_SESSIONS[key] = s
        return s


# validate_hive_sorted_bucketed result cache: (path, n_buckets, key) ->
# layout fingerprint (sorted (name, length, mtime) of the positional
# files) at the time the layout last passed. A repeated SMB join over the
# same unchanged layout skips the full validation scan — the per-call
# listStatus (cheap, one FS call) detects ANY mutation: a rewrite, an
# appended epoch, or a swapped file changes length or mtime and forces a
# re-scan. Measured (SCALE.md §validator-cache audit): the scan is the
# dominant cost of a warm hive_smb_merge_join call, so caching it makes
# repeated joins over a static layout ~join-only cost.
_SORTED_VALIDATED: dict[tuple[str, int, str], tuple] = {}


def validate_hive_sorted_bucketed(
    spark: SparkSession, path: str, n_buckets: int, key: str
) -> None:
    """Verify a flat Hive bucketed layout satisfies ``SORTED BY (key ASC)``:
    every positional file's non-null key sequence is non-decreasing in FILE
    order. Hive's SMB machinery silently produces wrong joins when a file
    is not actually sorted (the merge just misses pairs); this check fails
    loudly instead, which is the only safe posture for layouts written by
    a foreign engine. One full scan, no shuffle: ``input_file_name()``
    tags each row with its file, and a mapInPandas pass streams each
    partition in scan order (files are contiguous within a partition even
    when small files coalesce) carrying the last value per file across
    Arrow batches. Nulls sort first under ASC and are skipped — only the
    non-null ordering is asserted.

    The carry dict is per-TASK, so this scan must never SPLIT one file
    across tasks: a violation straddling a split boundary would land in
    two tasks that each see a sorted half (whole files coalescing into
    one task is fine — the per-file groupby handles that). Spark splits
    parquet at ``spark.sql.files.maxPartitionBytes`` (128 MB default) —
    exactly the regime SMB buckets live in — so the scan runs through a
    dedicated ``spark.newSession()`` whose maxPartitionBytes is raised
    above the largest bucket file: SQLConf is per-session, so concurrent
    queries on the caller's session never observe the raised split size
    (ADVICE r11 — the old set/restore on the shared conf leaked it to any
    concurrent query for the scan's duration). Pinned by the
    split-straddling test in tests/test_bucketing_interop.py.

    Results are cached per (path, n_buckets, key) against the layout's
    file fingerprint — see ``_SORTED_VALIDATED`` above."""
    _, fs, P = hadoop_fs(spark, path)
    stats = sorted(
        (st.getPath().getName(), st.getLen(), st.getModificationTime())
        for st in fs.listStatus(P(path))
        if st.getPath().getName().endswith("_0")
    )
    cache_key = (path, n_buckets, key)
    fingerprint = tuple(stats)
    if _SORTED_VALIDATED.get(cache_key) == fingerprint:
        return
    # Full file-set check, mirroring read_hive_bucketed (ADVICE r12): a
    # direct validator call must reject a stray extra positional file —
    # it would be invisible here (the explicit paths below skip it) yet a
    # name-ordered Hive reader would shift every bucket after it.
    want = [f"{b:06d}_0" for b in range(n_buckets)]
    found = [nm for nm, _ln, _mt in stats]
    if found != want:
        extra = sorted(set(found) - set(want))
        missing = sorted(set(want) - set(found))
        raise ValueError(
            f"layout at {path} is not exactly {n_buckets}-bucketed: "
            f"extra positional files {extra}, missing {missing}"
        )
    max_len = max((ln for _nm, ln, _mt in stats), default=0)
    files = [f"{path}/{b:06d}_0" for b in range(n_buckets)]
    _check_sorted_files(spark, files, key, max_len, path)
    _SORTED_VALIDATED[cache_key] = fingerprint


def _check_sorted_files(
    spark: SparkSession, files: list[str], key: str, max_len: int, label: str
) -> None:
    """Scan ``files`` and raise on the first per-file key inversion — the
    shared engine behind the flat and partitioned SORTED BY validators
    (see validate_hive_sorted_bucketed's docstring for the per-task carry
    and one-split-per-file reasoning)."""
    import pandas as pd  # noqa: PLC0415 — Arrow path only

    # Conf-isolated session: shares the SparkContext (and executors) but
    # owns its SQLConf, so the raised split size is scoped to this scan.
    # Cached per context (ADVICE r12 — one session, not one per call);
    # the per-call conf set + read are serialized under _SORTED_SCAN_LOCK
    # so a concurrent validation can't observe the other's split size.
    iso = _iso_session(spark, "sorted-scan")

    def check(batches):
        last: dict = {}
        for pdf in batches:
            for f, grp in pdf.groupby("__f", sort=False):
                vals = grp["__k"].dropna().to_numpy()
                if not len(vals):
                    continue
                name = "/".join(f.rsplit("/", 2)[-2:])
                carry = last.get(f)
                if carry is not None and vals[0] < carry:
                    yield pd.DataFrame(
                        {"file": [name], "prev": [str(carry)], "cur": [str(vals[0])]}
                    )
                desc = (vals[1:] < vals[:-1]).nonzero()[0]
                if len(desc):
                    i = int(desc[0])
                    yield pd.DataFrame(
                        {
                            "file": [name],
                            "prev": [str(vals[i])],
                            "cur": [str(vals[i + 1])],
                        }
                    )
                last[f] = vals[-1]

    # File splits are decided at EXECUTION time from the session's live
    # conf, so the set+read+collect all stay under the lock — a concurrent
    # validation with a different max_len must not re-split this scan.
    with _SORTED_SCAN_LOCK:
        # r19: no 128 MB floor — each bucket file gets its own task
        # instead of the old floor packing all n buckets into one serial
        # scan task (measured: the orders-layout validation ran as ONE
        # 1.7 s task).
        # r20 (ADVICE r19): setting maxPartitionBytes alone does NOT
        # guarantee no file splits — Spark's maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytesPerCore)), so
        # a bucket file larger than max(4 MB, bytesPerCore) could still
        # straddle tasks and the per-task sorted-carry check would miss
        # an inversion at the split boundary. Raising openCostInBytes to
        # max_len+1 as well pins maxSplitBytes = max_len+1 >= every file
        # (and, as a bonus, the per-file padded cost >= maxSplitBytes
        # keeps one file per scan partition — the r19 parallelism).
        iso.conf.set(
            "spark.sql.files.maxPartitionBytes", str(int(max_len) + 1)
        )
        iso.conf.set(
            "spark.sql.files.openCostInBytes", str(int(max_len) + 1)
        )
        df = iso.read.parquet(*files).select(
            F.col(key).alias("__k"), F.input_file_name().alias("__f")
        )
        viol = (
            df.mapInPandas(check, "file string, prev string, cur string")
            .limit(1)
            .collect()
        )
    if viol:
        v = viol[0]
        raise ValueError(
            f"layout at {label} is not SORTED BY ({key}): file {v['file']} "
            f"has {v['cur']} after {v['prev']}"
        )


def hive_smb_merge_join(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    n_buckets: int,
    on_a: str,
    on_b: str,
    kind: str = "string",
    validate: bool = True,
    sub_split: int = 1,
    how: str = "inner",
) -> DataFrame:
    """Hive's SORT MERGE BUCKET join over two Hive-written flat layouts
    (``SortedMergeBucketMapJoinOptimizer.java`` parity — the SORTED BY
    sibling of ``hive_bucket_map_join``): both tables are CLUSTERED BY the
    key SORTED BY the key INTO the same n, and bucket i of A merges with
    bucket i of B with NO hashtable — the regime where the bucket-map
    form is impossible because neither side's bucket fits in memory.

    Spark-first shape: ONE cogroup on the recomputed Hive bucket id
    (``hive_bucket_id(key)`` — the same codegen hash the writer routed
    with, so computed-bucket == file-bucket, proven by the writer tests),
    giving n pairwise merge tasks in a single O(1)-node plan — no O(n)
    driver loop, no per-bucket broadcast. Each task pd.merges exactly the
    two matching buckets. Each side shuffles once on the bucket id — the
    co-location transfer Spark needs because it cannot schedule tasks
    onto Hive's file placement the way Hive's own mappers do; volume is
    one pass of each side, and no per-KEY exchange or global sort ever
    happens (n groups, not |keys| groups). With ``validate=True`` both
    layouts are first checked against the SORTED BY contract
    (``validate_hive_sorted_bucketed``) — Hive silently mis-joins on
    unsorted files; we refuse them.

    ``sub_split`` bounds PER-TASK memory: each cogroup task holds one full
    bucket pair as pandas frames, and the writer fixed n, so a 100 TB
    table bucketed 256-ways would hand a task ~400 GB — the one place the
    cogroup form is weaker than Hive's true streaming merge (Spark has no
    streaming cogroup primitive). With ``sub_split=k`` the group key
    becomes (bucket, xxhash64(key) mod k): matching rows agree on the KEY,
    hence on both components, so the k·n finer groups still tile the join
    exactly while each task holds ~1/k of a bucket pair. k is free to be
    set per-READ (it never touches the on-disk layout) — dial it so
    |bucket|/k fits the executor; the shuffle volume is identical (same
    rows, finer keys). The sub-hash is computed over the key CAST to the
    canonical type for ``kind`` (BIGINT for int/long, STRING for string):
    xxhash64 is type-sensitive, so hashing the raw columns would route
    equal values to different sub-groups whenever the two sides' physical
    types differ (INT vs BIGINT — both legal under kind='long').

    NULL keys are FILTERED OUT up front on both sides. That is the
    standard inner-equi-join result (NULL never equals NULL), but here it
    is load-bearing, not just an optimization: nullable long keys arrive
    in applyInPandas as float64 with NaN, and ``pd.merge`` MATCHES NaN
    join keys — letting NULLs reach the merge would fabricate NULL=NULL
    output rows that Spark, Hive, and ``hive_bucket_map_join`` all
    (correctly) never produce. Pinned by the NULL-key test in
    tests/test_bucketing_interop.py.

    ``how`` supports ``'inner'``, ``'left'`` and ``'full'`` —
    SMBMapJoinOperator.java executes OUTER joins over the same
    co-bucketed layout, so both outer forms belong to the parity surface.
    LEFT semantics: every left row survives; unmatched rows (including
    left rows with a NULL key, which can never equal anything) carry NULL
    right columns. FULL adds the mirror: every right row survives too,
    unmatched ones with NULL left columns. Per-tile outer merges are
    exact by the same one-tile-per-key argument (each row lives in ONE
    (bucket, sub) tile, and every opposite-side row with its key is in
    that tile, so per-tile unmatched == globally unmatched). NULL-key
    rows are routed AROUND the cogroup — left side for 'left', BOTH
    sides for 'full' (kept aside before the NULL filter, unioned back
    with typed NULL columns for the opposite side) — inside the merge
    they would NaN-match per the pitfall above. A right-outer is the
    same call with the sides swapped.

    Same layout precondition as ``hive_bucket_map_join`` (exactly n
    positional files per side, verified up front). Non-key column names must be disjoint
    across the two sides (checked); same-named KEYS are fine (the merge
    keeps one copy)."""
    _, fs, P = hadoop_fs(spark, path_a)
    for side, path in (("left", path_a), ("right", path_b)):
        found = sorted(
            st.getPath().getName()
            for st in fs.listStatus(P(path))
            if st.getPath().getName().endswith("_0")
        )
        want = [f"{b:06d}_0" for b in range(n_buckets)]
        if found != want:
            raise ValueError(
                f"{side} layout at {path} is not {n_buckets}-bucketed: "
                f"found {len(found)} positional files"
            )
    if validate:
        validate_hive_sorted_bucketed(spark, path_a, n_buckets, on_a)
        validate_hive_sorted_bucketed(spark, path_b, n_buckets, on_b)

    a_all = read_hive_bucketed(spark, path_a, n_buckets)
    b_all = read_hive_bucketed(spark, path_b, n_buckets)
    return _smb_cogroup_join(
        a_all, b_all, on_a, on_b, n_buckets, kind, sub_split, how
    )


def _smb_cogroup_join(
    a_all: DataFrame,
    b_all: DataFrame,
    on_a: str,
    on_b: str,
    n_buckets: int,
    kind: str,
    sub_split: int,
    how: str,
) -> DataFrame:
    """The SMB merge engine shared by the flat and partitioned forms: one
    cogroup on the recomputed Hive bucket id (+ optional sub-split), NULL
    keys filtered before the cogroup and routed back for the outer forms —
    see hive_smb_merge_join's docstring for the full reasoning."""
    import pandas as pd  # noqa: PLC0415 — Arrow path only

    if sub_split < 1:
        raise ValueError(f"sub_split must be >= 1, got {sub_split}")
    if how not in ("inner", "left", "full"):
        raise ValueError(
            f"how must be 'inner', 'left' or 'full' (right = swap the "
            f"sides), got {how!r}"
        )
    # NULL keys out BEFORE the cogroup: pd.merge matches NaN keys (see
    # docstring), so equi-join semantics must be enforced Spark-side. For
    # the outer forms the null-key rows are kept aside and unioned back
    # as unmatched output below (left side for 'left', both for 'full').
    a = a_all.where(F.col(on_a).isNotNull())
    b = b_all.where(F.col(on_b).isNotNull())
    clash = (set(a.columns) - {on_a}) & (set(b.columns) - {on_b})
    if clash:
        raise ValueError(f"non-key column names must be disjoint: {sorted(clash)}")

    out_fields = [f for f in a.schema.fields] + [
        f for f in b.schema.fields if not (on_a == on_b and f.name == on_b)
    ]
    from pyspark.sql.types import StructType

    out_schema = StructType(out_fields)
    same_key = on_a == on_b

    aux = ["__hb"] + (["__sub"] if sub_split > 1 else [])

    pd_how = {"inner": "inner", "left": "left", "full": "outer"}[how]

    def merge(la: pd.DataFrame, rb: pd.DataFrame) -> pd.DataFrame:
        la = la.drop(columns=aux)
        rb = rb.drop(columns=aux)
        # outer merges inside a tile are exact: each row lives in ONE
        # (bucket, sub) tile and all opposite-side rows with its key are
        # in the same tile, so per-tile unmatched == globally unmatched.
        # Missing values arrive as NaN and Arrow coerces them to NULL for
        # the declared types (probed; pinned by the left/full join tests).
        if same_key:
            return la.merge(rb, on=on_a, how=pd_how)
        return la.merge(rb, left_on=on_a, right_on=on_b, how=pd_how)

    # Canonical key type per kind for the sub-split hash: xxhash64 hashes
    # INT 7 and BIGINT 7 differently, and kind='long' admits both physical
    # types (hive_long_hash casts), so without this cast matching pairs
    # whose sides differ in physical type silently vanish when sub_split>1.
    sub_cast = {"string": "string", "int": "bigint", "long": "bigint"}[kind]

    def keyed(df: DataFrame, on: str):
        df = df.withColumn("__hb", hive_bucket_id(on, n_buckets, kind))
        if sub_split > 1:
            df = df.withColumn(
                "__sub",
                F.pmod(F.xxhash64(F.col(on).cast(sub_cast)), F.lit(sub_split)),
            )
        return df.groupBy(*aux)

    joined = keyed(a, on_a).cogroup(keyed(b, on_b)).applyInPandas(merge, out_schema)
    out_names = [f.name for f in out_fields]
    if how in ("left", "full"):
        right_only = [f for f in out_fields if f.name not in set(a.columns)]
        nulls = a_all.where(F.col(on_a).isNull()).select(
            *[F.col(c) for c in a.columns],
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in right_only],
        )
        joined = joined.unionByName(nulls.select(*out_names))
    if how == "full":
        # the mirror: right rows whose key is NULL come back unmatched
        # with NULL left columns (for same-named keys the single kept key
        # column is NULL too — it IS the right row's key value)
        left_only = [f for f in out_fields if f.name not in set(b.columns)]
        nulls_r = b_all.where(F.col(on_b).isNull()).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in left_only],
            *[F.col(c) for c in b.columns if c in out_names],
        )
        joined = joined.unionByName(nulls_r.select(*out_names))
    return joined


@register(
    "hive_smb_merge_join",
    # Same certification logic as hive_bucket_map_join's oracle — the
    # PLAIN join over the raw tables — but for the SORTED BY form: hash
    # equality certifies (a) both writers routed AND sorted every bucket
    # file per the CLUSTERED BY ... SORTED BY contract (the validator
    # refuses the layout otherwise, surfacing as an ERROR row), and
    # (b) the (bucket, sub) cogroup tiles exactly tile the join — one
    # pair lost to a sub-hash disagreement or doubled across tiles
    # shifts the per-priority counts.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderpriority
    """,
    doc="SORT MERGE BUCKET join over Hive-written SORTED layouts "
    "(SortedMergeBucketMapJoinOptimizer.java parity — the last §2.3 "
    "bucket-join form): orders and customer are written with "
    "write_hive_bucketed(sorted_by=key, kind='long'), validated against "
    "the SORTED BY contract (Hive silently mis-joins unsorted files; we "
    "refuse them), then merged via the single-cogroup plan — O(1) plan "
    "nodes at ANY bucket count, one shuffle per side on the recomputed "
    "Hive bucket id, no per-key exchange. sub_split=2 is exercised "
    "deliberately: the read-side dial that bounds per-task memory to "
    "~1/2 a bucket pair must tile the join exactly (its equivalence for "
    "k∈{1,4,7} and mixed INT/BIGINT sides is pinned in "
    "tests/test_bucketing_interop.py).",
    tags=("source", "bucketing", "interop", "join", "smb"),
)
def hive_smb_merge_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _BMJ_BUCKETS
    op, cp = _tmp("smb_orders"), _tmp("smb_customer")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    # r19: the two layout writes are independent — run them concurrently
    # (guide §2.6) so the smaller customer write back-fills cores the
    # orders write leaves idle. Each write is internally atomic
    # (staging + validate-before-rename), so concurrency cannot produce
    # a partial layout.
    concurrently(
        partial(write_hive_bucketed, o, "o_custkey", n, op,
                kind="long", sorted_by="o_custkey"),
        partial(write_hive_bucketed, c, "c_custkey", n, cp,
                kind="long", sorted_by="c_custkey"),
    )
    joined = hive_smb_merge_join(
        spark, op, cp, n, "o_custkey", "c_custkey", kind="long", sub_split=2
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Partitioned + bucketed layouts (dt=.../000000_0 nesting) — the dominant
# real-warehouse shape: Hive's dynamic-partition insert writes one bucketed
# file set PER partition directory (FileSinkOperator.getDynOutPaths routes
# rows to <part>/<bucket file>; SemanticAnalyzer.genBucketingSortingDest
# wires CLUSTERED BY into each partition's sink). Partition pruning then
# COMPOSES with bucket pruning: a point query opens 1 of p·n files.
# ---------------------------------------------------------------------------


def _unescape_path_value(s: str) -> str:
    """Undo Hive/Spark partition-path escaping (%xx for the reserved set in
    FileUtils.escapePathName — Spark writes the identical encoding)."""
    from urllib.parse import unquote

    return unquote(s)


def write_hive_partitioned_bucketed(
    df: DataFrame,
    part_col: str,
    key: str,
    n_buckets: int,
    path: str,
    kind: str = "string",
    sorted_by: str | None = None,
) -> None:
    """Write the NESTED Hive layout ``path/<part_col>=<v>/000000_0…`` —
    every partition directory holds exactly ``n_buckets`` positional files
    and file *i* of a partition holds precisely that partition's rows Hive
    assigns to bucket *i* (``FileSinkOperator.getDynOutPaths`` +
    ``genBucketingSortingDest`` parity). The partition column is VIRTUAL:
    it lives only in the directory name, never in the data files — exactly
    Hive's (and Spark's partitionBy) on-disk contract.

    One shuffle total: ``repartition(part_col, __hb)`` co-locates each
    (partition, bucket) pair in a single task, so partitionBy emits ONE
    file per leaf dir (validated before any rename by the writers' one
    ``_flatten_positional``).
    NULL partition values route to Hive's ``__HIVE_DEFAULT_PARTITION__``
    directory (Spark writes the identical name). NULL KEYS route to bucket
    0 within their partition. Buckets empty WITHIN a partition still get a
    schema-bearing positional file (Hive's reader requires all n present
    in every partition dir). ``sorted_by`` gives each file ascending-key
    order for SMB parity, same mechanism as the flat writer.

    Scale: the shuffle is one pass of the input; the flatten is p·n
    driver-side FS renames done 16-way parallel (the measured flat-writer
    regime — SCALE.md §bucketed-write flatten). Prefer n such that each
    (partition, bucket) file is ~HDFS-block-sized; heavily skewed
    partitions bound per-task input because each task holds whole (p, b)
    groups only."""
    spark = df.sparkSession
    staging = path + ".__staging"
    staged = df.withColumn("__hb", hive_bucket_id(key, n_buckets, kind)).repartition(
        part_col, "__hb"
    )
    if sorted_by is not None:
        staged = staged.sortWithinPartitions(part_col, "__hb", sorted_by)
    staged.write.mode("overwrite").partitionBy(part_col, "__hb").parquet(staging)

    def parse(leaves: list[str]) -> dict:
        files: dict = {}
        for f in leaves:
            part_dir, hb = f.split("/")[-3:-1]
            if not part_dir.startswith(f"{part_col}="):
                raise RuntimeError(f"unexpected staged path layout: {f}")
            files.setdefault((part_dir, int(hb.split("=", 1)[1])), []).append(f)
        part_dirs = sorted({pd_ for pd_, _ in files})
        if not part_dirs:
            raise ValueError(f"no {part_col}= partitions produced at {staging}")
        return {
            (pd_, b): files.get((pd_, b), [])
            for pd_ in part_dirs for b in range(n_buckets)
        }

    # data files carry the row schema MINUS part_col and __hb
    _flatten_positional(spark, path, staging, parse, df.limit(0).drop(part_col))


# read_hive_partitioned_bucketed completeness-check cache:
# (path, n_buckets) -> {partition dirname -> dir mtime at last PASS}.
# See the inline comment at the use site.
_PB_LAYOUT_VALIDATED: dict[tuple[str, int], dict] = {}


def list_hive_partitions(spark: SparkSession, path: str, part_col: str) -> dict:
    """{partition value (unescaped str, None for the NULL partition) ->
    directory name} for a nested layout — ONE listStatus, flat in p."""
    _, fs, P = hadoop_fs(spark, path)
    out: dict = {}
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(f"{part_col}=")):
            continue
        raw = name.split("=", 1)[1]
        val = None if raw == "__HIVE_DEFAULT_PARTITION__" else _unescape_path_value(raw)
        out[val] = name
    return out


def read_hive_partitioned_bucketed(
    spark: SparkSession,
    path: str,
    part_col: str,
    n_buckets: int,
    parts: list | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Composed partition + bucket PRUNED read of a nested layout: open
    only the positional files for ``buckets`` inside the directories for
    ``parts`` (all, when None) — |parts|·|buckets| of the p·n files, the
    point-query cost Hive gets from PartitionPruner + the CLUSTERED BY
    file contract together. The partition column comes back as a real
    column, always STRING-typed — partition values are path components in
    Hive, so type inference is disabled for this read (Spark partition
    discovery via basePath parses it from the directory names — Hive's
    virtual-column semantics). The caller still
    applies the bucket-key filter; partition-value selection IS exact.

    Every selected partition dir is verified to hold exactly the expected
    positional files (a missing bucket file means rows silently vanish —
    refuse instead, same posture as the flat reader)."""
    by_val = list_hive_partitions(spark, path, part_col)
    if not by_val:
        raise ValueError(f"no {part_col}= partition dirs at {path}")
    if parts is None:
        chosen = sorted(by_val, key=lambda v: (v is None, str(v)))
    else:
        # Hive partition values are STRINGS (path components); normalize
        # caller-supplied values so `parts=[5]` matches the `pt=5` dir.
        parts = [None if v is None else str(v) for v in parts]
        missing = [v for v in parts if v not in by_val]
        if missing:
            raise ValueError(
                f"partitions not present at {path}: {missing} "
                f"(have {sorted(by_val, key=str)})"
            )
        chosen = list(dict.fromkeys(parts))
    if buckets is None:
        buckets = list(range(n_buckets))
    bad = [b for b in buckets if not (0 <= b < n_buckets)]
    if bad:
        raise ValueError(f"bucket ids out of range: {bad}")
    buckets = sorted(set(buckets))
    _, fs, P = hadoop_fs(spark, path)
    want = [f"{b:06d}_0" for b in range(n_buckets)]
    from concurrent.futures import ThreadPoolExecutor

    # Completeness-check cache keyed on each partition dir's mtime (one
    # root listStatus, already paid by list_hive_partitions): a dir whose
    # mtime is unchanged since it last verified as exactly-n-bucketed is
    # not re-listed — POSIX/HDFS dir mtime changes on any file
    # add/remove/rename, which is the only way completeness can change.
    # Without this, a chunked hive_part_bucket_map_join re-listed every
    # selected partition dir PER CHUNK: n/c chunks x |parts| listings
    # (measured: 16 x 48 = 768 listings -> 48; at ~50 ms/list on an
    # object store that is minutes of driver time per join).
    dir_mtime = {
        st.getPath().getName(): st.getModificationTime()
        for st in fs.listStatus(P(path))
        if st.isDirectory()
    }
    cache = _PB_LAYOUT_VALIDATED.setdefault((path, n_buckets), {})

    def _check(v) -> None:
        d = by_val[v]
        if cache.get(d) == dir_mtime.get(d):
            return
        found = sorted(
            st.getPath().getName()
            for st in fs.listStatus(P(f"{path}/{d}"))
            if st.getPath().getName().endswith("_0")
        )
        if found != want:
            raise ValueError(
                f"partition dir {path}/{d} is not {n_buckets}-bucketed: "
                f"found {len(found)} positional files"
            )
        cache[d] = dir_mtime.get(d)

    with ThreadPoolExecutor(max_workers=16) as pool:
        errs = [f.exception() for f in [pool.submit(_check, v) for v in chosen]]
    first = next((e for e in errs if e is not None), None)
    if first is not None:
        raise first
    # Hive partition values are STRINGS — read through a conf-isolated
    # session with partitionColumnTypeInference OFF so numeric/date-shaped
    # values come back as the exact path strings ("05" stays "05", not
    # int 5), matching list_hive_partitions' parts selection and
    # read_acid_table_partitioned's always-string derivation (ADVICE r12;
    # a post-read cast can't recover zero-padded forms). The session is
    # cached per context; the conf is set once at creation.
    rd = _iso_session(spark, "string-partitions")
    rd.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    if len(buckets) == n_buckets:
        # whole partitions: one dir-path per partition + glob, flat in n
        paths = [f"{path}/{by_val[v]}" for v in chosen]
        return (
            rd.read.option("basePath", path)
            .option("pathGlobFilter", "*_0")
            .parquet(*paths)
        )
    # Bucket subset: one dir-path per partition + a brace-alternation glob
    # over the selected positional names (Hadoop GlobFilter {a,b} syntax).
    # The explicit per-file form costs the driver ~7.4 s PLAN BUILD per
    # 8-bucket chunk at 48 partitions x 128 buckets (384 path objects —
    # the r10 per-path cost class, ~119 s extrapolated over a 16-chunk
    # join); the glob form builds the identical relation in 0.48 s, flat
    # in |parts| (measured, SCALE.md §partitioned chunk-read audit).
    glob = "{" + ",".join(f"{b:06d}_0" for b in buckets) + "}"
    paths = [f"{path}/{by_val[v]}" for v in chosen]
    return (
        rd.read.option("basePath", path)
        .option("pathGlobFilter", glob)
        .parquet(*paths)
    )


def hive_part_bucket_map_join(
    spark: SparkSession,
    fact_path: str,
    part_col: str,
    dim_path: str,
    n_buckets: int,
    on_fact: str,
    on_dim: str,
    parts: list | None = None,
    chunk_buckets: int = 1,
    how: str = "inner",
) -> DataFrame:
    """BUCKET MAP JOIN with a PARTITIONED + bucketed fact side: partition
    pruning (``parts``) composes with the per-bucket co-located join —
    fact bucket *i* of every selected partition joins dim bucket *i* only
    (the key determines the bucket identically in both layouts, partition
    dirs just slice the fact by an orthogonal column). This is Hive's plan
    for ``fact JOIN dim`` when the fact is ``PARTITIONED BY ... CLUSTERED
    BY key`` and the dim is ``CLUSTERED BY key INTO`` the same n
    (BucketMapJoinOptimizer runs after PartitionPruner — pruning first,
    then bucket-wise hashtables). The fact side never shuffles; only
    |parts|·n of the p·n fact files are ever opened; dim bucket chunks
    broadcast per chunk join exactly as in ``hive_bucket_map_join``
    (``chunk_buckets`` dials plan size the same way)."""
    if not 1 <= chunk_buckets <= n_buckets:
        raise ValueError(
            f"chunk_buckets must be in [1, {n_buckets}], got {chunk_buckets}"
        )
    if how not in ("inner", "left"):
        raise ValueError(
            f"how must be 'inner' or 'left' (right = swap the sides), got {how!r}"
        )
    # dim layout checked by read_hive_bucketed's full-read path lazily per
    # chunk; fact partition dirs checked inside the partitioned reader.
    parts_list = []
    for lo in range(0, n_buckets, chunk_buckets):
        chunk = list(range(lo, min(lo + chunk_buckets, n_buckets)))
        a = read_hive_partitioned_bucketed(
            spark, fact_path, part_col, n_buckets, parts=parts, buckets=chunk
        ).alias("__bmj_l")
        bb = read_hive_bucketed(spark, dim_path, n_buckets, buckets=chunk).alias(
            "__bmj_r"
        )
        joined = a.join(
            F.broadcast(bb),
            F.col(f"__bmj_l.{on_fact}") == F.col(f"__bmj_r.{on_dim}"),
            how,
        )
        if on_fact == on_dim:
            joined = joined.drop(F.col(f"__bmj_r.{on_dim}"))
        parts_list.append(joined)
    out = parts_list[0]
    for p in parts_list[1:]:
        out = out.unionByName(p)
    return out


_PB_PART = "4-NOT SPECIFIED"
_PB_KEY = 37
_PB_BUCKETS = 8
# DuckDB replica of the Hive LongWritable bucket (non-negative keys):
# (v ^ (v >>> 32)) & 0xFFFFFFFF, bit 31 masked via % 2^31, mod n.
_PB_DUCK_BUCKET = (
    f"CAST((xor(o_custkey, o_custkey >> 32) & {_2_32 - 1}) "
    f"% {_2_31} % {_PB_BUCKETS} AS INT)"
)


@register(
    "hive_part_bucket_prune",
    # The oracle recomputes BOTH pruning dimensions from the raw table:
    # the partition slice is an exact filter; bucket membership comes from
    # the DuckDB LongWritable.hashCode replica. A writer that misplaced a
    # row across either dimension, or a reader that opened the wrong file,
    # shifts bucket_rows / key_rows / the revenue sum.
    oracle=f"""
    WITH h AS (
      SELECT o_custkey, o_totalprice, {_PB_DUCK_BUCKET} AS bucket
      FROM orders WHERE o_orderpriority = '{_PB_PART}'
    ),
    lit AS (
      SELECT CAST((xor({_PB_KEY}::BIGINT, {_PB_KEY}::BIGINT >> 32)
               & {_2_32 - 1}) % {_2_31} % {_PB_BUCKETS} AS INT) AS key_bucket
    )
    SELECT (SELECT key_bucket FROM lit) AS key_bucket,
           CAST(1 AS INT) AS files_opened,
           CAST(5 * {_PB_BUCKETS} AS INT) AS total_files,
           CAST(COUNT(*) AS BIGINT) AS bucket_rows,
           CAST(COUNT(*) FILTER (WHERE o_custkey = {_PB_KEY}) AS BIGINT)
             AS key_rows,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_custkey = {_PB_KEY}) AS BIGINT)
             AS key_revenue_cents
    FROM h WHERE bucket = (SELECT key_bucket FROM lit)
    """,
    doc="Composed partition + bucket pruning over the NESTED Hive layout "
    "(FileSinkOperator.getDynOutPaths + PartitionPruner.java — the "
    "dominant real-warehouse shape: bucket files inside partition dirs): "
    "orders is written PARTITIONED BY o_orderpriority (5 dirs, one value "
    "containing a space — the path-escaping surface) CLUSTERED BY "
    "o_custkey INTO 8 BUCKETS (LongWritable routing), then a point query "
    "for (priority, custkey) opens exactly ONE of the 40 files — "
    "files_opened is asserted from the pruned DataFrame's actual "
    "inputFiles(), total_files from the real layout listing. Output "
    "reconciles the opened file against the raw table: full bucket "
    "population plus the key slice's count and integer-cents revenue, "
    "bucket membership recomputed independently in DuckDB.",
    tags=("source", "bucketing", "interop", "partitioned"),
)
def hive_part_bucket_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _PB_BUCKETS
    out = _tmp("hive_pb_orders")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    write_hive_partitioned_bucketed(
        o, "o_orderpriority", "o_custkey", n, out, kind="long"
    )
    total_files = len(list_hive_partitions(spark, out, "o_orderpriority")) * n
    kb = hive_bucket_of(_PB_KEY, n, "long")
    pruned = read_hive_partitioned_bucketed(
        spark, out, "o_orderpriority", n, parts=[_PB_PART], buckets=[kb]
    )
    files_opened = len(pruned.inputFiles())  # the composed proof: 1 of p·n
    key = F.col("o_custkey") == _PB_KEY
    return pruned.agg(
        F.lit(kb).cast("int").alias("key_bucket"),
        F.lit(files_opened).cast("int").alias("files_opened"),
        F.lit(total_files).cast("int").alias("total_files"),
        F.count(F.lit(1)).alias("bucket_rows"),
        F.count(F.when(key, 1)).alias("key_rows"),
        F.sum(F.when(key, F.floor(F.col("o_totalprice") * 100).cast("long")))
        .cast("long")
        .alias("key_revenue_cents"),
    )


_PBJ_PARTS = ["1-URGENT", "2-HIGH"]


@register(
    "hive_part_bucket_map_join",
    # Plain join over the raw tables, partition slice as an exact filter —
    # the same certification logic as hive_bucket_map_join plus the
    # partition dimension: a row misplaced across partition dirs OR
    # buckets by the writer, a partition dir wrongly pruned, or a bucket
    # pair skipped/doubled by the join all shift the per-segment counts.
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY c_mktsegment
    """,
    doc="BUCKET MAP JOIN with a PARTITIONED + bucketed fact side "
    "(BucketMapJoinOptimizer after PartitionPruner — Hive's plan for "
    "fact-dim joins over dt-partitioned CLUSTERED BY fact tables): orders "
    "is written PARTITIONED BY o_orderpriority CLUSTERED BY o_custkey "
    "INTO 8 BUCKETS, customer flat-bucketed 8-way on c_custkey, then the "
    "join runs per-bucket (dim side broadcast) over ONLY the two selected "
    "priority partitions — partition pruning composes with the co-located "
    "join: 2·8 of the 5·8 fact files are opened (asserted in "
    "tests/test_bucketing_interop.py along with the no-Exchange plan "
    "shape), and the fact side never shuffles on the key.",
    tags=("source", "bucketing", "interop", "join", "partitioned"),
)
def hive_part_bucket_map_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _PB_BUCKETS
    fp, dp = _tmp("pbj_orders"), _tmp("pbj_customer")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_hive_partitioned_bucketed(
        o, "o_orderpriority", "o_custkey", n, fp, kind="long"
    )
    write_hive_bucketed(c, "c_custkey", n, dp, kind="long")
    joined = hive_part_bucket_map_join(
        spark, fp, "o_orderpriority", dp, n, "o_custkey", "c_custkey",
        parts=_PBJ_PARTS, chunk_buckets=4,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )


@register(
    "hive_smb_full_outer_join",
    # Plain FULL OUTER join over the raw tables: certifies the last cell
    # of the SMB join-type matrix — per-tile pd.merge(how='outer') must
    # tile the join exactly (an unmatched row lost by a tile, doubled
    # across tiles, or fabricated by NULL=NULL matching shifts the
    # matched/only counts and both sums).
    oracle="""
    WITH c AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0),
    f AS (SELECT * FROM orders FULL JOIN c ON o_custkey = c_custkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE o_orderkey IS NOT NULL
                                   AND c_custkey IS NOT NULL) AS BIGINT)
             AS n_matched,
           CAST(COUNT(*) FILTER (WHERE c_custkey IS NULL) AS BIGINT)
             AS n_order_only,
           CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
             AS n_cust_only,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE c_custkey IS NOT NULL) AS BIGINT)
             AS matched_revenue_cents,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT))
                FILTER (WHERE o_orderkey IS NULL) AS BIGINT)
             AS cust_only_acctbal_cents
    FROM f
    """,
    doc="SMB FULL OUTER join over Hive-written SORTED layouts — the last "
    "cell of the §2.3 join-type matrix on the interop surface "
    "(SMBMapJoinOperator.java executes full outer over the same "
    "co-bucketed files): orders and positive-balance customers are "
    "written CLUSTERED+SORTED BY the customer key, then full-outer "
    "merged via the single-cogroup plan with per-tile pandas outer "
    "merges — unmatched rows of EITHER side survive with NULL opposite "
    "columns, NULL-key rows of both sides route AROUND the cogroup "
    "(inside it pandas would NaN-match them into fabricated NULL=NULL "
    "pairs). sub_split=2 exercised; parity for k∈{1,3} and both NULL-key "
    "sides pinned in tests/test_bucketing_interop.py.",
    tags=("source", "bucketing", "interop", "join", "smb"),
)
def hive_smb_full_outer_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _BMJ_BUCKETS
    op, cp = _tmp("smbf_orders"), _tmp("smbf_customer")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal").where(
        F.col("c_acctbal") > 0
    )
    write_hive_bucketed(o, "o_custkey", n, op, kind="long", sorted_by="o_custkey")
    write_hive_bucketed(c, "c_custkey", n, cp, kind="long", sorted_by="c_custkey")
    joined = hive_smb_merge_join(
        spark, op, cp, n, "o_custkey", "c_custkey", kind="long",
        how="full", sub_split=2,
    )
    matched = F.col("c_custkey").isNotNull() & F.col("o_orderkey").isNotNull()
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(matched, 1)).alias("n_matched"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_order_only"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_cust_only"),
        F.sum(
            F.when(
                F.col("c_custkey").isNotNull(),
                F.floor(F.col("o_totalprice") * 100).cast("long"),
            )
        )
        .cast("long")
        .alias("matched_revenue_cents"),
        F.sum(
            F.when(
                F.col("o_orderkey").isNull(),
                F.floor(F.col("c_acctbal") * 100).cast("long"),
            )
        )
        .cast("long")
        .alias("cust_only_acctbal_cents"),
    )


def validate_hive_sorted_partitioned_bucketed(
    spark: SparkSession,
    path: str,
    part_col: str,
    n_buckets: int,
    key: str,
    parts: list | None = None,
) -> None:
    """SORTED BY validation for the NESTED layout: every positional file
    in every selected partition dir must be non-decreasing in ``key`` —
    one scan over all selected files (the per-file carry in
    ``_check_sorted_files`` keys on the FULL path, so same-named bucket
    files in different partition dirs never mix). Same result cache as
    the flat validator, fingerprinted over every selected file's
    (dir/name, length, mtime)."""
    by_val = list_hive_partitions(spark, path, part_col)
    if parts is None:
        chosen = sorted(by_val, key=lambda v: (v is None, str(v)))
    else:
        parts = [None if v is None else str(v) for v in parts]
        missing = [v for v in parts if v not in by_val]
        if missing:
            raise ValueError(f"partitions not present at {path}: {missing}")
        chosen = list(dict.fromkeys(parts))
    _, fs, P = hadoop_fs(spark, path)
    stats = []
    for v in chosen:
        d = by_val[v]
        stats += [
            (f"{d}/{st.getPath().getName()}", st.getLen(), st.getModificationTime())
            for st in fs.listStatus(P(f"{path}/{d}"))
            if st.getPath().getName().endswith("_0")
        ]
    stats.sort()
    cache_key = (path, n_buckets, f"{part_col}|{key}|{','.join(map(str, chosen))}")
    fingerprint = tuple(stats)
    if _SORTED_VALIDATED.get(cache_key) == fingerprint:
        return
    max_len = max((ln for _nm, ln, _mt in stats), default=0)
    files = [f"{path}/{nm}" for nm, _ln, _mt in stats]
    _check_sorted_files(spark, files, key, max_len, path)
    _SORTED_VALIDATED[cache_key] = fingerprint


def hive_part_smb_merge_join(
    spark: SparkSession,
    fact_path: str,
    part_col: str,
    dim_path: str,
    n_buckets: int,
    on_fact: str,
    on_dim: str,
    kind: str = "string",
    parts: list | None = None,
    validate: bool = True,
    sub_split: int = 1,
    how: str = "inner",
) -> DataFrame:
    """SORT MERGE BUCKET join with a PARTITIONED + bucketed fact side —
    the SMB sibling of ``hive_part_bucket_map_join``, completing the
    nested-layout interop to parity with the flat trilogy
    (SortedMergeBucketMapJoinOptimizer after PartitionPruner: Hive 1.2
    SMB-joins a dt-partitioned CLUSTERED+SORTED fact against a
    CLUSTERED+SORTED dim partition-by-partition). Partition pruning
    (``parts``) happens at the READ — only |parts|·n of the p·n fact
    files are opened — and the single-cogroup merge then runs on the
    recomputed Hive bucket id exactly as the flat form: the partition
    column rides along as a payload column (it is orthogonal to the
    bucket key), fact bucket i across ALL selected partitions cogroups
    with dim bucket i, and ``sub_split`` bounds per-task memory the same
    way. Validation checks SORTED BY per FILE (each partition's bucket
    file is independently sorted — Hive's contract; there is no
    cross-partition order to check). All ``how`` forms of the flat SMB
    apply ('inner'/'left'/'full'; fact NULL keys and, for 'full', dim
    NULL keys route around the cogroup)."""
    if validate:
        validate_hive_sorted_partitioned_bucketed(
            spark, fact_path, part_col, n_buckets, on_fact, parts=parts
        )
        validate_hive_sorted_bucketed(spark, dim_path, n_buckets, on_dim)
    fact = read_hive_partitioned_bucketed(
        spark, fact_path, part_col, n_buckets, parts=parts
    )
    dim = read_hive_bucketed(spark, dim_path, n_buckets)
    return _smb_cogroup_join(
        fact, dim, on_fact, on_dim, n_buckets, kind, sub_split, how
    )


@register(
    "hive_part_smb_merge_join",
    # Plain join over the raw tables with the partition slice as an exact
    # filter — the same certification as hive_part_bucket_map_join but for
    # the SORTED form: an unsorted file (validator), a misrouted row, a
    # wrongly pruned partition, or a (bucket, sub) tile lost/doubled by
    # the cogroup all shift the per-priority counts.
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
    doc="SMB MERGE join with a PARTITIONED + bucketed fact side "
    "(SortedMergeBucketMapJoinOptimizer after PartitionPruner — the SMB "
    "form over the dominant real-warehouse layout): orders is written "
    "PARTITIONED BY o_orderpriority, each partition CLUSTERED BY "
    "o_custkey SORTED BY o_custkey INTO 8 BUCKETS; customer is "
    "flat-sorted-bucketed; the join prunes to two priority partitions "
    "(2·8 of 5·8 fact files), validates SORTED BY per file across the "
    "nested tree, then runs the single-cogroup merge on the recomputed "
    "bucket id with sub_split=2. Completes nested-layout parity with "
    "the flat interop trilogy.",
    tags=("source", "bucketing", "interop", "join", "smb", "partitioned"),
)
def hive_part_smb_merge_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apache_hive_1_2_2_src_spark.sources.io import _tmp

    n = _PB_BUCKETS
    fp, dp = _tmp("psmb_orders"), _tmp("psmb_customer")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    write_hive_partitioned_bucketed(
        o, "o_orderpriority", "o_custkey", n, fp, kind="long",
        sorted_by="o_custkey",
    )
    write_hive_bucketed(c, "c_custkey", n, dp, kind="long", sorted_by="c_custkey")
    joined = hive_part_smb_merge_join(
        spark, fp, "o_orderpriority", dp, n, "o_custkey", "c_custkey",
        kind="long", parts=_PBJ_PARTS, sub_split=2,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents"),
    )
