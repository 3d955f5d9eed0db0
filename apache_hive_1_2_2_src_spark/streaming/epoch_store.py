"""The streaming drain kernel: drop staging, the availableNow drain, and the
epoch-keyed state store that every foreachBatch probe in
``streaming/windows.py`` goes through.

hcatalog-streaming's ingest loop is: open a transaction batch, write,
commit, then the rows are visible. Here a staged *drop* is the transaction
batch (``stage_drops``), ``drain`` replays the drops to their end, and a
foreachBatch body keeps its accumulated state in an ``EpochStore``.

Store contract:

- Layout: ``<root>/epoch=N/<part>=V/part-*.parquet``. ``N`` is the
  foreachBatch epoch (batch id) that wrote the rows; ``<part>`` is a hash
  bucket of the probe key (``V`` in ``[0, k)``), so a probe reads only the
  buckets it can touch (plan-level PartitionFilters). A store without a
  ``part`` column keeps one ``epoch=N`` dir of files per epoch.
- Prior reads see only ``epoch < N``: ``prior(sp, N, ...)`` reads just the
  ``epoch=M`` dirs with ``M < N``, so an epoch never lists, let alone opens,
  its own ``epoch=N`` files. That is what lets the appends of epoch N
  overlap its probe (``append_async``), and what makes a foreachBatch
  retry of epoch N exact: the failed attempt's epoch=N rows are neither
  read back as prior state nor touched while the retry rewrites them.
- An append overwrites its own ``epoch=N`` dir, so a retried epoch replaces
  its earlier attempt's rows rather than adding to them.
- A compacted store is terminal. ``windows.compact_partitioned_store``
  flattens the ``epoch=`` level into ``<part>=V`` dirs (``epoch`` becomes a
  data column); ``append`` and ``prior`` refuse such a store, since a new
  ``epoch=N`` dir beside ``<part>=V`` dirs would be a mixed layout no read
  resolves, and a prior read of it would find no epochs.
- Keys do not recur across drops: a doc_id (or, for the collapsed drain, a
  content key's shingles and signatures) is written by exactly one epoch.
  The batch-sided verify joins rely on it: the new side of a candidate
  pair is always in the current batch, so its shingles come from the batch
  alone and never need a store read.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

T = TypeVar("T")

# Forced drop mtimes: FileStreamSource orders files by modification time,
# and same-millisecond writes would tie.
_MTIME0 = 1_600_000_000


def range_drop(key: str, hi: int, n_drops: int) -> Column:
    """Drop number of a non-negative ``key`` when ``[0, hi]`` is cut into
    ``n_drops`` contiguous ranges. Integer ``DIV``, exact for every long."""
    return F.expr(f"CAST({key} DIV {int(hi) // n_drops + 1} AS INT)")


def stage_drops(df: DataFrame, n_drops: int, inbox: str) -> None:
    """Stage ``df`` as ``n_drops`` ordered file-stream drops:
    ``inbox/drop_<b>.parquet`` holds the rows whose int ``drop`` column is
    ``b`` (the column itself is not written), with its mtime forced to
    ``1_600_000_000 + 60*b`` so the stream replays the drops in order.

    One write job: ``partitionBy("drop")`` after a repartition on the drop
    key, so each drop is one file. An empty drop still gets an (empty)
    file, so the stream always replays ``n_drops`` batches; rows whose drop
    falls outside ``[0, n_drops)`` are not staged."""
    stage = inbox.rstrip("/") + "__stage"
    df.repartition(n_drops, "drop").write.mode("overwrite").partitionBy(
        "drop"
    ).parquet(stage)
    os.makedirs(inbox, exist_ok=True)
    for b in range(n_drops):
        ddir = os.path.join(stage, f"drop={b}")
        if not os.path.isdir(ddir):
            df.drop("drop").where(F.lit(False)).coalesce(1).write.mode(
                "overwrite"
            ).parquet(ddir)
        part = next(f for f in os.listdir(ddir) if f.endswith(".parquet"))
        dest = os.path.join(inbox, f"drop_{b}.parquet")
        os.rename(os.path.join(ddir, part), dest)
        os.utime(dest, (_MTIME0 + 60 * b, _MTIME0 + 60 * b))
    shutil.rmtree(stage, ignore_errors=True)


def drain(writer: DataStreamWriter, ckpt: str, timeout: float, what: str) -> None:
    """Run ``writer`` as an availableNow drain against checkpoint ``ckpt``:
    process everything its source holds, then stop. A drain still running
    after ``timeout`` seconds is stopped and raises TimeoutError, so no
    caller reads a sink that is still being written."""
    q = writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"{what} drain did not finish in {timeout:g}s")


def concurrently(*jobs: Callable[[], T]) -> list[T]:
    """Run independent driver-side jobs on threads (their Spark jobs
    overlap) and return their results in order. Every job has finished
    before this returns; the first failure is raised."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futs = [pool.submit(j) for j in jobs]
    return [f.result() for f in futs]


class EpochStore:
    """An epoch-keyed state store at ``root``, hash-partitioned into ``k``
    ``part=V`` buckets (unpartitioned when ``part`` is None). See the
    module docstring for the contract."""

    def __init__(self, root: str, part: str | None = None, k: int = 1):
        self.root, self.part, self.k = root, part, k

    def exists(self) -> bool:
        return os.path.isdir(self.root)

    def _epoch_dirs(self) -> dict[int, str]:
        """epoch -> its dir, for the epochs in the store so far."""
        names = os.listdir(self.root) if self.exists() else []
        if any(not n.startswith(("epoch=", "_", ".")) for n in names):
            raise RuntimeError(
                f"store {self.root} is compacted (no epoch= layout) and "
                "takes no further epochs"
            )
        return {
            int(n[len("epoch="):]): os.path.join(self.root, n)
            for n in names
            if n.startswith("epoch=")
        }

    def prior(
        self,
        sp: SparkSession,
        epoch: int,
        schema: str,
        parts: list | None = None,
    ) -> DataFrame:
        """The rows of epochs before ``epoch``, as the columns of the DDL
        ``schema``, read from the ``parts`` buckets only. Without a store,
        or with no parts to read, it is the empty frame of ``schema``."""
        empty = sp.createDataFrame([], schema)
        paths = [p for e, p in self._epoch_dirs().items() if e < epoch]
        if not paths or (self.part is not None and not parts):
            return empty
        df = sp.read.option("basePath", self.root).parquet(*paths)
        if self.part is not None:
            df = df.where(F.col(self.part).isin(parts))
        return df.select(*empty.columns)

    def append(self, epoch: int, df: DataFrame) -> None:
        """Write ``df`` as epoch ``epoch``'s rows, replacing any earlier
        attempt's. Partitioned stores get one file per touched bucket."""
        self._epoch_dirs()  # refuses a compacted store
        dest = os.path.join(self.root, f"epoch={epoch}")
        if self.part is None:
            df.write.mode("overwrite").parquet(dest)
        else:
            df.repartition(self.k, self.part).write.partitionBy(self.part).mode(
                "overwrite"
            ).parquet(dest)


@contextmanager
def append_async(epoch: int, *writes: tuple[EpochStore, DataFrame]) -> Iterator[None]:
    """Start the ``(store, frame)`` appends of ``epoch`` in the background
    and run the body beside them. Safe because the body's ``prior`` reads
    never see epoch ``epoch``. Every append has completed when the block
    exits, on success and on failure: the offset commit may cover only
    fully-landed state, and a retried epoch must not race a still-running
    append of its failed attempt. A body failure wins over an append
    failure."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futs = [pool.submit(store.append, epoch, df) for store, df in writes]
        yield
    for f in futs:
        f.result()
