"""Outside-in probes of the engine's layers.

Nothing here reaches into the engine package. The probes read what Spark and
the kernel already publish:

- ``ProcCpu``: CPU seconds of the driver, the JVM and the Python workers,
  from ``/proc/<pid>/stat`` of the benchmark's process tree;
- ``process_age_s``: time since this process started, from ``/proc``;
- ``host_cpu_ticks``: the CPU time the hypervisor stole from the VM;
- ``SparkStatus``: job and stage data from Spark's ``AppStatusStore``,
  attributed to a query by job-id range (so jobs launched from plain
  threads, which carry no job group, are still counted);
- ``StreamProbe``: a ``StreamingQueryListener`` that keeps one record per
  micro-batch;
- ``Spans``: the in-memory span record of a traced run.
"""

from __future__ import annotations

import json
import os
import threading
from collections import defaultdict
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Cpu:
    driver: float
    jvm: float
    pyworker: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.pyworker

    def __sub__(self, other: Cpu) -> Cpu:
        return Cpu(
            self.driver - other.driver, self.jvm - other.jvm, self.pyworker - other.pyworker
        )


class ProcCpu:
    """CPU seconds of a process tree, split into driver, JVM and workers.

    A process's figure is its own user+system time plus that of the children
    it has reaped, so a Python worker that exits between two readings moves
    into its parent's figure instead of vanishing.
    """

    def __init__(self, root_pid: int):
        self.root = root_pid

    @staticmethod
    def _table() -> dict[int, tuple[int, str, float]]:
        out = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            comm = stat[stat.index("(") + 1 : stat.rindex(")")]
            fields = stat[stat.rindex(")") + 2 :].split()
            cpu = sum(int(x) for x in fields[11:15]) / _CLK_TCK
            out[int(entry)] = (int(fields[1]), comm, cpu)
        return out

    @staticmethod
    def _children(table: dict[int, tuple[int, str, float]]) -> dict[int, list[int]]:
        children = defaultdict(list)
        for pid, (ppid, _, _) in table.items():
            children[ppid].append(pid)
        return children

    def descendants(self) -> list[int]:
        """Every live process below the root (the JVM and its workers)."""
        children = self._children(self._table())
        out, todo = [], list(children[self.root])
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo += children[pid]
        return out

    def read(self) -> Cpu:
        table = self._table()
        children = self._children(table)

        def subtree(pid: int) -> float:
            return table[pid][2] + sum(subtree(c) for c in children[pid])

        driver = jvm = pyworker = 0.0
        if self.root in table:
            driver = table[self.root][2]
        for pid in children[self.root]:
            if table[pid][1] == "java":
                jvm += table[pid][2]
                pyworker += sum(subtree(c) for c in children[pid])
            else:
                driver += subtree(pid)
        return Cpu(driver, jvm, pyworker)


def process_age_s() -> float:
    """Seconds since this process started (kernel start time vs uptime)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor ran something else while this VM's CPUs
    wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


# StageData fields summed per pass; executorRunTime and jvmGcTime are in ms,
# executorCpuTime in ns.
_STAGE_FIELDS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "jvmGcTime",
    "inputBytes",
    "inputRecords",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class SparkStatus:
    """Jobs and stages from the ``AppStatusStore``, read by job-id range.

    ``new_jobs()`` returns every job submitted since the previous call, each
    with its completed stage attempts. Call it after every query: the store
    keeps only the newest 1000 jobs and stages.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.last_job = self._max_job_id()

    def _max_job_id(self) -> int:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.nonEmpty() else -1

    def skip_to_now(self) -> None:
        """Forget the jobs submitted so far."""
        self.last_job = self._max_job_id()

    def _stages(self, stage_id: int) -> list[dict]:
        attempts = self._store.stageData(
            stage_id, False, self._no_tasks, False, self._no_quantiles
        )
        return json.loads(self._json.writeValueAsString(attempts))

    def new_jobs(self) -> list[dict]:
        top = self._max_job_id()
        jobs = []
        for job_id in range(self.last_job + 1, top + 1):
            job = json.loads(self._json.writeValueAsString(self._store.job(job_id)))
            stages = []
            for sid in job["stageIds"]:
                for st in self._stages(sid):
                    # A stage a job reuses from an earlier shuffle is SKIPPED.
                    if st["status"] in ("COMPLETE", "FAILED"):
                        stages.append(
                            {"stageId": st["stageId"], "attemptId": st["attemptId"],
                             "numTasks": st["numTasks"], **{k: st[k] for k in _STAGE_FIELDS}}
                        )
            jobs.append({"submitted": job["submissionTime"] / 1e3, "stages": stages})
        self.last_job = top
        return jobs


def stage_totals(jobs: list[dict]) -> dict[str, float]:
    """Sum the stage data of ``jobs``; a stage attempt shared by several
    jobs counts once."""
    seen = set()
    t = defaultdict(float)
    t["spark.jobs"] = len(jobs)
    for job in jobs:
        for st in job["stages"]:
            key = (st["stageId"], st["attemptId"])
            if key in seen:
                continue
            seen.add(key)
            t["spark.stages"] += 1
            t["spark.single_task_stages"] += st["numTasks"] == 1
            t["spark.tasks"] += st["numCompleteTasks"]
            t["executor.run_s"] += st["executorRunTime"] / 1e3
            t["executor.cpu_s"] += st["executorCpuTime"] / 1e9
            t["executor.gc_s"] += st["jvmGcTime"] / 1e3
            t["scan.input_bytes"] += st["inputBytes"]
            t["scan.input_rows"] += st["inputRecords"]
            t["sink.output_bytes"] += st["outputBytes"]
            t["sink.output_rows"] += st["outputRecords"]
            t["shuffle.read_bytes"] += st["shuffleReadBytes"]
            t["shuffle.write_bytes"] += st["shuffleWriteBytes"]
            t["shuffle.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return t


class StreamProbe(StreamingQueryListener):
    """Keeps one record per streaming micro-batch (progress event)."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        rec = {
            "stream": p.name or str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": start,
            "trigger_s": d.get("triggerExecution", 0) / 1e3,
            "add_batch_s": d.get("addBatch", 0) / 1e3,
        }
        with self._lock:
            self._batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        """Return and forget the batches recorded so far."""
        with self._lock:
            out, self._batches = self._batches, []
        return out


class Spans:
    """Spans kept in memory and written once: name, start, end, parent.

    Times are wall-clock seconds (``time.time()``), the clock Spark stamps
    its jobs and streaming progress with.
    """

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self.items) - 1

    def self_time(self, span_id: int) -> float:
        """Duration of a span minus the part of it its children cover."""
        span = self.items[span_id]
        cuts = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.items
            if c["parent"] == span_id
        )
        covered, reach = 0.0, span["start"]
        for lo, hi in cuts:
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        return span["end"] - span["start"] - covered

    def write(self, path: str, **header) -> None:
        """Write the record keyed by query name (spans of no query, such as
        passes, under ``""``)."""
        by_query: dict[str, list[dict]] = defaultdict(list)
        for s in self.items:
            by_query[s.get("query", "")].append(s)
        with open(path, "w") as f:
            json.dump({**header, "spans": by_query}, f)


def tree_bytes(*roots: str, prefix: str = "") -> int:
    """Bytes of the files under each root's entries named ``prefix*``."""
    total = 0
    for root in roots:
        try:
            names = [n for n in os.listdir(root) if n.startswith(prefix)]
        except OSError:
            continue
        for name in names:
            for dirpath, _, files in os.walk(os.path.join(root, name)):
                for fn in files:
                    try:
                        total += os.lstat(os.path.join(dirpath, fn)).st_size
                    except OSError:
                        pass
    return total
