"""Benchmark entry point: run one workload in a fresh process, print metrics.

    python3 perfbench/run.py --workload {tpch,curate_ingest} --seed N \\
        --seconds S --trace {0,1}

Run it from the root of a checkout of the engine. The process pins its
environment (``SPARK_GRAFT_CPUS``, ``PYTHONPATH``, scratch dirs under
``.perfbench_work/``), then drives the engine the way a Hive/Spark SQL user
does: one ``SparkSession`` from ``session.get_session()``, one client running
the workload's registered queries one after another. Each query is
``Query.build(spark, sf_dir)``, then its physical plan is forced, then it is
collected on that same ``QueryExecution``. Every collected result is
compared with the query's registry DuckDB oracle, which runs once, before
the first pass and outside the timed passes.

Passes, in order:

1. cold: the first pass in the fresh session (``cold_pass_s``);
2. warm-up: ``WARMUP_PASSES`` passes whose times are discarded;
3. measured: whole passes until ``--seconds`` have gone by, at least
   ``MIN_MEASURED`` of them.

With ``--trace 1`` every other measured pass is traced; the per-layer
metrics come from the traced passes, and the untraced ones give the
tracing overhead on ``pass_s``. The span record goes to
``.perfbench_work/traces/``.

Everything the engine prints goes to standard error. Standard output gets
two lines: a detail object (environment, sample counts, failures) and, last,
the result::

    {"correct": true, "attempted": 20, "failed": 0, "metrics": {...}}

Before it prints them the process stops the session, closes the JVM and
waits until the JVM and every Python worker under it have ended.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "apache_hive_1_2_2_src_spark"

sys.path.insert(0, HERE)

from layers import (  # noqa: E402
    ProcCpu,
    Spans,
    SparkStatus,
    StreamProbe,
    alive,
    host_cpu_ticks,
    process_age_s,
    stage_totals,
    tree_bytes,
)
from workloads import DATA_DIR, SF, WORKLOADS, pass_orders  # noqa: E402

MIN_MEASURED = 3
# Passes discarded after the cold pass. The JIT keeps speeding passes up
# (and spending CPU compiling) for several passes; with one discarded, the
# medians moved with how far the warm-up had got. A third would not fit the
# budget of 48 runs in 3420 s once traced runs are counted.
WARMUP_PASSES = 2
# Layers a query's build function can live in (the engine's subpackages).
BUILD_LAYERS = ("operators", "extensions", "streaming", "sources")
# How long the JVM and the Python workers get to exit after the session stops.
EXIT_GRACE_S = 20


def _load_check():
    """tools/check.py of the engine, for its oracle canonicalization."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    def __init__(self, args, spark, reg, check):
        self.spark = spark
        self.reg = reg
        self.check = check
        self.names = WORKLOADS[args.workload]
        self.orders = pass_orders(args.workload, args.seed)
        self.cpu = ProcCpu(os.getpid())
        self.expected = oracle_results(reg, self.names, check)
        self.attempted = 0
        self.failures: list[str] = []
        self.spans = Spans() if args.trace else None
        self.status = SparkStatus(spark) if args.trace else None
        self.stream = StreamProbe() if args.trace else None
        if self.stream:
            spark.streams.addListener(self.stream)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def query(self, name: str, pass_span: int | None) -> dict | None:
        """One execution: build, plan, action. Returns its timings and, on a
        traced pass (``pass_span`` set), the Spark work it caused."""
        self.attempted += 1
        q = self.reg[name]
        try:
            w0 = time.time()
            t0 = time.perf_counter()
            df = q.build(self.spark, DATA_DIR)
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
            got = (sorted(df.columns), self.check.norm_rows(df.columns, rows))
        except Exception:
            self.fail(f"{name}: {traceback.format_exc(limit=2)}")
            return None
        want = self.expected[name]
        if got != want:
            self.fail(f"{name}: differs from its oracle ({len(got[1])} vs {len(want[1])} rows)")
            return None
        r = {"name": name, "build": t1 - t0, "plan": t2 - t1, "action": t3 - t2,
             "latency": t3 - t0, "layer": q.build.__module__.split(".")[1]}
        if pass_span is not None:
            self._trace_query(r, w0, pass_span)
        return r

    def _trace_query(self, r: dict, w0: float, pass_span: int) -> None:
        sp = self.spans
        w1, w2 = w0 + r["build"], w0 + r["build"] + r["plan"]
        w3 = w0 + r["latency"]
        qid = sp.add("query", w0, w3, pass_span, query=r["name"], layer=r["layer"])
        phases = {
            "build": sp.add("build", w0, w1, qid, query=r["name"]),
            "plan": sp.add("plan", w1, w2, qid, query=r["name"]),
            "action": sp.add("action", w2, w3, qid, query=r["name"]),
        }
        # Every job since the previous query is this query's (job-id range);
        # its submission time places it in a phase.
        by_phase = {p: [] for p in phases}
        for job in self.status.new_jobs():
            t = job["submitted"]
            by_phase["action" if t >= w2 else "plan" if t >= w1 else "build"].append(job)
        for phase, jobs in by_phase.items():
            sp.items[phases[phase]]["counts"] = dict(stage_totals(jobs))
        for b in self.stream.take():
            sp.add("stream_batch", b["start"], b["start"] + b["trigger_s"], phases["build"],
                   query=r["name"], **{k: b[k] for k in ("stream", "batch", "rows", "add_batch_s")})
        r["self"] = {p: sp.self_time(i) for p, i in phases.items()}
        r["counts"] = {p: sp.items[i]["counts"] for p, i in phases.items()}
        r["batches"] = [s for s in sp.items if s["parent"] == phases["build"]]

    def timed_pass(self, kind: str, traced: bool) -> dict:
        """Run every query once; return the pass wall time, CPU and queries."""
        names = next(self.orders)
        pass_span = None
        if traced:
            self.status.skip_to_now()
            self.stream.take()
            pass_span = self.spans.add(kind, time.time(), 0.0)
        cpu0, t0 = self.cpu.read(), time.perf_counter()
        results = [self.query(n, pass_span) for n in names]
        wall = time.perf_counter() - t0
        cpu = self.cpu.read() - cpu0
        if traced:
            self.spans.items[pass_span]["end"] = self.spans.items[pass_span]["start"] + wall
        return {"kind": kind, "traced": traced, "wall": wall, "cpu": cpu,
                "queries": [r for r in results if r is not None]}


def oracle_results(reg, names, check) -> dict[str, tuple[list[str], list[tuple]]]:
    """Each query's DuckDB oracle result: its sorted column names and its
    rows as tools/check.py normalizes them."""
    import duckdb
    from apache_hive_1_2_2_src_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    out = {}
    for name in names:
        rows = con.execute(reg[name].oracle).fetchall()
        cols = [d[0] for d in con.description]
        out[name] = (sorted(cols), check.norm_rows(cols, rows))
    con.close()
    return out


def layer_metrics(p: dict, cpus: int) -> dict[str, float]:
    """Per-layer figures of one traced pass, in seconds and counts.

    A layer a workload does not reach reports 0 (README.md lists which).
    """
    m = {f"{layer}.{k}": 0.0 for layer in BUILD_LAYERS for k in ("build_s", "build_jobs")}
    m.update({"catalyst.plan_s": 0.0, "exec.wall_s": 0.0})
    totals: dict[str, float] = {}
    batches = []
    for r in p["queries"]:
        if r["layer"] in BUILD_LAYERS:
            m[f"{r['layer']}.build_s"] += r["self"]["build"]
            m[f"{r['layer']}.build_jobs"] += r["counts"]["build"].get("spark.jobs", 0)
        m["catalyst.plan_s"] += r["self"]["plan"]
        m["exec.wall_s"] += r["self"]["action"]
        for counts in r["counts"].values():
            for k, v in counts.items():
                totals[k] = totals.get(k, 0.0) + v
        batches += r["batches"]
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.single_task_stages",
              "executor.run_s", "executor.cpu_s", "executor.gc_s", "scan.input_bytes",
              "scan.input_rows", "shuffle.write_bytes", "shuffle.read_bytes",
              "shuffle.spill_bytes", "sink.output_bytes", "sink.output_rows"):
        m[k] = totals.get(k, 0.0)
    m["executor.busy_frac"] = m["executor.run_s"] / (p["wall"] * cpus)
    m["stream.batches"] = len(batches)
    m["stream.input_rows"] = sum(b["rows"] for b in batches)
    m["stream.trigger_s"] = sum(b["end"] - b["start"] for b in batches)
    m["stream.add_batch_s"] = sum(b["add_batch_s"] for b in batches)
    m["jvm.cpu_s"], m["driver.cpu_s"] = p["cpu"].jvm, p["cpu"].driver
    m["pyworker.cpu_s"] = p["cpu"].pyworker
    m["scratch.residue_bytes"] = p["residue"]
    return m


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith("_frac"):
        return "fraction"
    return "count"


def pin_environment() -> int:
    """Point every scratch dir into ``.perfbench_work/run`` and make the
    engine importable in the Python workers; return the CPU count."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, cwd = (os.path.join(run_dir, d) for d in ("tmp", "spark-local", "cwd"))
    for d in (tmp, local, cwd, os.path.join(WORK, "traces")):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SF_DIR=DATA_DIR,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = tmp
    # spark-warehouse/, metastore_db/ and derby.log land in the cwd.
    os.chdir(cwd)
    sys.path.insert(0, ROOT)
    return cpus


def stop_engine(spark) -> None:
    """Stop the session and the JVM; wait until the JVM and the Python
    workers under it have ended (killing any still there after
    ``EXIT_GRACE_S``)."""
    from pyspark import SparkContext

    procs = ProcCpu(os.getpid()).descendants()
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # The JVM's gateway exits when its stdin closes.
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=EXIT_GRACE_S)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + EXIT_GRACE_S
    while procs := [p for p in procs if alive(p)]:
        if time.monotonic() > deadline:
            for p in procs:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check.py")
    ):
        print(f"perfbench: no engine ({PACKAGE}/, tools/check.py) under {ROOT}", file=sys.stderr)
        return 2

    # Only the result lines go to standard output; the engine, the JVM and
    # the Python workers inherit a stdout that is standard error.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    # A signal still runs the finally below, which ends the JVM.
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))

    cpus = pin_environment()
    from apache_hive_1_2_2_src_spark.registry import load_all
    from apache_hive_1_2_2_src_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session()
    try:
        t1 = time.perf_counter()
        reg = load_all()
        t2 = time.perf_counter()
        setup_s = process_age_s()
        detail, result = measure(args, cpus, spark, reg, t1 - t0, t2 - t1, setup_s)
    finally:
        s0 = time.perf_counter()
        stop_engine(spark)
    detail["shutdown_s"] = time.perf_counter() - s0
    out.write(json.dumps({"perfbench": detail}) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


def measure(args, cpus, spark, reg, session_s, registry_s, setup_s):
    """Run the passes; return the detail object and the result."""
    steal0, ticks0 = host_cpu_ticks()
    run = Run(args, spark, reg, _load_check())
    cold = run.timed_pass("cold", bool(args.trace))
    for _ in range(WARMUP_PASSES):
        run.timed_pass("warmup", False)
    measured = []
    m0 = time.perf_counter()
    while len(measured) < MIN_MEASURED + args.trace or time.perf_counter() - m0 < args.seconds:
        traced = bool(args.trace) and len(measured) % 2 == 0
        p = run.timed_pass("pass", traced)
        if traced:
            p["residue"] = tree_bytes(os.environ["TMPDIR"], prefix="hive_spark_") + tree_bytes(
                os.environ["SPARK_LOCAL_DIRS"])
        measured.append(p)
    measure_s = time.perf_counter() - m0
    steal1, ticks1 = host_cpu_ticks()

    plain = [p for p in measured if not p["traced"]]
    lat = [r["latency"] for p in plain for r in p["queries"]]
    by_query = {n: [r["latency"] for p in plain for r in p["queries"] if r["name"] == n]
                for n in run.names}
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall"],
        "pass_s": statistics.median(p["wall"] for p in plain),
        "query_p50_s": statistics.median(lat),
        "query_geomean_s": statistics.geometric_mean(
            statistics.median(v) for v in by_query.values() if v),
        "cpu_s": statistics.median(p["cpu"].total for p in plain),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": SF, "cpus": cpus,
        "spark": spark.version, "python": platform.python_version(),
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "queries": list(run.names),
        "measured_passes": len(plain), "measure_s": measure_s,
        "pass_walls_s": [p["wall"] for p in plain],
        "query_samples": len(lat),
        "query_median_s": {n: statistics.median(v) for n, v in by_query.items() if v},
        "result_rows": {n: len(v[1]) for n, v in run.expected.items()},
        "failed_frac": len(run.failures) / run.attempted, "failures": run.failures,
        # Share of the VM's CPU time the host took during the passes; a
        # run with a large share is slow for reasons outside the engine.
        "host_steal_frac": (steal1 - steal0) / max(1, ticks1 - ticks0),
    }
    metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    if args.trace:
        traced = [p for p in measured if p["traced"]]
        per_pass = [layer_metrics(p, cpus) for p in traced]
        layer = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        layer["session.setup_s"], layer["registry.load_s"] = session_s, registry_s
        layer["trace.overhead_s"] = statistics.median(p["wall"] for p in traced) - e2e["pass_s"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
        trace_out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        detail["trace_file"] = os.path.relpath(trace_out, ROOT)
        detail["traced_passes"] = len(traced)
        run.spans.write(trace_out, workload=args.workload, seed=args.seed, layers=per_pass)
    result = {"correct": not run.failures, "attempted": run.attempted,
              "failed": len(run.failures), "metrics": metrics}
    return detail, result


if __name__ == "__main__":
    sys.exit(main())
