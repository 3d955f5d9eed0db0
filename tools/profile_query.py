"""Per-query job/stage profiler (r20): run one registered query with the
Spark event log enabled, then print per-job durations, inter-job driver
gaps, and single-task / long stages.

Usage: python tools/profile_query.py <query> [<query> ...]

The session is the engine's own ``get_session`` session, with
spark.eventLog.enabled=true pointing at a fresh temp dir (passed to
spark-submit through PYSPARK_SUBMIT_ARGS); logs are the zstd event-log
dirs Spark 4 writes (eventlog_v2_*/events_*.zstd). Prints one summary
block per query:
  jobs=N  wall=S  sum(job_dur)=S  sum(gaps)=S
  top jobs by duration, top gaps, stages with 1 task and >0.5s duration.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_1_2_2_src_spark.registry import load_all  # noqa: E402


def read_events(evt_dir: str) -> list[dict]:
    out = []
    for d in sorted(glob.glob(os.path.join(evt_dir, "*"))):
        files = sorted(glob.glob(os.path.join(d, "events_*")))
        if not files and os.path.isfile(d):
            files = [d]
        for f in files:
            if f.endswith(".zstd"):
                raw = subprocess.run(
                    ["zstd", "-dc", f], capture_output=True, check=True
                ).stdout
            else:
                with open(f, "rb") as fh:
                    raw = fh.read()
            for line in raw.splitlines():
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    pass
    return out


def profile(events: list[dict], t0_ms: float, t1_ms: float) -> None:
    jobs = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            ts = e["Submission Time"]
            if t0_ms <= ts <= t1_ms:
                jobs[e["Job ID"]] = {
                    "start": ts,
                    "desc": (e.get("Properties") or {}).get(
                        "spark.job.description", ""
                    )[:60],
                }
        elif e.get("Event") == "SparkListenerJobEnd":
            j = jobs.get(e["Job ID"])
            if j is not None:
                j["end"] = e["Completion Time"]
    stages = {}
    for e in events:
        if e.get("Event") == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            ts = si.get("Submission Time", 0)
            if t0_ms <= ts <= t1_ms:
                stages[si["Stage ID"]] = {
                    "dur": (si.get("Completion Time", ts) - ts) / 1000.0,
                    "ntasks": si.get("Number of Tasks", -1),
                    "name": si.get("Stage Name", "")[:70],
                }
    done = sorted(
        (j for j in jobs.values() if "end" in j), key=lambda j: j["start"]
    )
    total_dur = sum((j["end"] - j["start"]) for j in done) / 1000.0
    gaps = []
    for a, b in zip(done, done[1:]):
        g = (b["start"] - a["end"]) / 1000.0
        if g > 0:
            gaps.append((g, a["desc"]))
    wall = (t1_ms - t0_ms) / 1000.0
    print(
        f"  jobs={len(done)} wall={wall:.2f}s sum(job)={total_dur:.2f}s "
        f"sum(gaps)={sum(g for g, _ in gaps):.2f}s"
    )
    for j in sorted(done, key=lambda j: j["start"] - j["end"])[:8]:
        print(
            f"    job {((j['end'] - j['start']) / 1000.0):6.2f}s  {j['desc']}"
        )
    for g, d in sorted(gaps, reverse=True)[:8]:
        print(f"    gap {g:6.2f}s after {d}")
    slow_serial = [
        s for s in stages.values() if s["ntasks"] == 1 and s["dur"] > 0.5
    ]
    for s in sorted(slow_serial, key=lambda s: -s["dur"])[:6]:
        print(f"    1-task stage {s['dur']:6.2f}s  {s['name']}")


def main() -> int:
    evt_dir = tempfile.mkdtemp(prefix="sparkevt_")
    os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    from apache_hive_1_2_2_src_spark.session import get_session

    # The event-log confs go in through spark-submit, before the JVM starts,
    # so the session itself carries exactly the engine's confs.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir={evt_dir} "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_session("profile")
    reg = load_all()
    reg["q1_pricing_summary"].build(spark, sf_dir).count()  # warmup
    windows = []
    for name in sys.argv[1:]:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.time() * 1000
        reg[name].build(spark, sf_dir).count()
        t1 = time.time() * 1000
        windows.append((name, t0, t1))
        print(f"{name}: {(t1 - t0) / 1000.0:.2f}s", flush=True)
    spark.stop()
    time.sleep(2)
    events = read_events(evt_dir)
    for name, t0, t1 in windows:
        print(f"== {name}")
        profile(events, t0, t1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
