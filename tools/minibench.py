"""Isolated per-query timing, bench.py methodology (warm session, count()
action, sequential). Usage: python tools/minibench.py q1 q2 ... [--reps=N]
(``--reps N`` also accepted). Prints one JSON line {name: sec}."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_1_2_2_src_spark.registry import load_all
from apache_hive_1_2_2_src_spark.session import get_session


def main() -> int:
    argv = sys.argv[1:]
    args: list[str] = []
    reps = 1
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--reps"):
            # ADVICE r19: accept both --reps=N and --reps N
            if "=" in a:
                val = a.split("=", 1)[1]
            else:
                i += 1
                val = argv[i] if i < len(argv) else ""
            if not val.isdigit() or int(val) < 1:
                raise SystemExit(f"usage: --reps N (N >= 1), got {val!r}")
            reps = int(val)
        elif a.startswith("--"):
            raise SystemExit(f"unknown option: {a}")
        else:
            args.append(a)
        i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reg = load_all()
    unknown = [n for n in args if n not in reg]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    spark = get_session("minibench")
    # warmup: flagship query, absorbs session/scan/codegen startup
    reg["q1_pricing_summary"].build(spark, sf_dir).count()
    out = {}
    for name in args:
        vals = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"minibench:{name}")
            t0 = time.time()
            reg[name].build(spark, sf_dir).count()
            vals.append(round(time.time() - t0, 3))
        out[name] = vals[0] if reps == 1 else vals
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
