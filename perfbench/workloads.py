"""The benchmark's workloads: which registered queries one pass runs.

Each workload is a closed loop of one client running its queries one after
another. A pass runs every query once; every pass after the cold one runs
them in an order drawn from the seed.
README.md says why each workload was chosen and which layers it loads.
"""

from __future__ import annotations

import os
import random

# The engine's sf0.01 testdata, copied byte for byte into the benchmark so a
# run reads only inside its checkout. At this size every query is bound by
# fixed per-query overhead.
SF = 0.01
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", f"sf{SF}")

# Each workload runs an odd number of queries: the median of a pass's
# latencies then falls inside one query's cluster of samples instead of in
# the gap between two queries, where it would jump from run to run.
WORKLOADS: dict[str, tuple[str, ...]] = {
    # Read-only relational path: scans, joins, aggregates, Catalyst, AQE.
    "tpch": (
        "q1_pricing_summary",  # Q1: scan + filter + 7 aggregates
        "workload_order_priority_check",  # Q4: EXISTS semi-join + aggregate
        "workload_local_supplier_volume",  # Q5: 6-table broadcast join chain
        "workload_revenue_forecast",  # Q6: selective scan + global aggregate
        "workload_large_volume_customer",  # Q18: IN-subquery + 3-way join
    ),
    # New data lands and is curated: a foreachBatch upsert stream and a
    # partitioned layout write with a pruned read (the write path), then an
    # audio-containment dedup whose pandas-UDF codec kernel runs in Python
    # workers behind eager checkpoints and shuffles (the LLM-curation path).
    "curate_ingest": (
        "streaming_foreachbatch_upsert",
        "partitioned_write_prune",
        "dedup_audio_contained",
    ),
}


def pass_orders(workload: str, seed: int):
    """Yield the query order of each successive pass.

    The first (cold) pass runs the queries in the order listed above in
    every run: what the JIT compiles first shapes the whole session, and
    with a seed-drawn cold order the warm passes of one seed ran 5-15%
    faster than another's. Every later pass runs them in an order drawn from the seed, so
    every seed runs the same queries on the same data.
    """
    rng = random.Random(seed)
    names = list(WORKLOADS[workload])
    yield list(names)
    while True:
        rng.shuffle(names)
        yield list(names)
