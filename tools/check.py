"""Local correctness harness mirroring the driver's t2 run.

Runs every registered query at a given sf dir, runs its DuckDB oracle over
the same parquet tables, and compares row count + (sorted-by-name) columns +
an order-insensitive value comparison. Usage:

    python tools/check.py [sf_dir] [name_filter ...]

Prints one line per query: OK / MISMATCH(reason) / ERROR(exc) and a summary.
"""

from __future__ import annotations

import math
import sys
import time
import traceback

import duckdb

sys.path.insert(0, ".")

from apache_hive_1_2_2_src_spark.registry import load_all
from apache_hive_1_2_2_src_spark.session import get_session
from apache_hive_1_2_2_src_spark.tables import TABLES
from apache_hive_1_2_2_src_spark.tmputil import scratch_dir

# DuckDB's default limit is 80% of RAM; beside a Spark driver that is an
# OOM kill, so the oracle spills past this bound into its own scratch dir.
ORACLE_MEMORY_LIMIT = "2GiB"


def norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """The DuckDB oracle: one view per table over ``sf_dir``'s parquet files,
    memory bounded, spilling under this process's scratch dir (never into
    ``.tmp/`` of the working directory)."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{ORACLE_MEMORY_LIMIT}'")
    con.execute(f"SET temp_directory = '{scratch_dir('duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]
    spark = get_session()
    con = oracle_connection(sf_dir)

    reg = load_all()
    names = [n for n in sorted(reg) if not name_filter or any(f in n for f in name_filter)]
    n_ok = n_bad = n_err = 0
    for name in names:
        q = reg[name]
        t0 = time.time()
        try:
            sdf = q.build(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
            if q.oracle is None:
                n_ok += 1
                print(f"OK    {name}  rows-only n={len(srows)}  {time.time()-t0:.1f}s")
                continue
            ores = con.execute(q.oracle).fetchall()
            ocols = [d[0] for d in con.description]
            if sorted(scols) != sorted(ocols):
                n_bad += 1
                print(f"MISMATCH {name}: cols spark={sorted(scols)} oracle={sorted(ocols)}")
                continue
            if len(srows) != len(ores):
                n_bad += 1
                print(f"MISMATCH {name}: rowcount spark={len(srows)} oracle={len(ores)}")
                continue
            a, b = norm_rows(scols, [tuple(r) for r in srows]), norm_rows(ocols, ores)
            if a != b:
                n_bad += 1
                diff = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
                print(f"MISMATCH {name}: values differ at sorted row {diff}:")
                print(f"   spark : {a[diff]}")
                print(f"   oracle: {b[diff]}")
                continue
            n_ok += 1
            print(f"OK    {name}  n={len(srows)}  {time.time()-t0:.1f}s")
        except Exception:
            n_err += 1
            print(f"ERROR {name}:")
            traceback.print_exc(limit=3)
    print(f"\n== {n_ok} ok / {n_bad} mismatch / {n_err} error (of {len(names)})")
    return 0 if n_bad == n_err == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
