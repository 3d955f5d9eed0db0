"""Driver simulator: mirrors the external correctness harness more closely
than tools/check.py.

Differences from check.py that have burned rounds before:
- builds a VANILLA SparkSession (no session.py confs) — the driver never
  calls get_session(), so every query must survive a bare session;
- evaluates the registry in ITS order (positional prefix, default 50), not
  alphabetically — what the capped external sweep will actually see;
- canonicalizes through pandas (sort by all columns) — raw array/map
  columns raise `unhashable type` here exactly like the driver's harness;
- DTYPE-STRICT (round-4 fix): int64 `300` vs float64 `300.0` is a MISMATCH.
  Round 3 shipped two driver hash-fails (ddl_lifecycle, text_token_stats)
  because `norm()` collapsed both to the string "300" while the external
  driver's canonicalizer distinguished them (DuckDB SUM(BIGINT)→HUGEINT→
  float64 vs Spark int64). Floats now carry a type marker and per-column
  pandas dtype KINDS (int/float/bool/object) are compared explicitly.

Usage: python tools/driver_sim.py [sf_dir] [n_entries]
"""

from __future__ import annotations

import math
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from apache_hive_1_2_2_src_spark.registry import load_all
from tools.check import oracle_connection


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # the driver sorts via pandas — lists/dicts in cells raise TypeError here
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def norm(v):
    if v is None or (isinstance(v, (float, np.floating)) and math.isnan(v)):
        return "\x00NULL"
    if isinstance(v, (bool, np.bool_)):
        return f"{v}:b"
    if isinstance(v, (float, np.floating)):
        # trailing marker: float64 300.0 must NOT hash-equal int64 300
        return f"{float(v):.9g}:f"
    if isinstance(v, (int, np.integer)):
        return f"{v}:i"
    return str(v)


def dtype_kinds(df: pd.DataFrame) -> list[str]:
    """Coarse per-column dtype signature: int/float/bool/object/datetime.

    Coarse on purpose — int32 vs int64 (DuckDB INTEGER vs Spark int) is
    benign; int vs float (the round-3 HUGEINT bug class) is not.
    """
    kind_names = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}
    return [kind_names.get(df[c].dtype.kind, "object") for c in df.columns]


def _all_datelike(series: pd.Series) -> bool:
    import datetime as _dt

    vals = series.dropna()
    return len(vals) > 0 and all(isinstance(v, (_dt.date, _dt.datetime)) for v in vals)


def dtype_issues(s: pd.DataFrame, o: pd.DataFrame) -> list[str]:
    """Column-wise dtype-kind divergences between Spark and oracle frames
    that the external driver's canonicalizer would treat as value diffs.

    Allowed (benign, both engines promote the same logical value):
    - int↔float/object ONLY when that column actually contains nulls
      (nullable-int promotion is engine-version dependent on both sides);
    - datetime↔object when the object side holds date/datetime values
      (DuckDB fetchdf DATE vs Spark toPandas datetime.date — stringifies
      identically after the driver's date canon, r03 evidence: Q3 green);
    - bool↔object with nulls present.
    Flagged: everything else — in particular int vs float with NO nulls,
    the exact HUGEINT class that cost round 3 two driver rows.
    """
    issues = []
    for c, ks, ko in zip(s.columns, dtype_kinds(s), dtype_kinds(o)):
        if ks == ko:
            continue
        pair = {ks, ko}
        has_nulls = bool(s[c].isna().any() or o[c].isna().any())
        if pair <= {"int", "float", "object"} and "int" in pair and has_nulls:
            continue
        if pair == {"datetime", "object"}:
            obj = s[c] if ks == "object" else o[c]
            if _all_datelike(obj):
                continue
        if pair == {"bool", "object"} and has_nulls:
            continue
        issues.append(f"{c}: spark={ks} oracle={ko}")
    return issues


def value_hash(df: pd.DataFrame) -> int:
    return hash(tuple(tuple(norm(v) for v in row) for row in df.itertuples(index=False)))


def main() -> int:
    """driver_sim.py [sf_dir] [n_entries | query_name ...] — a numeric
    second arg caps the positional prefix (the driver's shape); query
    names instead restrict the run to exactly those queries (round 9:
    targeted driver-fidelity checks for late registrations)."""
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    cap, name_filter = 50, None
    if len(sys.argv) > 2:
        if sys.argv[2].isdigit():
            cap = int(sys.argv[2])
        else:
            name_filter = sys.argv[2:]

    from pyspark.sql import SparkSession

    # vanilla session: intentionally NO semantic confs (ensure_confs must cope)
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("driver_sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = oracle_connection(sf_dir)

    reg = load_all()
    if name_filter is not None:
        missing = [n for n in name_filter if n not in reg]
        if missing:
            raise SystemExit(f"unknown query names: {missing}")
        names = name_filter
    else:
        names = list(reg)[:cap]
    n_ok = n_no_oracle = n_bad = n_err = 0
    for pos, name in enumerate(names):
        q = reg[name]
        t0 = time.time()
        try:
            sdf = q.build(spark, sf_dir)
            spdf = sdf.toPandas()
            if q.oracle is None:
                n_no_oracle += 1
                print(f"NO_ORACLE {pos:3d} {name} rows={len(spdf)} {time.time()-t0:.1f}s")
                continue
            odf = con.execute(q.oracle).fetchdf()
            s, o = canon(spdf), canon(odf)
            rows = len(s) == len(o)
            schema = list(s.columns) == list(o.columns)
            issues = dtype_issues(s, o) if schema else []
            hashes = value_hash(s) == value_hash(o)
            if rows and schema and not issues and hashes:
                n_ok += 1
                print(f"OK        {pos:3d} {name} rows={len(s)} {time.time()-t0:.1f}s")
            else:
                n_bad += 1
                detail = f" dtype_diff=[{'; '.join(issues)}]" if issues else ""
                print(
                    f"MISMATCH  {pos:3d} {name} rows_match={rows} "
                    f"schema_match={schema} dtype_match={not issues} "
                    f"hash_match={hashes}{detail}"
                )
        except Exception as ex:
            n_err += 1
            print(f"ERROR     {pos:3d} {name}: {type(ex).__name__}: {str(ex)[:160]}")
    print(f"== {n_ok} ok / {n_no_oracle} no_oracle / {n_bad} mismatch / {n_err} error (of {len(names)})")
    return 0 if n_bad == n_err == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
