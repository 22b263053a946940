"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at the given SF, compare
row-count + column names + order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from geocube_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 5)
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):
        try:
            return norm_cell(v.item())
        except Exception:
            pass
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return v


def run(sf_dir: str, only: list[str]):
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            results[name] = f"SPARK-ERROR {type(e).__name__}: {str(e)[:200]}"
            continue
        if name not in oracles:
            results[name] = f"rows-only OK ({len(srows)} rows, {time.time()-t0:.1f}s)"
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            results[name] = f"ORACLE-ERROR {type(e).__name__}: {str(e)[:200]}"
            continue
        dcols = list(ddf.columns)
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            results[name] = f"COLUMNS differ: spark={sorted(scols)} duck={sorted(dcols)}"
            continue
        if len(srows) != len(ddf):
            results[name] = f"ROWCOUNT differ: spark={len(srows)} duck={len(ddf)}"
            continue
        order = sorted(scols, key=str.lower)
        s_set = sorted(
            (tuple(norm_cell(r[c]) for c in order) for r in srows), key=repr
        )
        d_records = ddf.to_dict("records")
        dmap = {c.lower(): c for c in dcols}
        d_set = sorted(
            (tuple(norm_cell(r[dmap[c.lower()]]) for c in order) for r in d_records),
            key=repr,
        )
        if s_set != d_set:
            diff_i = next(i for i, (a, b) in enumerate(zip(s_set, d_set)) if a != b)
            results[name] = (
                f"VALUES differ at sorted idx {diff_i}:\n  spark={s_set[diff_i]}\n  duck ={d_set[diff_i]}"
            )
            continue
        results[name] = f"MATCH ({len(srows)} rows, {time.time()-t0:.1f}s)"

    print("\n=== results ===")
    n_ok = 0
    for name, res in results.items():
        ok = res.startswith("MATCH") or res.startswith("rows-only")
        n_ok += ok
        print(f"{'PASS' if ok else 'FAIL':4} {name}: {res}")
    print(f"\n{n_ok}/{len(results)} OK")
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    sys.exit(run(sf_dir, only))
