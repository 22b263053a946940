"""Capture `.explain("formatted")` for registered queries into plans/<round>/
(round from $SPARK_GRAFT_PLANS_ROUND, default r12).

Usage: python tools/capture_plans.py <suffix> [sf_dir] [query ...]

Writes plans/r11/<query>_<suffix>.txt for each selected query (default:
every registered query).  The formatted plan is the pre-execution plan
(AdaptiveSparkPlan isFinalPlan=false) — the shape the optimizer chose:
Exchange count, join strategy, PushedFilters/ReadSchema, codegen spans,
Python-eval nodes.  Nothing is executed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geocube_spark import registry  # noqa: E402
from geocube_spark.session import get_spark  # noqa: E402

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r12"))


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print("usage: capture_plans.py <suffix> [sf_dir] [query ...]")
        return 2
    suffix = args[0]
    rest = args[1:]
    sf_dir = rest[0] if rest and "/" in rest[0] else "/root/testdata/sf0.1"
    only = [a for a in rest if "/" not in a]

    spark = get_spark("plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    registry.ensure_fixtures()
    os.makedirs(OUT_DIR, exist_ok=True)

    qs = registry.queries()
    names = only or list(qs)
    n_err = 0
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            qe = df._jdf.queryExecution()
            txt = qe.explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {type(e).__name__}: {str(e)[:200]}")
            n_err += 1
            continue
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 1 if n_err else 0


if __name__ == "__main__":
    sys.exit(main())
