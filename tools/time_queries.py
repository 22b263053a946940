"""Isolate and time individual registered queries (guide §1.1/§1.4/§1.5).

Usage: python tools/time_queries.py [sf_dir] [--noop] [--runs N] [query ...]

Times each selected query with the bench methodology (build + collect) or,
with --noop, against the noop sink so the computation is timed without the
driver transfer.  Jobs are labelled with setJobDescription.  Prints one
line per query: median, min, max over N runs (default 3).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geocube_spark import registry  # noqa: E402
from geocube_spark.session import get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    noop = False
    runs = 3
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--noop":
            noop = True
        elif a == "--runs":
            runs = int(next(it))
        elif "/" in a:
            sf_dir = a
        else:
            names.append(a)

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry.ensure_fixtures()
    # same warm-up as bench.py
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in ("lineitem", "orders", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).collect()

    qs = registry.queries()
    total = 0.0
    for name in names or list(qs):
        fn = qs[name]
        ts: list[float] = []
        nrows = -1
        for _ in range(runs):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                nrows = len(df.collect())
            ts.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        med = statistics.median(ts)
        total += med
        print(
            f"{name}: median={med:.3f}s min={min(ts):.3f} max={max(ts):.3f}"
            + ("" if noop else f" rows={nrows}")
        )
    print(f"TOTAL(medians)={total:.2f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
