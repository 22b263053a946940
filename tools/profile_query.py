"""Structural profile of registered queries via the Spark UI REST API.

Usage: python tools/profile_query.py [sf_dir] [--runs N] query [query ...]

For each query: runs it (collect), then scrapes http://localhost:4040/api/v1
for the jobs/stages it submitted.  Reports per run:
  jobs, stages, tasks, task-time sum, shuffle read/write bytes, input bytes.

Job/stage/task counts and shuffle bytes are DETERMINISTIC for a fixed plan,
so they survive host noise that makes wall-clock unusable (guide §7.1: the
UI is the measurement instrument; this is the headless equivalent).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geocube_spark import registry  # noqa: E402
from geocube_spark.session import get_spark  # noqa: E402


def api(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}") as r:
        return json.loads(r.read())


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    runs = 1
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--runs":
            runs = int(next(it))
        elif "/" in a:
            sf_dir = a
        else:
            names.append(a)

    spark = get_spark("profile-query", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    registry.ensure_fixtures()
    base = spark.sparkContext.uiWebUrl
    app = api(base, "/api/v1/applications")[0]["id"]
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    qs = registry.queries()
    for name in names or list(qs):
        fn = qs[name]
        for r in range(runs):
            pre_jobs = {j["jobId"] for j in api(base, f"/api/v1/applications/{app}/jobs")}
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = fn(spark, sf_dir)
            nrows = len(df.collect())
            wall = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            jobs = [j for j in api(base, f"/api/v1/applications/{app}/jobs")
                    if j["jobId"] not in pre_jobs]
            stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
            stages = api(base, f"/api/v1/applications/{app}/stages")
            mine = [s for s in stages if s["stageId"] in stage_ids
                    and s["status"] != "SKIPPED"]
            n_tasks = sum(s["numCompleteTasks"] for s in mine)
            ttime = sum(s.get("executorRunTime", 0) for s in mine) / 1000.0
            # executorCpuTime is ns of ON-CPU time (thread CPU clock): unlike
            # wall/taskTime it is not inflated by host-side steal, so it is
            # the comparison metric of record on this noisy host
            ctime = sum(s.get("executorCpuTime", 0) for s in mine) / 1e9
            sread = sum(s.get("shuffleReadBytes", 0) for s in mine)
            swrite = sum(s.get("shuffleWriteBytes", 0) for s in mine)
            inbytes = sum(s.get("inputBytes", 0) for s in mine)
            print(
                f"{name} run{r}: wall={wall:.2f}s jobs={len(jobs)} "
                f"stages={len(mine)} tasks={n_tasks} taskTime={ttime:.1f}s "
                f"cpu={ctime:.2f}s "
                f"shufR={sread/1e6:.2f}MB shufW={swrite/1e6:.2f}MB "
                f"input={inbytes/1e6:.2f}MB rows={nrows}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
