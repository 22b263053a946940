"""Geocube service benchmark: one closed-loop client drives the public API
in one process on local[<cpus>] and prints every metric by name and unit.

    python3 geobench/run.py --workload catalog_query --seed 1 --seconds 10 --trace 0

The last stdout line is the result JSON; the line before it is the full
report (workload-specific metrics, sizes, load, known-defect probes).  With
``--trace 1`` the run also replays the same requests with spans on and an
uncompressed Spark event log, and reports the per-layer metrics.  Exits
non-zero if any op fails or returns a wrong answer.  Everything the run
writes goes under ``geobench/_runs/<run>/`` and is removed at the end
(spans of a traced run go to ``geobench/_traces/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and every live descendant (the
    JVM, the PySpark daemon and its workers)."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(d)] = (int(f[1]), int(f[11]) + int(f[12]))  # ppid, utime + stime
    children = {}
    for pid, (ppid, _t) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _git_status() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


class Session:
    """The run's SparkSession, with every writable location under the run
    dir.  ``restart`` stops the SparkContext and starts a new one in the
    same JVM."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.cpus = _cpus()
        self.spark = None

    def start(self, event_log: str | None = None):
        from geocube_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log,
            })
        self.spark = get_spark(
            master=f"local[{self.cpus}]", shuffle_partitions=self.cpus, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self, event_log: str | None = None):
        self.stop()
        return self.start(event_log)

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self):
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    def __init__(self, wl, run_dir: str, session: Session):
        self.wl = wl
        self.run_dir = run_dir
        self.session = session
        self.failures: list[str] = []
        self.check_cpu_s = 0.0  # the harness's own CPU checking outputs

    def _dir(self, name: str) -> str:
        p = os.path.join(self.run_dir, name)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def setup(self):
        """The set-up, timed from before session start: start the session
        (JVM launch included), generate inputs, write the workload's
        configuration, warm up on a scratch catalog copy, copy the catalog
        the run measures.  Returns (state, catalog dir, inputs dir, seconds,
        sizes)."""
        t0 = time.perf_counter()
        spark = self.session.start()
        inputs = self._dir("inputs")
        sizes = self.wl.generate(inputs)
        self.wl.configure(spark, inputs)
        state, catalog = self.warm_and_prepare(spark, inputs, "", self.wl.warmup_cycles)
        return state, catalog, inputs, time.perf_counter() - t0, sizes

    def warm_and_prepare(self, spark, inputs: str, tag: str, cycles: int):
        """Warm up on a scratch copy of the catalog (the warm-up requests
        come from another seed's stream; ingest warm-ups write), then copy
        the catalog the run measures."""
        warm_dir = self._dir(f"warm{tag}")
        warm = self.wl.prepare(spark, inputs, warm_dir)
        for req in self.wl.warmup_requests(cycles):
            for _name, call, _check, _added in self.wl.steps(warm, req):
                call()
        shutil.rmtree(warm_dir, ignore_errors=True)
        catalog = self._dir(f"catalog{tag}")
        return self.wl.prepare(spark, inputs, catalog), catalog

    def op(self, op_id: int, name: str, call, check, hooks=None):
        """One timed op; returns (latency ms, ok, output)."""
        self.wl.frames = []
        sc = self.session.spark.sparkContext
        sc.setJobGroup(f"op{op_id}", f"{self.wl.name}:{name}")
        if hooks:
            hooks.before(op_id, name)
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception:
            lat = (time.perf_counter() - t0) * 1e3
            if hooks:
                hooks.after(op_id, name, None)
            self.failures.append(f"op {op_id} {name} raised:\n{traceback.format_exc()}")
            return lat, False, None
        lat = (time.perf_counter() - t0) * 1e3
        if hooks:
            hooks.after(op_id, name, out)
        sc.setJobGroup("check", "output check")  # keeps check jobs out of the op's figures
        c0 = time.process_time()
        ok = bool(check(out))
        self.check_cpu_s += time.process_time() - c0
        if not ok:
            self.failures.append(f"op {op_id} {name}: wrong answer")
        return lat, ok, out

    def loop(self, state, seconds: float | None, n_requests: int | None = None, hooks=None):
        """Closed loop, one client: the next request is sent when the
        previous reply is in.  Stops at the first cycle boundary after
        ``seconds`` (then runs the final ops), or after ``n_requests``."""
        ops = []
        reqs = self.wl.requests()
        cpu0 = _tree_cpu_s(os.getpid()) - self.check_cpu_s
        t0 = time.perf_counter()
        n_req = 0
        while (
            n_requests is None
            and (time.perf_counter() - t0 < seconds or n_req % self.wl.cycle_len)
        ) or (n_requests is not None and n_req < n_requests):
            req = next(reqs)
            n_req += 1
            for name, call, check, added in self.wl.steps(state, req):
                lat, ok, _ = self.op(len(ops), name, call, check, hooks)
                ops.append({"name": name, "ms": lat, "ok": ok, "added": added, "final": False})
                if not ok:
                    break
        self.loop_cpu_s = _tree_cpu_s(os.getpid()) - self.check_cpu_s - cpu0
        for name, call, check, added in self.wl.final_steps(state):
            lat, ok, _ = self.op(len(ops), name, call, check, hooks)
            ops.append({"name": name, "ms": lat, "ok": ok, "added": added, "final": True})
            if not ok:
                break
        return ops, n_req


def end_to_end(wl, ops: list[dict], state, loop_cpu_s: float) -> tuple[dict, dict]:
    """(metrics gated by BENCHMARK.json, workload-specific report).  Latency
    and rate figures cover the ops of the timed loop; the ops run once
    after it (the consolidation job) are reported as ``job_s``."""
    from workloads import READ_OPS, WRITE_OPS

    loop = [o for o in ops if not o["final"]]
    lat = [o["ms"] for o in loop]
    total_s = sum(lat) / 1e3
    reads = [o["ms"] for o in loop if o["name"] in READ_OPS]
    writes = [o["ms"] for o in loop if o["name"] in WRITE_OPS]
    failed = sum(not o["ok"] for o in ops)
    metrics = {
        "ops_per_s": (len(loop) / total_s, "1/s"),
        "cpu_ms_per_op": (loop_cpu_s * 1e3 / len(loop), "ms"),
    }
    extra = {
        "op_p50_ms": (statistics.median(lat), "ms"),
        "read_p50_ms": (statistics.median(reads), "ms"),
        "op_p90_ms": (_pct(lat, 0.9), "ms"),
        "op_samples": (len(lat), "count"),
        "ops_attempted": (len(ops), "count"),
        "error_rate": (failed / len(ops), "ratio"),
    }
    if writes:
        extra["write_p50_ms"] = (statistics.median(writes), "ms")
    by = {}
    for o in ops:
        by.setdefault(o["name"], []).append(o["ms"])
    if wl.name == "cube_read":
        px = sum(o.get("pixels", 0) for o in loop)
        extra["mpix_per_s"] = (px / 1e6 / total_s, "Mpx/s")
    if wl.name == "ingest_consolidate":
        job_s = sum(o["ms"] for o in ops if o["final"]) / 1e3
        extra["job_s"] = (job_s, "s")
        extra["mpix_per_s"] = (state["job"].get("pixels", 0) / 1e6 / job_s, "Mpx/s")
    if wl.name == "corpus_dedup":
        dd = by.get("dedup", [])
        extra["docs_per_s"] = (len(dd) * wl.n_docs / wl.n_shards / (sum(dd) / 1e3), "1/s")
    extra["op_p50_ms_by_op"] = ({k: statistics.median(v) for k, v in sorted(by.items())}, "ms")
    return metrics, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import geocube_spark.client  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"geobench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"geobench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    git_before = _git_status()
    cpus = _cpus()
    load_start = os.getloadavg()[0] / cpus
    run_dir = os.path.join(HERE, "_runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    time.tzset()
    cwd = os.getcwd()
    os.chdir(run_dir)
    session = Session(run_dir)
    wl = WORKLOADS[args.workload](args.seed)
    runner = Runner(wl, run_dir, session)
    try:
        state, catalog, inputs, setup_s, sizes = runner.setup()
        wl.load_oracle(inputs)
        hooks = CubeHooks(wl) if wl.name == "cube_read" else None
        ops, n_req = runner.loop(state, args.seconds, hooks=hooks)
        if hooks:
            hooks.annotate(ops)
        session.spark.sparkContext.setJobGroup("probe", "known-defect probes")
        try:
            probes = {k: "pass" if ok else "fail" for k, ok in wl.probes(state).items()}
        except Exception as exc:
            probes = {"error": f"raised {exc!r}"}
        metrics, extra = end_to_end(wl, ops, state, runner.loop_cpu_s)
        per_layer = None
        if args.trace:
            from layers import traced_pass

            per_layer, traced_ops = traced_pass(runner, inputs, n_req, ops, args.seed)
            ops = ops + traced_ops
        rss = {"python": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(session.jvm_pid())}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        session.close()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "_runs"))
        except OSError:
            pass
    metrics["setup_s"] = (setup_s, "s")
    extra["peak_rss_mb"] = (rss["python"] + rss["jvm"], "MB")
    failed = sum(not o["ok"] for o in ops)
    for msg in runner.failures:
        print(msg, file=sys.stderr)
    git_after = _git_status()
    if git_before != git_after:
        print("geobench: the run changed `git status --porcelain`", file=sys.stderr)
        failed += 1
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "master": f"local[{cpus}]",
        "clients": 1,
        "loop": "closed",
        "sizes": sizes,
        "requests": n_req,
        "known_defect_probes": probes,
        "peak_rss_mb_by_process": rss,
        "load_per_cpu": {"start": load_start, "end": os.getloadavg()[0] / cpus},
        "git_status_unchanged": None if git_before is None else git_before == git_after,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**metrics, **extra}.items()},
    }
    print(json.dumps(report, sort_keys=True))
    out = metrics if per_layer is None else per_layer
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 0 if failed == 0 else 1


class CubeHooks:
    """Counts the pixels each cube_read op delivers."""

    def __init__(self, wl):
        self.wl = wl
        self.pixels: dict[int, int] = {}

    def before(self, op_id, name):
        pass

    def after(self, op_id, name, out):
        self.pixels[op_id] = sum(
            len(r["px"]) for _df, rows, _t in self.wl.frames for r in rows if "px" in r
        )

    def annotate(self, ops):
        for i, o in enumerate(ops):
            o["pixels"] = self.pixels.get(i, 0)


if __name__ == "__main__":
    sys.exit(main())
