"""The traced pass: replay the timed pass's requests with spans on and an
uncompressed Spark event log, and reduce spans, event log and catalog
walks to the per-layer metrics (see README.md for each definition)."""

from __future__ import annotations

import json
import os
import pickle
import statistics
from collections import defaultdict

from spans import Tracer, read_event_log, snapshot_dirs, union_ms, walk_tree

CLIENT_OPS = [
    "list_records", "list_datasets", "get_cube_headers", "get_records",
    "find_container_layouts", "get_cube", "get_xyz_tile", "download_cube", "focal",
    "zonal_statistics", "create_aoi", "create_records", "index_datasets",
    "add_records_tags", "consolidate", "process_consolidation_job", "process_deletion_job",
]
OPERATOR_FNS = [
    "xyz_tile", "plan_consolidation", "cover_for_layout", "mosaic_blocks",
    "get_cube_from_metadatas", "focal_mean", "zonal_stats",
    "minhash_near_duplicates", "connected_components", "brute_force_topk",
]
PY_EXECS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")

PER_LAYER = (
    [(f"client.{op}.p50_ms", "ms") for op in CLIENT_OPS]
    + [(f"client.{op}.calls", "count") for op in CLIENT_OPS]
    + [
        ("plans.build_ms", "ms"), ("plans.calls", "count"),
        ("spark.analysis_ms", "ms"), ("spark.optimization_ms", "ms"),
        ("spark.planning_ms", "ms"), ("driver.self_ms", "ms"),
        ("catalog.reads", "count"), ("catalog.read_ms", "ms"),
        ("catalog.writes", "count"), ("catalog.write_ms", "ms"),
        ("catalog.bytes_written", "bytes"), ("catalog.files_written", "count"),
        ("catalog.versions_swept", "count"), ("catalog.write_amp", "ratio"),
        ("catalog.commit_conflicts", "count"),
        ("jobs.transitions", "count"), ("jobs.tasks", "count"), ("jobs.task_retries", "count"),
        ("operators.consolidate_to_mucog.ms", "ms"),
        ("operators.consolidate_to_mucog.bytes_out", "bytes"),
        ("operators.xyz_tile.build_ms", "ms"),
    ]
    + [(f"operators.{fn}.ms", "ms") for fn in OPERATOR_FNS if fn != "xyz_tile"]
    + [
        ("validation.ms", "ms"),
        ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
        ("spark.executor_cpu_s", "s"), ("spark.executor_run_s", "s"),
        ("spark.jvm_gc_s", "s"), ("spark.scheduler_delay_ms", "ms"),
        ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
        ("spark.python_exec_run_s", "s"),
    ]
    + [(f"spark.python_exec_run_s.{e}", "s") for e in PY_EXECS]
    + [
        ("result.rows", "count"), ("result.bytes", "bytes"), ("result.tail_ms", "ms"),
        ("trace.ops", "count"), ("trace.overhead_pct", "%"),
    ]
)


class TraceHooks:
    """Per op: the root span, catalog walks before and after, and what the
    op's collected frames report (Catalyst phases, rows, bytes, return
    time)."""

    def __init__(self, tracer: Tracer, wl, catalog: str):
        self.tracer, self.wl, self.catalog = tracer, wl, catalog
        self.per_op: dict[int, dict] = {}
        self._span = None
        self._tree = None

    def before(self, op_id, name):
        self._tree = walk_tree(self.catalog)
        self._span = self.tracer.begin_op(op_id, name)

    def after(self, op_id, name, out):
        self.tracer.end_op(self._span)
        after = walk_tree(self.catalog)
        new = {p: s for p, s in after.items() if p not in self._tree}
        rec = {
            "ms": (self._span["end"] - self._span["start"]) * 1e3,
            "bytes_written": sum(new.values()),
            "files_written": len(new),
            "versions_swept": len(snapshot_dirs(self._tree) - snapshot_dirs(after)),
            "mucog_bytes": sum(s for p, s in new.items() if p.startswith("consolidated_data")),
            "phases": defaultdict(float),
            "rows": 0,
            "bytes": 0,
            "t_return": None,
        }
        for df, rows, t_ret in self.wl.frames:
            phases = df._jdf.queryExecution().tracker().phases()
            it = phases.iterator()
            while it.hasNext():
                kv = it.next()
                rec["phases"][kv._1()] += kv._2().durationMs()
            rec["rows"] += len(rows)
            rec["bytes"] += len(pickle.dumps(rows))
            rec["t_return"] = t_ret
        self.per_op[op_id] = rec


def traced_pass(runner, inputs: str, n_requests: int, untraced: list[dict], seed: int):
    """Returns (per-layer metrics {name: (value, unit)}, traced ops)."""
    wl, session = runner.wl, runner.session
    log_dir = os.path.join(runner.run_dir, "eventlog")
    spark = session.restart(event_log=log_dir)
    state, catalog = runner.warm_and_prepare(spark, inputs, "traced", 1)
    tracer = Tracer()
    tracer.install(CLIENT_OPS)
    hooks = TraceHooks(tracer, wl, catalog)
    try:
        ops, _ = runner.loop(state, None, n_requests=n_requests, hooks=hooks)
    finally:
        tracer.uninstall()
    spark.sparkContext.setJobGroup("post", "post")
    n_tasks, n_retries = wl.job_tasks(state)
    session.stop()  # flushes the event log
    ev = read_event_log(log_dir)

    n = len(ops)
    m: dict[str, float] = {name: 0.0 for name, _unit in PER_LAYER}
    by_op = defaultdict(list)
    for o in ops:
        by_op[o["name"]].append(o["ms"])
    for op in CLIENT_OPS:
        if by_op.get(op):
            m[f"client.{op}.p50_ms"] = statistics.median(by_op[op])
            m[f"client.{op}.calls"] = len(by_op[op])
    self_ms = tracer.self_ms_by_layer()
    spans = tracer.spans
    m["plans.build_ms"] = self_ms.get("plans", 0.0) / n
    m["plans.calls"] = sum(s["layer"] == "plans" for s in spans) / n
    m["validation.ms"] = self_ms.get("validation", 0.0) / n
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.{phase}_ms"] = sum(r["phases"][phase] for r in hooks.per_op.values()) / n

    def dur(s):
        return (s["end"] - s["start"]) * 1e3

    reads = tracer.spans_named("Catalog.read")
    writes = tracer.spans_named("Catalog.write")
    m["catalog.reads"] = len(reads) / n
    m["catalog.read_ms"] = statistics.mean(map(dur, reads)) if reads else 0.0
    m["catalog.writes"] = len(writes) / n
    m["catalog.write_ms"] = statistics.mean(map(dur, writes)) if writes else 0.0
    m["catalog.commit_conflicts"] = sum(s.get("error") == "CommitConflict" for s in writes)
    recs = hooks.per_op
    for k in ("bytes_written", "files_written", "versions_swept"):
        m[f"catalog.{k}"] = sum(r[k] for r in recs.values()) / n
    added = [(recs[i]["bytes_written"], o["added"]) for i, o in enumerate(ops) if o["added"]]
    if added:
        m["catalog.write_amp"] = sum(b for b, _ in added) / sum(a for _, a in added)
    m["jobs.transitions"] = len(tracer.spans_named("advance_job_state"))
    m["jobs.tasks"], m["jobs.task_retries"] = n_tasks, n_retries
    mucog = tracer.spans_named("consolidate_to_mucog")
    m["operators.consolidate_to_mucog.ms"] = sum(map(dur, mucog))
    m["operators.consolidate_to_mucog.bytes_out"] = sum(r["mucog_bytes"] for r in recs.values())
    for fn in OPERATOR_FNS:
        ss = tracer.spans_named(fn)
        key = "operators.xyz_tile.build_ms" if fn == "xyz_tile" else f"operators.{fn}.ms"
        m[key] = statistics.mean(map(dur, ss)) if ss else 0.0

    per_op = ev["per_op"]
    sums = defaultdict(float)
    for acc in per_op.values():
        for k, v in acc.items():
            sums[k] += v
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "jvm_gc_s",
              "scheduler_delay_ms", "shuffle_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sums[k] / n
    for e in PY_EXECS:
        m[f"spark.python_exec_run_s.{e}"] = sums[f"python_exec_run_s.{e}"] / n
        m["spark.python_exec_run_s"] += m[f"spark.python_exec_run_s.{e}"]
    driver_self, tails = 0.0, []
    for i, r in recs.items():
        iv = ev["job_intervals"].get(i, [])
        driver_self += max(r["ms"] - union_ms(iv), 0.0)
        if iv and r["t_return"] is not None:
            tails.append(r["t_return"] - max(e for _s, e in iv))
    m["driver.self_ms"] = driver_self / n
    m["result.rows"] = sum(r["rows"] for r in recs.values()) / n
    m["result.bytes"] = sum(r["bytes"] for r in recs.values()) / n
    m["result.tail_ms"] = statistics.mean(tails) if tails else 0.0
    m["trace.ops"] = n
    # timed-loop ops only: the final ops (the consolidation job) run cold in
    # the untraced pass and warm in the replay, which would hide the cost
    base = sum(o["ms"] for o in untraced if not o["final"])
    traced = sum(o["ms"] for o in ops if not o["final"])
    m["trace.overhead_pct"] = (traced - base) / base * 100.0

    trace_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_traces")
    os.makedirs(trace_dir, exist_ok=True)
    t0 = min(s["start"] for s in spans) if spans else 0.0
    tracer.dump(os.path.join(trace_dir, f"{wl.name}-s{seed}.spans.jsonl"), t0)
    with open(os.path.join(trace_dir, f"{wl.name}-s{seed}.layers.json"), "w") as fh:
        json.dump(m, fh, indent=1, sort_keys=True)
    units = dict(PER_LAYER)
    return {k: (float(v), units[k]) for k, v in m.items()}, ops
