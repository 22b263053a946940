"""Spans around the calls into each geocube_spark layer, and the Spark
event-log reader that attributes jobs, stages and tasks to ops.

Spans are recorded only from this package: a public function is wrapped
where its caller looks it up (``client.py`` imports ``find_datasets`` by
name, so ``geocube_spark.client.find_datasets`` is wrapped, not only
``plans.find_datasets.find_datasets``).  Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

# (layer, module, attribute) for module-level functions, wrapped at every
# module whose code looks them up.
_FUNCTIONS = [
    ("plans", "geocube_spark.client", "find_datasets"),
    ("plans", "geocube_spark.client", "find_records"),
    ("plans", "geocube_spark.client", "get_cube"),
    ("plans", "geocube_spark.client", "get_cube_headers"),
    ("plans", "geocube_spark.plans.cube", "find_datasets"),
    ("operators", "geocube_spark.client", "xyz_tile"),
    ("operators", "geocube_spark.client", "cover_for_layout"),
    ("operators", "geocube_spark.client", "get_cube_from_metadatas"),
    ("operators", "geocube_spark.operators.consolidation", "consolidate_to_mucog"),
    ("operators", "geocube_spark.operators.consolidation", "plan_consolidation"),
    ("operators", "geocube_spark.operators.mosaic", "mosaic_blocks"),
    ("operators", "geocube_spark.operators.focal", "focal_mean"),
    ("operators", "geocube_spark.operators.zonal", "zonal_stats"),
    ("operators", "geocube_spark.operators.dedup", "minhash_near_duplicates"),
    ("operators", "geocube_spark.operators.dedup", "connected_components"),
    ("operators", "geocube_spark.operators.similarity", "brute_force_topk"),
    ("streaming.jobs", "geocube_spark.client", "advance_job_state"),
    ("streaming.jobs", "geocube_spark.client", "task_counters"),
]
_CATALOG_METHODS = ("read", "write", "exists")


class Tracer:
    """In-memory span recorder.  ``begin_op`` opens the root span (layer
    ``op``: the whole timed op, result collection included); every wrapped
    call made while it is open becomes a descendant span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _open(self, layer: str, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            span = tracer._open(layer, name)
            try:
                return fn(*args, **kwargs)
            except BaseException as exc:
                span["error"] = type(exc).__name__
                raise
            finally:
                tracer._close(span)

        return traced

    def begin_op(self, op_id: int, op_name: str) -> dict:
        self.op_id = op_id
        return self._open("op", op_name)

    def end_op(self, span: dict) -> None:
        self._close(span)
        self.op_id = None

    # ---------------------------------------------------------- install

    def _patch(self, owner, attr: str, layer: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(layer, name, orig))

    def install(self, client_ops: list[str]) -> None:
        """Wrap the client facade's ops, the catalog's read/write/exists,
        the layer functions in ``_FUNCTIONS`` and every validator the
        client imports."""
        import importlib

        from geocube_spark.client import GeocubeClient
        from geocube_spark.sources.catalog import Catalog

        for op in client_ops:
            if hasattr(GeocubeClient, op):
                self._patch(GeocubeClient, op, "client", op)
        for meth in _CATALOG_METHODS:
            self._patch(Catalog, meth, "sources.catalog", f"Catalog.{meth}")
        for layer, module, attr in _FUNCTIONS:
            self._patch(importlib.import_module(module), attr, layer, attr)
        client_mod = importlib.import_module("geocube_spark.client")
        for attr in dir(client_mod):
            if attr.startswith("validate_"):
                self._patch(client_mod, attr, "validation", attr)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ---------------------------------------------------------- queries

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part of it its children cover,
        summed per layer (children of one span never overlap: one client,
        no threads)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"] - child[s["id"]]) * 1e3
        return dict(out)

    def spans_named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, t0: float) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                rec = dict(s, start=(s["start"] - t0) * 1e3, end=(s["end"] - t0) * 1e3)
                fh.write(json.dumps(rec) + "\n")


# ------------------------------------------------------------ event log

_PY_EXECS = ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "BatchEvalPython")


def read_event_log(log_dir: str) -> dict:
    """Per-op Spark execution figures from an uncompressed event log.
    Jobs are attributed to ops through their job group id ``op<N>``."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += [
        f for f in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(f) and not f.endswith(".inprogress")
    ]
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    py_acc: dict[int, tuple[str, float]] = {}  # accumulator id -> (exec, unit scale)
    per_op = defaultdict(lambda: defaultdict(float))
    py_updates: list[tuple[int, int, float]] = []  # (op, acc id, update)

    def walk_plan(node):
        if node["nodeName"] in _PY_EXECS:
            for m in node["metrics"]:
                if m["name"] == "time to run Python workers":
                    scale = 1e-9 if m.get("metricType") == "nsTiming" else 1e-3
                    py_acc[m["accumulatorId"]] = (node["nodeName"], scale)
        for ch in node["children"]:
            walk_plan(ch)

    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if not group.startswith("op"):
                        continue
                    op = int(group[2:])
                    job_op[e["Job ID"]] = op
                    jobs[e["Job ID"]] = {"op": op, "start": e["Submission Time"]}
                    for sid in e.get("Stage IDs", []):
                        stage_op[sid] = op
                    per_op[op]["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    op = stage_op.get(e["Stage Info"]["Stage ID"])
                    if op is not None:
                        per_op[op]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(e["Stage ID"])
                    if op is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    acc = per_op[op]
                    acc["tasks"] += 1
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    wall = info["Finish Time"] - info["Launch Time"]
                    busy = (
                        m.get("Executor Run Time", 0)
                        + m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    )
                    acc["scheduler_delay_ms"] += max(wall - busy, 0)
                    for a in info.get("Accumulables", []):
                        if "Update" in a:
                            py_updates.append((op, a["ID"], a["Update"]))
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    walk_plan(e["sparkPlanInfo"])
    for op, acc_id, upd in py_updates:
        hit = py_acc.get(acc_id)
        if hit is not None:
            exec_name, scale = hit
            per_op[op][f"python_exec_run_s.{exec_name}"] += float(upd) * scale
    intervals = defaultdict(list)
    for j in jobs.values():
        if "end" in j:
            intervals[j["op"]].append((j["start"], j["end"]))
    return {"per_op": per_op, "job_intervals": intervals}


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def walk_tree(root: str) -> dict[str, int]:
    """{relative path: size} of every file under ``root``."""
    out = {}
    for dp, _dn, fns in os.walk(root):
        for f in fns:
            p = os.path.join(dp, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                continue
    return out


def snapshot_dirs(tree: dict[str, int]) -> set[str]:
    """Committed snapshot dirs (``_data/<table>/v<N>_<hex>``) in a walk."""
    out = set()
    for p in tree:
        parts = p.split(os.sep)
        if len(parts) >= 3 and parts[0] == "_data":
            out.add(os.sep.join(parts[:3]))
    return out
