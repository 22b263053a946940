"""The checkpoint policy (session.checkpoint): one helper decides lazy or
eager, and with AQE off every checkpoint is eager, so no lazy frame is
first computed inside a BroadcastExchange future."""

from __future__ import annotations

import ast
import contextlib
import sys
import time
from collections import Counter
from pathlib import Path

import pytest

from conftest import assert_df_matches_duckdb
from geocube_spark import registry, session
from geocube_spark.operators.hydrology import d8_flow_direction, flow_accumulation

PACKAGE = Path(session.__file__).parent

# module holding helper calls -> one registered query that reaches them
PINNED = {
    "geocube_spark.operators.bloom": "bloom_decontamination",
    "geocube_spark.operators.bpe": "bpe_merges",
    "geocube_spark.operators.classifier": "quality_classifier_train",
    "geocube_spark.operators.contours": "contour_extraction",
    "geocube_spark.operators.dedup": "minhash_near_duplicates",
    "geocube_spark.operators.diversity": "kcenter_diversity_sample",
    "geocube_spark.operators.graph": "graph_label_propagation",
    "geocube_spark.operators.hydrology": "flow_accumulation",
    "geocube_spark.operators.passages": "duplicated_passages",
    "geocube_spark.operators.pipeline": "dsir_importance",
    "geocube_spark.operators.regions": "change_detection",
    "geocube_spark.operators.retrieval": "perplexity_buckets",
    "geocube_spark.registry": "countmin_accuracy",
}
# eager-only calls in streaming micro-batch handlers, which no registered
# query reaches; AQE does not change what an eager call does
UNPINNED = {
    "geocube_spark.streaming.dedup_incremental",
    "geocube_spark.streaming.jobs",
}


def _helper_calls() -> dict[str, list[bool]]:
    """module -> the ``lazy`` flag of each helper call in it, written as
    ``checkpoint(df, ...)`` or ``df.transform(checkpoint, ...)``."""
    calls: dict[str, list[bool]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and any(
                getattr(n, "id", getattr(n, "attr", None)) == "checkpoint"
                for n in (node.func, *node.args[:1])
            ):
                mod = ".".join(path.relative_to(PACKAGE.parent).with_suffix("").parts)
                calls.setdefault(mod, []).append(
                    any(k.arg == "lazy" for k in node.keywords)
                )
    return calls


@contextlib.contextmanager
def _aqe(spark, enabled: str):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", enabled)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_local_checkpoint_only_in_the_helper():
    hits = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "localCheckpoint(" in line
    ]
    assert len(hits) == 1 and hits[0].startswith("session.py:"), hits


def test_every_helper_module_is_pinned():
    calls = _helper_calls()
    assert set(calls) == set(PINNED) | UNPINNED
    assert not any(lazy for mod in UNPINNED for lazy in calls[mod])


@pytest.mark.parametrize("module", sorted(PINNED))
def test_aqe_off_matches_oracle(spark, duck, sf_dir, monkeypatch, module):
    """With AQE off the pinned query still matches its oracle twin, reaches
    the helper in ``module`` and checkpoints eagerly everywhere."""
    name = PINNED[module]
    cls = type(spark.range(1))
    local_checkpoint = cls.localCheckpoint
    seen: Counter = Counter()

    def spy(df, eager=True):
        caller = sys._getframe(1)  # skip the helper and DataFrame.transform
        while caller.f_globals["__name__"].startswith(("pyspark", session.__name__)):
            caller = caller.f_back
        seen[(caller.f_globals["__name__"], eager)] += 1
        return local_checkpoint(df, eager)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    with _aqe(spark, "false"):
        got = registry.queries()[name](spark, sf_dir)
        assert_df_matches_duckdb(got, duck, registry.oracle_sql()[name])
    assert any(mod == module for mod, _ in seen), seen
    assert all(eager for _, eager in seen), seen


@pytest.mark.parametrize("aqe, n_jobs", [("false", 3), ("true", 0)])
def test_flow_accumulation_checkpoints_eagerly_without_aqe(spark, aqe, n_jobs):
    """On an AQE-off session, building the plan runs one checkpoint job per
    checkpoint (rounds=8 takes three); with AQE on the lazy frames wait for
    their consumer, so the build runs no checkpoint job."""
    from pyspark.sql import functions as F

    dem = spark.range(256).select(
        (F.col("id") % 16).cast("int").alias("i"),
        (F.col("id") / 16).cast("int").alias("j"),
        ((F.col("id") % 16) % 4 + F.floor(F.col("id") / 16) % 4)
        .cast("double")
        .alias("z"),
    )
    edges = d8_flow_direction(dem)
    sc = spark.sparkContext
    group = f"flow-accumulation-aqe-{aqe}"
    with _aqe(spark, aqe):
        sc.setJobGroup(group, group)
        try:
            flow_accumulation(dem, edges, rounds=8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()

    def checkpoint_jobs():
        stages = {
            j: tracker.getJobInfo(j).stageIds for j in tracker.getJobIdsForGroup(group)
        }
        return {
            j
            for j, ids in stages.items()
            for s in ids
            if (info := tracker.getStageInfo(s))
            and info.name.startswith("localCheckpoint at")
        }

    deadline = time.monotonic() + 10  # the status store is fed asynchronously
    while len(checkpoint_jobs()) < n_jobs and time.monotonic() < deadline:
        time.sleep(0.1)
    assert len(checkpoint_jobs()) == n_jobs
