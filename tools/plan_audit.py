"""Repo-wide physical-plan audit: every registered query's executed plan is
scanned for scale anti-patterns and summarized into PLANS.md.

Metrics per query (plan-only — nothing is executed):
  * exchanges  — shuffle count (Exchange nodes, ReusedExchange excluded)
  * bhj / smj / bnlj — join strategy mix
  * cartesian  — CartesianProduct nodes (always a bug at scale)
  * py_row     — BatchEvalPython (row-at-a-time Python UDF; forbidden)
  * py_arrow   — ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
                 (the sanctioned vectorized Python escape hatch)
  * codegen    — WholeStageCodegen span count
  * pushed     — whether the scan carries PushedFilters

Usage: python tools/plan_audit.py [sf_dir] [--write-md]
The pytest twin (tests/test_plan_audit.py) enforces the hard rules on
every query; this script regenerates the PLANS.md inventory.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin; the
# pytest twin asserts each entry STILL uses one (stale entries fail CI).
HARD_RULES_EXEMPT_BNLJ = {
    # 1-row corpus-stats / literal-dim cross joins, broadcast by design:
    "text_bm25_topk",          # (n_docs, avgdl) 1-row aggregate
    "hybrid_search_rrf",       # same BM25 1-row stats broadcast inside
    "unigram_logprob",         # corpus-total 1-row aggregate
    "bigram_logprob",          # corpus-total 1-row aggregate (same shape)
    "kneser_ney_logprob",      # corpus-total + n-bigrams 1-row aggregates
    "dsir_importance",         # (N_s, N_t) 1-row feature-total aggregate
    "histogram_equalization",  # 1-row broadcast LUT array
    "histogram_matching",      # 1-row broadcast LUT array + 1-row N_total stats
    "curriculum_shards",       # 1-row corpus-total broadcast (exact ntile)
    # (bpe_merges' per-round 1-row pair broadcasts never reach the audited
    # plan: each round is materialized by an eager localCheckpoint, so the
    # final plan is TakeOrdered over checkpointed vocab scans — no BNLJ)
    "embedding_topk",          # 1-row query-vector cross join
    # the whole ANN family routes constants (query vector / SQ8 stats)
    # through similarity.with_broadcast_arrays — a 1-row broadcast
    # relation instead of dim-length literals reprinted at every node
    "embedding_sq8_topk",
    "embedding_lsh_topk",
    "embedding_ivf_topk",
    "embedding_ivf_indexed",
    "embedding_ivf_append",
    "embedding_pq_topk",
    "embedding_ivfpq_topk",
    "embedding_matryoshka_recall",
    "hard_negative_mining",    # bounded anchor-batch broadcast θ-join
    "tidy_db_counts",          # scalar table-count union
    "tpch_q22",                # 1-row avg-balance threshold broadcast
    "tpch_q2",                 # 1-row supplier-count broadcast (partsupp derivation)
    "tpch_q11",                # same supplier-count + 1-row corpus-total broadcast
    "nb_lang_confusion",       # 1-row doc-total/vocab-size + tiny class-dim broadcasts
    # (perplexity_buckets' corpus-total BNLJ sits above distributed_rank's
    # localCheckpoint cut, so its audited plan shows no BNLJ at all)
    "heavy_hitters",           # 1-row stream-total broadcast + 1-row x 1-row result assembly
    "bloom_decontamination",   # 1-row dense filter-word-array broadcast (the
                               # whole Bloom filter as one array<long> row —
                               # the map-side probe design)
    "graph_pagerank",          # 1-row dangling-mass broadcast (final round)
    "quality_classifier_train",  # 1-row weights broadcast per GD round (R+1 total)
    # bbox interval joins against a SMALL broadcast cell/AOI list — the
    # correct strategy when the dim side fits in a broadcast.  These are
    # SIZE-ADAPTIVE (operators/spatialjoin.adaptive_bbox_join): above
    # autoBroadcastJoinThreshold the same call flips to a grid-bucketed
    # equi-join with NO BNLJ (asserted both sides of the threshold in
    # tests/test_raster_ops.py::TestAdaptiveSpatialJoin), so the exemption
    # covers only the fixture-scale broadcast plan the audit executes:
    "cover_custom_cells",
    "cover_custom_subgrid",             # same J5 adaptive join inside
    "grid_crud_cover_roundtrip",        # same J5 adaptive join (API-created grid)
    "cover_custom_subgrid_singlecell",  # same J5 adaptive join inside
    "valid_shape_per_cell",
    "valid_shape_rotated_cells",
    "zonal_statistics",        # zones dim broadcast θ-join (J5 shape)
}

# Hard cap on the executed-plan STRING size per query.  Literal-heavy
# expressions (e.g. a k×d centroid matrix baked in as array literals, or a
# generated when()-chain) bloat the plan, slow analysis/codegen, and break
# entirely at production constants — a model/matrix belongs in a closure or
# broadcast var, not in the plan.  64 KB is ~6× the largest legitimate plan
# in the repo (LSH plane literals at bits=8, dim=32).
# Constants (query vectors, quantizer stats, LSH planes, ADC LUTs) must
# ride broadcasts/closures, never the plan string — the ANN family is all
# < 10 KB now.  What legitimately remains above 10 KB is STRUCTURAL depth
# (unrolled iterative rounds, multi-stage join trees like tpch_q2), capped
# here.  Iterative operators must checkpoint on a FIXED cadence so their
# audited plan size is independent of the round count (flow_accumulation
# checkpoints every 4 rounds; its audited plan is the constant-size tail
# chain, ~17 KB, with ~1 KB of checkpoint-id wobble between full-suite and
# standalone sessions).
PLAN_SIZE_CAP_KB = 32


def audit_plan(plan: str) -> dict:
    return {
        # shuffles only: BroadcastExchange (not a shuffle) and ReusedExchange
        # (no extra shuffle) are excluded
        "exchanges": len(re.findall(r"(?<!Broadcast)(?<!Reused)Exchange", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "py_row": plan.count("BatchEvalPython"),
        "py_arrow": (
            plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        ),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "plan_kb": round(len(plan) / 1024, 1),
    }


def collect(sf_dir: str) -> dict[str, dict]:
    from geocube_spark import registry
    from geocube_spark.session import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    registry.ensure_fixtures()
    out: dict[str, dict] = {}
    for name, fn in sorted(registry.queries().items()):
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            out[name] = audit_plan(plan)
        except Exception as e:  # pragma: no cover - diagnostic path
            out[name] = {"error": str(e)[:200]}
    return out


def to_markdown(rows: dict[str, dict]) -> str:
    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        "Generated by `python tools/plan_audit.py --write-md` (plan-only, sf0.001).",
        "Hard rules enforced in `tests/test_plan_audit.py`: no CartesianProduct",
        "anywhere; no row-at-a-time Python UDF (BatchEvalPython) anywhere;",
        "BroadcastNestedLoopJoin only for declared 1-row/stats cross joins.",
        "",
        "(Codegen spans are not shown: under AQE they only materialize at",
        "execution time; the per-query spans are asserted where they matter",
        "in tests/test_plan_quality.py.)",
        "",
        "| query | shuffles | BHJ | SMJ | BNLJ | arrow-python | pushed filters | plan KB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, m in rows.items():
        if "error" in m:
            lines.append(f"| {name} | error: {m['error']} | | | | | |")
            continue
        lines.append(
            f"| {name} | {m['exchanges']} | {m['bhj']} | {m['smj']} | {m['bnlj']} "
            f"| {m['py_arrow']} | {'yes' if m['pushed'] else '—'} | {m['plan_kb']} |"
        )
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    rows = collect(sf_dir)
    bad = []
    for name, m in rows.items():
        if m.get("cartesian"):
            bad.append(f"{name}: CartesianProduct")
        if m.get("py_row"):
            bad.append(f"{name}: BatchEvalPython (row-at-a-time UDF)")
        if m.get("bnlj") and name not in HARD_RULES_EXEMPT_BNLJ:
            bad.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if m.get("plan_kb", 0) > PLAN_SIZE_CAP_KB:
            bad.append(
                f"{name}: plan is {m['plan_kb']} KB (> {PLAN_SIZE_CAP_KB} KB"
                " cap) — literal-heavy expression baked into the plan?"
            )
    if "--write-md" in sys.argv:
        with open(os.path.join(REPO, "PLANS.md"), "w") as f:
            f.write(to_markdown(rows))
        print("wrote PLANS.md")
    for name, m in rows.items():
        print(name, m)
    if bad:
        print("\nVIOLATIONS:")
        for b in bad:
            print(" -", b)
        sys.exit(1)
    print(f"\n{len(rows)} queries audited, 0 violations")
