"""Repo-wide plan-quality gate: EVERY registered query's physical plan is
checked for the scale anti-patterns that would sink a 100 TB run.

Complements test_plan_quality.py (which freezes specific per-query plan
shapes); this file is the blanket rule set:

  * no CartesianProduct anywhere;
  * no BatchEvalPython (row-at-a-time Python UDF) anywhere — Python only
    enters through Arrow-batched nodes;
  * BroadcastNestedLoopJoin only where a small/1-row broadcast side is the
    declared design (scalar stats, query vectors, small cell lists).
"""

from __future__ import annotations

import os

import pytest

from geocube_spark import registry
from tools.plan_audit import (
    HARD_RULES_EXEMPT_BNLJ,
    PLAN_SIZE_CAP_KB,
    audit_plan,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def plans(spark):
    # 209 independent query builds; planning is driver-side JVM work and
    # the lifecycle queries' jobs are independent, so a small thread pool
    # overlaps them (guide §2.6) — measured 90 s serial -> ~30 s.  Results
    # are a pure function of each query, so the dict is order-insensitive.
    from concurrent.futures import ThreadPoolExecutor

    registry.ensure_fixtures()

    def build(item):
        name, fn = item
        df = fn(spark, SF_DIR)
        return name, audit_plan(df._jdf.queryExecution().executedPlan().toString())

    with ThreadPoolExecutor(max_workers=6) as pool:
        out = dict(pool.map(build, sorted(registry.queries().items())))
    return out


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, m in plans.items() if m["cartesian"]]
    assert bad == []


def test_no_row_at_a_time_python_udf(plans):
    bad = [n for n, m in plans.items() if m["py_row"]]
    assert bad == []


def test_bnlj_only_where_declared(plans):
    bad = [
        n
        for n, m in plans.items()
        if m["bnlj"] and n not in HARD_RULES_EXEMPT_BNLJ
    ]
    assert bad == []


def test_plan_size_capped(plans):
    """No query may bake large literal blocks (centroid matrices, generated
    when()-chains) into its plan — models/matrices travel in closures or
    broadcast vars, so plan size stays O(1) in the model constants."""
    bad = {n: m["plan_kb"] for n, m in plans.items() if m["plan_kb"] > PLAN_SIZE_CAP_KB}
    assert bad == {}


def test_exemption_list_is_not_stale(plans):
    """Every exempted query still exists AND still uses a BNLJ — prune the
    list when a plan improves past it, so a later regression in that query
    is caught instead of masked by the stale exemption."""
    for name in HARD_RULES_EXEMPT_BNLJ:
        assert name in plans, f"exempt query {name} no longer registered"
        assert plans[name]["bnlj"] > 0, (
            f"exempt query {name} no longer uses a BNLJ — remove it from "
            "HARD_RULES_EXEMPT_BNLJ"
        )


def test_plans_md_row_count_matches_registry():
    """The committed PLANS.md inventory must cover EVERY registered query —
    a late-round query without an audit row means the end-of-round
    `plan_audit.py --write-md` regen was skipped (round-6 verdict: 175
    rows vs 190 queries)."""
    import re

    from geocube_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md")) as f:
        names = {
            m.group(1)
            for line in f
            if (m := re.match(r"\| (\w+) \|", line)) and m.group(1) != "query"
        }
    registered = set(registry.queries())
    assert names == registered, (
        f"PLANS.md is stale: missing {sorted(registered - names)[:5]}..., "
        f"extra {sorted(names - registered)[:5]} — regenerate with "
        "`python tools/plan_audit.py /root/testdata/sf0.001 --write-md`"
    )
