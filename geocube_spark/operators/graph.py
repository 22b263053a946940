"""Iterative graph analytics over DataFrame edge lists.

Companion to the connected-components dedup clustering
(operators/dedup.py): PageRank via the standard power iteration
(Brin & Page 1998 formulation with uniform teleport and dangling-mass
redistribution), expressed as pure DataFrame algebra:

    r'(v) = (1-d)/N + d * ( sum_{u->v} r(u)/deg(u) + dangling/N )

Each round is one join (edges x ranks on src), one groupBy(dst) sum, and
two 1-row aggregates (dangling mass, completeness) — O(edges) shuffle per
round, the canonical distributed plan.  Lineage is cut per round with an
eager localCheckpoint (the dedup_components/BPE discipline), so R rounds
stay R linear jobs instead of an exponential DAG.

A fixed iteration count keeps the result exactly recomputable: the DuckDB
oracle replays the identical R rounds as generated CTEs (the same
code-generated-SQL trick as the BPE trainer), matching bit-for-bit after
6-dp rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocube_spark.functions.joinpick import maybe_broadcast as _maybe_broadcast
from geocube_spark.session import checkpoint


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """R rounds of power iteration over a directed edge list.  Returns
    (node, rank) for every node appearing as src or dst.  Ranks sum to 1
    every round (dangling mass is redistributed uniformly)."""
    d = float(damping)
    # materialize the edge list ONCE: it is re-joined every round, and an
    # upstream edge derivation (a join, a distinct) would otherwise be
    # re-executed R times (measured 2x end-to-end on the purchase graph)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(checkpoint)
    # lazy checkpoints from here down (the kcenter fusion): nodes is
    # materialized by its own count() (a scalar the plan needs as a literal
    # anyway), nd by round 1's first job, and each round's rank frame by
    # that round's dangling-mass broadcast build
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(checkpoint, lazy=True)
    )
    n_nodes = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # out-degree per node (0 for dangling), checkpointed once: every round
    # unions it back in as the per-node base row
    nd = (
        nodes.join(deg, nodes["node"] == deg["src"], "left")
        .select("node", F.coalesce("deg", F.lit(0)).alias("deg"))
        .transform(checkpoint, lazy=True)
    )
    ranks = nd.select("node", "deg", F.lit(1.0 / n_nodes).alias("rank"))
    # rank row ~ node string + long + double; 64 bytes covers it with slack
    for _ in range(iterations):
        ranks = checkpoint(ranks, lazy=True)
        dangling = ranks.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        # One grouped pass replaces the old groupBy(dst) + nd-left-join
        # pair: union the per-edge contributions with one base row per
        # node (null contribution, carries deg) and aggregate by node —
        # sum ignores the null base contribution (inflow unchanged),
        # max(deg) recovers deg from the base row.  Saves a full shuffle
        # of the node frame per round and shortens the per-round plan by
        # a join (guide §2.3/§2.4: aggregate instead of re-joining).
        # The rank frame is broadcast when its measured size fits (the
        # checkpoint erased its stats, so the planner alone would SMJ and
        # re-shuffle the edge side every round) — see _maybe_broadcast.
        r = _maybe_broadcast(ranks, n_nodes, 64)
        contrib = e.join(r, e["src"] == r["node"]).select(
            F.col("dst").alias("node"),
            F.lit(None).cast("long").alias("deg"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        base = nd.select("node", F.col("deg").cast("long"), F.lit(None).cast("double").alias("c"))
        ranks = (
            base.unionByName(contrib)
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"), F.max("deg").alias("deg"))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "deg",
                (
                    F.lit((1.0 - d) / n_nodes)
                    + d
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("dm") / n_nodes
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def pagerank_sql(
    edges_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB twin: the same R rounds as generated CTEs.  ``edges_sql``
    must yield columns (src, dst)."""
    d = float(damping)
    ctes = [
        f"e AS ({edges_sql})",
        """nodes AS (
      SELECT DISTINCT node FROM (SELECT src AS node FROM e
                                 UNION SELECT dst AS node FROM e)
    )""",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        """nd AS (
      SELECT nodes.node, COALESCE(o.deg, 0) AS deg
      FROM nodes LEFT JOIN (SELECT src, count(*) AS deg FROM e GROUP BY src) o
        ON o.src = nodes.node
    )""",
        "r0 AS (SELECT node, deg, 1.0 / nn.n AS rank FROM nd, nn)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""dm{i} AS (SELECT COALESCE(sum(rank), 0) AS dm FROM r{p} WHERE deg = 0),
    c{i} AS (
      SELECT e.dst, sum(r.rank / r.deg) AS inflow
      FROM e JOIN r{p} r ON r.node = e.src GROUP BY e.dst
    ),
    r{i} AS (
      SELECT nd.node, nd.deg,
             (1.0 - {d}) / nn.n + {d} * (COALESCE(c{i}.inflow, 0) + dm{i}.dm / nn.n)
               AS rank
      FROM nd LEFT JOIN c{i} ON c{i}.dst = nd.node, nn, dm{i}
    )"""
        )
    joined = ",\n    ".join(ctes)
    return f"WITH {joined}\n    SELECT node, rank FROM r{iterations}"


# --------------------------------------------------- label propagation

def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), deterministic
    variant: every node starts as its own community; each round it adopts
    the most frequent label among its neighbors, ties to the SMALLEST
    label (the rule that makes sync LPA reproducible — the original
    random tie-break is what keeps it non-deterministic).  Isolated nodes
    keep their label.  Fixed ``iterations`` rounds: sync LPA on bipartite
    regions oscillates rather than converges, so the round count is part
    of the operator contract, mirrored exactly by the oracle.

    Scale shape per round: one equi-join of the (symmetrized, checkpointed
    once) edge list against the label frame, one (node, label) count, one
    ``min_by`` argmax — O(edges) work, no all-pairs, no windows over the
    full graph.  The label frame has two consumers per round (the count
    join and the keep-old fallback), so it IS checkpointed per round —
    lazy chaining would re-execute the whole prefix 2^R times.
    """
    fwd = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    # lazy checkpoints (as in pagerank): the first action, nodes.count(),
    # materializes e and nodes in ONE job; each round's label frame is
    # materialized by that round's broadcast build
    e = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .transform(checkpoint, lazy=True)
    )
    nodes = checkpoint(e.select(F.col("a").alias("node")).distinct(), lazy=True)
    # the per-round label frame is O(nodes); its measured count drives the
    # broadcast-vs-shuffle join choice exactly as in pagerank
    n_nodes = nodes.count()
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iterations):
        labels = checkpoint(labels, lazy=True)
        lab = _maybe_broadcast(labels, n_nodes, 64)
        counts = (
            e.join(lab, e["b"] == lab["node"])
            .select(F.col("a").alias("nd"), "label")
            .groupBy("nd", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = counts.groupBy("nd").agg(
            F.min_by(
                "label", F.struct((-F.col("cnt")).alias("nc"), F.col("label"))
            ).alias("new_label")
        )
        # keep-old fallback as a grouped union instead of a left join:
        # the old-label row rides priority 0, the adopted label priority 1;
        # max_by picks the adopted label when one exists.  One exchange of
        # O(nodes) rows replaces the join's shuffle + join operator
        # (guide §2.3/§2.4).
        labels = (
            labels.select("node", "label", F.lit(0).alias("pri"))
            .unionByName(
                best.select(
                    F.col("nd").alias("node"),
                    F.col("new_label").alias("label"),
                    F.lit(1).alias("pri"),
                )
            )
            .groupBy("node")
            .agg(F.max_by("label", "pri").alias("label"))
        )
    return labels


def label_propagation_sql(
    edges_sql: str, iterations: int = 5
) -> str:
    """DuckDB twin: the same synchronous rounds as generated CTEs over a
    symmetrized edge CTE.  ``edges_sql`` must yield (src, dst)."""
    parts = [
        f"raw AS ({edges_sql})",
        """e AS (
      SELECT DISTINCT a, b FROM (
        SELECT src AS a, dst AS b FROM raw
        UNION ALL SELECT dst AS a, src AS b FROM raw)
    )""",
        "nodes AS (SELECT DISTINCT a AS node FROM e)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for r in range(1, iterations + 1):
        p = r - 1
        parts.append(
            f"""l{r} AS (
      SELECT pl.node, coalesce(b.new_label, pl.label) AS label
      FROM l{p} pl LEFT JOIN (
        SELECT nd, label AS new_label FROM (
          SELECT e.a AS nd, l.label, count(*) AS cnt,
                 row_number() OVER (PARTITION BY e.a
                     ORDER BY count(*) DESC, l.label ASC) AS rn
          FROM e JOIN l{p} l ON e.b = l.node
          GROUP BY e.a, l.label)
        WHERE rn = 1) b ON pl.node = b.nd
    )"""
        )
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT node, label FROM l{iterations}"
