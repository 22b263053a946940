"""Raster hydrology: D8 flow direction and flow accumulation.

O'Callaghan & Mark 1984: every DEM cell drains to the steepest-descent
neighbor of its 8 (drop / distance, diagonals pay sqrt(2)); cells with no
downhill neighbor are pits.  Flow accumulation counts the cells draining
through each cell (itself included) — the quantity stream-extraction
thresholds.

Scale shape:
* direction is ONE equi-join: cells explode to their 8 neighbor probes
  (i+di, j+dj) and join the grid back on the probe key, then a
  ``max_by``-style per-cell argmax — no window over the raster, no UDF.
  On a blocked tile table the probe join becomes the focal halo exchange
  (operators/focal.py) — only block borders shuffle.
* accumulation iterates acc_r = 1 + sum(acc_{r-1} over inflow edges) to
  the fixpoint: correct once r reaches the longest flow-path length.
  Each round is one equi-join + one groupBy on the EDGE relation (one
  edge per non-pit cell, never the all-pairs closure); each round feeds
  exactly one consumer, so the rounds chain as a single lazy plan (see
  flow_accumulation on checkpoint cadence).  Integer mass only — any
  engine agrees exactly.

The registered query unrolls the same recursion as generated CTE stages
in DuckDB, with an analytically derived DEM whose longest flow path (8 —
the sawtooth drains tile row/col 7 across the boundary) bounds the round
count.  For continental DEMs whose path lengths are unbounded, the
doubling alternative (materialize 2^t-step jump pointers) trades O(depth)
rounds for O(log depth) at O(n log depth) extra state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (di, dj, distance); list order is the deterministic tiebreak priority
D8_OFFSETS = [
    (-1, -1, 1.4142135623730951),
    (-1, 0, 1.0),
    (-1, 1, 1.4142135623730951),
    (0, -1, 1.0),
    (0, 1, 1.0),
    (1, -1, 1.4142135623730951),
    (1, 0, 1.0),
    (1, 1, 1.4142135623730951),
]


def _offsets_expr():
    rows = ", ".join(
        f"struct({di} AS di, {dj} AS dj, CAST({dist} AS DOUBLE) AS dist, {p} AS pri)"
        for p, (di, dj, dist) in enumerate(D8_OFFSETS)
    )
    return F.expr(f"explode(array({rows}))")


def d8_flow_direction(cells: DataFrame) -> DataFrame:
    """``cells``: (i, j, z).  Returns one row per NON-PIT cell:
    (i, j, to_i, to_j) — the steepest-descent D8 edge (positive gradient
    only; ties break on the fixed offset priority)."""
    probes = cells.select("i", "j", "z", _offsets_expr().alias("o")).select(
        "i",
        "j",
        "z",
        (F.col("i") + F.col("o.di")).alias("ni"),
        (F.col("j") + F.col("o.dj")).alias("nj"),
        F.col("o.dist").alias("dist"),
        F.col("o.pri").alias("pri"),
    )
    nz = cells.select(
        F.col("i").alias("ni"), F.col("j").alias("nj"), F.col("z").alias("nz")
    )
    grads = (
        probes.join(nz, ["ni", "nj"])
        .withColumn("grad", (F.col("z") - F.col("nz")) / F.col("dist"))
        .filter(F.col("grad") > 0)
    )
    return (
        grads.groupBy("i", "j")
        .agg(
            F.max_by(
                F.struct("ni", "nj"),
                F.struct(F.col("grad"), (-F.col("pri")).alias("npri")),
            ).alias("t")
        )
        .select("i", "j", F.col("t.ni").alias("to_i"), F.col("t.nj").alias("to_j"))
    )


def flow_accumulation(cells: DataFrame, edges: DataFrame, rounds: int) -> DataFrame:
    """(i, j, acc): number of cells draining through (i, j), itself
    included.  Exact once ``rounds`` >= the longest flow-path length.

    Computed by POINTER DOUBLING over the flow DAG (guide §2: round count
    is the lever once each round is a tiny join): the truncated recursion
    acc_r = 1 + sum(acc_{r-1} over inflow edges) counts, for each cell v,
    the walks of length <= rounds ending at v (out-degree <= 1 makes the
    walk from any start cell unique per length, so walk count = upstream
    cell count within ``rounds`` hops).  The walk relation
    W_m = {(start, end, t): 1 <= t <= m} doubles per iteration:

        W_1 = X_1 = edges                        (t = 1)
        W_2m = W_m  UNION ALL  (X_m compose W_m) (t in m+1 .. 2m)
        X_2m = the t == 2m slice of the composed part

    — each walk of length t in (m, 2m] splits uniquely into its exactly-m
    prefix (an X row) and its <= m suffix (a W row), so the union is
    disjoint and exact bag semantics match the unrolled recursion, round
    for round (rounds=7 under-counts exactly like 7 unrolled rounds —
    pinned by tests/test_hydrology_interp.py).  acc = 1 + count of W rows
    ending at each cell: ceil(log2 rounds) joins + one groupBy replace
    ``rounds`` sequential join+groupBy+join rounds (38 jobs -> ~10 on the
    fixture).  State is O(cells * rounds) walk rows — the documented
    O(n·depth) trade of the jump-pointer form; a lazy checkpoint on each of
    the log2(rounds) iterations keeps the audited plan size independent of
    ``rounds``."""
    base = cells.select("i", "j")
    if rounds < 1:
        return base.withColumn("acc", F.lit(1).cast("long"))
    # lazy checkpoints throughout (the kcenter/pagerank fusion): each
    # frame's first consumer stage materializes it; X_m needs no frame of
    # its own — it is the t == m slice of W_m
    w = edges.select(
        "i", "j", "to_i", "to_j", F.lit(1).alias("t")
    ).localCheckpoint(eager=False)
    m = 1
    while m < rounds:
        comp = (
            w.filter(F.col("t") == m)
            .select(
                F.col("i").alias("si"),
                F.col("j").alias("sj"),
                F.col("to_i").alias("i"),
                F.col("to_j").alias("j"),
                F.col("t").alias("tp"),
            )
            .join(w, ["i", "j"])
            .select(
                F.col("si").alias("i"),
                F.col("sj").alias("j"),
                "to_i",
                "to_j",
                (F.col("tp") + F.col("t")).alias("t"),
            )
        )
        w = w.unionByName(comp.filter(F.col("t") <= rounds))
        m *= 2
        if m < rounds:
            w = w.localCheckpoint(eager=False)
    inflow = w.groupBy(F.col("to_i").alias("i"), F.col("to_j").alias("j")).agg(
        F.count(F.lit(1)).alias("inflow")
    )
    return base.join(inflow, ["i", "j"], "left").select(
        "i",
        "j",
        (1 + F.coalesce(F.col("inflow"), F.lit(0))).cast("long").alias("acc"),
    )


def flow_summary(cells: DataFrame, tile: int = 8, rounds: int = 8) -> DataFrame:
    """Per-tile hydrology census: cell count, pit count, accumulation sum
    and max.  ``tile`` partitions the grid for reporting only."""
    edges = d8_flow_direction(cells)
    acc = flow_accumulation(cells, edges, rounds)
    pits = cells.join(edges, ["i", "j"], "left_anti").select(
        "i", "j", F.lit(1).alias("is_pit")
    )
    return (
        acc.join(pits, ["i", "j"], "left")
        .select(
            F.expr(f"i DIV {tile}").cast("int").alias("tile_x"),
            F.expr(f"j DIV {tile}").cast("int").alias("tile_y"),
            "acc",
            F.coalesce(F.col("is_pit"), F.lit(0)).alias("is_pit"),
        )
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("is_pit").cast("long").alias("n_pits"),
            F.sum("acc").cast("long").alias("acc_sum"),
            F.max("acc").cast("long").alias("acc_max"),
        )
        .orderBy("tile_x", "tile_y")
    )


def d8_edges_sql(cells_sql: str) -> str:
    """DuckDB twin of d8_flow_direction over a (i, j, z) relation."""
    offs = ", ".join(
        f"({di}, {dj}, CAST({dist} AS DOUBLE), {p})"
        for p, (di, dj, dist) in enumerate(D8_OFFSETS)
    )
    return f"""
        SELECT i, j, ni AS to_i, nj AS to_j FROM (
            SELECT p.i, p.j, p.ni, p.nj,
                   row_number() OVER (
                       PARTITION BY p.i, p.j
                       ORDER BY (p.z - n.z) / p.dist DESC, p.pri ASC
                   ) AS rn,
                   (p.z - n.z) / p.dist AS grad
            FROM (
                SELECT c.i, c.j, c.z, c.i + o.di AS ni, c.j + o.dj AS nj,
                       o.dist, o.pri
                FROM ({cells_sql}) c, (VALUES {offs}) o(di, dj, dist, pri)
            ) p
            JOIN ({cells_sql}) n ON n.i = p.ni AND n.j = p.nj
            WHERE (p.z - n.z) / p.dist > 0
        ) WHERE rn = 1
    """


def flow_summary_sql(cells_sql: str, tile: int = 8, rounds: int = 8) -> str:
    """DuckDB twin of flow_summary: the accumulation recursion unrolled
    as ``rounds`` generated CTE stages over the same edge relation."""
    parts = [
        f"WITH cells AS ({cells_sql})",
        f"edges AS ({d8_edges_sql('SELECT * FROM cells')})",
        "a0 AS (SELECT i, j, CAST(1 AS BIGINT) AS acc FROM cells)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(
            f"a{r} AS (SELECT c.i, c.j, CAST(1 + coalesce(s.x, 0) AS BIGINT) AS acc"
            f" FROM cells c LEFT JOIN ("
            f"SELECT e.to_i, e.to_j, sum(a.acc) AS x FROM edges e"
            f" JOIN a{p} a ON e.i = a.i AND e.j = a.j GROUP BY 1, 2) s"
            f" ON c.i = s.to_i AND c.j = s.to_j)"
        )
    final = f"a{rounds}"
    return (
        ",\n    ".join(parts)
        + f"""
    , pits AS (
        SELECT c.i, c.j FROM cells c LEFT JOIN edges e ON c.i = e.i AND c.j = e.j
        WHERE e.i IS NULL
    )
    SELECT CAST(a.i // {tile} AS INT) AS tile_x, CAST(a.j // {tile} AS INT) AS tile_y,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(CASE WHEN p.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pits,
           CAST(sum(a.acc) AS BIGINT) AS acc_sum,
           CAST(max(a.acc) AS BIGINT) AS acc_max
    FROM {final} a LEFT JOIN pits p ON a.i = p.i AND a.j = p.j
    GROUP BY 1, 2 ORDER BY 1, 2
    """
    )
