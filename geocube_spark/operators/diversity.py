"""Diversity sampling over embeddings: greedy k-center (Gonzalez 1985).

Picks k maximally-spread exemplars: start from a deterministic seed (the
lowest id), then repeatedly take the point FARTHEST from the chosen set
(cosine distance, lowest-id tiebreak).  The greedy sweep is a 2-approx of
the optimal k-center cover — the standard coreset/diversity pick for
choosing representative training samples (e.g. one exemplar per semantic
region before expensive labeling).

Scale shape: each of the k rounds is one narrow scan + a TakeOrdered(1)
reduction (per-partition argmax, k-element driver merge) and one
vectorized column update folding the new center in via ``least`` — no
shuffle of the corpus, no per-point state beyond the running min-distance
column.  O(n*k) work total; the k 1-row collects are bounded scalars (the
selected centers).  ``localCheckpoint`` after each fold keeps lineage
linear (otherwise round r recomputes rounds 0..r-1 — O(k^2) scans).

The oracle replays the identical greedy recursion as k generated CTE
stages over the same double-cast vectors, so selections and distances
match exactly.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from geocube_spark.functions.vectors import cosine_expr, cosine_sql
from geocube_spark.session import checkpoint

_RESULT_SCHEMA = StructType(
    [
        StructField("rank", LongType(), False),
        StructField("vec_id", LongType(), False),
        StructField("sep_dist", DoubleType(), False),
    ]
)


def _vec_lit(vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def _round_half_up6(x: float) -> float:
    """round(x, 6) with SQL semantics: half away from zero, applied to the
    exact binary value of the double (Decimal(float) is lossless)."""
    return float(
        Decimal(float(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def kcenter_sample(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(rank, vec_id, sep_dist): the k chosen centers in selection order;
    ``sep_dist`` is the point's cosine distance to the previously chosen
    set at selection time (monotone non-increasing — asserted in tests),
    rounded HALF-AWAY-FROM-ZERO (SQL round semantics — Python round() is
    banker's and would diverge from the DuckDB twin on an exact .5 tie at
    the 6th decimal).  The last round's maximum is the k-center coverage
    radius."""
    first = emb.orderBy(id_col).limit(1).collect()[0]
    chosen = [(0, int(first[id_col]), 0.0)]
    # lazy checkpoints: each round's TakeOrdered(1) argmax materializes the
    # folded frame, so k rounds take k jobs instead of 2k (guide §1.2);
    # lineage is still cut every round
    cur = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        (1 - cosine_expr(F.col(vec_col), _vec_lit(first[vec_col]))).alias("mind"),
    ).transform(checkpoint, lazy=True)
    for r in range(1, k):
        far = cur.orderBy(F.desc("mind"), "vec_id").limit(1).collect()[0]
        chosen.append((r, int(far["vec_id"]), _round_half_up6(far["mind"])))
        cur = cur.select(
            "vec_id",
            "v",
            F.least(
                F.col("mind"), 1 - cosine_expr(F.col("v"), _vec_lit(far["v"]))
            ).alias("mind"),
        ).transform(checkpoint, lazy=True)
    return spark.createDataFrame(chosen, _RESULT_SCHEMA)


def kcenter_sample_sql(emb_sql: str, k: int = 8) -> str:
    """DuckDB twin: the same greedy recursion unrolled as k CTE stages."""
    dist0 = f"(1 - {cosine_sql('e.embedding', 'c0.v')})"
    parts = [
        f"WITH e AS ({emb_sql})",
        "c0 AS (SELECT vec_id, embedding AS v FROM e ORDER BY vec_id LIMIT 1)",
        f"d0 AS (SELECT e.vec_id, e.embedding AS v, {dist0} AS mind FROM e, c0)",
    ]
    for r in range(1, k):
        p = r - 1
        dist = f"(1 - {cosine_sql(f'd{p}.v', f'c{r}.v')})"
        parts.append(
            f"c{r} AS (SELECT vec_id, v, mind FROM d{p}"
            f" ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if r < k - 1:
            parts.append(
                f"d{r} AS (SELECT d{p}.vec_id, d{p}.v,"
                f" least(d{p}.mind, {dist}) AS mind FROM d{p}, c{r})"
            )
    selects = ["SELECT CAST(0 AS BIGINT) AS rank, vec_id, CAST(0.0 AS DOUBLE) AS sep_dist FROM c0"]
    selects += [
        f"SELECT CAST({r} AS BIGINT), vec_id, round(mind, 6) FROM c{r}"
        for r in range(1, k)
    ]
    body = ",\n    ".join(parts[1:])
    return f"{parts[0]},\n    {body}\n    {' UNION ALL '.join(selects)}"
