"""In-engine supervised classifier training: batch gradient descent for a
binary quality/domain classifier, entirely as relational plans.

The GPT-3/WebText pattern: train a cheap linear classifier to separate a
target class from the rest of the corpus, then score every document with
it (quality filtering, domain routing, eval-set firewalling).  Training
IS an aggregation: each GD round is one full-corpus aggregate

    grad_f = sum_i (y_i - squash(w . x_i)) * x_i[f] / N
    w      <- round(w + lr * grad, 10)

so R rounds chain as R scans with the running weights riding along as a
1-row broadcast — no driver loop, no collect, no ML library.

Cross-engine determinism, by construction:
* the squash is the RATIONAL sigmoid  s(z) = 0.5 + z / (2 * (1 + |z|))
  — only +, *, /, abs, all IEEE-deterministic; libm ``exp`` differs in
  the last ulp across engines and would compound over rounds.
* weights are rounded to 10 decimals at every round boundary, absorbing
  the ~1e-15 summation-order drift between Spark's partial aggregates
  and a sequential engine before it can compound.
* features derive from integer counts (chars, tokens, word lengths).

Scale shape: each round is a map-side-combined full aggregate (the
shuffle carries one partial gradient row per task); scoring is a pure
projection.  The round count is fixed and small — this is the
distributed-GD pattern (parameters broadcast, gradients reduced), with
the parameter server replaced by the plan itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocube_spark.session import checkpoint

LR = 0.5
ROUNDS = 5
W_DECIMALS = 10

# feature scale divisors keep |z| ~ O(1) so the rational squash has slope
FEATS = [("bias", None, 1.0), ("chars", "n_chars", 300.0), ("toks", "tc", 60.0), ("mwl", "mwl", 10.0)]


def _squash(z: Column) -> Column:
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def _squash_sql(z: str) -> str:
    return f"(0.5 + ({z}) / (2.0 * (1.0 + abs({z}))))"


def _feature_frame(docs: DataFrame, label: Column) -> DataFrame:
    from geocube_spark.functions.text import mean_word_length, token_count

    return docs.select(
        "doc_id",
        "source",
        label.cast("double").alias("y"),
        F.lit(1.0).alias("x_bias"),
        (F.col("n_chars") / 300.0).alias("x_chars"),
        (token_count(F.col("text")) / 60.0).alias("x_toks"),
        (mean_word_length(F.col("text")) / 10.0).alias("x_mwl"),
    )


def train_quality_classifier(
    docs: DataFrame,
    label: Column,
    rounds: int = ROUNDS,
    lr: float = LR,
    feats: DataFrame | None = None,
) -> DataFrame:
    """Returns a 1-row weights frame (w_bias, w_chars, w_toks, w_mwl)
    after ``rounds`` of batch GD from w = 0.

    Round r's weights are an aggregate over the feature frame cross-joined
    with round r-1's 1-row weights.  Left fully lazy, that recursion
    re-executes rounds 1..r-1 inside every round-r broadcast build — the
    text-feature kernel ran O(rounds²) times.  Two checkpoints make each
    round run exactly once (guide §1.2): the feature frame is materialized
    lazily on first use (``feats=`` lets the caller share it with the
    scoring pass), and each round's 1-row weights are checkpointed LAZILY
    — the next round's (or the scorer's) broadcast build is the action
    that materializes them, the distributed-GD barrier the algorithm has
    anyway — which truncates the recursive plan without a dedicated job
    per round (the pagerank-round fusion).  Weight VALUES are untouched
    (10-dp rounding happens before the checkpoint)."""
    if feats is None:
        feats = checkpoint(_feature_frame(docs, label), lazy=True)
    names = [f[0] for f in FEATS]
    w = feats.sparkSession.range(1).select(
        *[F.lit(0.0).alias(f"w_{n}") for n in names]
    )
    for _ in range(rounds):
        z = sum(
            (F.col(f"w_{n}") * F.col(f"x_{n}") for n in names[1:]),
            F.col(f"w_{names[0]}") * F.col(f"x_{names[0]}"),
        )
        resid = F.col("y") - _squash(z)
        grads = feats.crossJoin(F.broadcast(w)).agg(
            *[
                F.round(
                    F.avg(resid * F.col(f"x_{n}")) * lr + F.first(F.col(f"w_{n}")),
                    W_DECIMALS,
                ).alias(f"w_{n}")
                for n in names
            ]
        )
        w = checkpoint(grads, lazy=True)
    return w


def classifier_report(
    docs: DataFrame, label: Column, rounds: int = ROUNDS, lr: float = LR
) -> DataFrame:
    """Train, then score the corpus: per-source confusion counts at the
    0.5 threshold plus the (shared) final weights — the quality-filter
    acceptance report.  Integer counts + 6-dp weights keep the contract
    robust."""
    feats = checkpoint(_feature_frame(docs, label), lazy=True)
    w = train_quality_classifier(docs, label, rounds, lr, feats=feats)
    names = [f[0] for f in FEATS]
    z = sum(
        (F.col(f"w_{n}") * F.col(f"x_{n}") for n in names[1:]),
        F.col(f"w_{names[0]}") * F.col(f"x_{names[0]}"),
    )
    scored = feats.crossJoin(F.broadcast(w)).select(
        "source",
        "y",
        (_squash(z) >= 0.5).cast("int").alias("pred"),
        *[F.round(F.col(f"w_{n}"), 6).alias(f"w_{n}") for n in names],
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("pred").cast("long").alias("n_pred_pos"),
            F.sum((F.col("pred") == F.col("y")).cast("int")).cast("long").alias("n_correct"),
            *[F.first(f"w_{n}").alias(f"w_{n}") for n in names],
        )
        .orderBy("source")
    )


def classifier_report_sql(
    label_sql: str,
    rounds: int = ROUNDS,
    lr: float = LR,
    table: str = "documents",
) -> str:
    """DuckDB twin: the same rounds as generated CTEs over identical
    integer-derived features and the rational squash."""
    from geocube_spark.functions.text import mean_word_length_sql, token_count_sql

    names = [f[0] for f in FEATS]
    feats = f"""
    SELECT doc_id, source, CAST(({label_sql}) AS DOUBLE) AS y,
           1.0 AS x_bias,
           n_chars / 300.0 AS x_chars,
           {token_count_sql('text')} / 60.0 AS x_toks,
           {mean_word_length_sql('text')} / 10.0 AS x_mwl
    FROM {table}
    """
    z_of = lambda wpfx: " + ".join(f"{wpfx}.w_{n} * f.x_{n}" for n in names)
    parts = [f"feats AS ({feats})", "w0 AS (SELECT " + ", ".join(f"0.0 AS w_{n}" for n in names) + ")"]
    for r in range(1, rounds + 1):
        p = r - 1
        resid = f"(f.y - {_squash_sql(z_of(f'w{p}'))})"
        cols = ", ".join(
            f"round(avg({resid} * f.x_{n}) * {lr} + max(w{p}.w_{n}), {W_DECIMALS}) AS w_{n}"
            for n in names
        )
        parts.append(f"w{r} AS (SELECT {cols} FROM feats f, w{p})")
    wf = f"w{rounds}"
    z = z_of(wf)
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(f.y) AS BIGINT) AS n_pos,
           CAST(sum(CASE WHEN {_squash_sql(z)} >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_pos,
           CAST(sum(CASE WHEN (CASE WHEN {_squash_sql(z)} >= 0.5 THEN 1 ELSE 0 END)
                              = CAST(f.y AS INT) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           """
        + ",\n           ".join(f"round(max({wf}.w_{n}), 6) AS w_{n}" for n in names)
        + f"""
    FROM feats f, {wf}
    GROUP BY f.source ORDER BY f.source
    """
    )
