"""Training-data pipeline composition: the operators a 100 TB corpus run
chains together — deterministic sampling, quality gating, dedup, budget
accounting — each individually oracle-checkable and composable into one
Catalyst plan (no materialization between stages).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geocube_spark.functions.text import normalized_md5, quality_score, token_count
from geocube_spark.operators.dedup import dedup_exact
from geocube_spark.session import checkpoint


def deterministic_sample_expr(key: Column, fraction: float) -> Column:
    """Deterministic, seedless, engine-portable sampling predicate: keep a
    row when the first two hex digits of md5(key) fall below the fraction
    cutoff.  Unlike rand()-based sampling this is reproducible across
    engines and retries — the property a resumable 100 TB pipeline needs.

    Granularity is 1/256; fraction is rounded down to that grid.
    """
    cutoff = int(fraction * 256)
    threshold = format(cutoff, "02x")
    return F.substring(F.md5(key.cast("string")), 1, 2) < F.lit(threshold)


def deterministic_sample_sql(key_sql: str, fraction: float) -> str:
    cutoff = int(fraction * 256)
    return f"substr(md5(CAST({key_sql} AS VARCHAR)), 1, 2) < '{cutoff:02x}'"


def stratified_sample(
    documents: DataFrame, stratum_col: str, fractions: dict[str, float], key_col: str = "doc_id"
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing):
    each stratum keeps its own md5-threshold fraction."""
    pred = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        pred = pred | (
            (F.col(stratum_col) == stratum)
            & deterministic_sample_expr(F.col(key_col), frac)
        )
    return documents.filter(pred)


def curate(
    documents: DataFrame,
    min_quality: float = 0.5,
    langs: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """The canonical curation chain: quality gate -> language filter ->
    exact dedup (keep-first) -> token accounting.  One declarative plan:
    Catalyst fuses the filters into the scan and the dedup is the only
    shuffle."""
    out = documents.withColumn("quality", F.round(quality_score(F.col(text_col)), 6))
    out = out.filter(F.col("quality") >= min_quality)
    if langs:
        out = out.filter(F.col("lang").isin(langs))
    out = dedup_exact(out, text_col)
    return out.withColumn("n_tokens", token_count(F.col(text_col)).cast("long"))


def token_budget_report(curated: DataFrame) -> DataFrame:
    """Per-language token accounting of a curated corpus — the numbers a
    data-mixture plan is built from."""
    return (
        curated.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("median_tokens"),
        )
    )


def dedup_report(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level dedup accounting: total docs, unique fingerprints,
    duplicate count — the before/after numbers of a dedup pass."""
    fp = documents.select(normalized_md5(F.col(text_col)).alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).cast("long").alias("n_duplicates"),
    )


def mixture_resample(
    documents: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Downsample per-source so the kept corpus matches a target mixture
    (the Dolma/DataComp "mixing weights" step: N web : M code : K books).

    Only DOWN-samples: the achievable total is T = min_s floor(n_s·W/w_s)
    (W = Σ weights) — the largest corpus where no source would need
    upsampling; source s keeps cutoff_s = floor(256·w_s·T / (W·n_s)) of
    its 256 md5 buckets.  All arithmetic is INTEGER (exact in any engine)
    and the keep rule is the deterministic md5-threshold predicate, so a
    retry, a different partition layout, or a different engine keeps
    byte-identical rows.

    Plan: one broadcast join against the per-source cutoff table (a
    #sources-row aggregate — never collected to the driver), one filter;
    the corpus is scanned once for counts and once for the filter.  The
    global T = min over sources is a single-partition window over the
    #sources-row counts table (O(#sources) rows — no broadcast-nested-loop
    join, the plan-audit hard rule stays strict).
    Sources absent from ``weights`` are dropped (weight 0).  A source
    present in ``weights`` but with ZERO matching rows forces T = 0 (the
    correct achievable total — nothing can be kept without upsampling it),
    rather than being silently ignored.
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be a non-empty map of positive ints")
    W = int(sum(weights.values()))
    w_df = documents.sparkSession.createDataFrame(
        sorted((s, int(w)) for s, w in weights.items()),
        f"{source_col} string, wt long",
    )
    doc_counts = (
        documents.join(F.broadcast(w_df.select(source_col)), source_col)
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # weights ⟕ counts so a weighted-but-empty source survives with n = 0
    counts = (
        w_df.join(doc_counts, source_col, "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    everything = Window.partitionBy()
    plan = (
        counts.withColumn(
            "T", F.min(F.expr(f"n * {W} div wt")).over(everything)
        )
        .withColumn(
            "cutoff",
            F.when(F.col("n") == 0, F.lit(0))
            .otherwise(
                F.least(F.lit(256), F.expr(f"256 * wt * T div ({W} * n)"))
            )
            .cast("int"),
        )
        .select(source_col, "cutoff")
    )
    keep = (F.col("cutoff") >= 256) | (
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 2)
        < F.lower(F.format_string("%02x", F.col("cutoff")))
    )
    return documents.join(F.broadcast(plan), source_col).filter(keep).drop("cutoff")


def mixture_report(
    documents: DataFrame,
    weights: dict[str, int],
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Per-source before/after counts for a mixture_resample run."""
    before = documents.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_before")
    )
    after = (
        mixture_resample(documents, weights, source_col, key_col)
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    # left join: a source that keeps ZERO rows (cutoff 0, e.g. when a
    # weighted-but-empty source forces T = 0) still reports n_kept = 0
    # instead of vanishing from the report
    return (
        before.join(after, source_col, "left")
        .select(
            F.col(source_col),
            F.col("n_before").cast("long"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy(source_col)
    )


# ------------------------------------------------- DSIR importance weights


def dsir_importance(
    documents: DataFrame,
    target_pred: Column,
    n_buckets: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023, public
    method): score every document by how target-like its hashed n-gram
    profile is, so a web-scale corpus can be resampled toward a small
    high-quality target domain.

    Features are word uni+bigrams hashed into ``n_buckets`` buckets
    (md5-based, engine-portable — the same hash DuckDB recomputes in the
    oracle).  Bucket unigram models with Laplace smoothing:

        p_T(b) = (c_T(b) + 1) / (N_T + B)     (target slice)
        p_S(b) = (c_S(b) + 1) / (N_S + B)     (whole corpus)

    and the per-document log importance weight is
    sum_b c_doc(b) * (ln p_T(b) - ln p_S(b)).  Selection is then a
    deterministic top-k / threshold on the weight (the paper adds Gumbel
    noise for sampled selection; deterministic scoring is the resumable-
    pipeline variant).

    Scale shape: the corpus is scanned ONCE into the hashed feature
    stream; the only corpus-sized shuffle is the per-(doc, bucket) count.
    Both model tables are B-row aggregates that broadcast at any corpus
    size, so scoring is a map-side join — no all-pairs work anywhere.
    """
    from geocube_spark.operators.retrieval import ngrams_expr, tokens_expr

    toks_expr = tokens_expr(F.col(text_col))
    base = documents.select(
        F.col(id_col).alias("doc_id"),
        target_pred.alias("is_target"),
        toks_expr.alias("t"),
    )
    bigrams = ngrams_expr(F.col("t"), 2)
    stream = base.select(
        "doc_id",
        "is_target",
        F.explode(F.concat(F.col("t"), bigrams)).alias("f"),
    ).select(
        "doc_id",
        "is_target",
        (
            F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    # ONE corpus-sized pass: everything downstream (source/target bucket
    # models, totals) derives from the per-(doc, bucket) counts — without
    # this, Catalyst re-executes the tokenize+hash stream once per
    # aggregate (4 corpus scans instead of 1)
    doc_b = stream.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).alias("c_doc"),
        F.first("is_target").alias("is_target"),
    ).transform(checkpoint, lazy=True)  # 4 consumers; Catalyst does not reuse
    # the exchange.  LAZY: the first consumer (the totals broadcast build)
    # materializes it, so the dedicated checkpoint pass disappears (the
    # kcenter fusion).
    src_b = doc_b.groupBy("bucket").agg(F.sum("c_doc").alias("c_s"))
    tgt_b = (
        doc_b.filter("is_target")
        .groupBy("bucket")
        .agg(F.sum("c_doc").alias("c_t"))
    )
    totals = doc_b.agg(
        F.sum("c_doc").cast("double").alias("n_s"),
        F.sum(F.when(F.col("is_target"), F.col("c_doc")).otherwise(F.lit(0)))
        .cast("double")
        .alias("n_t"),
    )
    ratio = (
        src_b.join(tgt_b, "bucket", "left")
        .withColumn("c_t", F.coalesce(F.col("c_t"), F.lit(0)))
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("c_t") + 1) / (F.col("n_t") + n_buckets))
                - F.log((F.col("c_s") + 1) / (F.col("n_s") + n_buckets))
            ).alias("lr"),
        )
    )
    return (
        doc_b.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c_doc").cast("long").alias("n_features"),
            F.round(F.sum(F.col("c_doc") * F.col("lr")), 4).alias("log_weight"),
        )
    )


def dsir_importance_sql(
    target_pred_sql: str,
    n_buckets: int = 256,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from geocube_spark.operators.retrieval import tokens_sql

    toks = tokens_sql(text_col)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id, ({target_pred_sql}) AS is_target, {toks} AS t
      FROM {table}
    ),
    feats AS (
      SELECT doc_id, is_target,
             list_concat(
               t,
               list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                              i -> array_to_string(t[i : i + 1], ' '))
             ) AS fs
      FROM base
    ),
    stream AS (
      SELECT doc_id, is_target,
             CAST(('0x' || substr(md5(u.f), 1, 8)) AS BIGINT) % {n_buckets} AS bucket
      FROM feats, UNNEST(fs) AS u(f)
    ),
    doc_b AS (SELECT doc_id, bucket, count(*) AS c_doc FROM stream GROUP BY 1, 2),
    src_b AS (SELECT bucket, count(*) AS c_s FROM stream GROUP BY 1),
    tgt_b AS (SELECT bucket, count(*) AS c_t FROM stream WHERE is_target GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_s,
             CAST(count(*) FILTER (is_target) AS DOUBLE) AS n_t
      FROM stream
    ),
    ratio AS (
      SELECT s.bucket,
             ln((COALESCE(t.c_t, 0) + 1) / (tot.n_t + {n_buckets}))
               - ln((s.c_s + 1) / (tot.n_s + {n_buckets})) AS lr
      FROM src_b s LEFT JOIN tgt_b t USING (bucket), tot
    )
    SELECT d.doc_id,
           CAST(sum(d.c_doc) AS BIGINT) AS n_features,
           round(sum(d.c_doc * r.lr), 4) AS log_weight
    FROM doc_b d JOIN ratio r USING (bucket)
    GROUP BY d.doc_id
    """


# ------------------------------------------- weighted deterministic sample


def weighted_sample(
    documents: DataFrame,
    weight_col,
    n: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis–Spirakis 2006 exponential-key method with the uniform drawn
    from md5(key) instead of an RNG —

        u   = (md5_52bit(key) + 0.5) / 2^52    in (0, 1)
        s   = ln(u) / w                        (monotone twin of u^(1/w))

    and the sample is the top-``n`` by s (larger-is-better; s < 0).  The
    +0.5 offset keeps u strictly inside (0, 1): u = 1 would collapse
    every weight to the same key, and any EXTRA transform of u (e.g. a
    u/2 rescale) would multiply keys by a weight-DEPENDENT factor
    2^(-1/w) and bias the sample — the Efraimidis–Spirakis guarantee
    holds only for ln(u)/w on a pure uniform.  A
    doc's inclusion probability scales with its weight (quality score,
    importance weight, ...), yet a retry, a different partition layout, or
    a different engine draws the IDENTICAL sample — the resumable-pipeline
    property every md5-threshold op in this module shares.

    One narrow pass + a global top-n (TakeOrderedAndProject); no shuffle
    of the corpus.  Ranking uses the 9-dp-rounded s with a key tie-break
    so a last-ulp ln() difference between engines cannot flip the
    frontier.  Weights must be > 0 (rows with w <= 0 are dropped — they
    have probability 0).
    """
    u = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 13), 16, 10)
        .cast("double")
        + 0.5
    ) / float(1 << 52)
    s = F.round(F.log(u) / weight_col, 9)
    return (
        documents.filter(weight_col > 0)
        .withColumn("es_score", s)
        .orderBy(F.col("es_score").desc(), F.col(key_col))
        .limit(n)
    )


def weighted_sample_sql(
    weight_sql: str,
    n: int,
    table: str = "documents",
    key_col: str = "doc_id",
) -> str:
    u = (
        f"(CAST(('0x' || substr(md5(CAST({key_col} AS VARCHAR)), 1, 13)) "
        f"AS BIGINT) + 0.5) / {float(1 << 52)}"
    )
    return f"""
    SELECT * FROM (
      SELECT *, round(ln({u}) / ({weight_sql}), 9) AS es_score
      FROM {table} WHERE ({weight_sql}) > 0
    ) ORDER BY es_score DESC, {key_col} LIMIT {n}
    """


def curriculum_shards(
    documents: DataFrame,
    difficulty_col,
    n_shards: int = 10,
    key_col: str = "doc_id",
) -> DataFrame:
    """Curriculum ordering: rank the corpus by a difficulty score and cut
    it into ``n_shards`` NTILE shards (shard 1 = easiest) — the
    data-ordering step of curriculum training.

    DISTRIBUTED exact ntile: a bare ``Window.orderBy`` would move the
    whole corpus into ONE partition ("No Partition Defined for Window" —
    the 100 TB killer), so the global rank is computed the scalable way:
    range-partition by (difficulty, key), rank WITHIN each partition
    (small local sorts), then add per-partition offsets from a bounded
    #partitions-row count table.  The shard cut replicates ntile's exact
    allocation (first N mod n shards get one extra row), so the DuckDB
    ntile oracle still matches bit-for-bit.
    Returns per-shard stats: n_docs and the difficulty span.
    """
    from pyspark.sql import Window

    ranged = documents.repartitionByRange(
        max(documents.sparkSession.sparkContext.defaultParallelism, 2),
        difficulty_col.asc(),
        F.col(key_col),
    ).withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid").orderBy(
        difficulty_col.asc(), F.col(key_col)
    )
    local = ranged.withColumn("_li", F.row_number().over(w_local))
    # bounded: one row per partition; the running offset is a window over
    # that tiny table, broadcast back onto the data
    pc = local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pn"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = pc.withColumn(
        "_off", F.coalesce(F.sum("_pn").over(w_off), F.lit(0))
    ).select("_pid", "_off")
    total = pc.agg(F.sum("_pn").alias("_n"))
    # ntile allocation: with q = N div n, r = N mod n, the first r shards
    # hold q+1 rows; 0-based idx maps to idx // (q+1) while idx < r*(q+1),
    # else r + (idx - r*(q+1)) // q
    idx = F.col("_off") + F.col("_li") - 1
    q = (F.col("_n") / n_shards).cast("long")
    r = F.col("_n") % n_shards
    shard = (
        F.when(q == 0, idx + 1)  # fewer rows than shards: ntile = idx+1
        .when(idx < r * (q + 1), (idx / (q + 1)).cast("long") + 1)
        .otherwise(r + ((idx - r * (q + 1)) / q).cast("long") + 1)
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn("shard", shard.cast("int"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.min(difficulty_col), 4).alias("min_difficulty"),
            F.round(F.max(difficulty_col), 4).alias("max_difficulty"),
        )
        .orderBy("shard")
    )


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame,
    n_shards: int = 10,
    val_shards: tuple[int, ...] = (8,),
    test_shards: tuple[int, ...] = (9,),
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/validation/test split that cannot leak near-duplicates across
    splits: the unit of assignment is the duplicate CLUSTER, not the
    document.  A doc-level hash split puts two 0.9-Jaccard copies of the
    same page in train and test and silently inflates eval numbers (the
    failure mode Lee et al. 2022 measured); hashing the cluster label
    instead pins every member of a component to one side by construction.

    Plan shape: the O(log n) large-star/small-star rounds produce
    (node, component); docs left-join the (small) component table and
    singletons keep their own id; the shard is the portable md5->int
    bucket of the component id — deterministic, seedless, reproducible
    across engines and retries.  One extra broadcast join over a doc-level
    stream; no new shuffle beyond the CC rounds themselves.
    """
    from geocube_spark.operators.dedup import connected_components

    comp = connected_components(pairs).select("node", "component")
    assigned = documents.join(
        comp, documents[id_col] == comp["node"], "left"
    ).select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("component"),
    )
    shard = (
        F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_shards
    )
    split = (
        F.when(shard.isin(*[int(s) for s in val_shards]), F.lit("val"))
        .when(shard.isin(*[int(s) for s in test_shards]), F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return assigned.withColumn("split", split)


def leakage_safe_split_sql(
    components_cte: str,
    n_shards: int = 10,
    val_shards: tuple[int, ...] = (8,),
    test_shards: tuple[int, ...] = (9,),
    table: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of the split ASSIGNMENT (caller wraps/aggregates).
    ``components_cte`` must yield (node, component) for every non-singleton
    doc — the registry passes the recursive-CTE transitive closure."""
    vals = ", ".join(str(int(s)) for s in val_shards)
    tests = ", ".join(str(int(s)) for s in test_shards)
    return f"""
    SELECT d.{id_col},
           COALESCE(c.component, d.{id_col}) AS component,
           CASE
             WHEN CAST(('0x' || substr(md5(CAST(COALESCE(c.component, d.{id_col}) AS VARCHAR)), 1, 8)) AS BIGINT) % {n_shards} IN ({vals}) THEN 'val'
             WHEN CAST(('0x' || substr(md5(CAST(COALESCE(c.component, d.{id_col}) AS VARCHAR)), 1, 8)) AS BIGINT) % {n_shards} IN ({tests}) THEN 'test'
             ELSE 'train'
           END AS split
    FROM {table} d LEFT JOIN ({components_cte}) c ON c.node = d.{id_col}
    """
