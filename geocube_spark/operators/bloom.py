"""Bloom-filter decontamination prefilter.

The classic benchmark-decontamination pipeline (GPT-3, Brown et al. 2020
appendix C) flags training documents whose word n-grams collide with the
eval suite's n-grams through a Bloom filter, then exact-verifies only the
flagged docs.  The reference engine has no such operator — this is one of
the training-data-pipeline additions in SURVEY.md's extended scope.

Why a Bloom filter and not the exact gram join (decontamination_overlap):
the exact join shuffles or broadcasts the full eval gram set AND streams
every train gram through a join.  The Bloom pass replaces the join with a
map-side bit probe against a tiny (``m/32``-row) words table:

* **Build**: the eval set's distinct grams hash to ``k`` bit positions
  each; one small ``groupBy(word_idx) -> bit_or`` shuffle yields the
  filter as a (word_idx, 32-bit word) relation.  At ``m = 2**32`` that is
  128M rows (~2 GB) — range-partition it; at benchmark-suite sizes it
  broadcasts.
* **Probe**: each train gram expands to ``k`` (word_idx, bit) probes and
  broadcast-joins the words relation — one BHJ, zero shuffles of the
  train corpus, verdict = two codegen'd groupBys (all-k-bits per gram,
  any-gram per doc).
* **Guarantees**: no false negatives (exact ⊆ bloom — asserted in
  tests), false-positive rate ≈ (1 - e^{-kn/m})^k on novel grams.

Bit positions derive from the portable md5 recipe
(``conv(substring(md5(seed|gram),1,8),16,10) % m`` — byte-equal in DuckDB
as ``CAST('0x'||substr(md5(..),1,8) AS BIGINT)``), so the oracle rebuilds
the SAME filter bit-for-bit and the report matches exactly, false
positives included.  Words are 32-bit (bit index 0..31 in a BIGINT lane)
to stay clear of signed-shift overflow differences at bit 63.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocube_spark.functions.text import md5_bucket
from geocube_spark.operators.retrieval import ngrams_expr, ngrams_sql, tokens_expr, tokens_sql
from geocube_spark.session import checkpoint

BLOOM_M_BITS = 4096  # filter size in bits (128 32-bit words)
BLOOM_K = 3  # hash functions


def _pos_expr(g: Column, seed: Column, m: int) -> Column:
    """Portable Bloom bit position for gram ``g`` under hash ``seed``."""
    return md5_bucket(g, seed, m)


def _grams(docs: DataFrame, n: int, text_col: str) -> DataFrame:
    """(doc_id, source, is_eval, g) with per-document DISTINCT grams.

    The token array is projected as an attribute before the gram
    transform references it (Catalyst CSE does not reach inside
    higher-order-function lambdas)."""
    toks = docs.select(
        "doc_id", "source", "is_eval", tokens_expr(F.col(text_col)).alias("t")
    )
    return toks.select(
        "doc_id",
        "source",
        "is_eval",
        F.explode(F.array_distinct(ngrams_expr(F.col("t"), n))).alias("g"),
    )


def bloom_words(eval_grams: DataFrame, k: int = BLOOM_K, m: int = BLOOM_M_BITS) -> DataFrame:
    """Build the filter: distinct eval grams -> (word, bits) relation.

    One shuffle of |eval grams| x k tiny rows into at most m/32 groups."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("seed")
    probes = eval_grams.select("g").distinct().select("g", seeds)
    pos = probes.select(_pos_expr(F.col("g"), F.col("seed"), m).alias("pos"))
    return (
        pos.select(
            F.expr("pos DIV 32").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("b"),
        )
        .groupBy("word")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_filter_row(
    eval_grams: DataFrame, k: int = BLOOM_K, m: int = BLOOM_M_BITS
) -> DataFrame:
    """The whole filter as ONE row: a dense ``m/32``-long array<long> of
    bit words (0 where no word row exists).  At the default m=4096 that is
    128 longs — a scalar-sized broadcast that lets the probe side test
    bits with array indexing instead of a join."""
    words = bloom_words(eval_grams, k, m)
    wm = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("wm")
    )
    return wm.select(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.lit(m // 32 - 1).cast("long")),
            lambda i: F.coalesce(F.element_at(F.col("wm"), i), F.lit(0).cast("long")),
        ).alias("fwords")
    )


def bloom_decontamination_report(
    docs: DataFrame,
    eval_pred: Column,
    n: int = 8,
    k: int = BLOOM_K,
    m: int = BLOOM_M_BITS,
    text_col: str = "text",
) -> DataFrame:
    """Per-source decontamination accounting: train docs flagged by the
    Bloom prefilter vs by the exact gram join, and the false-positive gap.

    Columns: source, n_train, n_bloom, n_exact, n_false_pos.

    Plan shape (the map-side promise of the module docstring, literally):
    the gram kernel runs ONCE (lazily checkpointed per-doc distinct gram
    arrays feed every consumer); the filter is collapsed to a 1-row dense
    word array and the Bloom verdict is a nested higher-order function —
    exists(grams, forall(seeds, bit set)) — over the UN-exploded gram
    array.  The previous shape exploded every train gram ×k seeds and
    paid two groupBy shuffles of (doc_id, gram-string) rows — at n=8 the
    gram strings are ~10× the document bytes, so that shuffle dominated
    the whole query.  Bit positions and the verdict are value-identical
    (min over k probe bits == forall; max over grams == exists; docs with
    fewer than ``n`` tokens have empty gram arrays and stay excluded from
    n_train exactly as the explode dropped them)."""
    base = (
        docs.withColumn("is_eval", eval_pred)
        .select(
            "doc_id", "source", "is_eval", tokens_expr(F.col(text_col)).alias("t")
        )
        .select(
            "doc_id",
            "source",
            "is_eval",
            F.array_distinct(ngrams_expr(F.col("t"), n)).alias("grams"),
        )
        .transform(checkpoint, lazy=True)
    )
    eval_g = base.filter("is_eval").select(F.explode("grams").alias("g")).distinct()
    train = base.filter(~F.col("is_eval") & (F.size("grams") > 0))

    filt = bloom_filter_row(eval_g, k, m)
    seed_arr = F.array(*[F.lit(i) for i in range(k)])

    def _bit_set(fw: Column, g: Column, s: Column) -> Column:
        pos = _pos_expr(g, s, m)
        # call_function: the PySpark shiftright/shiftrightunsigned wrappers
        # only take a literal shift amount, but the SQL functions shift by
        # a column just fine
        word = F.call_function("shiftrightunsigned", pos, F.lit(5)).cast("int")
        bit = pos.bitwiseAND(F.lit(31)).cast("int")  # pos % 32
        return (
            F.call_function("shiftright", F.element_at(fw, word + 1), bit)
            .bitwiseAND(F.lit(1))
            == 1
        )

    doc_bloom = train.crossJoin(F.broadcast(filt)).select(
        "doc_id",
        "source",
        F.exists(
            "grams",
            lambda g: F.forall(seed_arr, lambda s: _bit_set(F.col("fwords"), g, s)),
        )
        .cast("int")
        .alias("bloom_flag"),
    )
    train_g = train.select("doc_id", F.explode("grams").alias("g"))
    doc_exact = (
        train_g.join(F.broadcast(eval_g), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("exact_flag", F.lit(1))
    )
    return (
        doc_bloom.join(F.broadcast(doc_exact), "doc_id", "left")
        .fillna({"exact_flag": 0})
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum("bloom_flag").cast("long").alias("n_bloom"),
            F.sum("exact_flag").cast("long").alias("n_exact"),
            (F.sum("bloom_flag") - F.sum("exact_flag")).cast("long").alias("n_false_pos"),
        )
        .orderBy("source")
    )


def bloom_decontamination_sql(
    eval_pred_sql: str,
    n: int = 8,
    k: int = BLOOM_K,
    m: int = BLOOM_M_BITS,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """DuckDB twin — rebuilds the identical filter from the same md5
    recipe.  Expression join keys are materialized in subqueries first
    (DuckDB plans expression-key joins as nested loops)."""
    grams = ngrams_sql(tokens_sql(text_col), n)  # list_distinct built in
    seeds = "(SELECT unnest([" + ",".join(str(i) for i in range(k)) + "]) AS seed) s"
    pos = (
        f"CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || '|' || g), 1, 8)) AS BIGINT)"
        f" % {m}"
    )
    return f"""
    WITH base AS (
        SELECT doc_id, source, {grams} AS grams, ({eval_pred_sql}) AS is_eval
        FROM {table}
    ),
    eval_g AS (
        SELECT DISTINCT unnest(grams) AS g FROM base WHERE is_eval
    ),
    eval_pos AS (
        SELECT {pos} AS pos FROM eval_g, {seeds}
    ),
    words AS (
        SELECT pos // 32 AS word,
               CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS BIGINT) AS bits
        FROM eval_pos GROUP BY 1
    ),
    train_g AS (
        SELECT doc_id, source, unnest(grams) AS g FROM base WHERE NOT is_eval
    ),
    probes AS (
        SELECT doc_id, source, g, p.pos // 32 AS word, CAST(p.pos % 32 AS INT) AS bit
        FROM (SELECT doc_id, source, g, {pos} AS pos FROM train_g, {seeds}) p
    ),
    per_gram AS (
        SELECT p.doc_id, p.source, p.g,
               min(CASE WHEN w.bits IS NULL THEN 0
                        ELSE CAST((w.bits >> p.bit) & 1 AS INT) END) AS all_hit
        FROM probes p LEFT JOIN words w ON p.word = w.word
        GROUP BY 1, 2, 3
    ),
    doc_bloom AS (
        SELECT doc_id, source, max(all_hit) AS bloom_flag FROM per_gram GROUP BY 1, 2
    ),
    doc_exact AS (
        SELECT DISTINCT t.doc_id FROM train_g t JOIN eval_g e USING (g)
    )
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(b.bloom_flag) AS BIGINT) AS n_bloom,
           CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(sum(b.bloom_flag)
                - sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_false_pos
    FROM doc_bloom b LEFT JOIN doc_exact e ON b.doc_id = e.doc_id
    GROUP BY b.source ORDER BY b.source
    """
