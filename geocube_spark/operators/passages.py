"""Duplicated-passage detection: positional word k-grams shared across the
corpus, merged into per-document spans.

The passage-level sibling of document dedup ("Deduplicating Training Data
Makes Language Models Better", Lee et al. 2022 — exact substring dedup):
instead of dropping whole near-duplicate documents, find the SPANS that are
verbatim-repeated anywhere in the corpus (boilerplate headers, license
blocks, quoted chain mail) so curation can cut or down-weight them.

Plan shape (no driver paths, nothing quadratic):

1. positional k-grams: one map-side explode — O(total tokens) rows of
   (doc_id, pos, xxhash64(gram)); the gram itself never shuffles, only the
   8-byte hash;
2. global frequency: hash-shuffle on the gram hash (map-side partial
   counts), keep hashes with count >= min_count;
3. duplicated positions: semi join of the gram stream against the
   duplicated-hash set (equi join on the hash, AQE handles hot boilerplate
   hashes);
4. spans: per-doc gaps-and-islands (pos - row_number() over pos is
   constant within a run of consecutive duplicated positions) — one
   window partitioned by doc_id, then one groupBy for span bounds.

Token positions are 1-based; a span's token extent is
[start_pos, end_pos + k - 1] so overlapping k-grams merge into one span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geocube_spark.operators.retrieval import tokens_expr, tokens_sql
from geocube_spark.session import checkpoint


def positional_kgram_hashes(
    docs: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, gram_hash) for every word k-gram occurrence — NOT
    distinct (positions matter).  Documents shorter than k tokens emit one
    truncated gram at pos 1, mirroring the shingle helpers.

    Two-level hashing: each token is xxhash64'd ONCE, then the gram hash
    is xxhash64 over the k-long slice of token hashes (Spark's hash
    functions accept arrays).  Hashing 8 longs instead of rebuilding an
    8-word string per position is ~7× faster end-to-end at sf0.1 —
    identical equality semantics (the oracle compares gram TEXT, so any
    behavioral drift would hash-mismatch).

    NULL-text documents are dropped: xxhash64(NULL) is the constant seed,
    which would make every null doc a mutual "duplicate" of the others,
    while SQL's NULL gram joins nothing — both engines skip them instead."""
    toks = tokens_expr(F.col(text_col))
    hashed = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("th"),
    )
    n = F.greatest(F.size(F.col("th")) - F.lit(k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.xxhash64(F.slice(F.col("th"), i, k)),
    )
    return hashed.select(
        "doc_id",
        F.posexplode(grams).alias("pos0", "gram_hash"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gram_hash")


def duplicated_passage_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated spans: (doc_id, span_start, span_end,
    n_grams) where every k-gram starting in [span_start, span_end - k + 1]
    occurs >= min_count times corpus-wide."""
    # two consumers (the corpus-wide gram counts and the semi-join probe
    # side): tokenize+hash once via a lazy checkpoint — rows are three
    # longs, so the cache is far smaller than re-running the kernel (the
    # LM-family sharing pattern)
    grams = checkpoint(positional_kgram_hashes(docs, k, text_col, id_col), lazy=True)
    dup_hashes = (
        grams.groupBy("gram_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .select("gram_hash")
    )
    dup = grams.join(dup_hashes, "gram_hash", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup.withColumn("island", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("island")
    )


def duplicated_passage_report(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document accounting: how much of each doc is corpus-duplicated
    passage material.  Docs with no duplicated span are omitted (join the
    corpus back for zeros if needed)."""
    spans = duplicated_passage_spans(docs, k, min_count, text_col, id_col)
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("n_dup_tokens"),
            F.max(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("longest_span"),
        )
        .orderBy("doc_id")
    )


def duplicated_passage_report_sql(
    k: int = 8,
    min_count: int = 2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of duplicated_passage_report — same tokenization
    (tokens_sql), gram text instead of hash (count equality is what
    matters), same gaps-and-islands span merge."""
    toks = tokens_sql(text_col)
    return f"""
    WITH base AS (
        SELECT CAST({id_col} AS BIGINT) AS doc_id, {toks} AS t FROM {table}
        WHERE {text_col} IS NOT NULL
    ),
    g AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               array_to_string(t[u.i : u.i + {k - 1}], ' ') AS gram
        FROM base,
             UNNEST(range(1, greatest(len(t) - {k - 1}, 1) + 1)) AS u(i)
    ),
    duph AS (
        SELECT gram FROM g GROUP BY gram HAVING count(*) >= {min_count}
    ),
    dup AS (
        SELECT g.doc_id, g.pos FROM g JOIN duph ON g.gram = duph.gram
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM dup
    ),
    spans AS (
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + {k - 1} AS span_end,
               count(*) AS n_grams
        FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_end - span_start + 1) AS BIGINT) AS n_dup_tokens,
           CAST(max(span_end - span_start + 1) AS BIGINT) AS longest_span
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """


# ------------------------------------------------------------- winnowing
#
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
# algorithm): hash every word k-gram, slide a w-window over the hash
# sequence, keep the rightmost minimum per window.  Guarantee: two
# documents sharing a verbatim run of >= w + k - 1 tokens share at least
# one selected fingerprint, while only ~2/(w+1) of all grams are kept —
# the plagiarism-detection sibling of duplicated-passage spans.
#
# The gram hash here is the PORTABLE md5->int bucket (not xxhash64) so
# the DuckDB oracle replays the identical selection; the window argmin is
# a (doc, window-end) groupBy after a w-way offset explode — O(w) rows
# per gram with w a small constant, shuffled by (doc, e), never a global
# sort.  Partial leading windows (e < w) are included on both engines.


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, pos, fp): the winnowed fingerprint set per document."""
    toks = tokens_expr(F.col(text_col))
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("long").alias("doc_id"), toks.alias("t")
    )
    n = F.greatest(F.size("t") - F.lit(k - 1), F.lit(1))
    grams = base.select(
        "doc_id",
        n.alias("nmax"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, k)),
            )
        ).alias("pos0", "gram"),
    ).select(
        "doc_id",
        "nmax",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long").alias("fp"),
    )
    windows = (
        grams.select(
            "doc_id",
            "pos",
            "fp",
            F.explode(F.sequence(F.lit(0), F.lit(w - 1))).alias("off"),
            "nmax",
        )
        .withColumn("e", F.col("pos") + F.col("off"))
        .filter(F.col("e") <= F.col("nmax"))
    )
    win = Window.partitionBy("doc_id", "e").orderBy(
        F.col("fp").asc(), F.col("pos").desc()
    )
    return (
        windows.withColumn("_r", F.row_number().over(win))
        .filter(F.col("_r") == 1)
        .select("doc_id", "pos", "fp")
        .distinct()
    )


def winnow_pairs_sql(
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = tokens_sql(text_col)
    return f"""
    WITH base AS (
        SELECT CAST({id_col} AS BIGINT) AS doc_id, {toks} AS t
        FROM {table} WHERE {text_col} IS NOT NULL
    ),
    grams AS (
        SELECT doc_id,
               greatest(len(t) - {k - 1}, 1) AS nmax,
               i.i AS pos,
               CAST(('0x' || substr(md5(array_to_string(list_slice(t, i.i, i.i + {k - 1}), ' ')), 1, 8)) AS BIGINT) AS fp
        FROM base,
             UNNEST(generate_series(1, greatest(len(t) - {k - 1}, 1))) AS i(i)
    ),
    wins AS (
        SELECT doc_id, pos, fp,
               row_number() OVER (
                   PARTITION BY doc_id, pos + o.o
                   ORDER BY fp ASC, pos DESC
               ) AS r
        FROM grams, UNNEST(generate_series(0, {w - 1})) AS o(o)
        WHERE pos + o.o <= nmax
    ),
    fps AS (SELECT DISTINCT doc_id, pos, fp FROM wins WHERE r = 1)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM (SELECT DISTINCT doc_id, fp FROM fps) a
    JOIN (SELECT DISTINCT doc_id, fp FROM fps) b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT a.fp) >= {min_shared}
    """


def winnow_pairs(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing >= min_shared winnowed fingerprints — the
    MOSS match report.  Fingerprint sets are ~2/(w+1) of the gram count,
    so the pair join runs over the THINNED stream (AQE handles hot
    boilerplate fingerprints, same argument as the LSH band join)."""
    fps = winnow_fingerprints(docs, k, w, text_col, id_col).select(
        "doc_id", "fp"
    ).distinct()
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        # fps is .distinct() on (doc_id, fp) above, so every (doc_a,
        # doc_b, fp) triple out of the equi-join is unique and a plain
        # count equals countDistinct — without the distinct-aggregate
        # expand/two-phase machinery (guide §2.3: cheaper aggregate,
        # same bytes shuffled, same result)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
