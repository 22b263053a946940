"""Ranked retrieval + eval-set decontamination over the documents table.

Training-data-pipeline operators beyond the reference's own surface (the
reference is a raster catalog; a 100 TB text corpus needs these next to the
dedup/similarity family):

* **BM25 top-k** — classic Okapi BM25 (Robertson/Spärck Jones; the Lucene
  ``k1``/``b`` parametrization) as a pure DataFrame plan: tokenize ->
  explode -> filter to query terms (BEFORE any shuffle, so the shuffled
  volume is per-query-term postings, not the corpus) -> per-(doc, term)
  tf -> per-term df -> idf-weighted sum per doc -> top-k.  Two real
  shuffles (doc-term agg, per-doc sum); corpus stats (N, avgdl) ride a
  broadcast cross join of a 1-row aggregate.
* **Decontamination** — flag training documents sharing any word-level
  n-gram with an eval/benchmark set (the standard 8-13-gram overlap test
  used for LLM train/test hygiene).  Shingles are exploded distinct per
  side; the eval side is tiny by construction and broadcast, so the check
  is a map-side hash join at any corpus size — never a cross join.

Both have exact DuckDB oracle twins (no sketching, no RNG).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocube_spark.session import checkpoint

# ------------------------------------------------------------- tokenization
# One canonical tokenization shared by engine and oracle: lowercase, every
# non-alphanumeric run -> single space, trim, split.  Matching DuckDB SQL in
# tokens_sql().


def tokens_expr(col: Column) -> Column:
    cleaned = F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))
    return F.filter(F.split(cleaned, " "), lambda t: t != "")


def tokens_sql(c: str) -> str:
    cleaned = f"trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"
    return f"list_filter(string_split({cleaned}, ' '), t -> t != '')"


def ngrams_expr(toks: Column, n: int) -> Column:
    """Word-level n-gram strings (space-joined) of a token array — NOT
    deduplicated (callers that need set semantics dedup downstream, e.g.
    count_distinct after a join: per-array ``array_distinct`` on strings
    is an order of magnitude slower than the aggregate).  Empty when the
    document has fewer than ``n`` tokens; the sequence is guarded because
    Spark's ``sequence(1, 0)`` would count DOWN.

    ``toks`` should be a projected ATTRIBUTE, not an inline expression —
    see decontamination_overlap's plan-shape notes."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(F.size(toks) >= n, make).otherwise(F.array().cast("array<string>"))


def ngrams_sql(toks: str, n: int) -> str:
    # DuckDB range(a, b) is end-exclusive and empty when b <= a; t[i:j] is
    # 1-based inclusive slicing -> t[i : i+n-1] is n tokens.
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(({toks})[i : i + {n - 1}], ' ')))"
    )


# ------------------------------------------------------------------- BM25


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k documents for a bag-of-terms query.

    Plan shape (the thing that must hold at 100 TB):
      1. tokenize + explode, then ``term IN query`` is applied MAP-SIDE —
         the first shuffle only carries the postings of the query's terms;
      2. ``groupBy(doc, term)`` computes tf and carries the doc length, so
         no separate doc-length join is needed;
      3. per-term document frequency is a second, tiny aggregation over the
         postings (rows = matching docs × query terms), joined back by
         broadcast;
      4. corpus stats (N, avgdl) are a single 1-row aggregate broadcast
         into the scoring expression;
      5. final per-doc sum + global top-k (TakeOrderedAndProject).

    idf uses the Lucene form ``ln(1 + (N - df + 0.5) / (df + 0.5))`` which
    is always positive.  Scores are rounded to 4 dp and ranked with
    ``(score DESC, doc_id)`` so the top-k frontier is engine-independent.
    """
    scored = bm25_scores(docs, query_terms, k1, b, id_col, text_col)
    return scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc BM25 scores for every document matching >= 1 query term —
    the unranked core of :func:`bm25_topk`, reused by the RRF fusion."""
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # two consumers (corpus stats and the postings explode) — tokenize
    # once, not per subtree (see _bigram_streams)
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_expr(F.col(text_col)).alias("toks")
        )
        .select("doc_id", "toks", F.size("toks").alias("dl"))
        .transform(checkpoint, lazy=True)
    )

    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    postings = (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    df_per_term = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        postings.join(F.broadcast(df_per_term), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 4).alias("score"))
    )
    return scored


def hybrid_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = 15,
    n_list: int = 100,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval via Reciprocal Rank Fusion
    (Cormack et al. 2009, the standard public fusion rule):

        rrf(d) = sum_lists 1 / (k_rrf + rank_list(d))

    over the BM25 top-``n_list`` and the cosine top-``n_list`` — a doc
    absent from one list simply contributes nothing for it.  This is the
    list-fusion form (NOT full-corpus ranking), which is exactly what
    scales: each side is a TakeOrderedAndProject over its own scorer (at
    production scale the semantic side comes from the IVF/LSH index's
    top-N), and the fusion join touches <= 2·n_list rows.  Ranks are made
    engine-independent by rounding each side's score (4 dp BM25 / 6 dp
    cosine) and tie-breaking on doc id.

    Assumes doc ids and embedding ids share the key space (``vec_id`` ==
    ``doc_id`` — the documents/embeddings fixture contract).
    """
    from pyspark.sql import Window

    from geocube_spark.functions.vectors import cosine_expr

    bm = bm25_scores(docs, query_terms, id_col=id_col, text_col=text_col)
    w_bm = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    bm_top = (
        bm.orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(n_list)
        .withColumn("r_lex", F.row_number().over(w_bm))
        .select("doc_id", "r_lex")
    )
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    cos = embeddings.select(
        F.col(vec_id_col).alias("doc_id"),
        F.round(cosine_expr(F.col(vec_col), qv), 6).alias("cs"),
    )
    w_cos = Window.orderBy(F.col("cs").desc(), F.col("doc_id"))
    cos_top = (
        cos.orderBy(F.col("cs").desc(), F.col("doc_id"))
        .limit(n_list)
        .withColumn("r_sem", F.row_number().over(w_cos))
        .select("doc_id", "r_sem")
    )
    fused = (
        bm_top.join(cos_top, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(k_rrf) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(k_rrf) + F.col("r_sem")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
            # rank 0 = absent from that list (ranks are 1-based) — a
            # non-null sentinel keeps the cross-engine compare int-typed
            F.coalesce(F.col("r_lex"), F.lit(0)).alias("r_lex"),
            F.coalesce(F.col("r_sem"), F.lit(0)).alias("r_sem"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id")).limit(k)


def hybrid_rrf_sql(
    query_terms: list[str],
    k: int = 15,
    n_list: int = 100,
    k_rrf: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    from geocube_spark.functions.vectors import cosine_sql

    bm_core = bm25_topk_sql(query_terms, k=n_list, k1=k1, b=b)
    return f"""
    WITH bm_list AS ({bm_core}),
    bm_top AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
      FROM bm_list
    ),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE))
                   AS embedding FROM embeddings),
    q0 AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             round({cosine_sql('e.embedding', 'q0.qv')}, 6) AS cs
      FROM e, q0
    ),
    cos_top AS (
      SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS r_sem
      FROM (SELECT * FROM cos ORDER BY cs DESC, doc_id LIMIT {n_list})
    ),
    fused AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             round(COALESCE(1.0 / ({k_rrf} + b.r_lex), 0)
                   + COALESCE(1.0 / ({k_rrf} + c.r_sem), 0), 6) AS rrf_score,
             b.r_lex AS r_lex, c.r_sem AS r_sem
      FROM bm_top b FULL OUTER JOIN cos_top c ON b.doc_id = c.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, rrf_score,
           CAST(COALESCE(r_lex, 0) AS INT) AS r_lex,
           CAST(COALESCE(r_sem, 0) AS INT) AS r_sem
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {k}
    """


def bm25_topk_sql(
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # quote-double for SQL string literals; terms come from tokens_expr's
    # alphabet in practice, but the oracle string must never be injectable
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms)
    toks = tokens_sql(text_col)
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id, {toks} AS t FROM {table}
    ),
    lens AS (SELECT doc_id, len(t) AS dl, t FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    postings AS (
      SELECT doc_id, u.term AS term, count(*) AS tf, any_value(dl) AS dl
      FROM lens, UNNEST(t) AS u(term)
      WHERE u.term IN ({in_list})
      GROUP BY doc_id, u.term
    ),
    dfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term)
    SELECT doc_id,
           round(sum(
             ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * (postings.tf * ({k1} + 1))
             / (postings.tf + {k1} * (1 - {b} + {b} * postings.dl / stats.avgdl))
           ), 4) AS score
    FROM postings, dfreq, stats
    WHERE postings.term = dfreq.term
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT {k}
    """


# ------------------------------------------------------------ chunking / LM


def document_chunks(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-style chunking: overlapping token windows of ``chunk_tokens``
    with ``overlap`` tokens carried between consecutive chunks.

    Chunk starts are 0, s, 2s, ... with stride s = chunk_tokens - overlap;
    the last window is the first one reaching the end of the document (no
    degenerate tail chunks).  Pure map-side work — tokenize, compute the
    start sequence, slice — no shuffle at all; the output order key is
    (doc_id, chunk_idx).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    base = docs.select(
        F.col(id_col).alias("doc_id"), tokens_expr(F.col(text_col)).alias("t")
    )
    # number of chunks: 1 + ceil(max(len - chunk, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(F.size("t") - chunk_tokens, F.lit(0)) / F.lit(stride)
    ).cast("int")
    chunked = base.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.struct(
                    i.alias("chunk_idx"),
                    F.concat_ws(
                        " ", F.slice("t", i * stride + 1, chunk_tokens)
                    ).alias("chunk_text"),
                ),
            )
        ).alias("c"),
    )
    return chunked.select(
        "doc_id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        "n_tokens",
    )


def document_chunks_sql(
    chunk_tokens: int = 64,
    overlap: int = 16,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    stride = chunk_tokens - overlap
    toks = tokens_sql(text_col)
    return f"""
    WITH base AS (SELECT {id_col} AS doc_id, {toks} AS t FROM {table}),
    lens AS (
      SELECT doc_id, t, len(t) AS n_tokens,
             1 + CAST(ceil(greatest(len(t) - {chunk_tokens}, 0) / {stride}.0) AS INT) AS nc
      FROM base
    )
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS chunk_idx,
           array_to_string(t[u.i * {stride} + 1 : u.i * {stride} + {chunk_tokens}], ' ') AS chunk_text,
           n_tokens
    FROM lens, UNNEST(range(0, nc)) AS u(i)
    """


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM quality score: mean negative log-probability of each
    document's tokens under the corpus's own unigram distribution (the
    cheap stand-in for perplexity-based quality filtering).

    Two aggregations: corpus term frequencies (shuffle by term — the only
    real shuffle), then a broadcast join of the term-logprob table back
    onto the exploded token stream and a per-doc mean.  The vocabulary is
    orders of magnitude smaller than the corpus, so the logprob table
    broadcasts at any corpus size; laplace-free MLE is exact because every
    scored token was observed (it came from the same corpus).
    """
    # two consumers (the tf aggregate and the scoring join) — tokenize
    # once, not per subtree (see _bigram_streams).  The checkpoint sits on
    # the per-doc token ARRAYS, not the exploded stream: caching the
    # explode output is bigger than the corpus and measured slower.
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens_expr(F.col(text_col)).alias("t")
    ).transform(checkpoint, lazy=True)
    terms = toks.select("doc_id", F.explode("t").alias("term"))
    tf = terms.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    total = tf.agg(F.sum("tf").alias("total"))
    logp = tf.crossJoin(F.broadcast(total)).select(
        "term", (F.log(F.col("tf")) - F.log(F.col("total"))).alias("logp")
    )
    return (
        terms.join(F.broadcast(logp), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("mean_nll"),
        )
    )


def unigram_logprob_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    toks = tokens_sql(text_col)
    return f"""
    WITH base AS (SELECT {id_col} AS doc_id, {toks} AS t FROM {table}),
    terms AS (SELECT doc_id, u.term AS term FROM base, UNNEST(t) AS u(term)),
    tf AS (SELECT term, count(*) AS tf FROM terms GROUP BY term),
    tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tf),
    logp AS (SELECT term, ln(tf) - ln(total) AS logp FROM tf, tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(-avg(logp), 4) AS mean_nll
    FROM terms JOIN logp USING (term)
    GROUP BY doc_id
    """


def perplexity_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style quality partition (Wenzek et al. 2020): score every
    document with a language model, order by perplexity, and cut the
    corpus into equal head/middle/tail buckets — head being the third of
    the corpus the LM finds most natural, the slice CCNet keeps for
    training data.

    The scorer is the corpus-trained unigram LM (:func:`unigram_logprob`
    — mean NLL per doc, the cheap stand-in for a KenLM); the cut is
    ntile over (mean_nll, doc_id), fully deterministic.  Output: one row
    per bucket with its document count and NLL range.

    Scale: the ntile is computed by :func:`distributed_rank` — a
    range-repartitioned EXACT global rank (the only sequential window runs
    over the n_partitions-row offset dim) plus the closed-form ntile
    formula, so nothing doc-sized ever funnels through one task.  The
    literal ``ntile() OVER (ORDER BY ...)`` twin
    (:func:`perplexity_buckets_exact_window`) and the epsilon-tolerant
    sketch-threshold variant (:func:`perplexity_bucket_assign`) both
    agreement-test against it.
    """
    nll = unigram_logprob(docs, id_col=id_col, text_col=text_col)
    ranked = distributed_rank(nll, ["mean_nll", "doc_id"])
    return _bucketize_ranked(ranked, n_buckets)


def distributed_rank(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """EXACT global rank without a single-task window.

    Plan: range-repartition on the (strict) total order, add per-partition
    offsets from a PARTITION-COUNT-sized dim (the only sequential window
    runs over n_partitions rows), then a PARTITIONED row_number.  The rank
    is invariant to where the range boundaries fall, so the range
    partitioner's sampling never changes the answer — but the partitioning
    must be computed ONCE (counts and ranks must see the same boundaries),
    hence the eager localCheckpoint (Spark does not reuse exchanges across
    two actions of a nondeterministically-partitioned plan).

    Appends ``rnk`` (1-based, dense over the whole frame) and ``n`` (total
    rows).  The order must be a strict total order (include a tiebreaker
    column) or ties may straddle partition boundaries inconsistently.
    """
    from pyspark.sql import Window

    part = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .transform(checkpoint)
    )
    counts = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_pid",
        F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    w_in = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        part.join(F.broadcast(offsets), "_pid")
        .withColumn("rnk", F.col("_off") + F.row_number().over(w_in))
        .drop("_pid", "_off")
    )


def _bucketize_ranked(ranked: DataFrame, n_buckets: int) -> DataFrame:
    """Closed-form SQL ntile from (rnk, n): the first n%k buckets hold
    ceil(n/k) rows, the rest floor(n/k) — identical to ntile(k) OVER the
    same total order, bit-for-bit."""
    labels = _bucket_labels(n_buckets)
    k = n_buckets
    q = F.floor(F.col("n") / k)
    r = F.col("n") - k * q
    head = r * (q + 1)  # rows living in the ceil-sized buckets
    bucket_i = F.when(
        F.col("rnk") <= head, F.ceil(F.col("rnk") / (q + 1))
    ).otherwise(r + F.ceil((F.col("rnk") - head) / F.greatest(q, F.lit(1))))
    lab = F.element_at(F.array(*[F.lit(x) for x in labels]), bucket_i.cast("int"))
    return (
        ranked.withColumn("bucket", lab)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.min("mean_nll"), 4).alias("min_nll"),
            F.round(F.max("mean_nll"), 4).alias("max_nll"),
            F.round(F.avg("mean_nll"), 4).alias("avg_nll"),
        )
    )


def perplexity_buckets_exact_window(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The literal single-window ntile (the agreement-test twin of
    :func:`perplexity_buckets`): correct but funnels every doc-level row
    through ONE task — never register this as a query; it exists to pin
    the distributed-rank path bit-for-bit."""
    from pyspark.sql import Window

    labels = _bucket_labels(n_buckets)
    nll = unigram_logprob(docs, id_col=id_col, text_col=text_col)
    w = Window.orderBy("mean_nll", "doc_id")
    lab = F.element_at(
        F.array(*[F.lit(x) for x in labels]), F.ntile(n_buckets).over(w)
    )
    return (
        nll.withColumn("bucket", lab)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.min("mean_nll"), 4).alias("min_nll"),
            F.round(F.max("mean_nll"), 4).alias("max_nll"),
            F.round(F.avg("mean_nll"), 4).alias("avg_nll"),
        )
    )


def _bucket_labels(n_buckets: int) -> list[str]:
    if n_buckets == 3:
        return ["head", "middle", "tail"]
    return [f"b{i}" for i in range(1, n_buckets + 1)]


def perplexity_buckets_sql(
    table: str = "documents",
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    labels = _bucket_labels(n_buckets)
    arr = "[" + ", ".join(f"'{x}'" for x in labels) + "]"
    return f"""
    WITH nll AS ({unigram_logprob_sql(table, id_col, text_col)}),
    tiled AS (
        SELECT mean_nll,
               {arr}[ntile({n_buckets}) OVER (ORDER BY mean_nll, doc_id)]
                   AS bucket
        FROM nll
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(mean_nll), 4) AS min_nll,
           round(max(mean_nll), 4) AS max_nll,
           round(avg(mean_nll), 4) AS avg_nll
    FROM tiled
    GROUP BY bucket
    """


def perplexity_bucket_assign(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    accuracy: int = 10_000,
) -> DataFrame:
    """The 100 TB path for :func:`perplexity_buckets`: cut points from
    ``approx_percentile`` (mergeable KLL-style sketch, map-side combine,
    no global sort) broadcast back onto the doc stream as a stateless
    comparison.  Returns the per-document assignment (doc_id, mean_nll,
    bucket); bucket boundaries can differ from the exact ntile cut by
    the sketch epsilon, which is the documented trade."""
    labels = _bucket_labels(n_buckets)
    nll = unigram_logprob(docs, id_col=id_col, text_col=text_col)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = nll.agg(
        F.percentile_approx(
            "mean_nll", F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)
        ).alias("cuts")
    )
    joined = nll.crossJoin(F.broadcast(cuts))
    bucket_i = F.aggregate(
        F.col("cuts"),
        F.lit(1),
        lambda acc, c: acc + F.when(F.col("mean_nll") > c, 1).otherwise(0),
    )
    lab = F.element_at(F.array(*[F.lit(x) for x in labels]), bucket_i)
    return joined.select("doc_id", "mean_nll", lab.alias("bucket"))


def nb_lang_confusion(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Model-based language ID: a multinomial Naive Bayes classifier with
    Laplace smoothing, trained on the labelled corpus and evaluated on it
    (the fastText-langid stand-in — same bag-of-words linear model family,
    exact closed form so the oracle can recompute it bit-for-bit).

    Plan: ONE shuffle of (term, label) counts trains the model; the
    per-class log-likelihood table (vocab x n_classes, orders smaller
    than the corpus — same argument as unigram_logprob) broadcasts back
    onto the token stream crossed with the tiny class dim; scoring is a
    per-doc sum and the argmin is a PARTITIONED window over n_classes
    rows per doc (never a global sort).  The decision is taken on the
    6-dp-ROUNDED negative score in both engines so a last-ulp summation
    difference cannot flip the argmax; ties break to the first class
    name.  Returns the confusion matrix (actual, predicted, n_docs).
    """
    from pyspark.sql import Window

    # toks feeds the class priors AND the term stream, which itself feeds
    # FOUR distinct aggregates (ctc, ctot, vocab) plus the scoring stream.
    # A lazy checkpoint on the per-doc token ARRAYS tokenizes ONCE — the
    # first broadcast build materializes it — instead of once per consumer
    # subtree (exchange reuse only covers identical subplans).  The cheap
    # explode re-runs per consumer over the cache; caching the exploded
    # stream instead measured slower (it is bigger than the corpus).  All
    # shared tables are integer counts, so the model is value-identical.
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).alias("actual"),
            tokens_expr(F.col(text_col)).alias("t"),
        )
        .filter(F.size("t") > 0)
        .transform(checkpoint, lazy=True)
    )
    terms = toks.select("doc_id", "actual", F.explode("t").alias("term"))

    n_docs = toks.groupBy("actual").agg(F.count(F.lit(1)).alias("n_c"))
    total = toks.agg(F.count(F.lit(1)).cast("double").alias("n"))
    classes = (
        n_docs.crossJoin(F.broadcast(total))
        .select(
            F.col("actual").alias("cls"),
            (F.log("n_c") - F.log("n")).alias("logprior"),
        )
    )
    ctc = terms.groupBy("term", "actual").agg(F.count(F.lit(1)).alias("c"))
    ctot = terms.groupBy("actual").agg(F.count(F.lit(1)).alias("tot_c"))
    vocab = terms.agg(F.countDistinct("term").cast("double").alias("v"))

    stream = (
        terms.select("doc_id", "actual", "term")
        .crossJoin(F.broadcast(classes.select("cls")))
        .join(
            F.broadcast(ctc.withColumnRenamed("actual", "cls")),
            ["term", "cls"],
            "left",
        )
        .join(F.broadcast(ctot.withColumnRenamed("actual", "cls")), "cls")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "actual",
            "cls",
            (
                F.log(F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                - F.log(F.col("tot_c") + F.col("v"))
            ).alias("ll"),
        )
    )
    scored = (
        stream.groupBy("doc_id", "actual", "cls")
        .agg(F.sum("ll").alias("sll"))
        .join(F.broadcast(classes), "cls")
        .select(
            "doc_id",
            "actual",
            "cls",
            F.round(-(F.col("sll") + F.col("logprior")), 6).alias("nscore"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("nscore").asc(), F.col("cls").asc())
    pred = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("doc_id", "actual", F.col("cls").alias("predicted"))
    )
    return pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def nb_lang_confusion_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
) -> str:
    toks = tokens_sql(text_col)
    return f"""
    WITH base AS (
        SELECT {id_col} AS doc_id, {label_col} AS actual, {toks} AS t
        FROM {table}
    ),
    nonempty AS (SELECT * FROM base WHERE len(t) > 0),
    terms AS (
        SELECT doc_id, actual, u.term AS term
        FROM nonempty, UNNEST(t) AS u(term)
    ),
    classes AS (
        SELECT actual AS cls,
               ln(count(*)) - ln((SELECT CAST(count(*) AS DOUBLE) FROM nonempty))
                   AS logprior
        FROM nonempty GROUP BY actual
    ),
    ctc AS (SELECT term, actual AS cls, count(*) AS c FROM terms GROUP BY term, actual),
    ctot AS (SELECT actual AS cls, count(*) AS tot_c FROM terms GROUP BY actual),
    vocab AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM terms),
    stream AS (
        SELECT t.doc_id, t.actual, k.cls,
               ln(COALESCE(x.c, 0) + 1.0) - ln(ct.tot_c + vocab.v) AS ll
        FROM terms t
        CROSS JOIN (SELECT cls FROM classes) k
        LEFT JOIN ctc x ON x.term = t.term AND x.cls = k.cls
        JOIN ctot ct ON ct.cls = k.cls
        CROSS JOIN vocab
    ),
    scored AS (
        SELECT s.doc_id, s.actual, s.cls,
               round(-(sum(s.ll) + any_value(c.logprior)), 6) AS nscore
        FROM stream s JOIN classes c ON c.cls = s.cls
        GROUP BY s.doc_id, s.actual, s.cls
    ),
    pred AS (
        SELECT doc_id, actual, cls AS predicted
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY nscore ASC, cls ASC
            ) AS r
            FROM scored
        ) WHERE r = 1
    )
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY actual, predicted
    """


def _bigram_streams(docs, id_col: str, text_col: str):
    """Shared LM-prep: (toks, uni, total, bi_stream, bi, first) — the
    tokenized docs, unigram/bigram count tables, the positional bigram
    stream, and the unigram-scored first-token rows.  ONE definition keeps
    the JM and Kneser-Ney scorers training on the identical streams.

    The token frame feeds THREE distinct subtrees (unigram counts, the
    bigram stream, the first-token scorer), and Catalyst's exchange reuse
    only dedupes identical subplans — so un-checkpointed, the tokenizer
    kernel ran once per subtree.  A lazy localCheckpoint (the shingle-set
    sharing pattern from the jaccard/minhash family) tokenizes once; the
    first consumer materializes it and the rest read the cache.  Count
    tables stay exact integers, so the model is value-identical."""
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"), tokens_expr(F.col(text_col)).alias("t")
        )
        .filter(F.size("t") > 0)
        .transform(checkpoint, lazy=True)
    )
    pos = toks.select("doc_id", F.posexplode("t").alias("i", "term"))
    uni = pos.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    total = uni.agg(F.sum("c1").cast("double").alias("n_total"))
    bi_stream = toks.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
            )
        ).alias("i", "bg"),
    ).select("doc_id", F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur"))
    bi = bi_stream.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    first = (
        toks.select("doc_id", F.element_at("t", 1).alias("term"))
        .join(uni, "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (F.log(F.col("c1")) - F.log("n_total")).alias("lp"))
    )
    return toks, uni, total, bi_stream, bi, first


def _bigram_cte_prefix(table: str, id_col: str, text_col: str) -> str:
    """The matching DuckDB CTE prefix (base/terms/uni/tot/bi_stream/bi/
    first_tok) shared by both LM oracles."""
    toks = tokens_sql(text_col)
    return f"""base AS (
      SELECT {id_col} AS doc_id, {toks} AS t FROM {table}
    ),
    nonempty AS (SELECT * FROM base WHERE len(t) > 0),
    terms AS (SELECT doc_id, u.term AS term FROM nonempty, UNNEST(t) AS u(term)),
    uni AS (SELECT term, count(*) AS c1 FROM terms GROUP BY term),
    tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS n_total FROM uni),
    bi_stream AS (
      SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
      FROM nonempty, UNNEST(range(1, len(t))) AS u(i)
    ),
    bi AS (SELECT prev, cur, count(*) AS c2 FROM bi_stream GROUP BY prev, cur),
    first_tok AS (
      SELECT doc_id, ln(c1) - ln(n_total) AS lp
      FROM (SELECT doc_id, t[1] AS term FROM nonempty) f
      JOIN uni USING (term), tot
    )"""


def bigram_logprob(
    docs: DataFrame,
    lam: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated-bigram-LM quality score: mean negative log-probability
    of each document's token stream under the corpus's own Jelinek–Mercer
    smoothed bigram model

        p(w_i | w_{i-1}) = lam * c(w_{i-1} w_i)/c(w_{i-1})
                           + (1-lam) * c(w_i)/N

    — the next step up from :func:`unigram_logprob` toward the KenLM-style
    perplexity filters used in CCNet/RedPajama corpus curation.  The first
    token of every document is scored by the unigram back-off alone (no
    left context).

    Shuffle shape: one groupBy over bigram keys and one over unigram keys
    (both map-side-combined counts — O(distinct n-grams) rows, never the
    corpus), then the model joins back onto the exploded bigram stream on
    the bigram key.  The bigram model table can rival the corpus vocabulary
    squared, so it is NOT forced broadcast — Catalyst/AQE picks sort-merge
    when it is big; the unigram table is vocabulary-sized and broadcasts.
    Everything is expressible as exact MLE counts, so the DuckDB oracle
    recomputes it bit-for-bit (no sketching, no RNG).
    """
    _toks, uni, total, bi_stream, bi, first = _bigram_streams(
        docs, id_col, text_col
    )
    ctx = uni.select(F.col("term").alias("prev"), F.col("c1").alias("c_prev"))
    scored = (
        bi_stream.join(bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(
            F.broadcast(
                uni.select(F.col("term").alias("cur"), F.col("c1").alias("c_cur"))
            ),
            "cur",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.log(
                F.lit(lam) * F.col("c2") / F.col("c_prev")
                + F.lit(1.0 - lam) * F.col("c_cur") / F.col("n_total")
            ).alias("lp"),
        )
    )
    return (
        first.unionByName(scored)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.round(-F.avg("lp"), 4).alias("mean_nll"),
        )
    )


def bigram_logprob_sql(
    table: str = "documents",
    lam: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    prefix = _bigram_cte_prefix(table, id_col, text_col)
    return f"""
    WITH {prefix},
    scored AS (
      SELECT s.doc_id,
             ln({lam} * b.c2 / up.c1 + {1.0 - lam} * uc.c1 / tot.n_total) AS lp
      FROM bi_stream s
      JOIN bi b ON s.prev = b.prev AND s.cur = b.cur
      JOIN uni up ON up.term = s.prev
      JOIN uni uc ON uc.term = s.cur
      CROSS JOIN tot
    ),
    allx AS (SELECT * FROM first_tok UNION ALL SELECT * FROM scored)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_scored,
           round(-avg(lp), 4) AS mean_nll
    FROM allx
    GROUP BY doc_id
    """


def kneser_ney_logprob(
    docs: DataFrame,
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    smoothing KenLM defaults to) — the proper counterpart to the
    Jelinek–Mercer :func:`bigram_logprob`:

        p(w | u) = max(c(uw) - D, 0) / c(u·)  +  lam(u) · p_cont(w)
        lam(u)   = D · N1+(u·) / c(u·)
        p_cont(w)= N1+(·w) / N1+(··)

    with c(u·) the left-context total, N1+ the distinct-continuation
    counts, D = ``discount``.  First tokens (no left context) are scored
    by the corpus unigram MLE, as in :func:`bigram_logprob`.  Trained and
    scored on the same corpus, every scored bigram has c(uw) >= 1, so the
    first term keeps the log finite for D < 1.

    Same shuffle budget as the JM scorer: n-gram count aggregations
    (map-side combined) + a join back on the bigram key; the context and
    continuation tables are vocabulary-sized; all counts are integers so
    the DuckDB oracle recomputes the identical model.
    """
    D = float(discount)
    _toks, uni, total, bi_stream, bi, first = _bigram_streams(
        docs, id_col, text_col
    )
    ctx = bi.groupBy("prev").agg(
        F.sum("c2").alias("c_u"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = bi.groupBy("cur").agg(F.count(F.lit(1)).alias("n1p_back"))
    n_bi = bi.agg(F.count(F.lit(1)).cast("double").alias("n_bi"))
    scored = (
        bi_stream.join(bi, ["prev", "cur"])
        .join(ctx, "prev")
        .join(cont, "cur")
        .crossJoin(F.broadcast(n_bi))
        .select(
            "doc_id",
            F.log(
                F.greatest(F.col("c2") - D, F.lit(0.0)) / F.col("c_u")
                + (D * F.col("n1p_fwd") / F.col("c_u"))
                * (F.col("n1p_back") / F.col("n_bi"))
            ).alias("lp"),
        )
    )
    return (
        first.unionByName(scored)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.round(-F.avg("lp"), 4).alias("mean_nll"),
        )
    )


def kneser_ney_logprob_sql(
    table: str = "documents",
    discount: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    prefix = _bigram_cte_prefix(table, id_col, text_col)
    return f"""
    WITH {prefix},
    ctx AS (SELECT prev, CAST(sum(c2) AS DOUBLE) AS c_u, count(*) AS n1p_fwd
            FROM bi GROUP BY prev),
    cont AS (SELECT cur, count(*) AS n1p_back FROM bi GROUP BY cur),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_bi FROM bi),
    scored AS (
      SELECT s.doc_id,
             ln(greatest(b.c2 - {discount}, 0) / x.c_u
                + ({discount} * x.n1p_fwd / x.c_u) * (k.n1p_back / nb.n_bi)) AS lp
      FROM bi_stream s
      JOIN bi b ON s.prev = b.prev AND s.cur = b.cur
      JOIN ctx x ON x.prev = s.prev
      JOIN cont k ON k.cur = s.cur
      CROSS JOIN nb
    ),
    allx AS (SELECT * FROM first_tok UNION ALL SELECT * FROM scored)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_scored,
           round(-avg(lp), 4) AS mean_nll
    FROM allx
    GROUP BY doc_id
    """


# ---------------------------------------------------------- decontamination


def decontamination_overlap(
    docs: DataFrame,
    eval_pred: Column,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/eval n-gram contamination: for each (train doc, eval doc) pair
    sharing at least one word-level ``n``-gram, the count of distinct shared
    n-grams.

    The eval side is small by definition (a benchmark suite, not a corpus),
    so its exploded shingles are broadcast and the overlap check is a
    map-side hash join against the train shingle stream — the train corpus
    is never shuffled by shingle.  ``count_distinct`` in the final (tiny)
    aggregation gives the distinct-overlap count without a per-document
    ``array_distinct`` pass.

    Plan-shape notes (both found the hard way, each worth ~10x here):

    * each side FILTERS first and then explodes the inline n-gram
      expression — naming the gram array as a column with a filter above
      it lets ``InferFiltersFromGenerate`` + filter pushdown substitute
      the whole tokenize+shingle expression into a pushed-down
      ``size(...) > 0`` filter, evaluating it twice more per row;
    * the token array is materialized as a projection ATTRIBUTE before
      the gram transform references it (4 references) — Catalyst's
      subexpression elimination does not reach inside higher-order-
      function lambdas, so inlining the tokenizer there re-tokenizes
      per reference.
    """

    def side(pred: Column, alias: str) -> DataFrame:
        toks = docs.filter(pred).select(
            F.col(id_col).alias(alias), tokens_expr(F.col(text_col)).alias("t")
        )
        return toks.select(alias, F.explode(ngrams_expr(F.col("t"), n)).alias("g"))

    train = side(~eval_pred, "train_doc_id")
    ev = side(eval_pred, "eval_doc_id")
    return (
        train.join(F.broadcast(ev), "g")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count_distinct("g").cast("long").alias("n_shared"))
    )


def decontamination_overlap_sql(
    eval_pred_sql: str,
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    grams = ngrams_sql(tokens_sql(text_col), n)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id, {grams} AS grams, ({eval_pred_sql}) AS is_eval
      FROM {table}
    ),
    train AS (
      SELECT doc_id AS train_doc_id, unnest(grams) AS g FROM base WHERE NOT is_eval
    ),
    ev AS (
      SELECT doc_id AS eval_doc_id, unnest(grams) AS g FROM base WHERE is_eval
    )
    SELECT train_doc_id, eval_doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM train JOIN ev USING (g)
    GROUP BY train_doc_id, eval_doc_id
    """
