"""Distributed byte-pair-encoding (BPE) subword training over the corpus.

The classic Sennrich et al. 2016 algorithm, re-expressed Spark-first:

* The corpus collapses ONCE into the word-frequency table (the only
  corpus-sized shuffle); every BPE round then runs on that vocabulary
  table — exactly how reference BPE trainers operate, but with the word
  table distributed instead of an in-memory dict.
* Each round is pure DataFrame algebra: adjacent-pair counts (explode +
  groupBy, naive adjacency counting — the standard BPE statistic), a
  deterministic argmax (count DESC, pair ASC), and a vocabulary rewrite.
* The winning pair stays IN the plan as a 1-row broadcast; the rewrite is
  a greedy left-to-right merge implemented as a string FOLD
  (``F.aggregate`` over the symbol array) — no driver collect anywhere,
  and no regex lookarounds (which DuckDB's RE2 lacks), so the oracle SQL
  replays the identical fold with ``list_reduce``.
* Lineage is cut with an eager ``localCheckpoint`` per round (the
  dedup_components discipline): without it, round i's vocabulary feeds
  both round i+1's pair counts and the rewrite, and the uncached DAG
  re-executes each prefix exponentially.

Greedy-fold correctness: the accumulator is the rewritten spaced word so
far; a merge fires only when the TAIL SYMBOL equals p1 (whole-token match
— the `` `` separator anchors the boundary) and the incoming symbol is
p2.  Because merged symbols are p1||p2 != p1 (p2 non-empty), a symbol
created this round can never re-merge, which is exactly the
non-overlapping left-to-right semantics of the reference implementation
(``'a a a'`` + pair (a,a) -> ``[aa, a]``, not ``[aaa]``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocube_spark.operators.retrieval import tokens_expr, tokens_sql
from geocube_spark.session import checkpoint


def _spaced_chars(word: Column) -> Column:
    """'abc' -> 'a b c' (the initial symbol sequence of a word)."""
    return F.trim(F.regexp_replace(word, "(.)", "$1 "))


def _greedy_merge_fold(spaced: Column, p1: Column, p2: Column) -> Column:
    """One BPE merge pass over a spaced symbol string, greedy left-to-right."""
    toks = F.split(spaced, " ")
    init = F.element_at(toks, 1)
    rest = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))

    def step(acc, x):
        tail_is_p1 = (acc == p1) | F.endswith(acc, F.concat(F.lit(" "), p1))
        merged = F.concat(
            F.substring(acc, F.lit(1), F.length(acc) - F.length(p1)), p1, p2
        )
        return F.when(tail_is_p1 & (x == p2), merged).otherwise(
            F.concat(acc, F.lit(" "), x)
        )

    return F.aggregate(rest, init, step)


def word_frequency_table(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, wc): the corpus collapsed to distinct words with counts —
    the table every BPE round iterates on.  Tokenization is the ONE
    canonical :func:`retrieval.tokens_expr` shared with BM25/LM scoring,
    so subword and word statistics never diverge."""
    return (
        docs.select(F.explode(tokens_expr(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus.  Returns one row per
    merge: (merge_rank, pair, merged, n_occurrences) in training order —
    the merges file a tokenizer ships.

    ``n_occurrences`` is the naive adjacent-pair count at selection time
    (the statistic BPE maximizes), deterministic under the
    (count DESC, pair ASC) tie-break.
    """
    vocab = word_frequency_table(docs, text_col).select(
        _spaced_chars(F.col("word")).alias("spaced"), "wc"
    )
    rounds = []
    for r in range(1, n_merges + 1):
        # cut lineage: vocab feeds BOTH this round's pair counts and the
        # rewrite; without the eager checkpoint the DAG doubles per round
        vocab = checkpoint(vocab)
        t = F.split(F.col("spaced"), " ")
        pairs = vocab.select(
            F.explode(
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("pair"),
            "wc",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("wc").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .select(
                "pair",
                "n",
                F.split("pair", " ")[0].alias("p1"),
                F.split("pair", " ")[1].alias("p2"),
            )
        )
        rounds.append(
            best.select(
                F.lit(r).alias("merge_rank"),
                "pair",
                F.concat("p1", "p2").alias("merged"),
                F.col("n").alias("n_occurrences"),
            )
        )
        vocab = vocab.crossJoin(F.broadcast(best.select("p1", "p2"))).select(
            _greedy_merge_fold(F.col("spaced"), F.col("p1"), F.col("p2")).alias(
                "spaced"
            ),
            "wc",
        )
    return reduce(lambda a, b: a.unionByName(b), rounds)


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a LEARNED merge list (the inference side of
    BPE): per word, apply each merge in training order via the same greedy
    fold.  ``merges`` is a bounded artifact (a tokenizer's merges file —
    thousands of rows), so it travels as plan literals; the corpus is
    scanned once, zero shuffles.

    Returns (doc_id, tokens array<string>, n_tokens).
    """
    toks = tokens_expr(F.col(text_col))

    def merge_word(w: Column) -> Column:
        s = _spaced_chars(w)
        for p1, p2 in merges:
            s = _greedy_merge_fold(s, F.lit(p1), F.lit(p2))
        return s

    out_tokens = F.flatten(
        F.transform(toks, lambda w: F.split(merge_word(w), " "))
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        out_tokens.alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens").cast("long"))


# ------------------------------------------------------------- oracle SQL


_FOLD_SQL = (
    "list_reduce(string_split(spaced, ' '), (acc, x) -> "
    "CASE WHEN (acc = p1 OR right(acc, len(p1) + 1) = ' ' || p1) AND x = p2 "
    "THEN left(acc, len(acc) - len(p1)) || p1 || p2 "
    "ELSE acc || ' ' || x END)"
)


def _bpe_train_ctes(
    n_merges: int, table: str, text_col: str
) -> str:
    """The shared training CTE block (w, v0, p_i/b_i/v_i rounds) both SQL
    twins build on — returned as a structured piece so bpe_tokenized_
    counts_sql composes it directly instead of string-splitting the
    rendered bpe_train_sql (which silently broke if that formatting ever
    changed)."""
    toks = tokens_sql(text_col)
    ctes = [
        f"""w AS (
      SELECT u.word AS word, count(*) AS wc
      FROM (SELECT {toks} AS t FROM {table}) d, UNNEST(t) AS u(word)
      GROUP BY u.word
    ),
    v0 AS (SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS spaced, wc FROM w)"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""p{i} AS (
      SELECT array_to_string(t[j : j + 1], ' ') AS pair, CAST(sum(wc) AS BIGINT) AS n
      FROM (SELECT string_split(spaced, ' ') AS t, wc FROM v{i - 1}) s,
           UNNEST(range(1, greatest(len(t) - 1, 0) + 1)) AS u(j)
      GROUP BY 1
    ),
    b{i} AS (
      SELECT pair, n, string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2
      FROM p{i} ORDER BY n DESC, pair LIMIT 1
    ),
    v{i} AS (SELECT {_FOLD_SQL} AS spaced, wc FROM v{i - 1}, b{i})"""
        )
    return ",\n    ".join(ctes)


def bpe_train_sql(
    n_merges: int = 4, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin: the same R rounds as generated nested CTEs — identical
    pair statistic, argmax tie-break, and list_reduce greedy fold."""
    union = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, pair, p1 || p2 AS merged, n AS n_occurrences FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_train_ctes(n_merges, table, text_col)}\n    {union}"


def _fold_sql(inner: str, p1: str, p2: str) -> str:
    """Parameterized greedy-merge fold over a spaced-word SQL expression
    (p1/p2 are SQL expressions for the pair symbols)."""
    return (
        f"list_reduce(string_split({inner}, ' '), (acc, x) -> "
        f"CASE WHEN (acc = {p1} OR right(acc, len({p1}) + 1) = ' ' || {p1}) "
        f"AND x = {p2} "
        f"THEN left(acc, len(acc) - len({p1})) || {p1} || {p2} "
        f"ELSE acc || ' ' || x END)"
    )


def bpe_tokenized_counts_sql(
    n_merges: int = 3,
    table: str = "documents",
    text_col: str = "text",
    group_col: str = "source",
) -> str:
    """Train + APPLY twin: the train CTEs of :func:`bpe_train_sql`, then
    every document tokenized through the learned merges (nested folds,
    innermost = char-spaced word), aggregated per ``group_col``."""
    cte_block = f"WITH {_bpe_train_ctes(n_merges, table, text_col)}"
    toks = tokens_sql(text_col)
    spaced = "trim(regexp_replace(w, '(.)', '\\1 ', 'g'))"
    expr = spaced
    for i in range(1, n_merges + 1):
        expr = _fold_sql(expr, f"m.p1_{i}", f"m.p2_{i}")
    pairs_select = ", ".join(
        f"b{i}.p1 AS p1_{i}, b{i}.p2 AS p2_{i}" for i in range(1, n_merges + 1)
    )
    pairs_from = ", ".join(f"b{i}" for i in range(1, n_merges + 1))
    return f"""{cte_block},
    m AS (SELECT {pairs_select} FROM {pairs_from}),
    docs_t AS (SELECT {group_col} AS grp, {toks} AS t FROM {table}),
    applied AS (
      SELECT grp,
             list_aggregate(
               list_transform(t, w -> len(string_split({expr}, ' '))),
               'sum') AS n_tok
      FROM docs_t, m
    )
    SELECT grp AS {group_col},
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(COALESCE(n_tok, 0)) AS BIGINT) AS total_tokens
    FROM applied GROUP BY grp ORDER BY grp"""


def bpe_subtoken_lengths(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """(word, n_sub): subword count per DISTINCT corpus word under the
    learned merges — the fold runs once per vocabulary entry, not once
    per token occurrence (vocabulary is orders of magnitude smaller than
    the corpus; this is how production tokenizers batch too)."""
    words = docs.select(
        F.explode(tokens_expr(F.col(text_col))).alias("word")
    ).distinct()
    s = _spaced_chars(F.col("word"))
    for p1, p2 in merges:
        s = _greedy_merge_fold(s, F.lit(p1), F.lit(p2))
    return words.select("word", F.size(F.split(s, " ")).alias("n_sub"))


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group post-BPE token totals: explode the token stream, join the
    broadcast per-word subtoken lengths, sum — one corpus pass, the folds
    confined to the vocabulary table."""
    lengths = bpe_subtoken_lengths(docs, merges, text_col)
    stream = docs.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_did"),
        F.explode_outer(tokens_expr(F.col(text_col))).alias("word"),
    )
    return (
        stream.join(F.broadcast(lengths), "word", "left")
        .groupBy("grp")
        .agg(
            F.count_distinct("_did").cast("long").alias("n_docs"),
            F.sum(F.coalesce("n_sub", F.lit(0))).cast("long").alias("total_tokens"),
        )
        .withColumnRenamed("grp", group_col)
        .orderBy(group_col)
    )
