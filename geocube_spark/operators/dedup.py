"""Deduplication operators over the documents table.

Five strategies, scale-ordered:

- exact: hash-groupBy on normalized text (one shuffle on a 16-byte key)
- minhash_lsh: shingle -> minhash signature -> banded buckets -> candidate
  pairs within buckets only (no O(n²) cross join) -> exact Jaccard verify
- simhash: 64-bit fingerprint, near-dups = small Hamming distance within
  prefix buckets
- ngram_jaccard: exact Jaccard via shingle explode + self-join on shingle
  (the verification oracle for the sketch-based paths)
- embedding near-dup: cosine > threshold via the similarity module

Shingling and hashing are JVM-side (xxhash64, higher-order array
functions); the minhash/simhash signature FOLDS run as vectorized Arrow
pandas UDFs — one numpy broadcast per batch, bit-identical to the JVM
fold (pinned by tests), never row-at-a-time Python.  At 100 TB the LSH
path shuffles only (doc_id, band_key) pairs — the documents' text stays
columnar and pruned.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geocube_spark.functions.text import normalized_md5
from geocube_spark.functions.vectors import (
    _MERSENNE_P,
    band_keys_expr,
    minhash_params,
    simhash_expr,
    word_shingles_expr,
)
from geocube_spark.session import checkpoint


def _parallelize(df: DataFrame) -> DataFrame:
    """Small single-file inputs arrive as one partition; heavy per-row text
    kernels (shingling, hashing) then run on one core.  Repartition up to the
    session's parallelism — at real scale inputs are already many-partitioned
    and this is a no-op.

    Partition-count heuristic uses ``df.inputFiles()`` (plan metadata only)
    — NOT ``df.rdd.getNumPartitions()``, which forces an RDD conversion of
    the logical plan on every call."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_inputs = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. LocalRelation)
        n_inputs = 0
    if n_inputs < max(target // 2, 2):
        return df.repartition(target)
    return df


def exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint ->
    groupBy -> keep groups of size > 1.  Returns (fp, n_docs, doc_ids)."""
    return (
        documents.select(F.col("doc_id"), normalized_md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the lowest doc_id of each exact-duplicate group — the scalable
    keep-first dedup (min aggregation, no window over the full table)."""
    keep = (
        documents.select(normalized_md5(F.col(text_col)).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return documents.join(keep, "doc_id", "left_semi")


def shingle_sets(
    documents: DataFrame, text_col: str = "text", shingle_k: int = 3
) -> DataFrame:
    """Per-doc DISTINCT word-shingle set ``(doc_id, shingles)`` — the shared
    text kernel of the whole jaccard/minhash family.

    The exact-Jaccard self-join and the minhash signature both derive from
    this one frame, so a caller that needs several of them computes the
    tokenize+shingle kernel ONCE (guide §1.2: remove duplicate passes) by
    lazily checkpointing this frame and passing it via the
    ``shingles=`` parameter the consumers below accept.  Value equivalence
    is exact: minhash's running min is idempotent, so hashing the DISTINCT
    set gives bit-identical signatures to hashing every k-gram occurrence.

    100 TB note: materializing the checkpoint costs O(corpus tokens) local
    executor disk — the same order as the shuffle the Jaccard self-join
    already pays — and buys back full text scans + shingle kernels (the
    dominant compute in every profile of this family)."""
    return _parallelize(documents).select(
        "doc_id", word_shingles_expr(F.col(text_col), shingle_k).alias("shingles")
    )


def minhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_k: int = 3,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """doc_id -> minhash signature.

    Shingle STRINGS are never materialized: each k-gram is hashed straight
    out of the token array (min is idempotent, so duplicate shingles don't
    need dedup).  Projection steps keep each intermediate (toks, hs)
    evaluated once per row — Catalyst's CollapseProject leaves multi-
    referenced non-cheap expressions in their own projection.

    ``shingles`` (a ``shingle_sets`` frame, usually checkpointed) replaces
    the internal tokenize+hash pass: the signature is then one aggregate
    over the precomputed set — bit-identical output (min is idempotent
    over the duplicate k-grams the internal path hashes).
    """
    params = minhash_params(num_hashes, seed)
    if shingles is not None:
        # hash each DISTINCT shingle once (hs), then run the same fold as
        # the internal path below.  NOT vectors.minhash_signature_expr,
        # whose zip_with lambda re-evaluates xxhash64(s) once per (a,b)
        # param — num_hashes× the hashing work.
        hashed = shingles.select(
            "doc_id",
            F.transform(
                F.col("shingles"),
                lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)),
            ).alias("hs"),
        )
    else:
        documents = _parallelize(documents)
        toks = F.split(
            F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " "
        )
        base = documents.select("doc_id", toks.alias("toks"))
        n = F.greatest(F.size("toks") - F.lit(shingle_k - 1), F.lit(1))
        hashed = base.select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.pmod(
                    F.xxhash64(F.concat_ws(" ", F.slice("toks", i, shingle_k))),
                    F.lit(_MERSENNE_P),
                ),
            ).alias("hs"),
        )
    # The (a*h+b) mod p running-min fold over the shingle hashes is the
    # family's dominant compute, and Catalyst evaluates higher-order-
    # function lambda bodies interpreted, allocating a num_hashes-long
    # array per shingle (profiled at ~29 s executor CPU for the LSH query
    # at sf0.1 — 3 µs per multiply-mod).  The fold is instead one
    # vectorized numpy expression per Arrow batch (guide §4.2): exact
    # int64 arithmetic, since a, b, h < p = 2^31 - 1 keeps a*h + b under
    # 2^62, and % on non-negatives == pmod — bit-identical signatures
    # (pinned by test_incremental_dedup.py::test_numpy_minhash_fold_
    # matches_jvm_fold, empty-set sentinel included).
    # Empty shingle sets keep the p-sentinel row the old fold's init gave.
    return hashed.select(
        "doc_id", _minhash_fold_udf(params)(F.col("hs")).alias("signature")
    )


def _minhash_fold_udf(params: list[tuple[int, int]]):
    """Vectorized minhash fold: hs (array<long> of shingle hashes, each
    < p) -> num_hashes-long signature min_h((a*h+b) mod p), as one numpy
    broadcast per document.  Ships the (a, b) matrix by closure."""
    from pyspark.sql.types import ArrayType, LongType

    A = np.asarray([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.asarray([b for _, b in params], dtype=np.int64)[:, None]
    P = _MERSENNE_P

    @F.pandas_udf(ArrayType(LongType()))
    def fold(hs: pd.Series) -> pd.Series:
        sentinel = np.full(A.shape[0], P, dtype=np.int64)
        out = []
        for h in hs:
            arr = np.asarray(h, dtype=np.int64)
            if arr.size == 0:
                out.append(sentinel)
            else:
                out.append(((A * arr[None, :] + B) % P).min(axis=1))
        return pd.Series(out)

    return fold


def minhash_lsh_candidates(
    documents: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding.

    Plan shape: signatures (narrow) -> explode to (band,key) -> self-join on
    the bucket key (equi-join => hash shuffle on band keys, never a cross
    join) -> distinct pairs.  Bucket skew is bounded because band keys are
    64-bit hashes; AQE skew-join covers pathological buckets.
    """
    sigs = minhash_signatures(
        documents, text_col, num_hashes, shingle_k, seed, shingles=shingles
    )
    rows_per_band = num_hashes // bands
    buckets = sigs.select(
        "doc_id",
        F.explode(band_keys_expr(F.col("signature"), bands, rows_per_band)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # the self-join references the bucket frame twice, and one side becomes
    # a BroadcastExchange — which reuses NOTHING of the other side's plan —
    # so without this the tokenize+shingle+signature kernel runs once per
    # side.  A lazy checkpoint makes the first side's materialization
    # feed both (guide §1.2); bucket rows are 3 narrow columns, ~24 B/row.
    buckets = checkpoint(buckets, lazy=True)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(
    documents: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard on the shingle sets.
    Returns (doc_a, doc_b, jaccard >= threshold)."""
    # Materialize the candidate id pairs (a few longs per near-dup): the
    # verify stage references this set three times (pairs + both id
    # projections through the semi-join), and Spark re-plans — and would
    # re-run the signature + banding self-join — per reference (same
    # idiom as incremental_dedup; also keeps the final plan O(1) in the
    # candidate subtree instead of reprinting it five times).  The bucket
    # checkpoint inside minhash_lsh_candidates already dedups the signature
    # kernel; checkpointing a FULL corpus shingle frame here costs more
    # than it saves (measured: the verify side below touches only the tiny
    # candidate subset), so one is built only when the caller passes it.
    cands = minhash_lsh_candidates(
        documents, text_col, num_hashes, bands, shingle_k, seed, shingles=shingles
    ).transform(checkpoint)
    # exact-verify shingles are computed ONLY for docs that appear in a
    # candidate pair (a tiny fraction of the corpus): semi-join first
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        shingles.join(cand_ids, "doc_id", "left_semi")
        if shingles is not None
        else documents.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", word_shingles_expr(F.col(text_col), shingle_k).alias("shingles")
        )
    )
    joined = (
        cands.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "doc_a",
            "doc_b",
            (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def build_minhash_index(
    corpus: DataFrame,
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH bucket rows ``(doc_id, band, key)`` for a frozen corpus.

    This is the PERSISTED artifact of incremental dedup at scale: computed
    once over the 100 TB corpus, written as parquet keyed by the 64-bit
    band key, and every subsequent ingest batch joins its own (much
    smaller) bucket rows against it WITHOUT re-reading corpus text.  Index
    size is ``bands`` longs per document — ~64 bytes/doc — so the 100 TB
    corpus's index is a few hundred GB, an ordinary shuffle-join side."""
    sigs = minhash_signatures(
        corpus, text_col, num_hashes, shingle_k, seed, shingles=shingles
    )
    rows_per_band = num_hashes // bands
    return sigs.select(
        "doc_id",
        F.explode(band_keys_expr(F.col("signature"), bands, rows_per_band)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def incremental_dedup(
    corpus_index: DataFrame,
    delta: DataFrame,
    all_docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    seed: int = 42,
    all_shingles: DataFrame | None = None,
    delta_shingles: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW ingest batch against a frozen corpus index plus itself.

    The incremental path of MinHash dedup (reference model: a continuously
    ingesting catalog, `/root/reference/internal/svc/ingester.go` semantics
    applied to documents): only the delta's signatures are computed fresh;
    candidates are (delta buckets ⋈ corpus_index on (band, key)) ∪ (delta
    self-join), then exact shingle-Jaccard verification runs ONLY on docs
    that appear in a candidate pair (semi-join fetch of their text from
    ``all_docs``).  Returns (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= threshold — every pair has at least one delta endpoint.

    Scale shape: both joins are equi-joins on 64-bit keys (hash shuffle,
    AQE skew-split covers hot boilerplate buckets); corpus text is touched
    only for the candidate ids, a point-lookup semi-join.

    ``all_shingles``: a (lazily checkpointed) ``shingle_sets`` frame over
    ``all_docs`` — shares the text kernel with the delta signatures AND the
    verify step, so delta text is shingled once for the whole operator.
    ``delta_shingles``: the delta's slice of that frame when the caller can
    derive it with a cheap predicate (avoids the semi-join fallback)."""
    if delta_shingles is None and all_shingles is not None:
        delta_shingles = all_shingles.join(
            delta.select("doc_id"), "doc_id", "left_semi"
        )
    delta_idx = build_minhash_index(
        delta, text_col, num_hashes, bands, shingle_k, seed, shingles=delta_shingles
    )
    # referenced three times below (corpus join + both sides of the delta
    # self-join): one materialization instead of three signature kernels
    delta_idx = checkpoint(delta_idx, lazy=True)
    d = delta_idx.alias("d")
    c = corpus_index.alias("c")
    vs_corpus = (
        d.join(
            c,
            (F.col("d.band") == F.col("c.band"))
            & (F.col("d.key") == F.col("c.key"))
            # a delta doc already present in the corpus index (replayed
            # epoch) must not emit a degenerate self-pair (jaccard 1.0)
            & (F.col("d.doc_id") != F.col("c.doc_id")),
        )
        .select(
            F.least(F.col("d.doc_id"), F.col("c.doc_id")).alias("doc_a"),
            F.greatest(F.col("d.doc_id"), F.col("c.doc_id")).alias("doc_b"),
        )
    )
    d2 = delta_idx.alias("e")
    vs_delta = (
        d.join(
            d2,
            (F.col("d.band") == F.col("e.band"))
            & (F.col("d.key") == F.col("e.key"))
            & (F.col("d.doc_id") < F.col("e.doc_id")),
        )
        .select(F.col("d.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b"))
    )
    # Materialize the candidate id pairs (a few longs per near-dup): the
    # verify join references this set three times (pairs + both id
    # projections), and Spark re-plans — and would re-run the two LSH
    # joins — per reference.  In the real pipeline the delta's buckets are
    # persisted anyway before being appended to the corpus index.
    cands = checkpoint(vs_corpus.unionByName(vs_delta).distinct())
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        all_shingles.join(cand_ids, "doc_id", "left_semi")
        if all_shingles is not None
        else all_docs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", word_shingles_expr(F.col(text_col), shingle_k).alias("shingles")
        )
    )
    joined = cands.join(
        sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"),
        "doc_a",
    ).join(
        sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "doc_a",
        "doc_b",
        (inter / F.greatest(union, F.lit(1))).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    documents: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join (the oracle-checkable dedup).

    Explode shingles -> self-join on shingle (equi) -> count shared ->
    |A∩B| / (|A|+|B|-|A∩B|).  Shuffles (doc_id, shingle-hash) pairs; for
    100 TB use minhash_lsh first and this only on candidates.
    """
    # the per-doc shingle-set size rides ALONG the exploded rows as
    # size(arr) — word_shingles_expr is array_distinct'ed, so size(arr)
    # equals the old count-of-exploded-rows exactly.  This deletes the
    # separate sizes aggregation AND the two joins that re-attached it
    # (guide §2.3/§2.4: the pair groupBy recovers inter and both sizes,
    # n_a/n_b being constant within a group).  The shingle-set frame is
    # lazily checkpointed (or passed in, already checkpointed, via
    # ``shingles``): the self-join references it once per side, and the
    # planner broadcasts one side — a BroadcastExchange reuses nothing —
    # so without the checkpoint the text kernel would run twice.
    arr = (
        shingles
        if shingles is not None
        else checkpoint(shingle_sets(documents, text_col, shingle_k), lazy=True)
    )
    sh = arr.select(
        "doc_id",
        F.size("shingles").alias("n"),
        F.explode("shingles").alias("shingle"),
    )
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max(F.col("a.n")).alias("n_a"),
            F.max(F.col("b.n")).alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): tokenize + xxhash64 in the JVM, then the per-bit
    majority vote and packing as one numpy broadcast per Arrow batch.

    The JVM ``simhash_expr`` form evaluated its zip_with lambda bodies
    interpreted — a 64-long counter array allocated per token — and its
    packing lambda referenced size(hashes) as an outer expression, which
    re-ran the whole hash transform once per bit (CSE does not reach into
    HOF lambdas).  Profiled at ~14 s executor CPU for the sf0.1 LSH query;
    the numpy vote is exact int64 with JVM two's-complement shift
    semantics, so fingerprints are bit-identical (pinned by
    test_incremental_dedup.py::test_numpy_simhash_matches_jvm_expr)."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
    hashed = _parallelize(documents).select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("hs")
    )
    return hashed.select("doc_id", _simhash_pack_udf()(F.col("hs")).alias("simhash"))


def _simhash_pack_udf(bits: int = 64):
    """Per-bit majority vote over token hashes -> packed long, vectorized:
    counts = sum over tokens of each hash's unpacked bits (arithmetic >>
    and & 1, matching Spark's shiftright), majority where count*2 > n,
    packed with wrapping int64 shifts (bit 63 wraps negative in numpy and
    the JVM alike).  Empty token arrays pack to 0, as the JVM fold's
    zero-init did."""
    from pyspark.sql.types import LongType

    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf(LongType())
    def pack(hs: pd.Series) -> pd.Series:
        out = np.zeros(len(hs), dtype=np.int64)
        one = np.int64(1)
        for j, h in enumerate(hs):
            arr = np.asarray(h, dtype=np.int64)
            n = arr.size
            if n == 0:
                continue
            cnt = ((arr[:, None] >> shifts[None, :]) & one).sum(axis=0)
            packed_bits = np.where(cnt * 2 > n, one << shifts, np.int64(0))
            out[j] = np.bitwise_or.reduce(packed_bits)
        return pd.Series(out)

    return pack


def simhash_all_pairs(
    documents: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    num_blocks: int = 8,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs SimHash Hamming join — the brute-force oracle twin of
    ``simhash_near_duplicates`` (quadratic BY DESIGN, like
    ``ngram_jaccard_pairs``: use the rotated-prefix LSH at scale and this to
    verify recall on bounded samples).

    Same distributed block-pair decomposition as
    ``similarity.embedding_all_pairs_exact``: fingerprints are hash-assigned
    to ``num_blocks`` row-blocks, each unordered block pair meets in exactly
    one cogroup task, and the task XORs two int64 vectors (numpy popcount on
    the byte view — no Python loop).  No CartesianProduct in the plan, no
    driver collect; shuffle is O(n·num_blocks) fingerprints (16 bytes each).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField as SF, StructType as ST

    nb = int(num_blocks)
    # callers comparing the LSH and exact paths over the SAME corpus pass a
    # shared fingerprint frame so the text is scanned/hashed once, not once
    # per path (guide §1.2: don't compute things twice)
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprints(documents, text_col)
    )
    base = fp.select(
        F.col("doc_id").cast("long").alias("id"),
        F.col("simhash").alias("h"),
        F.pmod(F.hash("doc_id"), F.lit(nb)).alias("blk"),
    )
    side_a = base.select(
        "id", "h", F.col("blk").alias("ka"), F.explode(F.sequence("blk", F.lit(nb - 1))).alias("kb")
    )
    side_b = base.select(
        F.col("id").alias("id_r"),
        F.col("h").alias("h_r"),
        F.explode(F.sequence(F.lit(0), "blk")).alias("ka"),
        F.col("blk").alias("kb"),
    )
    out_schema = ST(
        [
            SF("doc_a", LongType(), False),
            SF("doc_b", LongType(), False),
            SF("hamming", IntegerType(), False),
        ]
    )
    mh = int(max_hamming)
    # byte-LUT popcount: works on any numpy (np.bitwise_count needs >= 2.0)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

    def pairs(key: tuple, pdf_a: pd.DataFrame, pdf_b: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf_a) or not len(pdf_b):
            return pd.DataFrame({"doc_a": [], "doc_b": [], "hamming": []})
        ids_a = pdf_a["id"].to_numpy(dtype=np.int64)
        ids_b = pdf_b["id_r"].to_numpy(dtype=np.int64)
        ha = pdf_a["h"].to_numpy(dtype=np.int64)
        hb = pdf_b["h_r"].to_numpy(dtype=np.int64)
        x = (ha[:, None] ^ hb[None, :]).view(np.uint8).reshape(len(ha), len(hb), 8)
        ham = lut[x].sum(axis=2, dtype=np.int32)
        ai, bj = np.where(ham <= mh)
        if key[0] == key[1]:
            keep = ids_a[ai] < ids_b[bj]
            ai, bj = ai[keep], bj[keep]
            lo, hi = ids_a[ai], ids_b[bj]
        else:
            lo = np.minimum(ids_a[ai], ids_b[bj])
            hi = np.maximum(ids_a[ai], ids_b[bj])
        return pd.DataFrame({"doc_a": lo, "doc_b": hi, "hamming": ham[ai, bj]})

    return (
        side_a.groupby("ka", "kb")
        .cogroup(side_b.groupby("ka", "kb"))
        .applyInPandas(pairs, out_schema)
    )


def simhash_near_duplicates(
    documents: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    prefix_bits: int = 16,
    rotations: int = 4,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dups via ROTATED prefix buckets (the standard Charikar
    permuted-table approach): bucket r = top ``prefix_bits`` bits of
    rotate_left(simhash, r·64/rotations), self-join per (rotation, bucket),
    verify Hamming within buckets, distinct pairs.

    With ``rotations × prefix_bits == 64`` the four prefixes partition the
    64 bits into disjoint blocks, so any pair within Hamming distance
    ``rotations - 1`` agrees on at least one whole block (pigeonhole) and
    MUST collide in that rotation — recall is exactly 1.0 for the default
    (max_hamming=3, rotations=4), not a heuristic.  The round-2 version
    used a single prefix and missed near-dups differing inside it.

    Cost: the bucket shuffle fans out ×rotations — O(n·rotations) 16-byte
    rows, never all-pairs.  Buckets are hash-partitioned and each TASK
    enumerates its buckets in one vectorized pass (``mapInPandas``: sort
    by bucket key, run-length detect multi-occupancy buckets — almost all
    buckets are singletons and cost nothing — then one numpy XOR+popcount
    matrix per colliding bucket).  A bucket SELF-join would re-run the
    fingerprint scan for each join side (plan occurrences are re-executed,
    not CSE'd) and pay an interpreted per-pair bit_count — 5.2 s at sf0.1
    vs ~1 s for this plan; per-GROUP ``applyInPandas`` is just as bad in
    the other direction (one Arrow batch per singleton bucket).
    Duplicates found in several rotations collapse in the final
    (doc_a, doc_b) groupBy."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField as SF, StructType as ST

    if rotations < 1 or 64 % rotations or rotations * prefix_bits > 64:
        raise ValueError(
            f"need rotations | 64 and rotations*prefix_bits <= 64, got "
            f"{rotations}x{prefix_bits}"
        )
    fp = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprints(documents, text_col)
    )
    step = 64 // rotations
    h = F.col("simhash")
    rots = F.array(
        *[
            F.struct(
                F.lit(r).alias("rot"),
                F.shiftrightunsigned(
                    # rotate_left(h, r*step); JVM shifts are mod-64 so the
                    # r=0 case must bypass the (h >>> 64) term
                    (
                        F.shiftleft(h, r * step).bitwiseOR(
                            F.shiftrightunsigned(h, 64 - r * step)
                        )
                        if r
                        else h
                    ),
                    64 - prefix_bits,
                ).alias("bucket"),
            )
            for r in range(rotations)
        ]
    )
    bucketed = fp.select(
        F.col("doc_id").cast("long").alias("id"),
        "simhash",
        F.explode(rots).alias("rb"),
    ).select(
        "id",
        "simhash",
        F.col("rb.rot").alias("rot"),
        F.col("rb.bucket").alias("bucket"),
    )
    out_schema = ST(
        [
            SF("doc_a", LongType(), False),
            SF("doc_b", LongType(), False),
            SF("hamming", IntegerType(), False),
        ]
    )
    mh = int(max_hamming)
    pb = int(prefix_bits)
    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    empty = pd.DataFrame(
        {
            "doc_a": pd.Series([], dtype="int64"),
            "doc_b": pd.Series([], dtype="int64"),
            "hamming": pd.Series([], dtype="int32"),
        }
    )

    def partition_pairs(batches):
        chunks = list(batches)
        pdf = pd.concat(chunks, ignore_index=True) if chunks else empty
        if len(pdf) < 2:
            yield empty
            return
        ids = pdf["id"].to_numpy(dtype=np.int64)
        hs = pdf["simhash"].to_numpy(dtype=np.int64)
        key = (pdf["rot"].to_numpy(dtype=np.int64) << pb) | pdf["bucket"].to_numpy(
            dtype=np.int64
        )
        order = np.argsort(key, kind="stable")
        ids, hs, key = ids[order], hs[order], key[order]
        starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1], True])
        out = [empty]
        for s, e in zip(starts[:-1], starts[1:]):
            if e - s < 2:
                continue
            hb, ib = hs[s:e], ids[s:e]
            x = (hb[:, None] ^ hb[None, :]).view(np.uint8).reshape(e - s, e - s, 8)
            ham = lut[x].sum(axis=2, dtype=np.int32)
            ai, bj = np.where(ham <= mh)
            keep = ib[ai] < ib[bj]
            ai, bj = ai[keep], bj[keep]
            out.append(
                pd.DataFrame({"doc_a": ib[ai], "doc_b": ib[bj], "hamming": ham[ai, bj]})
            )
        yield pd.concat(out, ignore_index=True)

    pairs = bucketed.repartition("rot", "bucket").mapInPandas(
        partition_pairs, out_schema
    )
    # the pair's Hamming distance is the same in every rotation it collides
    # in; min() just picks the one copy
    return pairs.groupBy("doc_a", "doc_b").agg(F.min("hamming").alias("hamming"))


# ------------------------------------------------------------- components

# below this many distinct edges the star rounds are pure fixed cost and
# a single task labels the whole graph (~8 bytes x 2 x edges of state)
_CC_SMALL_EDGE_THRESHOLD = 200_000


def _union_find_single_task(edges: DataFrame) -> DataFrame:
    """(node, component) via one-task union-find over a SMALL edge set —
    union-by-min + path compression, so the root of every tree is the
    component minimum (the same labels the star rounds converge to)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [
            StructField("node", LongType(), False),
            StructField("component", LongType(), False),
        ]
    )

    def run(batches):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for u, v in zip(pdf["u"], pdf["v"]):
                ru, rv = find(int(u)), find(int(v))
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
        nodes = list(parent.keys())
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return edges.coalesce(1).mapInPandas(run, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 50,
    salt_buckets: int = 1,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph -> per-doc
    cluster labels (component id = smallest doc_id in the component).

    The pair producers (minhash/simhash/embedding near-dup joins) emit
    *edges*; dedup policy needs *clusters* ("keep one doc per component").
    This is the alternating large-star / small-star algorithm (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14): each
    round reattaches nodes to the minimum of their neighborhood, and the
    edge set converges to stars centered on component minima in
    O(log n) rounds — NOT O(diameter) like naive min-label propagation, so
    chain-shaped duplicate clusters (crawl mirrors) don't serialize.

    Spark shape per round: two hash-shuffle groupBys (the per-node min) +
    one distinct; no collect_set adjacency lists, so a hot node (a doc
    paired with millions) never materializes its neighborhood in one task
    — its edges stay spread across partitions and only its min survives
    the agg.  Driver sees ONE scalar (count, checksum) per round for the
    convergence test; lineage is cut per round with localCheckpoint (at
    cluster scale: spark.sparkContext.setCheckpointDir + .checkpoint()).

    Returns (node, component, component_size), one row per distinct doc id
    appearing in ``pairs``.

    ``salt_buckets > 1`` turns on SKEW HARDENING for power-law duplicate
    graphs (one doc paired with a large fraction of the corpus — crawl
    boilerplate, empty documents): the per-node min becomes a salted
    two-level aggregation (min over (u, salt) then over u — min is
    associative, so the result is identical), and the edges⋈mins join is
    salted the classic way (edge side salted by hash(v), min side
    replicated across the salt range) so a hot node's edges spread over
    ``salt_buckets`` reducers instead of one.  The labels are identical
    for any bucket count; only the shuffle layout changes.
    """
    spark = pairs.sparkSession
    S = max(1, int(salt_buckets))
    edges = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def min_neighbor(sym: DataFrame, include_self: bool) -> DataFrame:
        """m(u) = min(neighbors [+ u]); salted two-level when S > 1."""
        if S == 1:
            agg = F.least(F.min("v"), F.first("u")) if include_self else F.min("v")
            return sym.groupBy("u").agg(agg.alias("m"))
        partial = sym.groupBy(
            "u", F.pmod(F.xxhash64("v"), F.lit(S)).alias("_s")
        ).agg(F.min("v").alias("_pm"))
        agg = (
            F.least(F.min("_pm"), F.first("u")) if include_self else F.min("_pm")
        )
        return partial.groupBy("u").agg(agg.alias("m"))

    def join_mins(sym: DataFrame, mins: DataFrame) -> DataFrame:
        """edges ⋈ per-node min on u; salted replication when S > 1
        (skew.salted_join with a deterministic hash(v) salt so retries
        shuffle identically)."""
        if S == 1:
            return sym.join(mins, "u")
        from geocube_spark.operators.skew import salted_join

        return salted_join(
            sym, mins, "u", S, salt_expr=F.pmod(F.xxhash64("v"), F.lit(S))
        )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = min_neighbor(sym, include_self=True)
        return (
            join_mins(sym, mins)
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = min_neighbor(d, include_self=False)  # m < u always
        leaves = (
            join_mins(d, mins)
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        centers = mins.select(F.col("u"), F.col("m").alias("v"))
        return leaves.union(centers).where(F.col("u") != F.col("v")).distinct()

    def _checkpoint_and_sign(e: DataFrame):
        """Lazy checkpoint fused with the convergence signature: the
        signature's full-scan aggregate materializes the frame, one job per
        round instead of two.  Sound only because the signature runs
        IMMEDIATELY on the lazy frame, before any multi-scan consumer, and
        this helper keeps the two together (bit_xor, not sum: order-
        insensitive and cannot overflow ANSI longs)."""
        e = checkpoint(e, lazy=True)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("chk"),
        ).collect()[0]
        return e, (row["n"], row["chk"])

    edges, prev = _checkpoint_and_sign(edges)

    # Size-adaptive fast path (the CC sibling of the size-adaptive spatial
    # join): below the threshold the O(log n) star rounds are pure fixed
    # cost — each round is 2 shuffles + a checkpoint — so a SMALL edge set
    # (stitch graphs, fixture-scale dedup) runs single-task union-find
    # instead: coalesce(1) + mapInPandas, no driver collect, no rounds.
    # Union-by-min + path compression yields root = component minimum —
    # the IDENTICAL labels the star algorithm converges to — and the edge
    # count is already on the driver from the signature scalar.  Salted
    # mode (S > 1) exists precisely because the graph is big: keep stars.
    if S == 1 and 0 < prev[0] <= _CC_SMALL_EDGE_THRESHOLD:
        labels = _union_find_single_task(edges)
        sizes = labels.groupBy("component").agg(
            F.count(F.lit(1)).alias("component_size")
        )
        return (
            labels.select("node", "component")
            .join(sizes, "component")
            .select("node", "component", "component_size")
        )

    for _ in range(max_iter):
        edges, cur = _checkpoint_and_sign(small_star(large_star(edges)))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")

    # converged edges are stars on component minima: label(n) = least(n, min
    # neighbor) — the center keeps itself, every leaf sees the center
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = min_neighbor(sym, include_self=True).withColumnRenamed(
        "m", "component"
    )
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    # plain shuffle join: at scale there can be ~as many components as docs,
    # so the size side is NOT broadcastable
    return (
        labels.select(F.col("u").alias("node"), "component")
        .join(sizes, "component")
        .select("node", "component", "component_size")
    )
