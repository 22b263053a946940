"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — one JVM-side dot product per row, a
single partial top-k per partition (TakeOrderedAndProject), no shuffle of
the embedding matrix.

Scale path: LSH bucketing via random hyperplanes (signed projections).  The
query only probes its own bucket(s) — at 1000 executors the probe touches
1/2^bits of the data; multi-probe widens recall.  An IVF variant (k-means
coarse quantizer) follows the same plan shape with learned centroids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geocube_spark.functions.vectors import cosine_expr, dot_expr


def with_broadcast_arrays(df: DataFrame, **arrays: list[float]) -> DataFrame:
    """Attach named double-array constants (query vector, quantizer stats)
    as a ONE-ROW broadcast relation instead of baked literal arrays: the
    values ship in the broadcast payload, not the plan string, so plan
    size stays O(1) in dim — and independent of how many downstream
    operators reference the arrays (a literal is reprinted at every node).
    Surfaces as a benign 1-row BroadcastNestedLoopJoin (the exempted
    pattern in tools/plan_audit.py HARD_RULES_EXEMPT_BNLJ)."""
    spark = df.sparkSession
    row = tuple([float(x) for x in v] for v in arrays.values())
    schema = ", ".join(f"{name} array<double>" for name in arrays)
    return df.crossJoin(F.broadcast(spark.createDataFrame([row], schema)))


def _arr(v) -> Column:
    """list -> literal array column; Column (broadcast-attached) passthrough."""
    return v if isinstance(v, Column) else F.array(*[F.lit(float(x)) for x in v])


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Top-k most similar to one query vector.

    The query vector rides a 1-row broadcast relation (plan size O(1) in
    dim — see with_broadcast_arrays); the plan is scan -> project(score)
    -> global top-k, which Spark executes as per-partition partial top-k
    + driver merge — optimal for any table size.
    """
    attached = with_broadcast_arrays(embeddings, _qv=query_vec)
    q = F.col("_qv")
    score = (
        cosine_expr(F.col(vec_col), q) if metric == "cosine" else dot_expr(F.col(vec_col), q)
    )
    return (
        attached.select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def matryoshka_candidates(
    embeddings: DataFrame,
    query_vec: list[float],
    n: int,
    prefix_dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-n by cosine over the FIRST prefix_dim coordinates only — the
    Matryoshka prefilter stage (per-partition partial top-n, no corpus
    shuffle; reads a prefix_dim/dim fraction of the vector bytes when
    embeddings are stored dimension-chunked)."""
    prefix_q = F.col("_qp")
    prefix = F.slice(F.col(vec_col), 1, prefix_dim)
    return (
        with_broadcast_arrays(embeddings, _qp=query_vec[:prefix_dim]).select(
            F.col(id_col), cosine_expr(prefix, prefix_q).alias("approx_score")
        )
        .orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(n)
    )


def matryoshka_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    prefix_dim: int = 16,
    expand: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine with a TRUNCATED-DIMENSION prefilter + exact
    rescore (the Matryoshka-embedding retrieval recipe: score on the
    first ``prefix_dim`` coordinates — 4x fewer multiply-adds at
    prefix 16/64 — then rescore only expand·k candidates exactly).

    Same plan shape as sq8_topk: prefilter scan -> partial
    top-(expand·k) -> broadcast candidate ids -> exact rescore.  At
    deployment the prefix slice is what a column-pruned scan reads when
    embeddings are stored as per-dimension-range chunks.  On MRL-trained
    embeddings the prefix ranking is near-exact; on generic embeddings
    the expand factor buys back the difference (oracle-checked equal to
    brute force on the test corpora)."""
    # prefix + full query ride ONE 1-row broadcast; prefilter and rescore
    # both read it (matryoshka_candidates stays the standalone prefilter
    # for the recall-measurement query)
    attached = with_broadcast_arrays(
        embeddings, _qp=query_vec[:prefix_dim], _qv=query_vec
    )
    prefix = F.slice(F.col(vec_col), 1, prefix_dim)
    candidates = (
        attached.select(
            F.col(id_col), cosine_expr(prefix, F.col("_qp")).alias("approx_score")
        )
        .orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(expand * k)
        .select(id_col)
    )
    rescored = attached.join(F.broadcast(candidates), id_col).select(
        F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score")
    )
    return rescored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def sq8_stats(
    embeddings: DataFrame, dim: int, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, scales) for 8-bit scalar quantization, from ONE
    corpus pass (2*dim agg expressions, map-side partial combine; the
    collect is a single 2*dim-double row — bounded like the IVF kmeans
    sample, not O(n))."""
    row = embeddings.agg(
        F.array(
            *[F.min(F.element_at(F.col(vec_col), i + 1)) for i in range(dim)]
        ).alias("mins"),
        F.array(
            *[F.max(F.element_at(F.col(vec_col), i + 1)) for i in range(dim)]
        ).alias("maxs"),
    ).collect()[0]
    mins = [float(v) for v in row["mins"]]
    scales = [
        (float(hi) - float(lo)) / 255.0 if hi > lo else 1.0
        for lo, hi in zip(row["mins"], row["maxs"])
    ]
    return mins, scales


def sq8_quantize(
    embeddings: DataFrame,
    mins: list[float],
    scales: list[float],
    vec_col: str = "embedding",
    code_col: str = "codes",
) -> DataFrame:
    """Append an 8-bit code array: code_i = round((x_i - min_i)/scale_i)
    clamped to [0, 255], stored OFFSET BY -128 as a signed tinyint so the
    persisted element is truly ONE byte.  Pure JVM transform (no UDF); at
    100 TB this is the column you PERSIST — 4x smaller than float32, 8x
    smaller than float64, so the ANN scan reads a quarter of the bytes."""
    mins_arr = _arr(mins)
    scales_arr = _arr(scales)
    idx = F.transform(F.col(vec_col), lambda _x, i: i + 1)
    codes = F.zip_with(
        F.col(vec_col),
        idx,
        lambda x, i: (
            F.least(
                F.lit(255.0),
                F.greatest(
                    F.lit(0.0),
                    F.round(
                        (x - F.element_at(mins_arr, i.cast("int")))
                        / F.element_at(scales_arr, i.cast("int"))
                    ),
                ),
            )
            - 128.0
        ).cast("tinyint"),
    )
    return embeddings.withColumn(code_col, codes)


def sq8_dequant_expr(
    code_col: Column, mins: list[float], scales: list[float]
) -> Column:
    """Reconstruct approximate doubles from codes: x̂_i = min_i + c_i·scale_i."""
    mins_arr = _arr(mins)
    scales_arr = _arr(scales)
    idx = F.transform(code_col, lambda _x, i: i + 1)
    return F.zip_with(
        code_col,
        idx,
        lambda c, i: F.element_at(mins_arr, i.cast("int"))
        + (c.cast("double") + 128.0) * F.element_at(scales_arr, i.cast("int")),
    )


def sq8_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    expand: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine with an 8-bit scalar-quantized prefilter + exact
    rescore (the SQ8 recipe of FAISS/ScaNN restated as DataFrame ops).

    Plan shape: one stats pass (2*dim partial aggs) -> quantized scoring
    scan (reads only the 1-byte codes at deployment; here quantization is
    inline) -> per-partition partial top-(expand*k) -> broadcast the
    expand*k candidate ids back onto the corpus -> exact rescore of only
    those rows -> top-k.  The second scan touches expand*k rows by
    broadcast-hash semi-join, so the expensive exact arithmetic is O(k),
    not O(n).  With expand=4 the quantized prefilter recovers the exact
    top-k on every tested corpus (oracle-checked: result equals the
    brute-force answer bit-for-bit after 6-dp rounding).
    """
    dim = len(query_vec)
    mins, scales = sq8_stats(embeddings, dim, vec_col)
    # stats + query vector ride ONE 1-row broadcast relation: plan size is
    # O(1) in dim where the literal form reprinted 4 dim-length arrays at
    # every operator (17 KB of plan at dim=64)
    attached = with_broadcast_arrays(
        embeddings, _mins=mins, _scales=scales, _qv=query_vec
    )
    coded = sq8_quantize(attached, F.col("_mins"), F.col("_scales"), vec_col)
    approx = cosine_expr(
        sq8_dequant_expr(F.col("codes"), F.col("_mins"), F.col("_scales")),
        F.col("_qv"),
    )
    candidates = (
        coded.select(F.col(id_col), approx.alias("approx_score"))
        .orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(expand * k)
        .select(id_col)
    )
    # rescore off the SAME attached frame — one 1-row broadcast per query
    rescored = attached.join(F.broadcast(candidates), id_col).select(
        F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score")
    )
    return rescored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


# ------------------------------------------------------------- product quant
#
# PQ (Jégou et al. 2011, "Product quantization for nearest neighbor
# search"): split the d-dim vector into m subvectors, learn a ks-entry
# k-means codebook per subspace, store each vector as m one-byte codes
# (64-dim float32 -> 8 bytes: 32x smaller than the float column, 4x
# smaller than SQ8).  Query-time scoring is ADC (asymmetric distance
# computation): the query's dot product against every codeword is a tiny
# m*ks lookup table, and a row's approximate score is m table lookups —
# no float vector is ever read on the prefilter scan.


def _deterministic_sample_matrix(
    embeddings: DataFrame,
    vec_col: str,
    max_sample_rows: int,
    seed: int,
) -> np.ndarray:
    """Bounded driver-side sample as a (n, d) float64 matrix — the same
    content-deterministic hash filter as :func:`kmeans_centroids` (stable
    across partition layouts/AQE), collected ONCE so PQ can train all m
    subspace codebooks from a single corpus scan instead of m."""
    df = embeddings.select(F.col(vec_col).cast("array<double>").alias("v"))
    # Collect-first probe: the bounded limit IS the whole corpus whenever
    # the corpus fits the cap, so the small case (every quantizer train in
    # the bench) pays ONE job instead of count + collect.  A corpus above
    # the cap falls through to the count + content-deterministic hash
    # filter exactly as before — the probe there reads only the leading
    # partitions (CollectLimit fetches incrementally), not a full pass.
    # Rows and order are identical to the old count-then-limit path in
    # both cases (same limit over the same frame).
    rows = df.limit(int(max_sample_rows)).toPandas()["v"]
    if len(rows) >= max_sample_rows:
        n = df.count()
        if n > max_sample_rows:
            denom = 1_000_003
            thresh = min(denom, int(denom * max_sample_rows * 1.1 / n) + 1)
            h = F.pmod(F.xxhash64(F.col("v"), F.lit(seed)), F.lit(denom))
            df = (
                df.withColumn("_h", h)
                .filter(F.col("_h") < F.lit(thresh))
                .orderBy("_h", "v")
                .drop("_h")
            )
            rows = df.limit(int(max_sample_rows)).toPandas()["v"]
    return np.array([np.asarray(v, dtype=np.float64) for v in rows], dtype=np.float64)


def _sqdist_matrix(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """Pairwise squared distances as an (n, k) matrix, bit-identical to
    ``((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)``: both
    forms reduce the same addends over a contiguous last axis of the same
    length, so numpy applies the identical pairwise-summation tree and the
    doubles match exactly (asserted across the k/d shapes in tests).  The
    per-centroid loop exists because the broadcast form materializes an
    n*k*d temp — 256 MB of memory traffic per Lloyd iteration at the
    coarse-quantizer shape — where the loop's working set is one n*d
    slab that stays in cache (~20x on the k=16, d=64 quantizer).  For
    tiny subspaces (PQ's k=64, dsub=2) the k-iteration Python overhead
    exceeds the traffic saved, so small problems keep the broadcast."""
    n, k, d = len(mat), len(centroids), mat.shape[1]
    if n * k * d <= 1_000_000:
        return ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    out = np.empty((n, k), dtype=np.float64)
    for c in range(k):
        diff = mat - centroids[c]
        out[:, c] = (diff * diff).sum(axis=1)
    return out


def _lloyd(mat: np.ndarray, k: int, iterations: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
    for _ in range(iterations):
        d2 = _sqdist_matrix(mat, centroids)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def pq_train(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    vec_col: str = "embedding",
    max_sample_rows: int = 100_000,
    iterations: int = 10,
    seed: int = 42,
    sample_matrix: "np.ndarray | None" = None,
    distribute: bool | None = None,
) -> list[list[list[float]]]:
    """Train the m per-subspace codebooks (each ks x d/m) from ONE bounded
    deterministic sample.  Codebooks are tiny (m*ks*d/m = ks*d doubles)
    and ship to executors by closure, exactly like the IVF centroids.
    ``sample_matrix`` lets a caller that already holds the deterministic
    sample (ivfpq_topk trains two quantizers) skip the second corpus
    pass — it must be the _deterministic_sample_matrix result for the
    same (corpus, vec_col, max_sample_rows, seed)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if ks > 128:
        raise ValueError("ks > 128 does not fit a signed tinyint code")
    dsub = dim // m
    mat = (
        sample_matrix
        if sample_matrix is not None
        else _deterministic_sample_matrix(embeddings, vec_col, max_sample_rows, seed)
    )
    if distribute is None:
        # The m trainings are independent and each is a serial numpy loop,
        # so a big training runs as m single-subspace executor tasks (one
        # Spark job) instead of m sequential driver loops — the whole
        # query was driver-bound on this (measured 2.4 s of driver numpy
        # for m=32, ks=64, n=2000 vs ~75 ms per distributed task).  The
        # work estimate gates it so tiny trainings (unit tests, m<=2) skip
        # the job+broadcast overhead.  Same mat slices, same seeds, same
        # _lloyd ops => bit-identical codebooks either way (pinned by
        # tests/test_ivf_index.py::test_pq_train_distributed_bit_identical).
        distribute = (
            m >= 4 and len(mat) * ks * iterations * dim >= 16_000_000
        )
    if distribute:
        return _pq_train_distributed(
            embeddings.sparkSession, mat, m, ks, dsub, iterations, seed
        )
    return [
        _lloyd(mat[:, j * dsub : (j + 1) * dsub], ks, iterations, seed + j).tolist()
        for j in range(m)
    ]


def _pq_train_distributed(
    spark, mat: np.ndarray, m: int, ks: int, dsub: int, iterations: int, seed: int
) -> list[list[list[float]]]:
    """One executor task per subspace: the sample matrix ships once as a
    broadcast variable (it is already driver-resident), each task slices
    its own dsub columns and runs the identical `_lloyd`.  float64 values
    round-trip Arrow exactly, so the assembled codebooks are bit-identical
    to the driver loop's."""
    bc = spark.sparkContext.broadcast(mat)

    def train(batches):
        full = bc.value
        for pdf in batches:
            out = []
            for j in pdf["j"]:
                j = int(j)
                cb = _lloyd(
                    full[:, j * dsub : (j + 1) * dsub], ks, iterations, seed + j
                )
                out.append([list(map(float, row)) for row in cb])
            yield pd.DataFrame({"j": pdf["j"], "cb": out})

    # range(..., numPartitions=m): exactly one subspace id per partition —
    # a keyed repartition would hash-collide some subspaces onto one task
    # and idle others (guide §2.5, synthetic-key skew)
    idx = spark.range(0, m, 1, m).select(F.col("id").cast("int").alias("j"))
    rows = idx.mapInPandas(train, "j int, cb array<array<double>>").collect()
    books: list[list[list[float]] | None] = [None] * m
    for r in rows:
        books[r["j"]] = [list(sub) for sub in r["cb"]]
    bc.unpersist()
    assert all(b is not None for b in books)
    return books  # type: ignore[return-value]


def pq_encode_udf(codebooks: list[list[list[float]]]):
    """array<float> -> array<tinyint> of m codes, one vectorized Arrow UDF:
    per batch, m small GEMMs (n x dsub @ dsub x ks) and an argmax each —
    the same closure-shipped broadcast-by-value trick as ivf_assign_udf,
    so plan size stays O(1) no matter how many codewords."""
    from pyspark.sql.types import ArrayType, ByteType

    mats = [np.ascontiguousarray(np.asarray(b, dtype=np.float64).T) for b in codebooks]
    halves = [0.5 * (C * C).sum(axis=0) for C in mats]
    dsub = mats[0].shape[0]
    m = len(mats)

    @F.pandas_udf(ArrayType(ByteType()))
    def encode(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        out = np.empty((len(mat), m), dtype=np.int8)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            out[:, j] = (sub @ mats[j] - halves[j]).argmax(axis=1).astype(np.int8)
        return pd.Series(list(out))

    return encode


def pq_adc_cosine_expr(
    code_col: Column, query_vec: list[float], codebooks: list[list[list[float]]]
) -> Column:
    """Approximate cosine from the m-byte code column, entirely JVM-side.

    Two m x ks literal lookup tables — ip[j][c] = q_j . codeword and
    n2[j][c] = ||codeword||² — folded over the code array with
    zip_with+aggregate: cos ~ sum(ip) / (|q| * sqrt(sum(n2))).  The
    reconstruction norm is additive across subspaces, so no float vector
    is touched; the prefilter scan reads m bytes per row."""
    q = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    dsub = len(q) // m
    ip_rows, n2_rows = [], []
    for j, book in enumerate(codebooks):
        B = np.asarray(book, dtype=np.float64)  # (ks, dsub)
        qj = q[j * dsub : (j + 1) * dsub]
        ip_rows.append(F.array(*[F.lit(float(x)) for x in B @ qj]))
        n2_rows.append(F.array(*[F.lit(float(x)) for x in (B * B).sum(axis=1)]))
    ip_lut = F.array(*ip_rows)
    n2_lut = F.array(*n2_rows)
    idx = F.transform(code_col, lambda _c, i: i + 1)

    def fold(lut):
        return F.aggregate(
            F.zip_with(
                code_col,
                idx,
                lambda c, i: F.element_at(
                    F.element_at(lut, i.cast("int")), c.cast("int") + 1
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    qnorm = float(np.sqrt((q * q).sum()))
    return fold(ip_lut) / (F.lit(qnorm) * F.sqrt(F.greatest(fold(n2_lut), F.lit(1e-300))))


def pq_adc_cosine_udf(query_vec: list[float], codebooks: list[list[list[float]]]):
    """Closure-shipped ADC scorer for production-size codebooks: the same
    LUT math as :func:`pq_adc_cosine_expr`, but the m x ks tables ride to
    executors in the cloudpickled closure (broadcast-by-value, like
    ivf_assign_udf) instead of as plan literals — plan size stays O(1)
    however many codewords (the literal fold at m*ks=2048 is ~90 KB of
    plan, which is exactly the blow-up the plan-size audit forbids).
    Scoring is two numpy gathers + row sums per Arrow batch."""
    from pyspark.sql.types import DoubleType

    q = np.asarray(query_vec, dtype=np.float64)
    m = len(codebooks)
    dsub = len(q) // m
    B = np.asarray(codebooks, dtype=np.float64)  # (m, ks, dsub)
    IP = np.einsum("mkd,md->mk", B, q.reshape(m, dsub))  # (m, ks)
    N2 = (B * B).sum(axis=2)  # (m, ks)
    qnorm = float(np.sqrt((q * q).sum()))
    rows = np.arange(m)

    @F.pandas_udf(DoubleType())
    def score(codes: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series([], dtype="float64")
        C = np.stack([np.asarray(c, dtype=np.int64) for c in codes])  # (n, m)
        ip = IP[rows[None, :], C].sum(axis=1)
        n2 = np.maximum(N2[rows[None, :], C].sum(axis=1), 1e-300)
        return pd.Series(ip / (qnorm * np.sqrt(n2)))

    return score


def pq_adc_fused_udf(query_vec: list[float], codebooks: list[list[list[float]]]):
    """Encode + ADC score in ONE Arrow pass (vector in, double out).

    When the codebooks are too big for the literal-LUT expression, BOTH
    the encoder and the scorer are Python — running them as two separate
    pandas UDFs ships the corpus through the JVM↔Python boundary twice
    (vectors out, codes back in, codes out again; guide §4.1: you control
    how many columns cross and HOW OFTEN).  This closure performs the
    identical arithmetic back-to-back per batch: argmax-encode (same
    ``sub @ mats[j] - halves[j]`` as pq_encode_udf, first-occurrence
    ties), then the same IP/N2 gathers as pq_adc_cosine_udf — the int8
    JVM round-trip of the code column carries the same values the local
    int64 array holds, so scores are bit-identical to the two-step path
    (asserted in tests).  Use only where the code column itself is not
    needed downstream (the candidate-selection scan)."""
    from pyspark.sql.types import DoubleType

    mats = [np.ascontiguousarray(np.asarray(b, dtype=np.float64).T) for b in codebooks]
    halves = [0.5 * (C * C).sum(axis=0) for C in mats]
    dsub = mats[0].shape[0]
    m = len(mats)
    q = np.asarray(query_vec, dtype=np.float64)
    B = np.asarray(codebooks, dtype=np.float64)  # (m, ks, dsub)
    IP = np.einsum("mkd,md->mk", B, q.reshape(m, dsub))
    N2 = (B * B).sum(axis=2)
    qnorm = float(np.sqrt((q * q).sum()))
    rows = np.arange(m)

    @F.pandas_udf(DoubleType())
    def score(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="float64")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        C = np.empty((len(mat), m), dtype=np.int64)
        for j in range(m):
            sub = mat[:, j * dsub : (j + 1) * dsub]
            C[:, j] = (sub @ mats[j] - halves[j]).argmax(axis=1)
        ip = IP[rows[None, :], C].sum(axis=1)
        n2 = np.maximum(N2[rows[None, :], C].sum(axis=1), 1e-300)
        return pd.Series(ip / (qnorm * np.sqrt(n2)))

    return score


# above this many LUT entries the literal fold bloats the plan; ship the
# tables by closure instead (both paths are tested equal to 1e-9)
_PQ_LITERAL_LUT_MAX = 512


def pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    expand: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """PQ-prefiltered top-k with exact rescore (the IVF-PQ recipe minus the
    coarse quantizer — compose with ivf_topk's cluster filter for both).

    Plan shape mirrors sq8_topk: encode (one Arrow UDF pass; at
    deployment the m-byte code column is persisted and this step is a
    plain scan) -> ADC approximate score, pure codegen over the lookup
    tables -> partial top-(expand*k) per partition -> broadcast the
    candidate ids -> exact cosine rescore of only expand*k rows -> top-k.
    The exact arithmetic touches O(k) rows; the corpus pass reads m bytes
    per row."""
    if codebooks is None:
        codebooks = pq_train(
            embeddings, len(query_vec), m=m, ks=ks, vec_col=vec_col, seed=seed
        )
    if m * ks > _PQ_LITERAL_LUT_MAX:
        # both encode and ADC are Python at this codebook size: fuse them
        # into one Arrow pass (guide §4.1) — same argmax + LUT arithmetic,
        # one boundary crossing instead of two
        scored = embeddings.select(
            F.col(id_col),
            pq_adc_fused_udf(query_vec, codebooks)(F.col(vec_col)).alias(
                "approx_score"
            ),
        )
    else:
        coded = embeddings.withColumn(
            "_codes", pq_encode_udf(codebooks)(F.col(vec_col))
        )
        scored = coded.select(
            F.col(id_col),
            pq_adc_cosine_expr(F.col("_codes"), query_vec, codebooks).alias(
                "approx_score"
            ),
        )
    candidates = (
        scored.orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(expand * k)
        .select(id_col)
    )
    rescored = (
        with_broadcast_arrays(embeddings, _qv=query_vec)
        .join(F.broadcast(candidates), id_col)
        .select(
            F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score")
        )
    )
    return rescored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 32,
    ks: int = 64,
    expand: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ: the production ANN path — coarse k-means pruning cuts the
    ROWS scanned (nprobe/n_clusters of the corpus; a persisted index
    makes it partition pruning, see ivf_topk_indexed), PQ codes cut the
    BYTES per scanned row (m one-byte codes vs the float vector), exact
    rescore touches only expand*k broadcast candidates.  Both quantizers
    train from bounded deterministic samples and ship by closure; at
    deployment both the cluster id and the code column are persisted so
    query time reads m bytes/row over nprobe partitions."""
    if centroids is None or codebooks is None:
        # BOTH quantizers train from the identical deterministic sample:
        # collect it once and share (one count + one Arrow transfer
        # instead of two of each; guide §1.2) — values unchanged, the
        # matrix is exactly what each trainer would have sampled itself
        mat = _deterministic_sample_matrix(embeddings, vec_col, 100_000, seed)
        if centroids is None:
            centroids = kmeans_centroids(
                embeddings, n_clusters, vec_col, seed=seed, sample_matrix=mat
            )
        if codebooks is None:
            codebooks = pq_train(
                embeddings,
                len(query_vec),
                m=m,
                ks=ks,
                vec_col=vec_col,
                seed=seed,
                sample_matrix=mat,
            )
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((np.asarray(centroids) - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d2)[:nprobe]]

    probed = embeddings.withColumn(
        "_cluster", ivf_assign_udf(centroids)(F.col(vec_col))
    ).filter(F.col("_cluster").isin(probe))
    if m * ks > _PQ_LITERAL_LUT_MAX:
        # encode + ADC fused into one Arrow pass over the probed rows
        # (guide §4.1) — see pq_topk
        scored = probed.select(
            F.col(id_col),
            pq_adc_fused_udf(query_vec, codebooks)(F.col(vec_col)).alias(
                "approx_score"
            ),
        )
    else:
        coded = probed.withColumn(
            "_codes", pq_encode_udf(codebooks)(F.col(vec_col))
        )
        scored = coded.select(
            F.col(id_col),
            pq_adc_cosine_expr(F.col("_codes"), query_vec, codebooks).alias(
                "approx_score"
            ),
        )
    candidates = (
        scored.orderBy(F.col("approx_score").desc(), F.col(id_col))
        .limit(expand * k)
        .select(id_col)
    )
    rescored = (
        with_broadcast_arrays(embeddings, _qv=query_vec)
        .join(F.broadcast(candidates), id_col)
        .select(
            F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score")
        )
    )
    return rescored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def pairwise_topk_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All-pairs top-k: broadcast the (small) query side, score every corpus
    row against each query JVM-side, window-rank per query.

    For large query sets switch to the LSH/IVF bucket join below instead of
    the broadcast product.
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col).alias("corpus_id"),
        cosine_expr(F.col(vec_col), F.col("query_vec")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim)).tolist()


def lsh_bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-projection LSH bucket id: bit i = (vec · plane_i) >= 0."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        bit = (dot_expr(vec, p) >= 0).cast("long")
        bucket = bucket.bitwiseOR(F.shiftleft(bit, i))
    return bucket


# above this many baked plane coefficients the literal expression bloats
# the plan (bits x dim doubles reprinted at every node) — switch to the
# closure-shipped Arrow UDF, same guard idea as _PQ_LITERAL_LUT_MAX
_LSH_LITERAL_PLANES_MAX = 128


def lsh_bucket_udf(planes: list[list[float]]):
    """Sign-projection bucket id via a vectorized Arrow UDF that CLOSES
    OVER the plane matrix (broadcast-by-value, one numpy GEMM per batch) —
    plan size O(1) in bits*dim where the literal expr bakes every
    coefficient.  Same closure-shipping pattern as ivf_assign_udf."""
    from pyspark.sql.types import LongType

    P = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)  # (d, bits)
    weights = (np.int64(1) << np.arange(P.shape[1], dtype=np.int64))

    @F.pandas_udf(LongType())
    def bucket(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int64")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (mat @ P) >= 0.0
        return pd.Series((bits * weights).sum(axis=1))

    return bucket


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: probe only buckets within ``multiprobe_hamming`` of the
    query's bucket.  The bucket id should be a persisted/partition column in
    a real deployment so the probe is a partition-pruned scan."""
    dim = len(query_vec)
    planes = random_hyperplanes(dim, bits, seed)
    q = np.asarray(query_vec)
    qbucket = 0
    for i, plane in enumerate(planes):
        if float(np.dot(q, np.asarray(plane))) >= 0:
            qbucket |= 1 << i
    probe = [b for b in range(1 << bits) if bin(b ^ qbucket).count("1") <= multiprobe_hamming]

    if bits * dim > _LSH_LITERAL_PLANES_MAX:
        bucket_col = lsh_bucket_udf(planes)(F.col(vec_col))
    else:
        bucket_col = lsh_bucket_expr(F.col(vec_col), planes)
    bucketed = with_broadcast_arrays(
        embeddings.withColumn("_bucket", bucket_col), _qv=query_vec
    )
    return (
        bucketed.filter(F.col("_bucket").isin(probe))
        .select(F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_sample_rows: int = 100_000,
    iterations: int = 10,
    seed: int = 42,
    sample_matrix: "np.ndarray | None" = None,
) -> list[list[float]]:
    """Coarse quantizer for IVF: Lloyd's k-means on a BOUNDED driver-side
    sample (deterministic seed).  The collect is capped at
    ``max_sample_rows`` regardless of table size — a quantizer only needs a
    sample, never the corpus (round-1 default collected the full table).

    The default sample is an UNBIASED deterministic hash filter: rows where
    ``pmod(xxhash64(v), D) < ceil(D * max_sample_rows / n)`` — stable
    across partition layouts and AQE re-plans (a bare ``limit`` would take
    whatever rows the first tasks deliver: biased toward the leading
    partitions and not reproducible).  One cheap count() scan sizes the
    fraction; the overshoot is then trimmed DETERMINISTICALLY by keeping
    the ``max_sample_rows`` smallest hash values (orderBy hash before the
    limit) — so the collected sample is a pure function of row CONTENT,
    independent of partition layout or task arrival order.  Centroids are
    tiny and broadcast into codegen."""
    if sample_matrix is not None and sample_fraction is None:
        # a caller training several quantizers from the same corpus (e.g.
        # ivfpq_topk: coarse centroids + PQ codebooks) samples ONCE and
        # shares the matrix — the count + collect pass is paid once, not
        # per quantizer (guide §1.2).  The matrix is exactly what
        # _deterministic_sample_matrix(embeddings, vec_col,
        # max_sample_rows, seed) returns, so values are unchanged.
        mat = sample_matrix
    elif sample_fraction is not None and sample_fraction < 1.0:
        df = embeddings.select(F.col(vec_col).cast("array<double>").alias("v"))
        df = df.sample(fraction=sample_fraction, seed=seed)
        # Arrow transfer instead of pickled rows (guide §6)
        mat = np.array(
            [np.asarray(v, dtype=np.float64)
             for v in df.limit(int(max_sample_rows)).toPandas()["v"]],
            dtype=np.float64,
        )
    else:
        # identical sampling logic, factored: one definition of the
        # content-deterministic hash filter for every quantizer
        mat = _deterministic_sample_matrix(
            embeddings, vec_col, max_sample_rows, seed
        )
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
    for _ in range(iterations):
        # bit-identical cache-blocked form of the broadcast d2 (see
        # _sqdist_matrix — this is the coarse-quantizer shape it targets)
        d2 = _sqdist_matrix(mat, centroids)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids.tolist()


def ivf_assign_udf(centroids: list[list[float]]):
    """Cluster id = argmin ||v - c||² = argmax (v·c - ||c||²/2), computed by
    a vectorized Arrow UDF that CLOSES OVER the centroid matrix.

    The matrix ships to executors once via the cloudpickled closure
    (broadcast-by-value) and the assignment is one numpy GEMM per Arrow
    batch — plan size stays O(1) regardless of k.  The round-2 version
    compiled k×d centroid literals plus an O(k) when()-chain argmin into
    the plan: fine at k=8, but at production k (4096+) that is megabytes
    of plan and a codegen blow-up.  Ties break to the lowest cluster id
    (numpy argmax first-occurrence), matching the old when()-chain."""
    from pyspark.sql.types import IntegerType

    C = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64).T)  # (d, k)
    half = 0.5 * (C * C).sum(axis=0)  # (k,)

    @F.pandas_udf(IntegerType())
    def assign(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="int32")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        return pd.Series((mat @ C - half).argmax(axis=1).astype(np.int32))

    return assign


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: probe only the ``nprobe`` clusters nearest the query.

    In a real deployment the cluster id is a persisted partition column so
    the probe is a partition-pruned scan; here it is computed on the fly.
    """
    if centroids is None:
        centroids = kmeans_centroids(embeddings, n_clusters, vec_col, seed=seed)
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((np.asarray(centroids) - q[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d2)[:nprobe]]

    assigned = with_broadcast_arrays(
        embeddings.withColumn(
            "_cluster", ivf_assign_udf(centroids)(F.col(vec_col))
        ),
        _qv=query_vec,
    )
    return (
        assigned.filter(F.col("_cluster").isin(probe))
        .select(F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def embedding_all_pairs_exact(
    embeddings: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_blocks: int = 8,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold via DISTRIBUTED block GEMM.

    Exact all-pairs is inherently O(n²) compute; the scalable physical plan
    decomposes the n×n similarity matrix into ``num_blocks²`` independent
    block products, one Spark task each — NO driver collect, NO broadcast of
    the corpus (the round-1 version collected the table to the driver; this
    one never materializes embedding rows outside executors):

      * rows are hash-assigned to ``num_blocks`` row-blocks;
      * block-pair keys (i ≤ j) are built by exploding a ``sequence()`` —
        side A carries block i to every (i, j≥i), side B carries block j to
        every (i≤j, j), so each unordered row pair meets in EXACTLY one
        block pair;
      * ``cogroup().applyInPandas`` computes one numpy GEMM per block pair
        (vectorized, ~100× over per-pair array ops) and emits only pairs
        with cosine ≥ threshold, ordered id_a < id_b.

    Shuffle volume is O(n·num_blocks); per-task memory is two blocks
    (O(n/num_blocks · dim)).  Size ``num_blocks ≈ sqrt(n·dim·8 / mem)`` so a
    block pair fits an executor — at 10⁹ rows this stays task-bounded where
    any broadcast/collect design dies.  For sub-quadratic near-dup at scale
    use ``embedding_near_duplicates`` (LSH) and reserve this as the exact
    oracle on candidate subsets.
    """
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField as SF,
        StructType as ST,
    )

    nb = int(num_blocks)
    base = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(nb)).alias("blk"),
    )
    # side A: block i replicated to all pairs (i, j >= i); side B: block j
    # replicated to all pairs (i <= j, j)
    side_a = base.select(
        "id", "v", F.col("blk").alias("ka"), F.explode(F.sequence("blk", F.lit(nb - 1))).alias("kb")
    )
    # distinct column names on side B: a self-cogroup with shared lineage
    # dedups same-named attributes and drops them from the right-side pdf
    side_b = base.select(
        F.col("id").alias("id_r"),
        F.col("v").alias("v_r"),
        F.explode(F.sequence(F.lit(0), "blk")).alias("ka"),
        F.col("blk").alias("kb"),
    )

    out_schema = ST(
        [
            SF("id_a", LongType(), False),
            SF("id_b", LongType(), False),
            SF("cosine", DoubleType(), False),
        ]
    )
    thr = float(threshold)

    def gemm(key: tuple, pdf_a: pd.DataFrame, pdf_b: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf_a) or not len(pdf_b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids_a = pdf_a["id"].to_numpy(dtype=np.int64)
        ids_b = pdf_b["id_r"].to_numpy(dtype=np.int64)
        mat_a = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_a["v"]])
        mat_b = np.stack([np.asarray(v, dtype=np.float64) for v in pdf_b["v_r"]])
        na = np.linalg.norm(mat_a, axis=1, keepdims=True)
        nb_ = np.linalg.norm(mat_b, axis=1, keepdims=True)
        sims = (mat_a / np.where(na == 0, 1.0, na)) @ (mat_b / np.where(nb_ == 0, 1.0, nb_)).T
        # sieve slack must cover the 6-dp rounding membership contract:
        # downstream (registry + oracle) keeps pairs with round(cosine,6)
        # >= thr, i.e. true cosine >= thr - 5e-7, so the sieve must keep
        # everything down to half the rounding quantum below the threshold
        # (plus float-summation headroom) or a pair the oracle keeps could
        # never leave this task
        ai, bj = np.where(sims >= thr - 5.1e-7)
        # each unordered pair meets in exactly one block pair; the diagonal
        # (ka == kb) sees both orientations so id order dedupes it, while an
        # off-diagonal pair appears once in arbitrary orientation -> min/max
        if key[0] == key[1]:
            keep = ids_a[ai] < ids_b[bj]
            ai, bj = ai[keep], bj[keep]
            lo, hi = ids_a[ai], ids_b[bj]
        else:
            lo = np.minimum(ids_a[ai], ids_b[bj])
            hi = np.maximum(ids_a[ai], ids_b[bj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sims[ai, bj]})

    return (
        side_a.groupby("ka", "kb")
        .cogroup(side_b.groupby("ka", "kb"))
        .applyInPandas(gemm, out_schema)
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multiprobe: int = 0,
    block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH bucket partition, then ONE
    blocked numpy GEMM per bucket — never an O(n²) cross join, and never
    per-pair array expressions (a bucket self-join scoring each pair with
    an interpreted HOF cosine is ~100× slower than the same dot products
    as a matrix multiply; at sf0.1 that was 91 s vs < 1 s for this plan).

    Shuffle volume is O(n · fan-out) embedding rows (each row moves to its
    bucket(s) once); within a bucket the upper triangle is computed in
    ``block_rows``-sized tiles so task memory is bucket_rows·dim +
    block_rows² doubles.  ``bits`` must scale ~log2(n / target_bucket) so
    buckets stay task-sized — the same knob any LSH deployment tunes.

    ``multiprobe`` > 0 explodes each row to its own bucket plus all buckets
    within Hamming distance ``multiprobe`` of it (BOTH sides), so a pair
    whose buckets differ in up to ``2·multiprobe`` bits still meets in a
    shared probe bucket; pairs meeting in several probe buckets are
    collapsed by a (id_a, id_b) groupBy.

    Like ``embedding_all_pairs_exact``, emitted pairs extend 5.1e-7 below
    ``threshold`` (half the 6-dp rounding quantum): membership is decided
    on the ROUNDED cosine downstream, and the sieve must not drop a pair
    the rounded contract keeps."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField as SF,
        StructType as ST,
    )

    sample_row = embeddings.select(F.size(vec_col).alias("d")).first()
    planes = random_hyperplanes(int(sample_row["d"]), bits, seed)
    bucketed = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        lsh_bucket_expr(F.col(vec_col), planes).alias("bucket"),
    )
    if multiprobe:
        if multiprobe != 1:
            raise ValueError("multiprobe > 1 not implemented (fan-out explodes)")
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
        )
        bucketed = bucketed.select("id", "v", F.explode(probes).alias("bucket"))

    out_schema = ST(
        [
            SF("id_a", LongType(), False),
            SF("id_b", LongType(), False),
            SF("cosine", DoubleType(), False),
        ]
    )
    sieve = float(threshold) - 5.1e-7
    blk = int(block_rows)

    def bucket_gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat /= np.where(nrm == 0, 1.0, nrm)
        lo_all, hi_all, cos_all = [], [], []
        for i0 in range(0, n, blk):
            a = mat[i0 : i0 + blk]
            for j0 in range(i0, n, blk):
                sims = a @ mat[j0 : j0 + blk].T
                ai, bj = np.where(sims >= sieve)
                if i0 == j0:  # upper triangle only (no self-pairs)
                    keep = ai < bj
                    ai, bj = ai[keep], bj[keep]
                elif not len(ai):
                    continue
                ia, ib = ids[ai + i0], ids[bj + j0]
                lo_all.append(np.minimum(ia, ib))
                hi_all.append(np.maximum(ia, ib))
                cos_all.append(sims[ai, bj])
        if not lo_all:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.DataFrame(
            {
                "id_a": np.concatenate(lo_all),
                "id_b": np.concatenate(hi_all),
                "cosine": np.concatenate(cos_all),
            }
        )

    out = bucketed.groupBy("bucket").applyInPandas(bucket_gemm, out_schema)
    if multiprobe:
        # a pair can meet in several shared probe buckets; its cosine is the
        # same float64 GEMM value in each, max() just picks the one copy
        out = out.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))
    return out


# ----------------------------------------------------------- persisted IVF

def ivf_build_index(
    embeddings: DataFrame,
    index_path: str,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF layout: cluster id as a PERSISTED PARTITION
    COLUMN (``index_path/cluster=N/``), centroids in a small sidecar JSON.

    This is the real deployment shape the on-the-fly ``ivf_topk`` docstring
    promises: assignment (one GEMM per Arrow batch) is paid ONCE at index
    build; every query then probes ``nprobe`` clusters as a partition-pruned
    scan — the FileSourceScan's PartitionFilters eliminate non-probed
    directories before any IO, so a 1000-executor probe touches
    nprobe/n_clusters of the files regardless of corpus size.  Rebuild (or
    incrementally append — new rows are assigned with the same frozen
    centroids) when drift degrades recall.
    """
    import json

    cents = centroids if centroids is not None else kmeans_centroids(
        embeddings, n_clusters, vec_col, seed=seed
    )
    assigned = embeddings.withColumn(
        "cluster", ivf_assign_udf(cents)(F.col(vec_col))
    )
    assigned.write.partitionBy("cluster").mode("overwrite").parquet(index_path)
    sidecar = {"centroids": cents, "meta": {}}
    _fs_write_text(
        embeddings.sparkSession, _centroids_sidecar(index_path), json.dumps(sidecar)
    )
    return cents


def _centroids_sidecar(index_path: str) -> str:
    # sibling file, NOT inside the partitioned dir (the parquet reader
    # would otherwise try to parse it)
    return index_path.rstrip("/") + ".centroids.json"


def _fs_write_text(spark, path: str, text: str) -> None:
    """Write a small text file through Spark's Hadoop FileSystem layer so
    the sidecar lands NEXT TO the parquet index on any supported scheme
    (s3a://, gs://, hdfs://, file:/) — not silently on driver-local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark, path: str) -> str:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(path)
    stream = fs.open(hpath)
    baos = jvm.java.io.ByteArrayOutputStream()
    jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, True)
    return bytes(baos.toByteArray()).decode("utf-8")


def ivf_load_sidecar(index_path: str) -> dict:
    """Full sidecar: {"centroids": [...], "meta": {...}}.  Reads through the
    Hadoop FS layer when a SparkSession is active (remote schemes work);
    falls back to a plain local open otherwise."""
    import json

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    path = _centroids_sidecar(index_path)
    if spark is not None:
        raw = _fs_read_text(spark, path)
    else:
        with open(path) as f:
            raw = f.read()
    return json.loads(raw)


def ivf_load_centroids(index_path: str) -> list[list[float]]:
    return ivf_load_sidecar(index_path)["centroids"]


def ivf_append(
    new_embeddings: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Incremental index growth: assign NEW rows with the FROZEN quantizer
    (the sidecar centroids — never re-trained here) and append them into
    the existing ``cluster=N`` partition directories.  Probes over the
    grown index stay partition-pruned and agree exactly with an on-the-fly
    IVF using the same centroids over the full corpus; only quantization
    DRIFT (new data far from old centroids) degrades recall — monitor with
    ``ivf_drift_report`` and rebuild when it crosses budget."""
    import json

    side = ivf_load_sidecar(index_path)
    cents = side["centroids"]
    assigned = new_embeddings.withColumn(
        "cluster", ivf_assign_udf(cents)(F.col(vec_col))
    )
    assigned.write.partitionBy("cluster").mode("append").parquet(index_path)
    meta = dict(side.get("meta", {}))
    meta["appends"] = int(meta.get("appends", 0)) + 1
    _fs_write_text(
        new_embeddings.sparkSession,
        _centroids_sidecar(index_path),
        json.dumps({"centroids": cents, "meta": meta}),
    )
    return cents


def ivf_dist_udf(centroids: list[list[float]]):
    """L2 distance of a vector to ITS STORED cluster's centroid (not the
    nearest) — the quantization-error signal drift monitoring needs.
    Same closure-shipped matrix pattern as ``ivf_assign_udf``."""
    from pyspark.sql.types import DoubleType

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)

    @F.pandas_udf(DoubleType())
    def dist(vs: pd.Series, cluster: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="float64")
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        cs = C[cluster.to_numpy(dtype=np.int64)]
        return pd.Series(np.sqrt(((mat - cs) ** 2).sum(axis=1)))

    return dist


def ivf_drift_report(spark, index_path: str, vec_col: str = "embedding") -> DataFrame:
    """Per-cluster drift/health of a persisted (possibly appended) index:
    row count and mean/max quantization error.  Rising error after appends
    = the frozen quantizer no longer fits the data; rebuild the index."""
    cents = ivf_load_centroids(index_path)
    df = spark.read.parquet(index_path)
    d = ivf_dist_udf(cents)(F.col(vec_col), F.col("cluster"))
    return (
        df.withColumn("_d", d)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.avg("_d"), 6).alias("mean_dist"),
            F.round(F.max("_d"), 6).alias("max_dist"),
        )
        .orderBy("cluster")
    )


def probe_clusters(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` cluster ids nearest the query (driver-side: the
    centroid matrix is tiny by construction)."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((np.asarray(centroids) - q[None, :]) ** 2).sum(axis=1)
    return [int(i) for i in np.argsort(d2)[:nprobe]]


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k over a persisted IVF index: probe-cluster selection on the
    driver (tiny centroid matrix), then a partition-pruned scan of only the
    probed ``cluster=N`` directories + per-partition partial top-k."""
    probe = probe_clusters(ivf_load_centroids(index_path), query_vec, nprobe)

    df = with_broadcast_arrays(
        spark.read.parquet(index_path).filter(F.col("cluster").isin(probe)),
        _qv=query_vec,
    )
    return (
        df.select(F.col(id_col), cosine_expr(F.col(vec_col), F.col("_qv")).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------- SemDeDup


def semantic_dedup(
    embeddings: DataFrame,
    cluster_col: str = "label",
    threshold: float = 0.97,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_rows: int = 2048,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): within each embedding
    cluster, flag every vector whose cosine similarity to a LOWER-id
    cluster member is >= ``threshold`` — the deterministic keep-first
    variant of semantic deduplication (the paper's centroid-distance
    keep-rule needs the centroids; keep-lowest-id is the engine-portable
    policy an oracle can recompute).

    ``cluster_col`` is the cluster assignment INPUT: at corpus scale it
    comes from the IVF coarse quantizer (``ivf_assign_udf`` /
    the persisted index's partition column), which bounds the quadratic
    within-cluster work exactly as SemDeDup prescribes; here the fixture's
    ``label`` column plays that role so the oracle can recompute clusters
    trivially.

    Plan shape: ONE shuffle of the embeddings to their cluster, then one
    blocked numpy GEMM per cluster (same tile discipline as
    :func:`embedding_near_duplicates` — task memory is cluster_rows·dim +
    block_rows² doubles, never an O(n²) crossJoin node).  Membership is
    decided on the 6-dp ROUNDED cosine so float summation order can't
    flip a borderline pair between engines.

    Returns every input row with ``is_dup`` — the kept corpus is
    ``filter(~is_dup)``.
    """
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StructField as SF,
        StructType as ST,
    )

    out_schema = ST(
        [
            SF("vec_id", LongType(), False),
            SF("cluster", LongType(), False),
            SF("is_dup", BooleanType(), False),
        ]
    )
    thr = float(threshold)
    blk = int(block_rows)

    def cluster_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": ids, "cluster": pdf["cluster"].to_numpy()[:n], "is_dup": np.zeros(n, bool)}
            )
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["v"].to_numpy()[order]]
        )
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        mat /= np.where(nrm == 0, 1.0, nrm)
        dup = np.zeros(n, dtype=bool)
        for j0 in range(0, n, blk):
            b = mat[j0 : j0 + blk]
            hit = np.zeros(b.shape[0], dtype=bool)
            for i0 in range(0, j0 + blk, blk):
                if i0 >= j0 + b.shape[0]:
                    break
                sims = np.round(mat[i0 : i0 + blk] @ b.T, 6)
                ii, jj = np.where(sims >= thr)
                keep = (ii + i0) < (jj + j0)  # strictly lower-id partner
                hit |= np.bincount(jj[keep], minlength=b.shape[0]).astype(bool)
            dup[j0 : j0 + b.shape[0]] = hit
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": np.full(n, int(pdf["cluster"].iloc[0]), dtype=np.int64),
                "is_dup": dup,
            }
        )

    prepped = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(cluster_col).cast("long").alias("cluster"),
    )
    return prepped.groupBy("cluster").applyInPandas(cluster_kernel, out_schema)


# ----------------------------------------------------- hard-negative mining


def hard_negatives(
    embeddings: DataFrame,
    anchor_pred,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training data: for each anchor
    (rows matching ``anchor_pred``), the ``k`` most cosine-similar corpus
    vectors with a DIFFERENT label — the highest-loss negatives a
    contrastive/triplet objective wants (public recipe: in-batch/ANN hard
    negative mining, e.g. Xiong et al. 2021 ANCE).

    Plan: the anchor batch broadcasts (mining runs in anchor batches — the
    anchor set is bounded by construction, like query vectors in
    ``pairwise_topk_join``); scoring is one narrow pass over the corpus,
    O(n·|anchors|) JVM-side cosines with NO shuffle of the corpus; the
    per-anchor top-k is a window over the scored stream.  Corpus-wide
    all-anchor mining swaps the broadcast for the LSH/IVF bucket join
    (same candidate generators as the near-dup family) and keeps this
    ranking tail.

    Ranks are engine-independent: decided on the 6-dp-rounded cosine with
    (anchor_id, vec_id) tie-breaks.
    """
    from pyspark.sql import Window

    anchors = embeddings.filter(anchor_pred).select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("anchor_vec"),
        F.col(label_col).alias("anchor_label"),
    )
    scored = (
        embeddings.crossJoin(F.broadcast(anchors))
        .filter(F.col(label_col) != F.col("anchor_label"))
        .select(
            "anchor_id",
            F.col(id_col).alias("negative_id"),
            F.round(
                cosine_expr(F.col(vec_col), F.col("anchor_vec")), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("score").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", "negative_id", "score", "rank")
    )
