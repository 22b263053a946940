"""Vector kernels for similarity search & near-dup detection.

Hot-path math stays JVM-side: dot products and norms via F.zip_with +
F.aggregate over array<float> columns (whole-stage codegen), with numpy
pandas-UDF variants for batch-heavy paths (brute-force top-k over many
query vectors).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    """sum(a[i]*b[i]) via zip_with+aggregate — no Python, no explode."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def cosine_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


# ------------------------------------------------------------------- MinHash

# Universal-hash family h_i(x) = (a_i * x + b_i) mod p — deterministic seeds
# so Spark and any oracle reimplementation agree bit-for-bit.  p = 2^31-1
# keeps a*h + b < 2^63 (Spark 4 runs ANSI mode: long overflow raises).
_MERSENNE_P = (1 << 31) - 1


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.RandomState(seed)
    return [
        (int(rng.randint(1, _MERSENNE_P - 1)), int(rng.randint(0, _MERSENNE_P - 1)))
        for _ in range(num_hashes)
    ]


def _let(bound: Column, body) -> Column:
    """Bind an expensive expression as a HOF lambda variable so the body
    evaluates it ONCE per row: Catalyst's common-subexpression elimination
    does not reach inside higher-order-function lambdas, so a lambda body
    that references an outer expression re-evaluates it per element —
    measured 4x on the shingle kernels, where the tokenizer ran once per
    shingle position.  ``transform(array(x), v -> body(v))[1]`` is the
    expression-level let-binding that keeps the one-Column API."""
    return F.element_at(F.transform(F.array(bound), body), 1)


def word_shingles_expr(col: Column, k: int = 3) -> Column:
    """Word k-gram shingles as array<string> (distinct) — JVM-side via
    sequence + slice + concat_ws.  The token array is let-bound so the
    tokenizer runs once per row, not once per shingle position (measured
    6.2 -> 1.7 s executor CPU on the sf0.1 corpus; see :func:`_let`)."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")

    def body(t: Column) -> Column:
        n = F.greatest(F.size(t) - F.lit(k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.concat_ws(" ", F.slice(t, i, k)))
        )

    return _let(toks, body)


def word_shingles_sql(c: str, k: int = 3) -> str:
    toks = f"regexp_split_to_array(regexp_replace(lower(trim({c})), '\\s+', ' ', 'g'), ' ')"
    return (
        f"list_distinct(list_transform(range(1, greatest(len({toks}) - {k - 1}, 1) + 1), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' ')))"
    )


def minhash_signature_expr(shingles: Column, params: list[tuple[int, int]]) -> Column:
    """MinHash signature as array<bigint>: for each (a,b), min over shingles
    of (a * xxhash64(s) + b) mod p.  JVM-side, no Python per row.

    ONE aggregate pass over the shingles keeps a running elementwise min
    against the LITERAL (a, b) param array — a single array traversal
    instead of num_hashes of them, and O(1) plan bytes in num_hashes.
    The init sentinel is p itself (every pmod result is < p); an empty
    shingle array yields the all-p sentinel signature."""
    pab = F.array(
        *[F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in params]
    )
    return F.aggregate(
        shingles,
        F.array_repeat(F.lit(_MERSENNE_P).cast("long"), len(params)),
        lambda acc, s: F.zip_with(
            acc,
            pab,
            lambda m, p: F.least(
                m,
                F.pmod(
                    p["a"] * F.pmod(F.xxhash64(s), F.lit(_MERSENNE_P)) + p["b"],
                    F.lit(_MERSENNE_P),
                ),
            ),
        ),
    )


def band_keys_expr(signature: Column, bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature to a bucket key.
    Returns array<struct<band:int, key:bigint>> ready to explode."""
    parts = []
    for band in range(bands):
        band_slice = F.slice(signature, band * rows_per_band + 1, rows_per_band)
        key = F.xxhash64(F.concat_ws(",", F.transform(band_slice, lambda v: v.cast("string"))))
        parts.append(F.struct(F.lit(band).alias("band"), key.alias("key")))
    return F.array(*parts)


# -------------------------------------------------------------------- SimHash


def simhash_expr(tokens: Column, bits: int = 64) -> Column:
    """64-bit SimHash over a token array: per-bit majority vote over the
    token hashes, sign-threshold.  Returns bigint.

    Single ``aggregate`` pass accumulating a ``bits``-long counter array
    (zip_with against the hash's unpacked bits), then one fold packs the
    majority bits into a long.  This keeps the expression O(1) in ``bits``
    — the round-2 form generated 64 separate filter passes over the token
    array, which was both 64× the array traversals and ~90 KB of plan per
    reference (the self-join printed it twice: 182 KB plans)."""
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    n = F.size(hashes)
    seq = F.sequence(F.lit(0), F.lit(bits - 1))
    zero = F.lit(0).cast("long")
    counts = F.aggregate(
        hashes,
        F.array_repeat(zero, bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                seq,
                lambda i: F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            seq,
            lambda c, i: F.when(
                c * 2 > n, F.call_function("shiftleft", F.lit(1).cast("long"), i)
            ).otherwise(zero),
        ),
        zero,
        lambda acc, v: acc.bitwiseOR(v),
    )
