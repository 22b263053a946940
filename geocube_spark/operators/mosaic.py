"""Mosaic (A7), valid-pixel count/filter (A9/F12) over the tile table.

Reference: internal/image/image.go:321-422 (MergeDatasets) — GDAL warp
paints inputs in record-time order so the LATEST record wins per pixel,
skipping nodata (docs/user-guide/access.md:33-37); valid-pixel check
image.go:372-381 + bitmap.go:153-207.

Spark-first design: tiles keyed by (container, band, level, block) join to
their dataset's record time; the mosaic is a single groupBy per output block
with a JVM-side array reduce — newest-first coalesce per pixel index.  No
Python in the loop, no explode of 4096-wide arrays, map-side partial
aggregation applies.  At 100 TB this shuffles exactly one array per
(block, record) — the minimum possible — and AQE handles skewed cells.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _nodata_pred(v: Column, nodata: Column) -> Column:
    """NaN-aware nodata comparison (C14, bitmap.go:153-193)."""
    return F.when(F.isnan(nodata), F.isnan(v)).otherwise(v == nodata)


def valid_count_expr(px: Column, nodata: Column) -> Column:
    """A9: count of non-nodata pixels in a block."""
    return F.size(F.filter(px, lambda v: ~_nodata_pred(v, nodata)))


def mosaic_blocks(
    tiles_with_time: DataFrame,
    nodata: float,
    out_prefix: str = "",
    extra_keys: tuple[str, ...] = (),
    carry_first: tuple[str, ...] = (),
) -> DataFrame:
    """A7 latest-wins mosaic.

    Input: tile rows + ``record_datetime``/``record_id`` columns (from the
    datasets join), all on the SAME aligned grid (the reference's post-warp
    state).  Output: one row per (band, level, block_x, block_y) whose ``px``
    is the per-pixel newest non-nodata value.

    Implementation: sort each group's blocks newest-first (array_sort on a
    (datetime, record_id) struct — W1/W2 tie-break), then a single
    ``aggregate``+``zip_with`` fold: acc[i] = first non-nodata from the top.
    All higher-order functions -> whole-stage codegen.

    ``extra_keys`` prepend grouping keys (e.g. the output container of a
    collapse consolidation); ``carry_first`` columns come through as
    ``F.first`` (grid facts like ``pix_to_crs`` that are constant within
    a group by the aligned-grid precondition).
    """
    nd = F.lit(float(nodata))
    grouped = tiles_with_time.groupBy(
        *extra_keys, "band", "level", "block_x", "block_y"
    ).agg(
        F.reverse(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("record_datetime").alias("t"),
                        F.col("record_id").alias("rid"),
                        F.col("px").alias("px"),
                    )
                )
            )
        ).alias("stack"),
        *[F.first(c).alias(c) for c in carry_first],
    )

    # newest-first fold: start from the newest block, fill nodata holes from
    # older blocks one zip_with at a time.
    merged_px = F.aggregate(
        F.slice(F.col("stack"), 2, F.greatest(F.size("stack") - 1, F.lit(0))),
        F.element_at(F.col("stack"), 1)["px"],
        lambda acc, s: F.zip_with(
            acc, s["px"], lambda a, b: F.when(_nodata_pred(a, nd), b).otherwise(a)
        ),
    )
    out = grouped.select(
        *extra_keys,
        "band",
        "level",
        "block_x",
        "block_y",
        merged_px.alias(f"{out_prefix}px"),
        F.size("stack").alias("n_inputs"),
        *carry_first,
    )
    return out


def filter_valid_slices(
    mosaic: DataFrame,
    nodata: float,
    min_valid_fraction: float,
    px_col: str = "px",
    block_pixels: int = 4096,
) -> DataFrame:
    """F12: drop output blocks whose valid-pixel fraction < threshold.

    The reference applies this per merged SLICE; per-block filtering plus a
    grouped sum reproduces the slice-level decision when needed.
    """
    if min_valid_fraction <= 0:
        return mosaic
    nd = F.lit(float(nodata))
    k = int(math.ceil(min_valid_fraction * block_pixels))
    return mosaic.filter(valid_count_expr(F.col(px_col), nd) >= k)


def temporal_composite(
    tiles: DataFrame,
    stat: str = "median",
    block: int = 64,
    px_col: str = "px",
    keys: tuple[str, ...] = ("block_x", "block_y"),
) -> DataFrame:
    """Per-pixel temporal composite across the time layers of each block —
    the monthly-median/mean cloud-free composite of EO pipelines (the
    step after latest-wins mosaicking when ALL acquisitions contribute,
    not just the newest; same A7 surface, reduce semantics instead of
    coalesce).

    Plan: ONE groupBy(keys) shuffling each block's layers to a single
    reducer row (collect_list of k px arrays — bounded by the records-
    per-block fan-in, never by raster size), then a pure HOF per-pixel
    sort/median (or mean) with no Python.  At 100 TB the shuffle is
    O(pixels) — the same volume any temporal reduce must move — and the
    per-group state is k·block² doubles, safely under executor memory
    for any practical layer count (k=1000 × 64² = 32 MB worst case;
    beyond that, switch to a two-level partial-histogram reduce).
    """
    if stat not in ("median", "mean"):
        raise ValueError("stat must be 'median' or 'mean'")
    n = block * block
    grouped = tiles.groupBy(*keys).agg(
        F.collect_list(px_col).alias("layers"),
        F.count("*").cast("int").alias("n_layers"),
    )
    idx = F.sequence(F.lit(0), F.lit(n - 1))
    if stat == "mean":
        per_px = F.transform(
            idx,
            lambda i: F.aggregate(
                F.col("layers"),
                F.lit(0.0),
                lambda acc, a: acc + F.element_at(a, (i + 1).cast("int")),
            )
            / F.col("n_layers"),
        )
    else:
        # element-wise median: gather pixel i across layers, sort, take
        # the middle — INTERPOLATING for even layer counts (mean of the
        # two middle values), the same convention as DuckDB median()/
        # quantile_cont that every oracle in this repo compares against
        def _median(i):
            sorted_vals = F.array_sort(
                F.transform(
                    F.col("layers"),
                    lambda a: F.element_at(a, (i + 1).cast("int")),
                )
            )
            lo = F.element_at(
                sorted_vals, ((F.col("n_layers") + 1) / 2).cast("int")
            )
            hi = F.element_at(
                sorted_vals,
                (F.col("n_layers") / 2 + 1).cast("int"),
            )
            return (lo + hi) / 2.0

        per_px = F.transform(idx, _median)
    return grouped.select(*keys, "n_layers", per_px.alias("px"))


# ------------------------------------------------------------- feathering

def feather_blend(
    layers: DataFrame,
    block: int = 64,
    px_col: str = "px",
    out_col: str = "px_blend",
) -> DataFrame:
    """Seamline feathering: blend overlapping acquisitions with weights
    proportional to each pixel's distance to its acquisition's footprint
    edge (the gdalwarp cutline-blend / seamline-feather pattern) —
    acquisitions fade out toward their edges instead of cutting a hard
    latest-wins seam.

        out(p) = sum_l w_l(p) * v_l(p) / sum_l w_l(p)
        w_l(p) = max(0, min(dist to each of the 4 footprint edges))

    ``layers``: (layer_id, block_x, block_y, px, fp_x0, fp_x1, fp_y0,
    fp_y1) with footprints in GLOBAL pixel coordinates (half-open).
    Returns one row per block with the blended array.

    Scale shape: one groupBy(block) collects the (few) overlapping
    acquisitions per block — the shuffle is acquisitions x blocks rows,
    never pixels — then the blend is a pure nested higher-order function
    over the pixel index (weights are integer pixel distances, derived
    in-plan from the block origin; no UDF, no per-pixel state).  The
    weight sum being 0 (outside every footprint) yields NULL, the nodata
    convention of the mosaic family.
    """
    b = block
    lay = F.struct("px", "fp_x0", "fp_x1", "fp_y0", "fp_y1")
    g = layers.groupBy("block_x", "block_y").agg(F.collect_list(lay).alias("ls"))
    # per pixel index i: global (x, y); per layer: w = clamped edge distance
    blend = F.expr(
        f"""
        transform(sequence(0, {b * b} - 1), i -> (
            aggregate(ls, named_struct('n', 0.0D, 'd', 0.0D), (acc, l) -> (
                named_struct(
                  'n', acc.n + greatest(0.0D, least(
                        CAST(block_x * {b} + (i % {b}) - l.fp_x0 + 1 AS DOUBLE),
                        CAST(l.fp_x1 - block_x * {b} - (i % {b}) AS DOUBLE),
                        CAST(block_y * {b} + (i DIV {b}) - l.fp_y0 + 1 AS DOUBLE),
                        CAST(l.fp_y1 - block_y * {b} - (i DIV {b}) AS DOUBLE)))
                       * l.px[i],
                  'd', acc.d + greatest(0.0D, least(
                        CAST(block_x * {b} + (i % {b}) - l.fp_x0 + 1 AS DOUBLE),
                        CAST(l.fp_x1 - block_x * {b} - (i % {b}) AS DOUBLE),
                        CAST(block_y * {b} + (i DIV {b}) - l.fp_y0 + 1 AS DOUBLE),
                        CAST(l.fp_y1 - block_y * {b} - (i DIV {b}) AS DOUBLE))))
            ), acc -> CASE WHEN acc.d > 0 THEN acc.n / acc.d END)
        ))
        """
    )
    return g.select("block_x", "block_y", blend.alias(out_col))


def temporal_trend(
    tiles_with_time: DataFrame,
    time_col: str = "t",
    nodata: float = 0.0,
    block: int = 64,
    px_col: str = "px",
    keys: tuple[str, ...] = ("block_x", "block_y"),
) -> DataFrame:
    """Per-pixel monotonic-trend detection across a block's time layers:
    Mann-Kendall S statistic (sum of pairwise value-difference signs) and
    the Theil-Sen slope (median of pairwise slopes) — the standard
    nonparametric trend pair of EO time-series analysis (NDVI greening /
    drying maps), robust to outliers and nodata gaps.

    Plan: ONE groupBy(keys) gathers each block's layers (the same A7
    shuffle volume any temporal reduce moves), then everything is
    whole-stage JVM higher-order expressions — the per-pixel value
    series is materialized ONCE per pixel (a transform-bound lambda
    variable, so pair probes are O(1) array reads, not re-evaluations),
    pairs enumerate from the runtime layer count, nodata observations
    drop out of both statistics.  No Python, no per-pixel shuffle.

    Returns one row per block: n_px, n_trendable (>= 2 valid
    observations), sum_s (exact integer), n_pos / n_neg (pixels with
    S > 0 / S < 0), and slope24_sum = sum of per-pixel median slopes
    SCALED BY 24 — for integer-valued inputs on integer time axes with
    spacings dividing 4, every median (interpolated or not) times 24 is
    an exact integer, so cross-engine sums match bit-for-bit with no
    float-association tolerance.
    """
    nd = F.lit(float(nodata))
    n = block * block
    grouped = tiles_with_time.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(time_col).cast("double").alias("t"),
                    F.col(px_col).alias("px"),
                )
            )
        ).alias("layers")
    )
    ts = F.transform(F.col("layers"), lambda l: l["t"])
    k_layers = F.size("layers")
    # all (i, j) layer-index pairs with i < j, 1-based, from the RUNTIME
    # layer count (guarded sequence: i = k has no partners)
    pair_list = F.flatten(
        F.transform(
            F.sequence(F.lit(1), k_layers),
            lambda i: F.when(
                i < k_layers,
                F.transform(
                    F.sequence(i + 1, k_layers),
                    lambda j: F.struct(i.alias("a"), j.alias("b")),
                ),
            ).otherwise(F.array()),
        )
    )
    with_pairs = grouped.select(
        *keys, "layers", ts.alias("ts"), pair_list.alias("prs")
    )
    idx = F.sequence(F.lit(0), F.lit(n - 1))
    # per-pixel series materialized once; stats bind it as a lambda var
    series = F.transform(
        idx,
        lambda k: F.transform(
            F.col("layers"), lambda l: F.element_at(l["px"], (k + 1).cast("int"))
        ),
    )
    stats = F.transform(
        series,
        lambda vs: F.struct(
            F.size(F.filter(vs, lambda v: v != nd)).alias("nv"),
            F.aggregate(
                F.filter(
                    F.col("prs"),
                    lambda p: (F.element_at(vs, p["a"].cast("int")) != nd)
                    & (F.element_at(vs, p["b"].cast("int")) != nd),
                ),
                F.lit(0).cast("long"),
                lambda acc, p: acc
                + F.signum(
                    F.element_at(vs, p["b"].cast("int"))
                    - F.element_at(vs, p["a"].cast("int"))
                ).cast("long"),
            ).alias("s"),
            F.array_sort(
                F.transform(
                    F.filter(
                        F.col("prs"),
                        lambda p: (F.element_at(vs, p["a"].cast("int")) != nd)
                        & (F.element_at(vs, p["b"].cast("int")) != nd),
                    ),
                    lambda p: (
                        F.element_at(vs, p["b"].cast("int"))
                        - F.element_at(vs, p["a"].cast("int"))
                    )
                    / (
                        F.element_at(F.col("ts"), p["b"].cast("int"))
                        - F.element_at(F.col("ts"), p["a"].cast("int"))
                    ),
                )
            ).alias("sl"),
        ),
    )
    # interpolating median of the sorted slope list, scaled by 24
    def med24(st):
        m = F.size(st["sl"])
        lo = F.element_at(st["sl"], ((m + 1) / 2).cast("int"))
        hi = F.element_at(st["sl"], (m / 2).cast("int") + 1)
        return F.when(m > 0, (lo + hi) / 2.0 * 24.0).otherwise(F.lit(0.0))

    per_block = with_pairs.select(
        *keys, stats.alias("st")
    ).select(
        *keys,
        F.size("st").cast("long").alias("n_px"),
        F.size(F.filter("st", lambda s: s["nv"] >= 2)).cast("long").alias(
            "n_trendable"
        ),
        F.aggregate(
            "st", F.lit(0).cast("long"), lambda acc, s: acc + s["s"]
        ).alias("sum_s"),
        F.size(F.filter("st", lambda s: s["s"] > 0)).cast("long").alias("n_pos"),
        F.size(F.filter("st", lambda s: s["s"] < 0)).cast("long").alias("n_neg"),
        F.round(
            F.aggregate(
                "st", F.lit(0.0), lambda acc, s: acc + med24(s)
            ),
            6,
        ).alias("slope24_sum"),
    )
    return per_block.orderBy(*keys)


def bap_composite(
    layers: DataFrame,
    d2_cap: int,
    block: int = 64,
    keys: tuple[str, ...] = ("block_x", "block_y"),
) -> DataFrame:
    """Best-available-pixel compositing (White et al. 2014 — the Landsat
    BAP recipe): per pixel, choose the observation maximizing
    ``layer_score + d2/d2_cap`` where ``d2`` is the clipped squared
    distance to the nearest cloud (operators/proximity.proximity_map) —
    observations far from clouds win, cloud pixels themselves (d2 = 0)
    are ineligible, and score ties break to the LATEST acquisition.

    Input rows: keys + (t, px, d2, layer_score); one row per (block,
    acquisition).  Output: keys + composite px (nodata NaN where every
    layer is cloudy) + chosen_t (the winning acquisition per pixel,
    -1 where none).  One groupBy(keys) shuffle — the same A7 volume —
    into a vectorized Arrow kernel: with dyadic layer scores and
    d2/d2_cap the scores are exact doubles, so the choice is
    bit-deterministic.  (A pure-JVM higher-order-function fold computes
    the same thing but walks a per-pixel expression tree per layer —
    measured ~2× slower on 4096-px blocks; the numpy argmax path is one
    vectorized sweep per layer in t order, which also makes the
    score-tie-to-latest rule a plain masked overwrite.)
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    cap = float(d2_cap)
    key_fields = [layers.schema[k] for k in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("px", ArrayType(DoubleType())),
            StructField("chosen_t", ArrayType(DoubleType())),
        ]
    )
    nk = len(keys)

    def pick(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["t"].to_numpy(), kind="stable")
        n_px = len(pdf["px"].iloc[0])
        best_score = np.full(n_px, -1.0)
        best_t = np.full(n_px, -1.0)
        best_v = np.full(n_px, np.nan)
        # ascending t: on equal score the LATER acquisition overwrites,
        # which is exactly the (score, t) lexicographic tie rule
        for i in order:
            row = pdf.iloc[i]
            d2 = np.asarray(row["d2"], dtype=np.float64)
            score = np.where(d2 > 0, float(row["layer_score"]) + d2 / cap, -1.0)
            take = (score >= 0) & (score >= best_score)
            best_score[take] = score[take]
            best_t[take] = float(row["t"])
            v = np.asarray(row["px"], dtype=np.float64)
            best_v[take] = v[take]
        out = {k: [v] for k, v in zip(keys, key)}
        out.update({"px": [best_v], "chosen_t": [best_t]})
        return pd.DataFrame(out)

    assert nk == len(key_fields)
    picked = layers.groupBy(*keys).applyInPandas(pick, out_schema)
    # pandas->Arrow maps float NaN to NULL on the way back; restore the
    # nodata-NaN contract JVM-side (valid pixels are never null, so the
    # blanket coalesce only touches the all-cloud holes)
    return picked.select(
        *keys,
        F.transform("px", lambda v: F.coalesce(v, F.lit(float("nan")))).alias("px"),
        "chosen_t",
    )
