"""Distributed raster region labeling (gdal_polygonize-lite).

Label 4-connected equal-valued pixel regions across the WHOLE raster —
the segmentation primitive behind polygonize, sieve filtering, and
object-based masking — without ever holding the raster in one place:

1. **Per-block union-find** (mapInPandas): each 64² block labels its own
   regions locally; the provisional label is the component's root pixel
   encoded by GLOBAL coordinates (``(gy << 32) | gx`` — globally unique
   with zero coordination).
2. **Border stitching**: every block emits its 4 edge strips (value +
   provisional label per border pixel).  Facing strips meet in an
   equi-join on (border key, position) — ONLY border pixels shuffle,
   the same 2·(w+h)/block² volume argument as the focal halo exchange —
   and equal-valued facing pixels yield merge edges.
3. **Distributed connected components** (operators/dedup
   alternating-star CC, O(log n) rounds) merges provisional labels
   across blocks; per-block region aggregates join the component map, so
   region statistics never materialize per-pixel global labels.

The correctness burden is entirely in the stitching, which the tests
attack with shapes that snake across block borders (and the registered
query uses a checker period coprime to the block size, so every interior
cell straddles borders and the analytic region count only matches if
stitching is exact).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from geocube_spark.session import checkpoint

_PARTS_SCHEMA = StructType(
    [
        StructField("kind", StringType(), False),  # 'region' | 'strip'
        StructField("lbl", LongType(), False),
        StructField("val", DoubleType(), False),
        StructField("n_px", LongType(), True),      # region rows
        StructField("border", StringType(), True),  # strip rows
        StructField("pos", IntegerType(), True),
        StructField("side", IntegerType(), True),   # 0 = low block, 1 = high
    ]
)


def _label_block(px: np.ndarray) -> np.ndarray:
    """4-connected labeling of one block; returns the component's MINIMUM
    flat index per pixel (the same root contract as a union-by-min
    union-find).

    Fully numpy-vectorized Shiloach-Vishkin-style iteration: each round
    hooks every pixel to the min label among its equal-valued 4-neighbors
    (four shifted vector mins), then pointer-jumps to the root
    (``lab = lab[lab]`` until stable — pointers always point downward,
    so the structure is acyclic).  O(log diameter) rounds of O(pixels)
    vector work replaces the previous per-pixel Python union-find loop
    (~65k interpreter iterations per 256² block)."""
    h, w = px.shape
    lab = np.arange(h * w, dtype=np.int64).reshape(h, w)
    same_h = px[:, 1:] == px[:, :-1]
    same_v = px[1:, :] == px[:-1, :]
    while True:
        new = lab.copy()
        np.minimum(
            new[:, 1:], np.where(same_h, lab[:, :-1], lab[:, 1:]), out=new[:, 1:]
        )
        np.minimum(
            new[:, :-1], np.where(same_h, lab[:, 1:], lab[:, :-1]), out=new[:, :-1]
        )
        np.minimum(
            new[1:, :], np.where(same_v, lab[:-1, :], lab[1:, :]), out=new[1:, :]
        )
        np.minimum(
            new[:-1, :], np.where(same_v, lab[1:, :], lab[:-1, :]), out=new[:-1, :]
        )
        flat = new.ravel()
        while True:  # full pointer jump: lab[i] <= i, acyclic
            nxt = flat[flat]
            if np.array_equal(nxt, flat):
                break
            flat = nxt
        if np.array_equal(flat, lab.ravel()):
            return flat
        lab = flat.reshape(h, w)


def _block_parts(tiles: DataFrame, block: int, px_col: str) -> DataFrame:
    b = int(block)

    def run(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for bx, by, px in zip(pdf["block_x"], pdf["block_y"], pdf[px_col]):
                arr = np.asarray(px, dtype=np.float64).reshape(b, b)
                roots = _label_block(arr)
                gy0, gx0 = int(by) * b, int(bx) * b
                # provisional label = global coords of the root pixel
                glob = ((gy0 + roots // b) << 32) | (gx0 + roots % b)
                flat = arr.ravel()
                # return_index: first occurrence per region -> its value in
                # ONE pass (a per-region argmax scan is O(px * regions))
                uniq, first_idx, counts = np.unique(
                    glob, return_index=True, return_counts=True
                )
                for g, fi, c in zip(uniq, first_idx, counts):
                    rows.append(
                        ("region", int(g), float(flat[fi]), int(c), None, None, None)
                    )
                # 4 edge strips; the border key is SHARED between the two
                # facing blocks: h-border right of (bx,by) = h:{by}:{bx}
                edges = [
                    (f"h:{by}:{bx}", glob.reshape(b, b)[:, -1], arr[:, -1], 0),
                    (f"h:{by}:{int(bx) - 1}", glob.reshape(b, b)[:, 0], arr[:, 0], 1),
                    (f"v:{bx}:{by}", glob.reshape(b, b)[-1, :], arr[-1, :], 0),
                    (f"v:{bx}:{int(by) - 1}", glob.reshape(b, b)[0, :], arr[0, :], 1),
                ]
                for key, lbls, vals, side in edges:
                    for p in range(b):
                        rows.append(
                            ("strip", int(lbls[p]), float(vals[p]), None, key, p, side)
                        )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _PARTS_SCHEMA.fields]
            )

    return tiles.mapInPandas(run, _PARTS_SCHEMA)


def _label_and_merge(
    tiles: DataFrame, block: int, px_col: str
) -> tuple[DataFrame, DataFrame]:
    """(regions, lbl_comp): the checkpointed per-block region aggregates
    and the provisional-label -> final-component map — computed ONCE and
    shared by region_components and sieve_mask (labeling + stitching + CC
    are the expensive passes)."""
    from geocube_spark.operators.dedup import connected_components

    parts = checkpoint(_block_parts(tiles, block, px_col))
    regions = parts.filter(F.col("kind") == "region").select("lbl", "val", "n_px")
    strips = parts.filter(F.col("kind") == "strip").select(
        "border", "pos", "side", "val", "lbl"
    )
    lo = strips.filter(F.col("side") == 0).select(
        "border", "pos", F.col("val").alias("val_a"), F.col("lbl").alias("lbl_a")
    )
    hi = strips.filter(F.col("side") == 1).select(
        "border", "pos", F.col("val").alias("val_b"), F.col("lbl").alias("lbl_b")
    )
    edges = (
        lo.join(hi, ["border", "pos"])
        .filter(F.col("val_a") == F.col("val_b"))
        .filter(F.col("lbl_a") != F.col("lbl_b"))
        .select(F.col("lbl_a").alias("doc_a"), F.col("lbl_b").alias("doc_b"))
        .distinct()
    )
    comp = connected_components(edges).select(
        F.col("node").alias("lbl"), F.col("component").alias("component")
    )
    lbl_comp = regions.select("lbl").join(comp, "lbl", "left").select(
        "lbl", F.coalesce("component", F.col("lbl")).alias("component")
    )
    return regions, lbl_comp


def region_components(
    tiles: DataFrame, block: int = 64, px_col: str = "px"
) -> DataFrame:
    """(value, component, n_px) — one row per final cross-block region.
    ``component`` is the minimum provisional label of the region (the
    global coordinates of its top-left-most root pixel)."""
    regions, lbl_comp = _label_and_merge(tiles, block, px_col)
    merged = regions.join(lbl_comp, "lbl").select("val", "component", "n_px")
    return merged.groupBy("val", "component").agg(
        F.sum("n_px").cast("long").alias("n_px")
    )


def region_stats(
    tiles: DataFrame, block: int = 64, px_col: str = "px"
) -> DataFrame:
    """Per-value segmentation summary: region count, pixel total, largest
    region — the numbers a sieve/polygonize step reports."""
    comps = region_components(tiles, block, px_col)
    return (
        comps.groupBy("val")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_regions"),
            F.sum("n_px").cast("long").alias("n_pixels"),
            F.max("n_px").cast("long").alias("max_region_px"),
        )
        .orderBy("val")
    )


def sieve_mask(
    tiles: DataFrame,
    min_px: int,
    block: int = 64,
    px_col: str = "px",
    nodata: float = float("nan"),
) -> DataFrame:
    """gdal_sieve-style filtering: pixels belonging to regions smaller
    than ``min_px`` are replaced with ``nodata`` (the mask-cleanup step
    after classification; the reference delegates it to GDAL).

    Two passes: the stats pass labels/stitches/merges ONCE
    (:func:`_label_and_merge` — shared with region_components, nothing
    recomputed); the rewrite pass re-runs only the deterministic
    per-block labeling and nulls pixels whose provisional label belongs
    to a small region.  FULLY DISTRIBUTED: each sub-threshold label is
    routed back to the one block that owns it (its coordinates are
    embedded in the label) and delivered through an equi-join on
    (block_x, block_y) — no ``collect()``, no driver-side set, no
    broadcast of the global speckle list.  Per-task memory is bounded by
    the speckle count of a SINGLE block (<= block² labels), so even a
    pathological all-speckle raster only scales the shuffle volume
    (O(small labels), each shipped once), never the driver.
    """
    regions, lbl_comp = _label_and_merge(tiles, block, px_col)
    comps = (
        regions.join(lbl_comp, "lbl")
        .groupBy("val", "component")
        .agg(F.sum("n_px").cast("long").alias("n_px"))
    )
    small_comps = comps.filter(F.col("n_px") < min_px).select("component")
    b = int(block)
    nod = float(nodata)
    # provisional label = (gy << 32) | gx of the region's root pixel, so
    # the owning block is recoverable from the label itself
    small_by_block = (
        lbl_comp.join(small_comps, "component", "left_semi")
        .select(
            (F.col("lbl").bitwiseAND(F.lit((1 << 32) - 1)) / b)
            .cast("int")
            .alias("block_x"),
            F.shiftrightunsigned(F.col("lbl"), 32)
            .cast("long")
            .alias("_gy"),
            "lbl",
        )
        .withColumn("block_y", (F.col("_gy") / b).cast("int"))
        .groupBy("block_x", "block_y")
        .agg(F.collect_list("lbl").alias("_small_lbls"))
    )
    cols = [f.name for f in tiles.schema.fields]
    out_schema = tiles.schema
    joined = tiles.join(small_by_block, ["block_x", "block_y"], "left")

    def rewrite(batches):
        for pdf in batches:
            new_px = []
            for bx, by, px, lbls in zip(
                pdf["block_x"], pdf["block_y"], pdf[px_col], pdf["_small_lbls"]
            ):
                arr = np.asarray(px, dtype=np.float64).reshape(b, b)
                flat = arr.ravel()
                if lbls is not None and len(lbls):
                    roots = _label_block(arr)
                    gy0, gx0 = int(by) * b, int(bx) * b
                    glob = ((gy0 + roots // b) << 32) | (gx0 + roots % b)
                    flat = flat.copy()
                    flat[np.isin(glob, np.asarray(lbls, dtype=np.int64))] = nod
                new_px.append(flat.tolist())
            pdf = pdf.copy()
            pdf[px_col] = new_px
            yield pdf[cols]

    return joined.mapInPandas(rewrite, out_schema)


# ------------------------------------------------------ polygonize (R-side)
#
# gdal_polygonize's relational core: per-region BOUNDARY GEOMETRY from the
# labeled segmentation.  Rather than tracing rings imperatively, every
# quantity is a join/aggregate over the pixel frame:
#
#   perimeter  = 4·n − 2·adj        (adj = 4-adjacent same-value pairs)
#   holes      = 1 − χ,  χ = V − E + F per region (Euler characteristic
#                of the pixel cell complex: F = n pixels, E = 4n − adj
#                distinct unit edges, V = distinct pixel-corner points)
#
# so the plan is: block-local labeling (mapInPandas), cross-block stitch
# via the ADJACENCY join itself (facing pixels with equal value but
# different provisional labels ARE the stitch edges — no separate strip
# pass), alternating-star CC, then three shuffles of pixel-level keys
# (neighbor coords ×2, corner ids).  At 100 TB every join is an equi-join
# on coordinates — no broadcast of anything raster-sized.
#
# Caveat (documented, inherent to cell-complex Euler counting): a region
# that touches ITSELF only at a pixel corner pinches the complex and
# shifts χ; the fixtures avoid corner-pinched shapes, as does GDAL's own
# 4-connected polygonize.


_PIXELS_SCHEMA = StructType(
    [
        StructField("gi", LongType(), False),   # global row
        StructField("gj", LongType(), False),   # global col
        StructField("val", DoubleType(), False),
        StructField("lbl", LongType(), False),  # provisional (block) label
    ]
)


def region_pixels(tiles: DataFrame, block: int, px_col: str = "px") -> DataFrame:
    """Per-pixel (gi, gj, val, provisional label) from block-local
    union-find — the explode that polygonize genuinely needs (boundary
    geometry is pixel-level); region_stats/sieve keep the aggregate-only
    path."""
    b = int(block)

    def run(batches):
        for pdf in batches:
            out = []
            for bx, by, px in zip(pdf["block_x"], pdf["block_y"], pdf[px_col]):
                arr = np.asarray(px, dtype=np.float64).reshape(b, b)
                roots = _label_block(arr)
                gy0, gx0 = int(by) * b, int(bx) * b
                glob = ((gy0 + roots // b) << 32) | (gx0 + roots % b)
                gi = gy0 + np.arange(b * b) // b
                gj = gx0 + np.arange(b * b) % b
                out.append(
                    pd.DataFrame(
                        {"gi": gi, "gj": gj, "val": arr.ravel(), "lbl": glob}
                    )
                )
            yield pd.concat(out) if out else pd.DataFrame(
                {"gi": [], "gj": [], "val": [], "lbl": []}
            )

    return tiles.mapInPandas(run, _PIXELS_SCHEMA)


def polygonize_report(
    tiles: DataFrame, block: int = 64, px_col: str = "px"
) -> DataFrame:
    """Per-VALUE polygonize summary over the stitched segmentation:
    (val, n_regions, n_px, perimeter, n_holes) — perimeter in pixel-edge
    units, holes via the Euler characteristic (see module comment)."""
    from geocube_spark.operators.dedup import connected_components

    pixels = checkpoint(region_pixels(tiles, block, px_col))

    right = pixels.select(
        F.col("gi").alias("ri"), (F.col("gj") - 1).alias("rj"),
        F.col("val").alias("rval"), F.col("lbl").alias("rlbl"),
    )
    down = pixels.select(
        (F.col("gi") - 1).alias("di"), F.col("gj").alias("dj"),
        F.col("val").alias("dval"), F.col("lbl").alias("dlbl"),
    )
    adj_r = pixels.join(
        right, (F.col("gi") == F.col("ri")) & (F.col("gj") == F.col("rj"))
    ).filter(F.col("val") == F.col("rval")).select(
        F.col("lbl").alias("lbl_a"), F.col("rlbl").alias("lbl_b")
    )
    adj_d = pixels.join(
        down, (F.col("gi") == F.col("di")) & (F.col("gj") == F.col("dj"))
    ).filter(F.col("val") == F.col("dval")).select(
        F.col("lbl").alias("lbl_a"), F.col("dlbl").alias("lbl_b")
    )
    adj = checkpoint(adj_r.unionByName(adj_d))

    stitch = (
        adj.filter(F.col("lbl_a") != F.col("lbl_b"))
        .select(F.col("lbl_a").alias("doc_a"), F.col("lbl_b").alias("doc_b"))
        .distinct()
    )
    comp = connected_components(stitch).select(
        F.col("node").alias("lbl"), "component"
    )
    lblmap = (
        pixels.select("lbl").distinct()
        .join(comp, "lbl", "left")
        .select("lbl", F.coalesce("component", F.col("lbl")).alias("component"))
    )

    # lbl -> component map is bounded by the REGION count, which a
    # pathological speckle raster makes O(pixels/2): equi-join, never
    # broadcast (AQE may still pick broadcast when it measures small)
    px2 = pixels.join(lblmap, "lbl")
    n_adj = (
        adj.join(lblmap.withColumnRenamed("lbl", "lbl_a"), "lbl_a")
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("adj"))
    )
    # distinct pixel-corner points per region; corner id packs the two
    # coordinates into one long (coordinates are < 2^31)
    corners = (
        px2.select(
            "component",
            F.explode(
                F.array(
                    (F.col("gi") * F.lit(1 << 32) + F.col("gj")),
                    (F.col("gi") * F.lit(1 << 32) + F.col("gj") + 1),
                    ((F.col("gi") + 1) * F.lit(1 << 32) + F.col("gj")),
                    ((F.col("gi") + 1) * F.lit(1 << 32) + F.col("gj") + 1),
                )
            ).alias("corner"),
        )
        .groupBy("component")
        .agg(F.countDistinct("corner").alias("v"))
    )
    per_region = (
        px2.groupBy("component")
        .agg(F.any_value("val").alias("val"), F.count(F.lit(1)).alias("n"))
        .join(n_adj, "component", "left")
        .join(corners, "component")
        .select(
            "val",
            "n",
            (F.lit(4) * F.col("n") - 2 * F.coalesce("adj", F.lit(0))).alias("perim"),
            (
                F.lit(1)
                - (
                    F.col("v")
                    - (F.lit(4) * F.col("n") - F.coalesce("adj", F.lit(0)))
                    + F.col("n")
                )
            ).alias("holes"),
        )
    )
    return (
        per_region.groupBy("val")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_regions"),
            F.sum("n").cast("long").alias("n_px"),
            F.sum("perim").cast("long").alias("perimeter"),
            F.sum("holes").cast("long").alias("n_holes"),
        )
        .orderBy("val")
    )


# ------------------------------------------------- polygonize -> vector WKB
#
# The full gdal_polygonize: every labeled region becomes a Polygon WKB
# with exterior ring + holes.  Boundary edges are extracted RELATIONALLY
# (one explode to the 4 pixel sides + one equi-join against the neighbor
# pixel; a side is boundary when the neighbor is absent or differently
# labeled), directed so the region interior stays on a consistent side —
# the directed edge set of a region is then a disjoint union of cycles,
# assembled per region in applyInPandas (bounded by the region's own
# boundary length, the same per-geometry materialization GDAL does).
# Exterior = the cycle with the largest |signed area|; the shoelace
# identity |exterior| − Σ|holes| = n_px is asserted in tests.


def _pixel_components(tiles: DataFrame, block: int, px_col: str) -> DataFrame:
    """(gi, gj, val, component): stitched per-pixel labels (shared by
    polygonize_report and polygonize_wkb)."""
    from geocube_spark.operators.dedup import connected_components

    pixels = checkpoint(region_pixels(tiles, block, px_col))
    right = pixels.select(
        F.col("gi").alias("ri"), (F.col("gj") - 1).alias("rj"),
        F.col("val").alias("rval"), F.col("lbl").alias("rlbl"),
    )
    down = pixels.select(
        (F.col("gi") - 1).alias("di"), F.col("gj").alias("dj"),
        F.col("val").alias("dval"), F.col("lbl").alias("dlbl"),
    )
    adj_r = pixels.join(
        right, (F.col("gi") == F.col("ri")) & (F.col("gj") == F.col("rj"))
    ).filter(F.col("val") == F.col("rval")).select(
        F.col("lbl").alias("lbl_a"), F.col("rlbl").alias("lbl_b")
    )
    adj_d = pixels.join(
        down, (F.col("gi") == F.col("di")) & (F.col("gj") == F.col("dj"))
    ).filter(F.col("val") == F.col("dval")).select(
        F.col("lbl").alias("lbl_a"), F.col("dlbl").alias("lbl_b")
    )
    stitch = (
        adj_r.unionByName(adj_d)
        .filter(F.col("lbl_a") != F.col("lbl_b"))
        .select(F.col("lbl_a").alias("doc_a"), F.col("lbl_b").alias("doc_b"))
        .distinct()
    )
    comp = connected_components(stitch).select(
        F.col("node").alias("lbl"), "component"
    )
    lblmap = (
        pixels.select("lbl").distinct()
        .join(comp, "lbl", "left")
        .select("lbl", F.coalesce("component", F.col("lbl")).alias("component"))
    )
    return pixels.join(lblmap, "lbl").select("gi", "gj", "val", "component")


_WKB_SCHEMA = StructType(
    [
        StructField("val", DoubleType(), False),
        StructField("component", LongType(), False),
        StructField("n_rings", IntegerType(), False),
        StructField("area", DoubleType(), False),
        StructField("wkb", BinaryType(), False),
    ]
)


def polygonize_wkb(
    tiles: DataFrame, block: int = 64, px_col: str = "px"
) -> DataFrame:
    """(val, component, n_rings, area, wkb): one Polygon WKB per region
    (exterior + holes), pixel-square geometry in (x=col, y=row) axes."""
    px = _pixel_components(tiles, block, px_col)

    # one explode to the 4 sides, one join against the neighbor pixel
    sides = px.select(
        "gi", "gj", "component",
        F.explode(
            F.array(
                # (di, dj, x1, y1, x2, y2) — interior kept on a consistent
                # side so each region's edges form directed cycles
                F.struct(F.lit(-1).alias("di"), F.lit(0).alias("dj"),
                         F.col("gj").alias("x1"), F.col("gi").alias("y1"),
                         (F.col("gj") + 1).alias("x2"), F.col("gi").alias("y2")),
                F.struct(F.lit(0).alias("di"), F.lit(1).alias("dj"),
                         (F.col("gj") + 1).alias("x1"), F.col("gi").alias("y1"),
                         (F.col("gj") + 1).alias("x2"), (F.col("gi") + 1).alias("y2")),
                F.struct(F.lit(1).alias("di"), F.lit(0).alias("dj"),
                         (F.col("gj") + 1).alias("x1"), (F.col("gi") + 1).alias("y1"),
                         F.col("gj").alias("x2"), (F.col("gi") + 1).alias("y2")),
                F.struct(F.lit(0).alias("di"), F.lit(-1).alias("dj"),
                         F.col("gj").alias("x1"), (F.col("gi") + 1).alias("y1"),
                         F.col("gj").alias("x2"), F.col("gi").alias("y2")),
            )
        ).alias("s"),
    ).select(
        "component",
        (F.col("gi") + F.col("s.di")).alias("ni"),
        (F.col("gj") + F.col("s.dj")).alias("nj"),
        F.col("s.x1").alias("x1"), F.col("s.y1").alias("y1"),
        F.col("s.x2").alias("x2"), F.col("s.y2").alias("y2"),
    )
    nb = px.select(
        F.col("gi").alias("ni"), F.col("gj").alias("nj"),
        F.col("component").alias("ncomp"),
    )
    boundary = (
        sides.join(nb, ["ni", "nj"], "left")
        .filter(F.col("ncomp").isNull() | (F.col("ncomp") != F.col("component")))
        .select("component", "x1", "y1", "x2", "y2")
    )
    vals = px.groupBy("component").agg(F.any_value("val").alias("val"))

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        from geocube_spark.functions.geometry import polygon_wkb

        comp = int(pdf["component"].iloc[0])
        val = float(pdf["val"].iloc[0])
        nxt: dict[tuple, list] = {}
        for x1, y1, x2, y2 in zip(pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]):
            nxt.setdefault((int(x1), int(y1)), []).append((int(x2), int(y2)))
        for outs in nxt.values():
            outs.sort()
        rings = []
        while nxt:
            start = min(nxt)
            ring = [start]
            cur = start
            while True:
                outs = nxt[cur]
                end = outs.pop(0)
                if not outs:
                    del nxt[cur]
                if end == start:
                    break
                ring.append(end)
                cur = end
            rings.append(ring)

        def signed_area(r):
            s = 0.0
            for (ax, ay), (bx, by) in zip(r, r[1:] + [r[0]]):
                s += ax * by - bx * ay
            return s / 2.0

        areas = [signed_area(r) for r in rings]
        ext_i = max(range(len(rings)), key=lambda i: abs(areas[i]))
        # exterior counter-clockwise (positive), holes clockwise (negative)
        ext = rings[ext_i] if areas[ext_i] > 0 else rings[ext_i][::-1]
        holes = []
        for i, r in enumerate(rings):
            if i == ext_i:
                continue
            holes.append(r if signed_area(r) < 0 else r[::-1])
        area = abs(areas[ext_i]) - sum(abs(signed_area(h)) for h in holes)
        wkb = polygon_wkb(
            [(float(x), float(y)) for x, y in ext],
            [[(float(x), float(y)) for x, y in h] for h in holes],
        )
        return pd.DataFrame(
            {
                "val": [val],
                "component": [comp],
                "n_rings": [1 + len(holes)],
                "area": [float(area)],
                "wkb": [wkb],
            }
        )

    return (
        boundary.join(vals, "component")
        .groupBy("component")
        .applyInPandas(lambda _k, p: assemble(p), _WKB_SCHEMA)
    )


def _douglas_peucker(pts: list, eps: float) -> list:
    """Iterative DP on an OPEN polyline (endpoints kept).  eps=0 removes
    exactly the collinear vertices."""
    if len(pts) < 3:
        return list(pts)
    keep = [False] * len(pts)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        a, b = stack.pop()
        if b - a < 2:
            continue
        ax, ay = pts[a]
        bx, by = pts[b]
        dx, dy = bx - ax, by - ay
        norm = (dx * dx + dy * dy) ** 0.5
        best, best_i = -1.0, -1
        for i in range(a + 1, b):
            px_, py_ = pts[i]
            if norm == 0.0:
                d = ((px_ - ax) ** 2 + (py_ - ay) ** 2) ** 0.5
            else:
                d = abs(dx * (py_ - ay) - dy * (px_ - ax)) / norm
            if d > best:
                best, best_i = d, i
        if best > eps:
            keep[best_i] = True
            stack.append((a, best_i))
            stack.append((best_i, b))
    return [p for p, k in zip(pts, keep) if k]


def simplify_wkb(
    df: DataFrame, tolerance: float = 0.0, wkb_col: str = "wkb"
) -> DataFrame:
    """Douglas–Peucker simplification of every ring in a Polygon WKB
    column (vectorized Arrow batches; tolerance 0 = drop exactly the
    collinear staircase vertices polygonize emits, so an axis-aligned
    rectangle ring reduces to its 4 corners).  Rings are closed; DP runs
    on the open vertex list anchored at the ring's lexicographic minimum
    (a true corner for tolerance 0 — a lex-min vertex of a rectilinear
    ring cannot be interior to a straight run) so the anchor choice never
    pins a removable vertex."""
    from geocube_spark.functions.geometry import decode_wkb_polygons, polygon_wkb

    @F.pandas_udf(BinaryType())
    def simp(wkbs: pd.Series) -> pd.Series:
        out = []
        for buf in wkbs:
            rings = decode_wkb_polygons(bytes(buf))[0]
            new_rings = []
            for arr in rings:
                pts = [tuple(map(float, p)) for p in arr.tolist()]
                if len(pts) > 1 and pts[0] == pts[-1]:
                    pts = pts[:-1]  # open the ring
                if pts:
                    m = min(range(len(pts)), key=lambda i: pts[i])
                    pts = pts[m:] + pts[:m]
                pts_closed = pts + pts[:1]
                kept = _douglas_peucker(pts_closed, tolerance)
                new_rings.append(kept[:-1])  # polygon_wkb re-closes
            out.append(polygon_wkb(new_rings[0], new_rings[1:]))
        return pd.Series(out)

    return df.withColumn(wkb_col, simp(F.col(wkb_col)))
