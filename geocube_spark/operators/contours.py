"""Distributed contour extraction (marching squares — gdal_contour's core).

Cells live BETWEEN pixel centers, so a cell whose top-left pixel sits on a
block's last row/column needs one pixel from the facing neighbor block:
each block ships its FIRST column / first row / corner pixel to its
left / up / up-left neighbor (a 1-px halo, the same 2·(w+h)/block² volume
argument as the focal ops), then marches its own cells locally with
linear edge interpolation.  Segment endpoints are stitched into polylines
relationally: endpoints quantize to integer keys, segments sharing an
endpoint key link up, and the connected-components operator labels each
polyline (the size-adaptive fast path makes small contour graphs one
task).  Nothing raster-sized shuffles — only halo strips and the
segment/endpoint stream.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from geocube_spark.session import checkpoint

_SEG_SCHEMA = StructType(
    [
        StructField("level_i", IntegerType(), False),
        StructField("x1", DoubleType(), False),
        StructField("y1", DoubleType(), False),
        StructField("x2", DoubleType(), False),
        StructField("y2", DoubleType(), False),
    ]
)

_Q = 1 << 20  # endpoint quantization for exact stitching keys

# marching-squares case table (corner bits: v00=1, v01=2, v11=4, v10=8),
# segments as (start edge, end edge) over Top/Bottom/Left/Right crossings
_CASE_SEGS = {
    1: [("L", "T")], 14: [("L", "T")],
    2: [("T", "R")], 13: [("T", "R")],
    4: [("R", "B")], 11: [("R", "B")],
    8: [("B", "L")], 7: [("B", "L")],
    3: [("L", "R")], 12: [("L", "R")],
    6: [("T", "B")], 9: [("T", "B")],
    5: [("L", "B"), ("T", "R")],
    10: [("L", "T"), ("R", "B")],
}


def contour_segments(
    tiles: DataFrame,
    levels: list[float],
    block: int = 64,
    px_col: str = "px",
) -> DataFrame:
    """(level_i, x1, y1, x2, y2): marching-squares segments in pixel-center
    coordinates (x = col, y = row), linearly interpolated per cell edge."""
    b = int(block)

    def strip(which: str):
        idx = F.sequence(F.lit(0), F.lit(b * b - 1))
        if which == "col0":
            pred = lambda i: i % b == 0  # noqa: E731
        elif which == "row0":
            pred = lambda i: i < b  # noqa: E731
        else:  # corner
            pred = lambda i: i == 0  # noqa: E731
        sel = F.filter(idx, pred)
        return F.transform(sel, lambda i: F.element_at(px_col, (i + 1).cast("int")))

    pieces = [
        F.struct(
            F.col("block_x").alias("tx"), F.col("block_y").alias("ty"),
            F.lit(0).alias("kind"), F.col(px_col).alias("vals"),
        ),
        F.struct(
            (F.col("block_x") - 1).alias("tx"), F.col("block_y").alias("ty"),
            F.lit(1).alias("kind"), strip("col0").alias("vals"),
        ),
        F.struct(
            F.col("block_x").alias("tx"), (F.col("block_y") - 1).alias("ty"),
            F.lit(2).alias("kind"), strip("row0").alias("vals"),
        ),
        F.struct(
            (F.col("block_x") - 1).alias("tx"), (F.col("block_y") - 1).alias("ty"),
            F.lit(3).alias("kind"), strip("corner").alias("vals"),
        ),
    ]
    exploded = tiles.select(
        F.explode(F.array(*pieces)).alias("m")
    ).select(
        F.col("m.tx").alias("block_x"),
        F.col("m.ty").alias("block_y"),
        F.col("m.kind").alias("kind"),
        F.col("m.vals").alias("vals"),
    )
    lv = [float(x) for x in levels]

    def march(pdf: pd.DataFrame) -> pd.DataFrame:
        bx = int(pdf["block_x"].iloc[0])
        by = int(pdf["block_y"].iloc[0])
        body = None
        right = bottom = corner = None
        for kind, vals in zip(pdf["kind"], pdf["vals"]):
            a = np.asarray(vals, dtype=np.float64)
            if kind == 0:
                body = a.reshape(b, b)
            elif kind == 1:
                right = a  # neighbor's first column
            elif kind == 2:
                bottom = a  # neighbor's first row
            else:
                corner = a[0]
        if body is None:
            return pd.DataFrame(
                {"level_i": [], "x1": [], "y1": [], "x2": [], "y2": []}
            )
        ext = np.full((b + 1, b + 1), np.nan)
        ext[:b, :b] = body
        if right is not None:
            ext[:b, b] = right
        if bottom is not None:
            ext[b, :b] = bottom
        if corner is not None:
            ext[b, b] = corner
        gx0, gy0 = bx * b, by * b
        # vectorized case-table march: the whole block's cells at once.
        # v00 = top-left pixel of each cell, cells indexed [row ci, col cj]
        v00 = ext[:-1, :-1]
        v01 = ext[:-1, 1:]
        v10 = ext[1:, :-1]
        v11 = ext[1:, 1:]
        valid = ~(np.isnan(v01) | np.isnan(v10) | np.isnan(v11))  # raster edge
        ci, cj = np.mgrid[0:b, 0:b]
        xs = (gx0 + cj).astype(np.float64)
        ys = (gy0 + ci).astype(np.float64)
        chunks: list[np.ndarray] = []
        for li, level in enumerate(lv):
            case = (
                (v00 > level).astype(np.int8)
                | ((v01 > level).astype(np.int8) << 1)
                | ((v11 > level).astype(np.int8) << 2)
                | ((v10 > level).astype(np.int8) << 3)
            )
            if not (valid & (case != 0) & (case != 15)).any():
                continue
            with np.errstate(divide="ignore", invalid="ignore"):
                # per-edge crossing parameter; selected edges always
                # straddle the level (va != vb), unselected edges may
                # divide by zero harmlessly — exactly the scalar interp
                edge = {
                    "T": (xs + (level - v00) / (v01 - v00), ys),
                    "B": (xs + (level - v10) / (v11 - v10), ys + 1.0),
                    "L": (xs, ys + (level - v00) / (v10 - v00)),
                    "R": (xs + 1.0, ys + (level - v01) / (v11 - v01)),
                }
            for c, pairs in _CASE_SEGS.items():
                m = valid & (case == c)
                if not m.any():
                    continue
                for e1, e2 in pairs:
                    (ax, ay), (bx2, by2) = edge[e1], edge[e2]
                    chunks.append(
                        np.column_stack(
                            [
                                np.full(int(m.sum()), li, dtype=np.float64),
                                ax[m], ay[m], bx2[m], by2[m],
                            ]
                        )
                    )
        if not chunks:
            return pd.DataFrame(
                {"level_i": [], "x1": [], "y1": [], "x2": [], "y2": []}
            )
        allrows = np.concatenate(chunks)
        return pd.DataFrame(
            {
                "level_i": allrows[:, 0].astype(np.int32),
                "x1": allrows[:, 1],
                "y1": allrows[:, 2],
                "x2": allrows[:, 3],
                "y2": allrows[:, 4],
            }
        )

    return (
        exploded.groupBy("block_x", "block_y")
        .applyInPandas(lambda _k, p: march(p), _SEG_SCHEMA)
    )


def contour_report(
    tiles: DataFrame,
    levels: list[float],
    block: int = 64,
    px_col: str = "px",
) -> DataFrame:
    """(level, n_polylines, n_segments, total_length): segments stitched
    into polylines via endpoint-key connected components."""
    from geocube_spark.operators.dedup import connected_components

    segs = contour_segments(tiles, levels, block, px_col).withColumn(
        "sid", F.monotonically_increasing_id()
    ).transform(checkpoint)

    def key(xc, yc):
        # exact pair-pack: quantized coords stay < 2^31, product < 2^63
        return F.round(xc * _Q).cast("long") * F.lit(1 << 32) + F.round(
            yc * _Q
        ).cast("long")

    # endpoint stream: (level, endpoint key, segment id); two segments
    # sharing a key link — min segment id per key is the link target
    eps = segs.select(
        "level_i", "sid", key(F.col("x1"), F.col("y1")).alias("k")
    ).unionByName(
        segs.select("level_i", "sid", key(F.col("x2"), F.col("y2")).alias("k"))
    )
    mins = eps.groupBy("level_i", "k").agg(F.min("sid").alias("m"))
    links = (
        eps.join(mins, ["level_i", "k"])
        .filter(F.col("sid") != F.col("m"))
        .select(F.col("sid").alias("doc_a"), F.col("m").alias("doc_b"))
        .distinct()
    )
    comp = connected_components(links).select(
        F.col("node").alias("sid"), "component"
    )
    labeled = segs.join(comp, "sid", "left").select(
        "level_i",
        F.coalesce("component", F.col("sid")).alias("poly"),
        F.sqrt(
            (F.col("x2") - F.col("x1")) ** 2 + (F.col("y2") - F.col("y1")) ** 2
        ).alias("seg_len"),
    )
    lv_map = F.array(*[F.lit(float(x)) for x in levels])
    return (
        labeled.groupBy("level_i")
        .agg(
            F.countDistinct("poly").cast("long").alias("n_polylines"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.round(F.sum("seg_len"), 6).alias("total_length"),
        )
        .select(
            F.element_at(lv_map, F.col("level_i") + 1).alias("level"),
            "n_polylines",
            "n_segments",
            "total_length",
        )
        .orderBy("level")
    )
