"""Pure-python/numpy geometry kernel (no shapely/pyproj in this environment).

Scope mirrors what the reference actually uses for catalog queries
(SURVEY C3-C6, F7/F8/F14, O3/O4):

- WKB encode/decode for Polygon / MultiPolygon (NDR), go-geom compatible
- sha1(WKB) geometry hash for AOI dedup (record.go:33-46)
- bbox extraction + bbox-intersects column predicates (the cheap phase of the
  two-phase spatial filter; exact refinement is a pandas UDF)
- polygon area / point-in-polygon / convex clip (Sutherland–Hodgman) for the
  exact phase over the rectangular/convex fixture geometries
- antimeridian split of lon-spanning rings (pg_containers.go:124-167)

Design: the cheap phase is pure Column arithmetic on the persisted bbox
struct — it pushes into Parquet min/max skipping.  The exact phase is an
Arrow-batched pandas UDF, applied only to bbox survivors (same two-phase
order as the reference's ST_Intersects -> ST_Relate).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

Ring = Sequence[tuple[float, float]]

_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6

# ------------------------------------------------------------------ WKB codec


def polygon_wkb(exterior: Ring, holes: Iterable[Ring] | None = None) -> bytes:
    """Encode a polygon (optionally with interior rings) as little-endian
    WKB.  Rings are closed automatically (first point appended) like the
    reference's linear-ring promotion (record.go:33-46)."""
    rings = [list(exterior)] + [list(h) for h in (holes or [])]
    out = [struct.pack("<BII", 1, _WKB_POLYGON, len(rings))]
    for pts in rings:
        if pts[0] != pts[-1]:
            pts = pts + [pts[0]]
        out.append(struct.pack("<I", len(pts)))
        for x, y in pts:
            out.append(struct.pack("<dd", float(x), float(y)))
    return b"".join(out)


def multipolygon_wkb(polygons: Iterable[Ring]) -> bytes:
    polys = [polygon_wkb(p) for p in polygons]
    return struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polys)) + b"".join(polys)


def rect_wkb(xmin: float, ymin: float, xmax: float, ymax: float) -> bytes:
    return polygon_wkb([(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)])


def decode_wkb_polygons(buf: bytes) -> list[list[np.ndarray]]:
    """Decode Polygon/MultiPolygon WKB -> list of polygons, each a list of
    CLOSED rings as (N,2) float arrays — ring 0 is the exterior, the rest
    are interior rings (holes).  Nothing is dropped: concave and holed
    geometries round-trip (reference handles arbitrary multipolygons,
    pg_containers.go:302-310)."""

    def read_polygon(off: int) -> tuple[list[np.ndarray], int]:
        byte_order, geom_type = struct.unpack_from("<BI", buf, off)
        assert byte_order == 1 and geom_type == _WKB_POLYGON, (byte_order, geom_type)
        off += 5
        (n_rings,) = struct.unpack_from("<I", buf, off)
        off += 4
        rings: list[np.ndarray] = []
        for _ in range(n_rings):
            (n_pts,) = struct.unpack_from("<I", buf, off)
            off += 4
            arr = np.frombuffer(buf, dtype="<f8", count=2 * n_pts, offset=off).reshape(
                n_pts, 2
            )
            off += 16 * n_pts
            rings.append(arr.copy())
        return rings, off

    byte_order, geom_type = struct.unpack_from("<BI", buf, 0)
    if geom_type == _WKB_POLYGON:
        rings, _ = read_polygon(0)
        return [rings]
    assert geom_type == _WKB_MULTIPOLYGON, geom_type
    (n,) = struct.unpack_from("<I", buf, 5)
    off = 9
    polys = []
    for _ in range(n):
        rings, off = read_polygon(off)
        polys.append(rings)
    return polys


def decode_wkb(buf: bytes) -> list[list[tuple[float, float]]]:
    """Exterior rings only, as point-tuple lists (back-compat shim over
    ``decode_wkb_polygons``; use that for hole-aware processing)."""
    return [
        [(float(x), float(y)) for x, y in rings[0]] for rings in decode_wkb_polygons(buf)
    ]


def geom_hash(wkb: bytes) -> str:
    """sha1 of canonical WKB — AOI dedup key (record.go:33-46)."""
    return hashlib.sha1(wkb).hexdigest()


def wkb_bounds(buf: bytes) -> tuple[float, float, float, float]:
    rings = decode_wkb(buf)
    xs = [x for r in rings for x, _ in r]
    ys = [y for r in rings for _, y in r]
    return min(xs), min(ys), max(xs), max(ys)


# ------------------------------------------------------- cheap phase (bboxes)


def bbox_intersects(bbox: Column, xmin: float, ymin: float, xmax: float, ymax: float) -> Column:
    """Column predicate: dataset bbox ∩ query rect ≠ ∅.  Pure comparisons on
    the persisted struct — Parquet row-group min/max stats skip files."""
    return (
        (bbox["xmin"] <= F.lit(float(xmax)))
        & (bbox["xmax"] >= F.lit(float(xmin)))
        & (bbox["ymin"] <= F.lit(float(ymax)))
        & (bbox["ymax"] >= F.lit(float(ymin)))
    )


# ------------------------------------------------------ exact phase (numpy)


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1)))


def _clip_halfplane(ring: np.ndarray, axis: int, bound: float, keep_ge: bool) -> np.ndarray:
    """One Sutherland–Hodgman pass, fully vectorized: keep the side of
    ``axis >= / <= bound``.  ``ring`` is an OPEN (N,2) array; returns the
    open clipped ring.  The subject polygon may be arbitrarily concave (SH
    only requires the CLIP region to be convex — a rect is); the output can
    contain zero-width bridge edges, which contribute zero area."""
    n = len(ring)
    if n == 0:
        return ring
    vals = ring[:, axis]
    inside = (vals >= bound) if keep_ge else (vals <= bound)
    if inside.all():
        return ring
    if not inside.any():
        return ring[:0]
    nxt = np.roll(ring, -1, axis=0)
    nxt_vals = vals if n == 1 else np.roll(vals, -1)
    crossing = inside != np.roll(inside, -1)
    denom = nxt_vals - vals
    t = np.where(crossing, (bound - vals) / np.where(denom == 0.0, 1.0, denom), 0.0)
    cross_pts = ring + (nxt - ring) * t[:, None]
    cross_pts[:, axis] = bound  # exact on the clip line
    # slot 2i = vertex i (kept if inside), slot 2i+1 = crossing on edge i->i+1
    out = np.empty((2 * n, 2), dtype=np.float64)
    out[0::2] = ring
    out[1::2] = cross_pts
    valid = np.empty(2 * n, dtype=bool)
    valid[0::2] = inside
    valid[1::2] = crossing
    return out[valid]


def clip_ring_rect(ring: np.ndarray, rect: tuple[float, float, float, float]) -> np.ndarray:
    """Sutherland–Hodgman clip of an arbitrary simple (possibly concave)
    ring by an axis-aligned rect — four vectorized half-plane passes.
    Signed area of the result equals the true intersection area even when
    degenerate bridges appear (they are zero-width)."""
    xmin, ymin, xmax, ymax = rect
    r = np.asarray(ring, dtype=np.float64)
    if len(r) and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    r = _clip_halfplane(r, 0, float(xmin), True)
    r = _clip_halfplane(r, 0, float(xmax), False)
    r = _clip_halfplane(r, 1, float(ymin), True)
    r = _clip_halfplane(r, 1, float(ymax), False)
    return r


def clip_convex(subject: list[tuple[float, float]], clip_rect: tuple[float, float, float, float]):
    """Back-compat list API over ``clip_ring_rect`` (the name predates the
    general kernel: the CLIP region must be convex, the subject need not)."""
    out = clip_ring_rect(np.asarray(list(subject), dtype=np.float64).reshape(-1, 2), clip_rect)
    return [(float(x), float(y)) for x, y in out]


def rect_clip_area_wkb(wkb: bytes, rect: tuple[float, float, float, float]) -> float:
    """Exact area of (polygon ∩ rect) for a general Polygon/MultiPolygon
    with holes: per polygon, |area(exterior ∩ rect)| − Σ|area(hole ∩ rect)|
    (valid-geometry assumption: holes nested in their exterior, polygons
    disjoint — the same contract PostGIS ST_Area relies on)."""
    total = 0.0
    for rings in decode_wkb_polygons(wkb):
        ext = clip_ring_rect(rings[0], rect)
        if len(ext) < 3:
            continue
        area = abs(_ring_area(ext))
        for hole in rings[1:]:
            h = clip_ring_rect(hole, rect)
            if len(h) >= 3:
                area -= abs(_ring_area(h))
        total += max(area, 0.0)
    return total


def polygon_interior_intersects_rect(
    wkb: bytes, rect: tuple[float, float, float, float]
) -> bool:
    """Interior-intersects (the ST_Relate 'T********' refinement, F8) for
    GENERAL geometries — concave rings and interior rings (holes) included:
    the clipped region net of holes must have positive area, not just
    touching boundaries (reference: ST_Intersects(geog)/ST_Relate(shape),
    pg_containers.go:302-310)."""
    return rect_clip_area_wkb(wkb, rect) > 1e-12


def points_in_rings_evenodd(points: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd (ray-casting) point-in-polygon, vectorized over points:
    crossing parity over ALL rings, so interior rings punch holes naturally.
    ``points`` is (M,2); returns a bool (M,) mask.  Boundary points are not
    guaranteed either way (standard even-odd caveat)."""
    pts = np.asarray(points, dtype=np.float64)
    inside = np.zeros(len(pts), dtype=bool)
    px = pts[:, 0][:, None]
    py = pts[:, 1][:, None]
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) and np.array_equal(r[0], r[-1]):
            r = r[:-1]
        if len(r) < 3:
            continue
        x0 = r[:, 0][None, :]
        y0 = r[:, 1][None, :]
        x1 = np.roll(r[:, 0], -1)[None, :]
        y1 = np.roll(r[:, 1], -1)[None, :]
        # edge straddles the horizontal ray at py, crossing right of px
        straddle = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = x0 + (py - y0) * (x1 - x0) / np.where(y1 == y0, 1.0, y1 - y0)
        crossings = (straddle & (x_at > px)).sum(axis=1)
        inside ^= (crossings % 2).astype(bool)
    return inside


def points_in_wkb_evenodd(points: np.ndarray, wkb: bytes) -> np.ndarray:
    """Even-odd PIP against a Polygon/MultiPolygon WKB (holes respected)."""
    all_rings = [r for poly in decode_wkb_polygons(wkb) for r in poly]
    return points_in_rings_evenodd(points, all_rings)


def make_intersects_udf(rect: tuple[float, float, float, float]):
    """Arrow-batched pandas UDF: exact interior-intersects vs a fixed query
    rect.  Applied after the bbox prune, matching the reference's two-phase
    evaluation order (O3).

    Per-batch fast paths keep Python work off the common cases: the WKB
    header/bbox shortcut resolves rings whose bounds are disjoint from or
    entirely inside the rect without clipping; only boundary-crossing rings
    pay the (numpy-vectorized) Sutherland–Hodgman passes."""
    from pyspark.sql.functions import pandas_udf

    xmin, ymin, xmax, ymax = (float(v) for v in rect)

    def one(b: bytes) -> bool:
        total = 0.0
        for rings in decode_wkb_polygons(b):
            ext = rings[0]
            ex0, ey0 = ext.min(axis=0)
            ex1, ey1 = ext.max(axis=0)
            if ex0 >= xmax or ex1 <= xmin or ey0 >= ymax or ey1 <= ymin:
                continue  # disjoint or touching only: zero interior overlap
            if not rings[1:] and len(ext) == 5 and np.isin(ext[:, 0], (ex0, ex1)).all() and np.isin(ext[:, 1], (ey0, ey1)).all():
                # axis-aligned rectangle (the dominant catalog footprint):
                # overlap area in closed form, no clipping
                total += max(0.0, min(ex1, xmax) - max(ex0, xmin)) * max(
                    0.0, min(ey1, ymax) - max(ey0, ymin)
                )
            elif not rings[1:] and ex0 >= xmin and ex1 <= xmax and ey0 >= ymin and ey1 <= ymax:
                # hole-free ring fully inside the rect: area is the ring's own
                total += abs(_ring_area(ext[:-1] if np.array_equal(ext[0], ext[-1]) else ext))
            else:
                clipped = clip_ring_rect(ext, rect)
                if len(clipped) < 3:
                    continue
                area = abs(_ring_area(clipped))
                for hole in rings[1:]:
                    h = clip_ring_rect(hole, rect)
                    if len(h) >= 3:
                        area -= abs(_ring_area(h))
                total += max(area, 0.0)
            if total > 1e-12:
                return True
        return total > 1e-12

    @pandas_udf(BooleanType())
    def exact_intersects(wkb_s: pd.Series) -> pd.Series:
        return pd.Series([one(bytes(b)) for b in wkb_s], index=wkb_s.index)

    return exact_intersects


# ------------------------------------------------- antimeridian (F14 / O4)


def split_antimeridian_rect(
    xmin: float, ymin: float, xmax: float, ymax: float
) -> list[tuple[float, float, float, float]]:
    """Split a lon-range that crosses the antimeridian (xmin > xmax after
    normalization to [-180,180]) into <=2 plain rects, mirroring
    pg_containers.go:124-167's split-and-recollect."""
    if xmin <= xmax:
        return [(xmin, ymin, xmax, ymax)]
    return [(xmin, ymin, 180.0, ymax), (-180.0, ymin, xmax, ymax)]


def densify_ring(ring: Ring, max_step: float = 1.0) -> list[tuple[float, float]]:
    """Insert intermediate vertices so no segment exceeds max_step degrees —
    the planar analogue of proj.go:287-460's geodesic densification."""
    pts = list(ring)
    if pts[0] != pts[-1]:
        pts.append(pts[0])
    out: list[tuple[float, float]] = []
    for (x0, y0), (x1, y1) in zip(pts[:-1], pts[1:]):
        seg = max(abs(x1 - x0), abs(y1 - y0))
        n = max(1, int(np.ceil(seg / max_step)))
        for k in range(n):
            t = k / n
            out.append((x0 + (x1 - x0) * t, y0 + (y1 - y0) * t))
    out.append(pts[-1])
    return out
