"""Point-in-polygon and polygon relate kernels, vectorized.

From-scratch (no JTS/NTS dependency): crossing-number PIP with explicit
boundary detection so boundaries count as interior — matching the
reference's COVERS/COVERED-BY semantics (SpatialRelation.cs:29-32) and
the NtsGeometry relate outcomes (NtsGeometry.cs:283-314): point fast
path disjoint?contains (:286-291), bbox gate (:239-246).

Polygons are vertex arrays (xs, ys) with ring_offsets delimiting the
outer ring and holes; multipolygons concatenate rings with a parallel
ring->part map. Dateline-crossing polygons are handled upstream by
page-splitting at ingest (NtsGeometry.cs:379-527 analog in wkt.py).

Vectorization: many points vs ONE polygon per call (the distributed
join groups candidate pairs by polygon id, so each kernel call is a
(polygon, point-batch) pair); the edge loop is over the polygon's own
edges with all points processed per edge via NumPy.

Polygon <-> polygon and polygon <-> rect relates pass the bbox gate
here and are then decided on the noded arrangement of both boundaries
(kernels.booleans.relate), the same noding the overlay area and
geometry use.
"""
from __future__ import annotations

import numpy as np

from .booleans import relate
from .overlay import _rings
from .relation import CONTAINS, DISJOINT, WITHIN


def points_in_ring(px, py, xs, ys) -> np.ndarray:
    """Crossing-number test of points against one closed ring.

    Boundary points (vertex or on-edge) count as inside. Ring need not
    repeat the first vertex. Returns bool array.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    n = len(xs)
    inside = np.zeros(px.shape, dtype=bool)
    boundary = np.zeros(px.shape, dtype=bool)
    x1, y1 = xs, ys
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    for i in range(n):
        ax, ay, bx, by = x1[i], y1[i], x2[i], y2[i]
        # boundary: collinear and within segment bbox
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        on_seg = ((cross == 0.0)
                  & (px >= min(ax, bx)) & (px <= max(ax, bx))
                  & (py >= min(ay, by)) & (py <= max(ay, by)))
        boundary |= on_seg
        # ray cast to +x: half-open in y to avoid double-count at vertices
        cond = (ay > py) != (by > py)
        if ay != by:
            x_at = ax + (py - ay) * (bx - ax) / (by - ay)
            inside ^= cond & (px < x_at)
    return inside | boundary


def _ring_parity_and_boundary(px, py, xs, ys):
    """(crossing parity, on-boundary) of points vs one ring."""
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    boundary = np.zeros(px.shape, dtype=bool)
    n = len(xs)
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    for i in range(n):
        ax, ay, bx, by = xs[i], ys[i], x2[i], y2[i]
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        boundary |= ((cross == 0.0)
                     & (px >= min(ax, bx)) & (px <= max(ax, bx))
                     & (py >= min(ay, by)) & (py <= max(ay, by)))
        cond = (ay > py) != (by > py)
        if ay != by:
            x_at = ax + (py - ay) * (bx - ax) / (by - ay)
            inside ^= cond & (px < x_at)
    return inside, boundary


def points_in_polygon(px, py, xs, ys, ring_offsets=None) -> np.ndarray:
    """PIP via the global even-odd rule over all rings.

    ring_offsets delimit rings in xs/ys ([0, n0, n0+n1, ...]). Works
    uniformly for a polygon with holes (parity 2 inside a hole -> out)
    AND a multipolygon's disjoint shells (parity 1 in either -> in),
    assuming shells don't mutually overlap (the reference's default,
    NtsSpatialContextFactory allowMultiOverlap=false :63-81). Any ring
    boundary counts as inside (COVERS semantics).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if ring_offsets is None or len(ring_offsets) < 2:
        inside, boundary = _ring_parity_and_boundary(px, py, xs, ys)
        return inside | boundary
    inside = np.zeros(px.shape, dtype=bool)
    boundary = np.zeros(px.shape, dtype=bool)
    for k in range(len(ring_offsets) - 1):
        s, e = ring_offsets[k], ring_offsets[k + 1]
        pin, pb = _ring_parity_and_boundary(px, py, xs[s:e], ys[s:e])
        inside ^= pin
        boundary |= pb
    return inside | boundary


def relate_polygon_points(px, py, xs, ys, ring_offsets=None) -> np.ndarray:
    """Polygon.Relate(point) -> CONTAINS or DISJOINT per point.

    NtsGeometry point fast path (NtsGeometry.cs:286-291): disjoint unless
    covered (boundary counts).
    """
    inside = points_in_polygon(px, py, xs, ys, ring_offsets)
    return np.where(inside, CONTAINS, DISJOINT).astype(np.int8)


def relate_polygon_rect(xs, ys, ring_offsets, minx, maxx, miny, maxy) -> int:
    """Polygon.Relate(rect) -> code, COVERS semantics: the polygon
    relate below with the rect as one CCW ring. Non-dateline-crossing
    rect assumed (upstream splits pages)."""
    rx = np.array([minx, maxx, maxx, minx], dtype=np.float64)
    ry = np.array([miny, miny, maxy, maxy], dtype=np.float64)
    return relate_polygon_polygon(xs, ys, ring_offsets, rx, ry, None)


def relate_polygon_circle(xs, ys, ring_offsets, minx, maxx, miny, maxy,
                          cx, cy, r, geo: bool = True) -> int:
    """Polygon.Relate(circle) — the reference's vertex-counting
    algorithm (NtsGeometry.cs:248-275):

    1. bbox gate: rect.Relate(circle) (= transpose of the GeoCircle
       machine); WITHIN/DISJOINT short-circuit.
    2. Count vertices outside the circle; mixed => INTERSECTS.
    3. All outside => DISJOINT unless the polygon covers the circle's
       center (then CONTAINS). None outside => WITHIN.
    """
    from .relate_circle import circle_contains_xy, relate_circle_rect
    from .relation import (CONTAINS, DISJOINT, INTERSECTS, WITHIN,
                           transpose)

    bbox_r = int(transpose(relate_circle_rect(
        cx, cy, r, minx, maxx, miny, maxy, geo=geo))[0])
    if bbox_r in (WITHIN, DISJOINT):
        return bbox_r
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    inside = circle_contains_xy(np.full(xs.shape, cx), np.full(xs.shape, cy),
                                np.full(xs.shape, r), xs, ys, geo=geo)
    n_out = int((~inside).sum())
    if 0 < n_out < xs.size:
        return INTERSECTS
    if n_out == xs.size:
        center_in = bool(points_in_polygon(
            np.array([cx]), np.array([cy]), xs, ys, ring_offsets)[0])
        return CONTAINS if center_in else DISJOINT
    return WITHIN


def relate_polygon_polygon(axs, ays, aro, bxs, bys, bro) -> int:
    """A.Relate(B) for two (multi)polygons with holes -> code.

    Mapping per NtsGeometry.IntersectionMatrixToSpatialRelation
    (NtsGeometry.cs:303-314): COVERS -> CONTAINS, COVEREDBY -> WITHIN,
    DISJOINT -> DISJOINT, else INTERSECTS (Spatial4j CONTAINS/WITHIN
    are OGC COVERS/COVEREDBY, boundary-inclusive). Boundary-only touch
    is INTERSECTS (OGC disjoint = no shared points at all) unless one
    covers the other. Bbox gate, then the noded relate
    (kernels.booleans.relate). Dateline-crossing inputs are page-split
    upstream (wkt.py), same as every other polygon kernel here."""
    axs = np.asarray(axs, dtype=np.float64)
    ays = np.asarray(ays, dtype=np.float64)
    bxs = np.asarray(bxs, dtype=np.float64)
    bys = np.asarray(bys, dtype=np.float64)
    if axs.size == 0 or bxs.size == 0:
        return DISJOINT
    if (axs.min() > bxs.max() or axs.max() < bxs.min()
            or ays.min() > bys.max() or ays.max() < bys.min()):
        return DISJOINT
    # a shape whose vertices all coincide is a point: it has no edge
    if bxs.min() == bxs.max() and bys.min() == bys.max():
        return int(relate_polygon_points(bxs[:1], bys[:1], axs, ays, aro)[0])
    if axs.min() == axs.max() and ays.min() == ays.max():
        return WITHIN if points_in_polygon(axs[:1], ays[:1], bxs, bys,
                                           bro)[0] else DISJOINT
    return relate(_rings(axs, ays, aro), _rings(bxs, bys, bro))
