"""Shape centers (GetCenter parity).

Reference semantics per kind:
  point/circle   -> the point itself (CircleImpl.cs:62, PointImpl).
  rect           -> minX + Width/2 with NormLonDEG when the rect wraps
                    the dateline (RectangleImpl.cs:304-315; Width adds
                    360 when minX > maxX, :184-190).
  buffered line, multipoint, multilinestring, collection
                 -> bounding-box center (BufferedLine.cs:233,
                    BufferedLineString.cs:118 -> segments collection,
                    ShapeCollection.cs:101 -> m_bbox.Center).
  polygon/multipolygon (NtsGeometry.cs:200-210 -> geom.Centroid)
                 -> area centroid with even-odd hole subtraction;
                    degenerate (zero-area) polygons fall back to the
                    boundary length centroid, then the vertex average —
                    mirroring NTS Centroid's areal -> lineal -> puntal
                    dimension fallback.
  empty          -> (nan, nan) (RectangleImpl.cs:308-309).

All pure NumPy; no Spark imports (kernel layer rule).
"""
from __future__ import annotations

import numpy as np

from .booleans import _roll1
from .normalize import norm_lon_deg


def rect_center(minx, maxx, miny, maxy):
    """Vectorized dateline-aware rect center (RectangleImpl.cs:304-315).

    Width = maxx - minx (+360 when wrapped); x = minx + Width/2,
    re-normalized into [-180, 180] when the rect wraps.
    """
    minx = np.asarray(minx, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    raw_w = maxx - minx
    wrapped = raw_w < 0
    w = np.where(wrapped, raw_w + 360.0, raw_w)
    cx = minx + w / 2.0
    cx = np.where(wrapped, norm_lon_deg(cx), cx)
    cy = miny + (maxy - miny) / 2.0
    return cx, cy


def record_rings(xs, ys, ring_offsets):
    """The rings of a (multi)polygon record that hold 3+ stored
    vertices, as stored (a closing repeat kept); a null or short
    ring_offsets makes all vertices one ring."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    # ring_offsets is the full fence [0, n0, n0+n1, ..., total]
    offs = (list(ring_offsets) if ring_offsets is not None
            and len(ring_offsets) >= 2 else [0, len(xs)])
    return [(xs[a:b], ys[a:b]) for a, b in zip(offs[:-1], offs[1:])
            if b - a >= 3]


def evenodd_signs(ring_lists) -> list:
    """Per ring list, +1 for each ring at even nesting depth (a shell)
    and -1 at odd depth (a hole) — the record's even-odd PIP rule.
    One `pip.ring_nesting` call for every list."""
    from .booleans import list_rings
    from .pip import ring_nesting
    depth = ring_nesting(list_rings(ring_lists))[0]
    return np.split(np.where(depth % 2 == 1, -1.0, 1.0),
                    np.cumsum([len(r) for r in ring_lists])[:-1])


def polygon_centroid(xs, ys, ring_offsets):
    """Area centroid of a (multi)polygon record with even-odd holes:
    the one-row call of `polygon_centroids`."""
    return polygon_centroids([xs], [ys], [ring_offsets])[0]


def polygon_centroids(xs_list, ys_list, ro_list) -> list:
    """Area centroid (cx, cy) of each (multi)polygon record.

    Per ring, the standard signed-area centroid
    (C = sum((p_i + p_{i+1}) * cross_i) / (6 * A_signed)) is
    orientation-invariant after the division; rings are then weighted
    by sign * |A| where sign comes from even-odd nesting depth
    (`evenodd_signs`, one call for every record), so holes subtract
    regardless of their winding — exactly the record's area semantics.
    Degenerate total area falls back to the boundary length centroid,
    then to the plain vertex average (NTS Centroid's areal -> lineal ->
    puntal ladder).
    """
    xs_list = [np.asarray(xs, dtype=np.float64) for xs in xs_list]
    ys_list = [np.asarray(ys, dtype=np.float64) for ys in ys_list]
    rings = [record_rings(*rec) for rec in zip(xs_list, ys_list, ro_list)]
    return [_centroid(*rec) for rec in zip(xs_list, ys_list, rings,
                                           evenodd_signs(rings))]


def _centroid(xs, ys, rings, signs):
    if not rings:
        if len(xs) == 0:
            return float("nan"), float("nan")
        return float(xs.mean()), float(ys.mean())
    wsum = cx = cy = 0.0
    lsum = lx = ly = 0.0
    for (rx, ry), sg in zip(rings, signs):
        x0, y0 = rx, ry
        x1, y1 = _roll1(rx), _roll1(ry)
        cross = x0 * y1 - x1 * y0
        a_signed = 0.5 * cross.sum()
        if a_signed != 0.0:
            rcx = ((x0 + x1) * cross).sum() / (6.0 * a_signed)
            rcy = ((y0 + y1) * cross).sum() / (6.0 * a_signed)
            w = sg * abs(a_signed)
            wsum += w
            cx += w * rcx
            cy += w * rcy
        seg = np.hypot(x1 - x0, y1 - y0)
        lsum += seg.sum()
        lx += (seg * (x0 + x1) / 2.0).sum()
        ly += (seg * (y0 + y1) / 2.0).sum()
    if abs(wsum) > 0.0:
        return cx / wsum, cy / wsum
    if lsum > 0.0:
        return lx / lsum, ly / lsum
    return float(xs.mean()), float(ys.mean())


def center_batch(kind, x, y, minx, maxx, miny, maxy, xs_list, ys_list,
                 ring_offsets_list):
    """Per-row GetCenter over flat shape-record arrays -> (cx, cy)
    float64 arrays. Vectorized for the point/circle/rect/bbox kinds;
    the polygon rows take `polygon_centroids`, one call for the
    batch."""
    kind = np.asarray(kind, dtype=np.int8)
    n = len(kind)
    cx = np.full(n, np.nan)
    cy = np.full(n, np.nan)

    pt = (kind == 1) | (kind == 3)          # point, circle
    if pt.any():
        cx[pt] = np.asarray(x, dtype=np.float64)[pt]
        cy[pt] = np.asarray(y, dtype=np.float64)[pt]
    # rect and every bbox-centered kind (line, multipoint, mls,
    # collection) share the dateline-aware bbox-center rule
    bx = (kind == 2) | (kind == 4) | (kind == 5) | (kind == 6) | (kind == 9)
    if bx.any():
        rcx, rcy = rect_center(np.asarray(minx, dtype=np.float64)[bx],
                               np.asarray(maxx, dtype=np.float64)[bx],
                               np.asarray(miny, dtype=np.float64)[bx],
                               np.asarray(maxy, dtype=np.float64)[bx])
        cx[bx] = rcx
        cy[bx] = rcy
    # a malformed record (no vertex list) stays (nan, nan) like empty
    rows = [i for i in np.flatnonzero((kind == 7) | (kind == 8)).tolist()
            if xs_list[i] is not None]
    for i, (px, py) in zip(rows, polygon_centroids(
            [xs_list[i] for i in rows], [ys_list[i] for i in rows],
            [ring_offsets_list[i] for i in rows])):
        cx[i], cy[i] = px, py
    return cx, cy
