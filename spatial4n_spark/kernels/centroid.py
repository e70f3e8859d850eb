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


def _ring_even_odd_signs(rings):
    """+1 for rings at even nesting depth (shells), -1 for odd (holes)
    — the same even-odd rule as the record's PIP semantics and
    binary._nest_rings. Ring containment goes through the
    distance-guarded probe (overlay._ring_contained_in, r5): rings out
    of the boolean-geometry kernels start at crossing points that sit
    ON another ring's boundary within float rounding, where the old
    first-vertex probe coin-flipped."""
    from .overlay import _ring_contained_in
    n = len(rings)
    signs = np.ones(n)
    if n <= 1:
        return signs
    for i in range(n):
        depth = 0
        for j in range(n):
            if i != j and _ring_contained_in(rings[i][0], rings[i][1],
                                             rings[j][0], rings[j][1]):
                depth += 1
        if depth % 2 == 1:
            signs[i] = -1.0
    return signs


def polygon_centroid(xs, ys, ring_offsets):
    """Area centroid of a (multi)polygon record with even-odd holes.

    Per ring, the standard signed-area centroid
    (C = sum((p_i + p_{i+1}) * cross_i) / (6 * A_signed)) is
    orientation-invariant after the division; rings are then weighted
    by sign * |A| where sign comes from even-odd nesting depth, so
    holes subtract regardless of their winding — exactly the record's
    area semantics. Degenerate total area falls back to the boundary
    length centroid, then to the plain vertex average (NTS Centroid's
    areal -> lineal -> puntal ladder).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    # ring_offsets is the full fence [0, n0, n0+n1, ..., total]
    if ring_offsets is None or len(ring_offsets) < 2:
        offs = [0, len(xs)]
    else:
        offs = list(ring_offsets)
    rings = []
    for a, b in zip(offs[:-1], offs[1:]):
        if b - a >= 3:
            rings.append((xs[a:b], ys[a:b]))
    if not rings:
        if len(xs) == 0:
            return float("nan"), float("nan")
        return float(xs.mean()), float(ys.mean())
    signs = _ring_even_odd_signs(rings)
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
    only polygon rows take the per-row centroid path."""
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
    for i in np.nonzero((kind == 7) | (kind == 8))[0]:
        if xs_list[i] is None:
            continue  # malformed record: stay (nan, nan) like empty
        cx[i], cy[i] = polygon_centroid(xs_list[i], ys_list[i],
                                        ring_offsets_list[i])
    return cx, cy
