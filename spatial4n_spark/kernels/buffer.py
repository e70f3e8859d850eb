"""GetBuffered(distance) kernels, vectorized.

Reference semantics:
- Rect (Impl/RectangleImpl.cs:76-114): geo path checks pole touch
  (north first) -> world-wrap lon rect with clamped lat; otherwise
  lat expands by the distance and lon by the delta-lon at the rect's
  closest-to-pole latitude (maxY for any non-degenerate rect — the
  reference picks maxY whenever height > 0), world-wrapping lon when
  2*lonDistance + width >= 360. Cartesian path clamps to world bounds.
- Point (Impl/PointImpl.cs:67-70): buffered point IS a circle of
  radius = distance.
- Circle (Impl/CircleImpl.cs:78-81): radius grows by the distance
  (MakeCircle clamps > 180 upstream, handled by the caller).
"""
from __future__ import annotations

import numpy as np

from .circle_box import delta_lon_deg
from .normalize import norm_lon_deg


def buffer_rect(minx, maxx, miny, maxy, dist, geo: bool = True):
    """Vectorized rect GetBuffered -> (minx, maxx, miny, maxy)."""
    minx = np.asarray(minx, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    dist = np.asarray(dist, dtype=np.float64)
    if not geo:
        return (np.maximum(-180.0, minx - dist), np.minimum(180.0, maxx + dist),
                np.maximum(-90.0, miny - dist), np.minimum(90.0, maxy + dist))
    north = maxy + dist >= 90.0
    south = miny - dist <= -90.0
    closest = np.where(maxy - miny > 0.0, maxy, miny)
    dl = delta_lon_deg(closest, dist)
    width = maxx - minx
    width = np.where(width < 0.0, width + 360.0, width)
    wrap = dl * 2.0 + width >= 360.0
    ominx = np.where(wrap, -180.0, norm_lon_deg(minx - dl))
    omaxx = np.where(wrap, 180.0, norm_lon_deg(maxx + dl))
    pole = north | south
    rminx = np.where(pole, -180.0, ominx)
    rmaxx = np.where(pole, 180.0, omaxx)
    rminy = np.where(north, np.maximum(-90.0, miny - dist),
                     np.where(south, -90.0, miny - dist))
    rmaxy = np.where(north, 90.0,
                     np.where(south, np.minimum(90.0, maxy + dist),
                              maxy + dist))
    return rminx, rmaxx, rminy, rmaxy


# ---------------------------------------------------------------------------
# Polygon GetBuffered (NtsGeometry.cs:175-180 delegates to the JTS/NTS
# planar Buffer op; semantics here are the same PLANAR degree-space
# Minkowski sum, built from scratch).
#
# Exactness contract (documented approximation levels):
# - CONVEX rings whose buffers stay apart (fast path): exact Minkowski
#   sum polygon ⊕ disc(d) with round joins; vertex arcs are discretized
#   at <= ARC_STEP radians with the exact edge-normal angles as arc
#   endpoints, so the result is a convex polygon INSCRIBED in the true
#   buffer (max inward deviation = d * (1 - cos(ARC_STEP/2)) ~= 0.48% of
#   d at the default step); convex holes erode by half-plane clipping,
#   and a hole that collapses is dropped.
# - Everything else (concave, holed, multipart with meeting buffers,
#   and every erosion but a convex single shell): the exact strip union
#   below, with the same inscribed-arc bound.
# - Union rings that do not stitch: the buffered convex hull of the
#   shells (a conservative SUPERSET, flagged approx); erosion raises.
# ---------------------------------------------------------------------------

ARC_STEP = np.pi / 16.0  # 8 segments per quadrant, JTS default fidelity


# ring primitives shared with the noded overlay kernel
from .booleans import _ensure_ccw, _roll1, _signed_area2  # noqa: E402


def _ring_open(xs, ys):
    """Drop a repeated closing vertex."""
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        return xs[:-1], ys[:-1]
    return xs, ys


def _is_convex_ccw(xs, ys) -> bool:
    ex = _roll1(xs) - xs
    ey = _roll1(ys) - ys
    cross = ex * _roll1(ey) - ey * _roll1(ex)
    return bool(np.all(cross >= 0.0))


def _convex_hull(xs, ys):
    """Andrew monotone chain -> CCW hull (no repeated last vertex)."""
    pts = sorted(set(zip(xs.tolist(), ys.tolist())))
    if len(pts) <= 2:
        return (np.array([p[0] for p in pts]), np.array([p[1] for p in pts]))

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and ((out[-1][0] - out[-2][0])
                                     * (p[1] - out[-2][1])
                                     - (out[-1][1] - out[-2][1])
                                     * (p[0] - out[-2][0])) <= 0:
                out.pop()
            out.append(p)
        return out
    lower = half(pts)
    upper = half(pts[::-1])
    hull = lower[:-1] + upper[:-1]
    return (np.array([p[0] for p in hull], dtype=np.float64),
            np.array([p[1] for p in hull], dtype=np.float64))


def _offset_convex_ring(xs, ys, d, arc_step=ARC_STEP):
    """Round-join outward offset of a CCW convex ring by d (exact
    Minkowski with inscribed arc discretization). Returns (oxs, oys)."""
    n = len(xs)
    ex = _roll1(xs) - xs
    ey = _roll1(ys) - ys
    elen = np.hypot(ex, ey)
    keep = elen > 0.0
    # outward normal of CCW edge (a->b) is (dy, -dx)/|e|
    nx = np.where(keep, ey / np.where(keep, elen, 1.0), 0.0)
    ny = np.where(keep, -ex / np.where(keep, elen, 1.0), 0.0)
    out_x: list = []
    out_y: list = []
    for i in range(n):
        if not keep[(i - 1) % n] and not keep[i]:
            continue
        a_in = np.arctan2(ny[(i - 1) % n], nx[(i - 1) % n])
        a_out = np.arctan2(ny[i], nx[i])
        if not keep[(i - 1) % n]:
            a_in = a_out
        if not keep[i]:
            a_out = a_in
        sweep = (a_out - a_in) % (2.0 * np.pi)
        if sweep > np.pi:          # numerical noise on collinear edges
            sweep = 0.0
        m = max(1, int(np.ceil(sweep / arc_step)))
        for j in range(m + 1):
            th = a_in + sweep * j / m
            out_x.append(xs[i] + d * np.cos(th))
            out_y.append(ys[i] + d * np.sin(th))
    return np.asarray(out_x), np.asarray(out_y)


def _erode_convex_ring(xs, ys, d):
    """Inward offset of a CCW convex ring by d via Sutherland-Hodgman
    clipping against every edge's inward-shifted half-plane. Returns
    (oxs, oys) or None when the ring collapses."""
    subject = list(zip(xs.tolist(), ys.tolist()))
    n = len(xs)
    for i in range(n):
        ax, ay = xs[i], ys[i]
        bx, by = xs[(i + 1) % n], ys[(i + 1) % n]
        elen = float(np.hypot(bx - ax, by - ay))
        if elen == 0.0:
            continue
        # keep p with cross(b-a, p-a) >= d*|e|  (left of line by >= d)
        thr = d * elen

        def side(p):
            return (bx - ax) * (p[1] - ay) - (by - ay) * (p[0] - ax) - thr
        clipped = []
        for k in range(len(subject)):
            cur, nxt = subject[k], subject[(k + 1) % len(subject)]
            sc, sn = side(cur), side(nxt)
            if sc >= 0.0:
                clipped.append(cur)
            if (sc >= 0.0) != (sn >= 0.0):
                t = sc / (sc - sn)
                clipped.append((cur[0] + t * (nxt[0] - cur[0]),
                                cur[1] + t * (nxt[1] - cur[1])))
            if not clipped and k == len(subject) - 1:
                return None
        subject = clipped
        if len(subject) < 3:
            return None
    oxs = np.array([p[0] for p in subject])
    oys = np.array([p[1] for p in subject])
    if abs(_signed_area2(oxs, oys)) <= 0.0:
        return None  # eroded to a point/segment -> hole collapsed
    return oxs, oys


# ---------------------------------------------------------------------------
# EXACT general (concave / holed / multipart) buffer and erosion.
#
# P (+) disc(d) == P  ∪  (boundary(P) (+) disc(d)) and
# P (-) disc(d) == P  \  (boundary(P) (+) disc(d)).  The boundary strip
# decomposes exactly into per-EDGE rectangles (edge swept +-d along its
# normal) and per-VERTEX discs, so both are ONE call of the noded
# overlay union (kernels/booleans.union_members): buffer is the union
# of P and every piece, erosion is P minus the union of the pieces.
# Shared and tangent piece boundaries (d equal to a parallel-edge
# distance, collinear edges, disc vertices on rect sides) are nodes of
# the arrangement, not failures.  Holes erode by d and collapse, thin
# necks seal into holes, disjoint shells whose buffers meet merge, and
# erosion grows holes, severs thin necks and drops thin shells.  Arc
# discretization is the same inscribed-arc contract as the convex path
# (<= ARC_STEP radians per segment, max inward deviation
# d*(1-cos(ARC_STEP/2)) ~ 0.48%); every disc starts at angle 0.
# ---------------------------------------------------------------------------


def _clean_ring(rx, ry):
    """Drop duplicate consecutive vertices (a zero-length edge has no
    strip rectangle). Returns None if fewer than 3 vertices survive."""
    keep = (rx != _roll1(rx)) | (ry != _roll1(ry))
    rx, ry = rx[keep], ry[keep]
    if len(rx) < 3:
        return None
    return rx, ry


def _rect_piece(ax, ay, bx, by, r):
    ex, ey = bx - ax, by - ay
    L = float(np.hypot(ex, ey))
    nx, ny = ey / L * r, -ex / L * r
    return (np.array([ax + nx, bx + nx, bx - nx, ax - nx]),
            np.array([ay + ny, by + ny, by - ny, ay - ny]))


def _buffer_exact(rings, d, arc_step, erode: bool = False):
    """Exact buffer (or EROSION, `erode=True`) of an even-odd ring set
    by one noded union of the input and its boundary-strip pieces (see
    the block above). Returns a ring list ([] = fully eroded) or None
    when the union does not stitch."""
    from .booleans import union_members
    segs = max(8, int(np.ceil(2.0 * np.pi / arc_step)))
    th = np.arange(segs) * (2.0 * np.pi / segs)
    ux, uy = d * np.cos(th), d * np.sin(th)
    pieces = []
    for rx, ry in rings:
        n = len(rx)
        for i in range(n):
            j = (i + 1) % n
            pieces.append([_rect_piece(rx[i], ry[i], rx[j], ry[j], d)])
            pieces.append([(rx[i] + ux, ry[i] + uy)])
    if erode:
        return union_members([rings], minus=pieces)
    return union_members([rings] + pieces)


def buffer_polygon(xs, ys, ring_offsets, d, arc_step=ARC_STEP):
    """GetBuffered(d >= 0) for one (multi)polygon in even-odd ring form.

    Exact (within the inscribed-arc contract) for convex rings via
    direct Minkowski offset/erode, and for CONCAVE / HOLED / MULTIPART
    inputs via one noded union of the input and its boundary-strip
    pieces (see the block above). NEGATIVE d is EROSION (NTS
    ``geom.Buffer(negative)`` parity, NtsGeometry.cs:175-180): holes
    grow, thin necks sever, fully-eroded regions come back EMPTY (zero
    rings). Returns (oxs, oys, oring_offsets, approx); approx is True
    only when the union of a positive-buffer input did not stitch and
    the hull-superset fallback fired — the erosion path has no
    fallback and raises instead.
    Raises ValueError on a degenerate ring or an erosion whose union
    does not stitch.
    """
    from .booleans import list_rings
    from .pip import ring_nesting

    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if ring_offsets is None or len(ring_offsets) < 2:
        ring_offsets = [0, len(xs)]
    rings = []
    for k in range(len(ring_offsets) - 1):
        rx, ry = _ring_open(xs[ring_offsets[k]:ring_offsets[k + 1]],
                            ys[ring_offsets[k]:ring_offsets[k + 1]])
        if len(rx) < 3:
            raise ValueError("buffer_polygon: ring with < 3 vertices")
        rings.append(_ensure_ccw(rx, ry))
    if d == 0.0:
        off = [0]
        for rx, ry in rings:
            off.append(off[-1] + len(rx))
        return (np.concatenate([r[0] for r in rings]),
                np.concatenate([r[1] for r in rings]),
                off, False)

    if d < 0.0:
        ad = -d
        # convex single-shell fast path: exact half-plane erosion
        if len(rings) == 1 and _is_convex_ccw(*rings[0]):
            er = _erode_convex_ring(rings[0][0], rings[0][1], ad)
            out_rings = [er] if er is not None else []
        else:
            cleaned = [_clean_ring(rx, ry) for rx, ry in rings]
            if any(c is None for c in cleaned):
                raise ValueError("buffer_polygon: degenerate ring")
            out_rings = _buffer_exact(cleaned, ad, arc_step, erode=True)
            if out_rings is None:
                raise ValueError(
                    "buffer_polygon: erosion rings did not stitch")
        if not out_rings:
            return (np.empty(0), np.empty(0), [0], False)  # fully eroded
        off = [0]
        for rx, ry in out_rings:
            off.append(off[-1] + len(rx))
        return (np.concatenate([r[0] for r in out_rings]),
                np.concatenate([r[1] for r in out_rings]),
                off, False)

    # even-odd nesting depth: a shell at even depth, a hole at odd
    depth = [0]
    if len(rings) > 1:
        depth = ring_nesting(list_rings([rings]))[0].tolist()
    shells = [r for r, dep in zip(rings, depth) if dep % 2 == 0]
    holes = [r for r, dep in zip(rings, depth) if dep % 2 == 1]

    def _pack(out_rings, approx):
        off = [0]
        for rx, ry in out_rings:
            off.append(off[-1] + len(rx))
        return (np.concatenate([r[0] for r in out_rings]),
                np.concatenate([r[1] for r in out_rings]),
                off, approx)

    all_convex = all(_is_convex_ccw(rx, ry) for rx, ry in shells + holes)
    shells_overlap = False
    if len(shells) > 1:
        # buffered-bbox intersection => the buffers may merge, which
        # per-shell even-odd offsets can't express -> strip-union path
        boxes = [(rx.min() - d, rx.max() + d, ry.min() - d, ry.max() + d)
                 for rx, ry in shells]
        shells_overlap = any(
            boxes[i][0] <= boxes[j][1] and boxes[j][0] <= boxes[i][1]
            and boxes[i][2] <= boxes[j][3] and boxes[j][2] <= boxes[i][3]
            for i in range(len(boxes)) for j in range(i + 1, len(boxes)))

    if all_convex and not shells_overlap:
        # fast path: direct Minkowski offset / erode, exact
        out_rings = [_offset_convex_ring(rx, ry, d, arc_step)
                     for rx, ry in shells]
        for rx, ry in holes:
            eroded = _erode_convex_ring(rx, ry, d)
            if eroded is not None:
                out_rings.append(eroded)
        return _pack(out_rings, False)

    # general EXACT path: one union of the input and its strip pieces
    cleaned = [_clean_ring(rx, ry) for rx, ry in rings]
    if all(c is not None for c in cleaned):
        exact = _buffer_exact(cleaned, d, arc_step)
        if exact is not None:
            return _pack(exact, False)

    # last resort (the union did not stitch): hull-superset fallback
    conv_shells = [(rx, ry) if _is_convex_ccw(rx, ry) else
                   _convex_hull(rx, ry) for rx, ry in shells]
    if len(conv_shells) > 1 and shells_overlap:
        ax = np.concatenate([r[0] for r in conv_shells])
        ay = np.concatenate([r[1] for r in conv_shells])
        conv_shells = [_convex_hull(ax, ay)]
        holes = []
    out_rings = [_offset_convex_ring(rx, ry, d, arc_step)
                 for rx, ry in conv_shells]
    for rx, ry in holes:
        if not _is_convex_ccw(rx, ry):
            rx, ry = _convex_hull(rx, ry)
        eroded = _erode_convex_ring(rx, ry, d)
        if eroded is not None:
            out_rings.append(eroded)
    return _pack(out_rings, True)
