"""Member relation for MULTIPOLYGON overlap resolution
(allowMultiOverlap, NtsGeometry.cs:64-94: ``if (allowMultiOverlap)
geom = UnionGeometryCollection(geom)``): classifies two members as
interior-disjoint, crossing, or one containing the other, so the WKT
parser (`wkt._resolve_multi_overlap`) knows which members to merge as
they are, which to drop, and which to send through the noded overlay
union (`booleans.union_members`). Also the small ring primitives the
buffer kernel shares.

Scale note: this runs inside the Arrow parse batch, per shape — cost is
O(|A|·|B|) per member pair whose bboxes meet, on shapes that are tiny
next to the row counts around them.
"""
from __future__ import annotations

import numpy as np


def _roll1(a):
    """np.roll(a, -1) without np.roll's dispatch overhead."""
    return np.concatenate((a[1:], a[:1]))


def _signed_area2(xs, ys) -> float:
    return float(np.sum(xs * _roll1(ys) - _roll1(xs) * ys))


def _ensure_ccw(xs, ys):
    if _signed_area2(xs, ys) < 0.0:
        return xs[::-1].copy(), ys[::-1].copy()
    return xs, ys


def _open_ccw(xs, ys):
    """Drop a repeated closing vertex (WKT rings arrive closed — the
    zero-length closing edge would read as degenerate contact) and
    normalize to CCW."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    return _ensure_ccw(xs, ys)


# boundary "thickness" for containment: cut-line noise leaves vertices
# O(1e-7) deg inside a neighboring page; genuine containment shallower
# than 1e-6 deg (~0.1 m) is indistinguishable from that noise
_BOUNDARY_EPS = 1e-6


def _deep_inside(px, py, mask, rings) -> bool:
    """Any masked vertex farther than _BOUNDARY_EPS from EVERY segment
    of every ring in `rings` (the point is already parity-inside)."""
    idx = np.nonzero(mask)[0]
    if idx.size == 0:
        return False
    segs = []
    for xs, ys in rings:
        x2, y2 = _roll1(xs), _roll1(ys)
        segs.append((xs, ys, x2 - xs, y2 - ys))
    for i in idx:
        best = np.inf
        for xs, ys, ex, ey in segs:
            L2 = ex * ex + ey * ey
            L2s = np.where(L2 == 0.0, 1.0, L2)
            t = np.clip(((px[i] - xs) * ex + (py[i] - ys) * ey) / L2s,
                        0.0, 1.0)
            d2 = (px[i] - (xs + t * ex)) ** 2 + (py[i] - (ys + t * ey)) ** 2
            best = min(best, float(d2.min()))
        if np.sqrt(best) > _BOUNDARY_EPS:
            return True
    return False


def member_relation(rings_a, rings_b):
    """Relation kind between two multipolygon MEMBERS, each a list of
    (xs, ys) rings in even-odd form (shell + holes + dateline pages).

    kind: 'none' (interiors disjoint; boundary touching allowed),
    'cross' (interiors overlap otherwise: boundaries cross
    transversally, one member fills the other's hole, or collinear
    contact hides an overlap), 'a_contains_b' / 'b_contains_a' (one
    member's interior swallows the other).
    Crossings use the endpoint-epsilon guard against dateline-cut
    float slivers; containment is MEMBER-level even-odd
    parity over ALL the other member's rings (so a member nested in
    another member's HOLE — parity 2 — does not flag), and a vertex
    must sit deeper than _BOUNDARY_EPS inside to count."""
    from .pip import _ring_parity_and_boundary

    opened_a = [_open_ccw(xs, ys) for xs, ys in rings_a]
    opened_b = [_open_ccw(xs, ys) for xs, ys in rings_b]
    degen = False
    for ax, ay in opened_a:
        for bx, by in opened_b:
            crossings, pt, lt = _edge_crossings(ax, ay, bx, by)
            degen |= pt or lt
            if crossings:
                return "cross"

    def contained(mine, other):
        for xs, ys in mine:
            parity = np.zeros(len(xs), dtype=bool)
            bnd = np.zeros(len(xs), dtype=bool)
            for ox, oy in other:
                pin, pb = _ring_parity_and_boundary(xs, ys, ox, oy)
                parity ^= pin
                bnd |= pb
            if _deep_inside(xs, ys, parity & ~bnd, other):
                return True
        return False
    b_in_a = contained(opened_b, opened_a)
    a_in_b = contained(opened_a, opened_b)
    if b_in_a and a_in_b:
        # mutual vertex-containment with no boundary crossings: one
        # member covers the other's HOLE (annulus + hole-filling
        # square — the hole ring's vertices sit inside the filler,
        # the filler's vertices sit in the annulus interior). Neither
        # union-by-drop is correct, so the pair goes to the union.
        return "cross"
    if b_in_a:
        return "a_contains_b"
    if a_in_b:
        return "b_contains_a"
    # degenerate contact with every vertex probe on the other boundary
    # can hide a real interior overlap (collinear shared edge segments
    # with offset spans) — probe sub-segment midpoints before calling
    # the pair touch-only; a hit goes to the union instead of an
    # even-odd merge that would XOR the overlap into a phantom hole.
    if degen and _degen_interior_overlap(opened_a, opened_b):
        return "cross"
    return "none"


def _degen_interior_overlap(opened_a, opened_b) -> bool:
    """Interior-overlap probe for degenerate-contact pairs: split every
    edge of one member at all contacts with the other's boundary and
    test sub-segment MIDPOINTS (deep-inside, boundary-excluded). If any
    boundary arc of either member runs strictly inside the other, the
    interiors overlap — complete where vertex probes are blind."""
    from .pip import _edge_split_ts, _ring_parity_and_boundary

    def soup(rings):
        xs = np.concatenate([r[0] for r in rings])
        ys = np.concatenate([r[1] for r in rings])
        x2 = np.concatenate([_roll1(r[0]) for r in rings])
        y2 = np.concatenate([_roll1(r[1]) for r in rings])
        return xs, ys, x2, y2

    for mine, other in ((opened_a, opened_b), (opened_b, opened_a)):
        oax, oay, obx, oby = soup(other)
        for xs, ys in mine:
            x2, y2 = _roll1(xs), _roll1(ys)
            for k in range(len(xs)):
                ts = _edge_split_ts(xs[k], ys[k], x2[k], y2[k],
                                    oax, oay, obx, oby)
                if len(ts) < 2:
                    continue
                tm = (ts[:-1] + ts[1:]) / 2.0
                mx = xs[k] + tm * (x2[k] - xs[k])
                my = ys[k] + tm * (y2[k] - ys[k])
                parity = np.zeros(len(tm), dtype=bool)
                bnd = np.zeros(len(tm), dtype=bool)
                for ox, oy in other:
                    pin, pb = _ring_parity_and_boundary(mx, my, ox, oy)
                    parity ^= pin
                    bnd |= pb
                if _deep_inside(mx, my, parity & ~bnd, other):
                    return True
    return False


def _edge_crossings(ax, ay, bx, by):
    """All proper edge crossings between two rings.

    Returns (list[(i, t, j, u, x, y)], point_touch, line_touch):
    point_touch = finite endpoint/vertex contact (valid multipolygon
    touching); line_touch = collinear edges sharing positive length."""
    na, nb = len(ax), len(bx)
    a2x, a2y = _roll1(ax), _roll1(ay)
    b2x, b2y = _roll1(bx), _roll1(by)
    out = []
    point_touch = False
    line_touch = False
    # fully vectorized over the (na x nb) edge-pair grid, blocked so a
    # pair of large corpus rings never materializes gigabyte grids
    sx = (b2x - bx)[None, :]
    sy = (b2y - by)[None, :]
    blk = max(1, 4_000_000 // max(1, nb))
    with np.errstate(divide="ignore", invalid="ignore"):
        for i0 in range(0, na, blk):
            i1 = min(na, i0 + blk)
            rx = (a2x[i0:i1] - ax[i0:i1])[:, None]
            ry = (a2y[i0:i1] - ay[i0:i1])[:, None]
            qpx = bx[None, :] - ax[i0:i1, None]
            qpy = by[None, :] - ay[i0:i1, None]
            denom = rx * sy - ry * sx
            t_num = qpx * sy - qpy * sx
            u_num = qpx * ry - qpy * rx
            t = t_num / denom
            u = u_num / denom
            nz = denom != 0
            proper = nz & (t > 0) & (t < 1) & (u > 0) & (u < 1)
            if (nz & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1)
                    & ~proper).any():
                point_touch = True
            coll = (denom == 0) & (t_num == 0)
            if coll.any():
                for bi, j in zip(*np.nonzero(coll)):
                    i = i0 + int(bi)
                    if a2x[i] - ax[i] != 0:
                        lo, hi = min(ax[i], a2x[i]), max(ax[i], a2x[i])
                        lo2, hi2 = min(bx[j], b2x[j]), max(bx[j], b2x[j])
                    else:
                        lo, hi = min(ay[i], a2y[i]), max(ay[i], a2y[i])
                        lo2, hi2 = min(by[j], b2y[j]), max(by[j], b2y[j])
                    if max(lo, lo2) < min(hi, hi2):
                        line_touch = True
                    elif max(lo, lo2) == min(hi, hi2):
                        point_touch = True
            for bi, j in zip(*np.nonzero(proper)):
                i = i0 + int(bi)
                tt, uu = float(t[bi, j]), float(u[bi, j])
                ix = float(ax[i] + tt * (a2x[i] - ax[i]))
                iy = float(ay[i] + tt * (a2y[i] - ay[i]))
                # crossings within _BOUNDARY_EPS of any endpoint are
                # the near-tangent slivers dateline page cuts leave at
                # ±180 — classify as point contact, not interior overlap
                d_end = min(np.hypot(ix - ax[i], iy - ay[i]),
                            np.hypot(ix - a2x[i], iy - a2y[i]),
                            np.hypot(ix - bx[j], iy - by[j]),
                            np.hypot(ix - b2x[j], iy - b2y[j]))
                if d_end <= _BOUNDARY_EPS:
                    point_touch = True
                    continue
                out.append((int(i), tt, int(j), uu, ix, iy))
    return out, point_touch, line_touch
