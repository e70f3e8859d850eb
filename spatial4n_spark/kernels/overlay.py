"""Polygon-overlay measures: the exact intersection AREA of two
even-odd (multi)polygons per candidate pair, plus the even-odd own
area and the ring-containment probe the measure's callers share.

Engine-added scale operators (no reference analog — Spatial4n exposes
Relate verdicts but no overlay): the classic GIS overlay join ("for
every admin x landuse pair, how much area do they share?") needs the
measure of A∩B per candidate pair, not just INTERSECTS. These kernels
are the per-pair refine stage of operators/overlay.py; candidates come
from the same cell-cover equi-join every other two-layer join uses.

`intersection_area` is the AREA output of the noded overlay kernel
(kernels/booleans.py): both boundaries are noded once with a
bbox-relative snap tolerance, every sub-segment is a node-id pair, the
pieces bounding A ∩ B are selected by one batched parity pass, and the
area is the Green's-theorem sum over them. A shared edge is one node
pair whether the polygons overlap along it or merely touch, so
area(A ∩ A) == area(A) and externally-touching polygons get exactly 0,
both property-tested. The geometry (`st_intersection` and friends) is
stitched from the same kept pieces, so measure and geometry agree.

Complexity per pair: bbox-culled O(E_A·E_B) contact detection plus one
(pieces x pieces) classify pass, vectorized.
"""
from __future__ import annotations

import numpy as np


def _rings(xs, ys, ring_offsets):
    """Split flat vertex arrays into per-ring (xs, ys), open form."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    spans = ([(0, len(xs))] if ring_offsets is None or len(ring_offsets) < 2
             else [(int(ring_offsets[k]), int(ring_offsets[k + 1]))
                   for k in range(len(ring_offsets) - 1)])
    out = []
    for s, e in spans:
        rx, ry = xs[s:e], ys[s:e]
        if len(rx) >= 2 and rx[0] == rx[-1] and ry[0] == ry[-1]:
            rx, ry = rx[:-1], ry[:-1]
        if len(rx) >= 3:
            out.append((rx, ry))
    return out


def _parity_and_boundary(px, py, ax, ay, bx, by):
    """Vectorized even-odd parity + on-boundary of points vs an edge
    soup (one broadcast points x edges pass, edge-chunked)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    parity = np.zeros(px.shape[0], dtype=bool)
    boundary = np.zeros(px.shape[0], dtype=bool)
    lox, hix = np.minimum(ax, bx), np.maximum(ax, bx)
    loy, hiy = np.minimum(ay, by), np.maximum(ay, by)
    chunk = max(1, 2_000_000 // max(1, px.shape[0]))
    for s in range(0, len(ax), chunk):
        e = slice(s, s + chunk)
        cross = (bx[e] - ax[e]) * (py - ay[e]) - (by[e] - ay[e]) * (px - ax[e])
        boundary |= ((cross == 0.0)
                     & (px >= lox[e]) & (px <= hix[e])
                     & (py >= loy[e]) & (py <= hiy[e])).any(axis=1)
        cond = (ay[e] > py) != (by[e] > py)
        dy = by[e] - ay[e]
        with np.errstate(divide="ignore", invalid="ignore"):
            x_at = ax[e] + (py - ay[e]) * (bx[e] - ax[e]) / dy
        hit = cond & (dy != 0.0) & (px < x_at)
        parity ^= (hit.sum(axis=1) & 1).astype(bool)
    return parity, boundary


def _ring_signs(rings):
    """Per-ring multiplier that flips each ring's stored traversal to
    the positively-oriented even-odd boundary: required orientation is
    CCW at even containment depth, CW at odd depth."""
    signs = []
    for i, (rx, ry) in enumerate(rings):
        stored = np.sum(rx * np.roll(ry, -1) - np.roll(rx, -1) * ry)
        stored_sign = 1.0 if stored >= 0.0 else -1.0
        # depth: number of OTHER rings properly CONTAINING this ring.
        # Vertex probes are unreliable — overlay-output rings
        # (st_intersection / st_union) touch each other at shared
        # nodes, and seam-touching siblings (a nested piece hugging
        # part of this ring) contaminate any single global probe.
        # Decide each (ring, other) pair with its own distance-guarded
        # interior probe instead.
        depth = 0
        for j, (ox, oy) in enumerate(rings):
            if j != i and _ring_contained_in(rx, ry, ox, oy):
                depth += 1
        required = 1.0 if depth % 2 == 0 else -1.0
        signs.append(required * stored_sign)
    return signs


def _ring_contained_in(rx, ry, ox, oy) -> bool:
    """True iff ring (rx, ry) lies inside ring (ox, oy). Valid for
    even-odd arrangements: the rings never properly cross, but may
    touch at shared nodes (overlay output) or share seam arcs. Probes
    are offset strictly inside (rx, ry) and must clear the other ring's
    edges by half the offset before their parity is trusted; falls
    back to the first-vertex parity when every probe hugs the other
    boundary. A probe of R
    landing in O is necessary but not sufficient (a SMALLER O nested
    inside R can cover the probe strip along ∂R), so containment
    additionally requires |area(R)| < |area(O)| — for non-crossing
    rings the container is always the larger."""
    a_r = abs(float(np.sum(rx * np.roll(ry, -1) - np.roll(rx, -1) * ry)))
    a_o = abs(float(np.sum(ox * np.roll(oy, -1) - np.roll(ox, -1) * oy)))
    if a_r >= a_o:
        return False
    n = len(rx)
    ex = np.roll(rx, -1) - rx
    ey = np.roll(ry, -1) - ry
    elen = np.hypot(ex, ey)
    order = np.argsort(-elen)
    o2x, o2y = np.roll(ox, -1), np.roll(oy, -1)
    dx, dy = o2x - ox, o2y - oy
    L2 = dx * dx + dy * dy
    L2s = np.where(L2 == 0.0, 1.0, L2)
    for k in order[:min(12, n)]:
        if elen[k] == 0.0:
            continue
        mx = rx[k] + ex[k] / 2.0
        my = ry[k] + ey[k] / 2.0
        nx, ny = ey[k] / elen[k], -ex[k] / elen[k]
        for eps in (elen[k] * 1e-6, elen[k] * 1e-3):
            for s in (1.0, -1.0):
                qx, qy = mx + s * eps * nx, my + s * eps * ny
                par, bnd = _parity_and_boundary(
                    np.asarray([qx]), np.asarray([qy]),
                    rx, ry, np.roll(rx, -1), np.roll(ry, -1))
                if not par[0] or bnd[0]:
                    continue  # wrong side / still on own boundary
                t = np.clip(((qx - ox) * dx + (qy - oy) * dy) / L2s,
                            0.0, 1.0)
                d2 = (qx - (ox + t * dx)) ** 2 + (qy - (oy + t * dy)) ** 2
                if float(d2.min()) <= (eps * 0.5) ** 2:
                    continue  # hugs the other boundary — inconclusive
                par_o, _ = _parity_and_boundary(
                    np.asarray([qx]), np.asarray([qy]),
                    ox, oy, o2x, o2y)
                return bool(par_o[0])
    par_o, _ = _parity_and_boundary(
        np.asarray([rx[0]]), np.asarray([ry[0]]), ox, oy, o2x, o2y)
    return bool(par_o[0])


def polygon_area_evenodd(xs, ys, ring_offsets=None) -> float:
    """Planar even-odd area (deg^2) of a (multi)polygon — shells minus
    holes, orientation-insensitive."""
    rings = _rings(xs, ys, ring_offsets)
    total = 0.0
    for (rx, ry), sgn in zip(rings, _ring_signs(rings)):
        total += sgn * 0.5 * float(
            np.sum(rx * np.roll(ry, -1) - np.roll(rx, -1) * ry))
    return total


def intersection_area(axs, ays, aro, bxs, bys, bro) -> float:
    """Exact planar area (deg^2) of A ∩ B for even-odd (multi)polygons:
    the noded overlay kernel's Green's-theorem sum (see module
    docstring). Robust to holes, multiparts, shared edges, vertex
    contact and A == B; no degenerate bailout."""
    from .booleans import boolean_area
    a_rings = _rings(axs, ays, aro)
    b_rings = _rings(bxs, bys, bro)
    if not a_rings or not b_rings:
        return 0.0
    ax, ay = np.asarray(axs, dtype=float), np.asarray(ays, dtype=float)
    bx, by = np.asarray(bxs, dtype=float), np.asarray(bys, dtype=float)
    # bbox fast reject
    if (ax.min() > bx.max() or ax.max() < bx.min()
            or ay.min() > by.max() or ay.max() < by.min()):
        return 0.0
    return boolean_area(a_rings, b_rings, "and")
