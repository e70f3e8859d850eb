"""Polygon-overlay measures: the exact intersection AREA of two
even-odd (multi)polygons per candidate pair, plus the even-odd own
area of each operand (its rings signed by `pip.ring_nesting`).

Engine-added scale operators (no reference analog — Spatial4n exposes
Relate verdicts but no overlay): the classic GIS overlay join ("for
every admin x landuse pair, how much area do they share?") needs the
measure of A∩B per candidate pair, not just INTERSECTS. These kernels
are the per-pair refine stage of operators/overlay.py; candidates come
from the same cell-cover equi-join every other two-layer join uses.

`intersection_areas` is the AREA output of the noded overlay kernel
(kernels/booleans.py): both boundaries are noded once with a
bbox-relative snap tolerance, every sub-segment is a node-id pair, the
pieces bounding A ∩ B are selected by one batched parity pass, and the
area is the Green's-theorem sum over them. A shared edge is one node
pair whether the polygons overlap along it or merely touch, so
area(A ∩ A) == area(A) and externally-touching polygons get exactly 0,
both property-tested. The geometry (`st_intersection` and friends) is
stitched from the same kept pieces, so measure and geometry agree.

Complexity per pair: bbox-culled O(E_A·E_B) contact detection plus one
(pieces x pieces) classify pass, vectorized; `intersection_areas` runs
every pair of a batch through one noding pass.
"""
from __future__ import annotations

import numpy as np

from .booleans import (_group_of, _offsets, one_polygon, overlay_areas,
                       pair_vertices, row_boxes, shape_rings)


def polygon_area_evenodd(xs, ys, ring_offsets=None) -> float:
    """Planar even-odd area (deg^2) of a (multi)polygon — shells minus
    holes, orientation-insensitive: the one-row call of
    `polygon_areas_evenodd`."""
    return float(polygon_areas_evenodd(*one_polygon(xs, ys,
                                                    ring_offsets))[0])


def polygon_areas_evenodd(xs, ys, ring_offsets) -> np.ndarray:
    """Planar even-odd area (deg^2) of every row of three ragged
    columns (the layout `pip.polygon_edges` reads): per ring the Green's
    sum, one np.sum, signed so that a ring at even nesting depth
    (`pip.ring_nesting`, one call for the batch) adds and one at odd
    depth subtracts, whatever its stored orientation."""
    from .pip import ring_nesting
    r = shape_rings(xs, ys, ring_offsets, np.arange(len(xs.valid)))
    flip = np.where(ring_nesting(r)[0] % 2 == 1, -1.0, 1.0).tolist()
    n = r.size
    vb = _offsets(n)
    ring = _group_of(vb)
    k = np.arange(vb[-1]) - vb[:-1][ring]
    nxt = np.where(k + 1 == n[ring], 0, k + 1)
    gx, gy = r.sx[ring], r.sy[ring]
    term = (r.x[gx + k] * r.y[gy + nxt]) - (r.x[gx + nxt] * r.y[gy + k])
    b = vb.tolist()
    out = [0.0] * len(xs.valid)
    for q, row in enumerate(_group_of(r.first).tolist()):
        s = np.add.reduce(term[b[q]:b[q + 1]])
        sgn = flip[q] * (1.0 if s >= 0.0 else -1.0)
        out[row] += sgn * 0.5 * float(s)
    return np.array(out)


def intersection_area(axs, ays, aro, bxs, bys, bro) -> float:
    """Exact planar area (deg^2) of A ∩ B for two even-odd
    (multi)polygons: the one-pair call of `intersection_areas`."""
    return float(intersection_areas(one_polygon(axs, ays, aro), [0],
                                    one_polygon(bxs, bys, bro), [0])[0])


def intersection_areas(a, ia, b, ib) -> np.ndarray:
    """Exact planar area (deg^2) of A ∩ B for operand pairs: pair k
    intersects row ia[k] of a = (xs, ys, ring_offsets) with row ib[k]
    of b, two sets of ragged columns holding even-odd (multi)polygons.
    The noded overlay kernel's Green's-theorem sum (see module
    docstring), all pairs in one batch. Robust to holes, multiparts,
    shared edges, vertex contact and A == B; no degenerate bailout. A
    pair with a side of no ring, or whose bboxes miss, measures 0."""
    ia = np.asarray(ia, dtype=np.int64)
    ib = np.asarray(ib, dtype=np.int64)
    out = np.zeros(len(ia))
    ua, ka = np.unique(ia, return_inverse=True)
    ub, kb = np.unique(ib, return_inverse=True)
    ra, rb = shape_rings(*a, ua), shape_rings(*b, ub)
    _, aminx, amaxx, aminy, amaxy = (v[ka] for v in row_boxes(*a[:2], ua))
    _, bminx, bmaxx, bminy, bmaxy = (v[kb] for v in row_boxes(*b[:2], ub))
    live = ((np.diff(ra.first)[ka] > 0) & (np.diff(rb.first)[kb] > 0)
            & ~((aminx > bmaxx) | (amaxx < bminx)
                | (aminy > bmaxy) | (amaxy < bminy)))
    k = np.flatnonzero(live)
    if len(k):
        out[k] = overlay_areas(pair_vertices(ra, ka[k], rb, kb[k]), "and")
    return out
