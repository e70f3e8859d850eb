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

Vectorization: `polygon_edges` flattens a batch of polygons, read
straight from the shape codec's flat vertex buffers, into one edge
table. `points_in_polygons` tests point k against the edges of its own
polygon `poly[k]`. An edge can only cross or touch points whose y lies
in its y-range, and sorting the points by (polygon, y) makes those a
contiguous run per edge, so the kernel builds exactly the (point, edge)
pairs that can matter and probes all of them in a few vectorized
passes. Its cost is that pair count plus a sort: neither the number of
distinct polygons nor the number of points per polygon adds Python
iterations. `points_in_row_polygons` serves a row-aligned shape batch
(rows that repeat one polygon share its edges); `points_in_polygon` is
the one-polygon call of the same kernel.

Polygon <-> polygon and polygon <-> rect relates (`relate_polygons`,
all pairs of a batch at once) pass the bbox gate here and are then
decided on the noded arrangement of both boundaries
(kernels.booleans.relate_pairs), the same batched noding the overlay
area and geometry use.
"""
from __future__ import annotations

from typing import NamedTuple

import numpy as np

from .booleans import (Lists, one_polygon, pair_vertices, relate_pairs,
                       row_boxes, ring_spans, shape_rings)
from .relation import CONTAINS, DISJOINT, WITHIN


class Edges(NamedTuple):
    """Flat edge table of a batch of polygons: polygon i owns edges
    `offsets[i]:offsets[i + 1]`, ring after ring, each edge running
    from (ax, ay) to (bx, by)."""
    ax: np.ndarray
    ay: np.ndarray
    bx: np.ndarray
    by: np.ndarray
    offsets: np.ndarray


def polygon_edges(xs, ys, ring_offsets, rows=None) -> Edges:
    """Edge table of the polygons in rows `rows` (default: all) of three
    ragged columns with `values`, `offsets` and `valid` (the layout of
    `shapes.VertexLists`). Polygon i of the table is row `rows[i]`.

    Rings are those of `booleans.ring_spans`: a row's `ring_offsets`
    cut its own vertices into rings, a null or shorter-than-2
    `ring_offsets` makes all vertices one ring, and a ring that repeats
    its first vertex drops the repeat. Ring k's last edge closes back
    to its first vertex. A row with null `xs` or `ys` has no edges, so
    every point reads outside it."""
    rows = (np.arange(len(xs.valid)) if rows is None
            else np.asarray(rows, dtype=np.int64))
    first, gx, gy, n = ring_spans(xs, ys, ring_offsets, rows)
    X, Y = xs.values, ys.values
    # edge i of a ring runs from its vertex i to vertex i + 1, the last
    # one back to vertex 0
    ring_end = np.cumsum(n)
    ering = np.repeat(np.arange(len(n)), n)
    i = np.arange(len(ering)) - (ring_end - n)[ering]
    nxt = np.where(i + 1 == n[ering], 0, i + 1)
    offsets = np.r_[0, ring_end][first]
    return Edges(X[gx[ering] + i], Y[gy[ering] + i],
                 X[gx[ering] + nxt], Y[gy[ering] + nxt], offsets)


# (point, edge) probes per vectorized pass: bounds the pass's memory
_PAIRS_PER_PASS = 1 << 16


def _probe_edges(px, py, ax, ay, bx, by):
    """(crosses, on_boundary) of point k against edge k, elementwise.

    On the boundary: the edge's cross product is exactly 0 and the
    point lies in the edge's closed box. Crosses: the +x ray from the
    point crosses the edge under the half-open y rule, so a ray through
    a vertex counts once (a horizontal edge never crosses)."""
    dy = py - ay
    cross = (bx - ax) * dy - (by - ay) * (px - ax)
    on = ((cross == 0.0)
          & (px >= np.minimum(ax, bx)) & (px <= np.maximum(ax, bx))
          & (py >= np.minimum(ay, by)) & (py <= np.maximum(ay, by)))
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = ax + dy * (bx - ax) / (by - ay)
    return ((ay > py) != (by > py)) & (px < x_at), on


def points_in_polygons(px, py, poly, edges: Edges) -> np.ndarray:
    """Point k against polygon `poly[k]` of an edge table, even-odd over
    all its rings, any ring boundary counting as inside.

    An edge can only cross or touch the points whose y lies in its own
    y-range. Sorting the points by (polygon, y) puts those points of
    each edge's polygon in one contiguous run, found by binary search,
    so the kernel probes only these (point, edge) pairs, all of them
    in a few vectorized passes. Its float operations are those of the
    per-edge loop it replaced, so answers are bit-identical. A polygon
    with no edges covers nothing."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    poly = np.asarray(poly, dtype=np.int64)
    n = len(px)
    # sort by (polygon, y); key = polygon * n + rank of y among all points
    by_y = np.argsort(py)
    sy = py[by_y]
    rank = np.empty(n, dtype=np.int64)
    rank[by_y] = np.arange(n)
    order = by_y[np.argsort(poly[by_y], kind="stable")]
    key = poly[order] * n + rank[order]
    spx, spy = px[order], py[order]
    # the edges of the polygons this batch probes
    used = np.unique(poly)
    cnt = edges.offsets[used + 1] - edges.offsets[used]
    e = (np.repeat(edges.offsets[used] - (np.cumsum(cnt) - cnt), cnt)
         + np.arange(cnt.sum()))
    ay, by = edges.ay[e], edges.by[e]
    ylo, yhi = np.minimum(ay, by), np.maximum(ay, by)
    # keep the edges whose y-range meets their polygon's points' y-range
    # (each polygon's points are one run of the sorted order)
    first = np.searchsorted(key, used * n, side="left")
    last = np.searchsorted(key, (used + 1) * n, side="left") - 1
    keep = ~((yhi < np.repeat(spy[first], cnt))
             | (ylo > np.repeat(spy[last], cnt)))
    e, ylo, yhi = e[keep], ylo[keep], yhi[keep]
    base = np.repeat(used * n, cnt)[keep]
    # each edge's run: its polygon's points with y in [ylo, yhi] (ranks
    # bound a superset; the extra points probe as neither crossing nor
    # touching)
    lo = np.searchsorted(key, base + np.searchsorted(sy, ylo, side="left"))
    hi = np.searchsorted(key, base + np.searchsorted(sy, yhi, side="right"))
    runs = hi - lo
    ends = np.cumsum(runs)
    crossings = np.zeros(n, dtype=np.int64)
    boundary = np.zeros(n, dtype=bool)
    s = 0
    while s < len(runs):
        done = ends[s - 1] if s else 0
        t = max(s + 1, int(np.searchsorted(ends, done + _PAIRS_PER_PASS,
                                           side="right")))
        r = runs[s:t]
        pe = np.repeat(e[s:t], r)
        pt = (np.arange(len(pe))
              - np.repeat(np.cumsum(r) - r - lo[s:t], r))
        crosses, on = _probe_edges(spx[pt], spy[pt], edges.ax[pe],
                                   edges.ay[pe], edges.bx[pe], edges.by[pe])
        crossings += np.bincount(pt[crosses], minlength=n)
        boundary[pt[on]] = True
        s = t
    out = np.empty(n, dtype=bool)
    out[order] = (crossings & 1).astype(bool) | boundary
    return out


def _distinct_rows(lists, rows):
    """(reps, inv): row `rows[k]` holds the same bytes in every ragged
    column of `lists` (8-byte values) as row `reps[inv[k]]`.

    Equal row indices collapse first (a bitmap over the row range, no
    sort). The distinct rows are then matched on a fingerprint (each
    list's length and its first, middle and last value); each row
    matched to an earlier one is compared with it byte for byte, and
    keeps its own entry if they differ. Distinct polygons cost only
    the fingerprint sort."""
    seen = np.zeros(rows.max() + 1 if len(rows) else 0, dtype=bool)
    seen[rows] = True
    back = np.cumsum(seen)[rows] - 1
    rows = np.flatnonzero(seen)
    n = len(rows)
    spans, cols = [], []
    for col in lists:
        bits = np.ascontiguousarray(col.values).view(np.int64)
        st = col.offsets[rows]
        ln = np.where(col.valid[rows], col.offsets[rows + 1] - st, -1)
        spans.append((bits, st.tolist(), (st + np.maximum(ln, 0)).tolist()))
        cols.append(ln)
        if len(bits):
            for at in (st, st + ln // 2, st + ln - 1):
                cols.append(np.where(ln > 0, bits[np.clip(at, 0, len(bits) - 1)],
                                     0))
    order = np.lexsort(cols)
    fp = np.stack(cols)[:, order]
    new = np.ones(n, dtype=bool)
    new[1:] = (fp[:, 1:] != fp[:, :-1]).any(axis=0)
    rep = np.empty(n, dtype=np.int64)
    rep[order] = order[np.flatnonzero(new)][np.cumsum(new) - 1]
    cand = np.flatnonzero(rep != np.arange(n))
    differs = [k for k, r in zip(cand.tolist(), rep[cand].tolist())
               if any(bits[st[k]:end[k]].tobytes()
                      != bits[st[r]:end[r]].tobytes()
                      for bits, st, end in spans)]
    rep[differs] = differs
    first, inv = np.unique(rep, return_inverse=True)
    return rows[first], inv[back]


# vertices per edge table in `points_in_row_polygons`: bounds the
# table's memory when a batch holds many large polygons
_VERTICES_PER_TABLE = 1 << 20


def points_in_row_polygons(px, py, xs, ys, ring_offsets, rows) -> np.ndarray:
    """Point k against the polygon in row `rows[k]` of three ragged
    columns (the layout `polygon_edges` reads). Rows holding the same
    polygon (a join repeats one shape across its candidate points)
    share one entry of the edge table. One `points_in_polygons` call
    per ~1M distinct vertices, so a batch of small polygons is one
    call."""
    rows = np.asarray(rows, dtype=np.int64)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    reps, inv = _distinct_rows((xs, ys, ring_offsets), rows)
    nv = np.where(xs.valid[reps], xs.offsets[reps + 1] - xs.offsets[reps], 0)
    ends = np.cumsum(nv)
    total = int(ends[-1]) if len(ends) else 0
    cuts = np.searchsorted(ends, np.arange(_VERTICES_PER_TABLE, total,
                                           _VERTICES_PER_TABLE), side="right")
    bounds = np.unique(np.r_[0, cuts, len(reps)])
    out = np.empty(len(rows), dtype=bool)
    for s, t in zip(bounds[:-1], bounds[1:]):
        sel = np.flatnonzero((inv >= s) & (inv < t))
        out[sel] = points_in_polygons(px[sel], py[sel], inv[sel] - s,
                                      polygon_edges(xs, ys, ring_offsets,
                                                    reps[s:t]))
    return out


def ring_edges(rings) -> Edges:
    """Edge table holding each (xs, ys) ring of `rings` as its own
    polygon: polygon i is ring i."""
    xs = [np.asarray(x, dtype=np.float64) for x, _ in rings]
    ys = [np.asarray(y, dtype=np.float64) for _, y in rings]
    off = np.r_[0, np.cumsum([len(x) for x in xs])]
    valid = np.ones(len(rings), dtype=bool)
    one_ring = Lists(np.zeros(0, dtype=np.int64),
                     np.zeros(len(rings) + 1, dtype=np.int64), ~valid)
    return polygon_edges(Lists(np.concatenate(xs), off, valid),
                         Lists(np.concatenate(ys), off, valid), one_ring)


def points_in_polygon(px, py, xs, ys, ring_offsets=None) -> np.ndarray:
    """PIP via the global even-odd rule over all rings.

    ring_offsets delimit rings in xs/ys ([0, n0, n0+n1, ...]). Works
    uniformly for a polygon with holes (parity 2 inside a hole -> out)
    AND a multipolygon's disjoint shells (parity 1 in either -> in),
    assuming shells don't mutually overlap (the reference's default,
    NtsSpatialContextFactory allowMultiOverlap=false :63-81). Any ring
    boundary counts as inside (COVERS semantics). The one-polygon call
    of `points_in_polygons`.
    """
    px = np.asarray(px, dtype=np.float64)
    edges = polygon_edges(*one_polygon(xs, ys, ring_offsets))
    return points_in_polygons(px.ravel(), np.ravel(py),
                              np.zeros(px.size, dtype=np.int64),
                              edges).reshape(px.shape)


def relate_polygon_points(px, py, xs, ys, ring_offsets=None) -> np.ndarray:
    """Polygon.Relate(point) -> CONTAINS or DISJOINT per point.

    NtsGeometry point fast path (NtsGeometry.cs:286-291): disjoint unless
    covered (boundary counts).
    """
    inside = points_in_polygon(px, py, xs, ys, ring_offsets)
    return np.where(inside, CONTAINS, DISJOINT).astype(np.int8)


def relate_polygon_polygon(axs, ays, aro, bxs, bys, bro) -> int:
    """A.Relate(B) for two (multi)polygons with holes -> code: the
    one-pair call of `relate_polygons`."""
    return int(relate_polygons(one_polygon(axs, ays, aro), [0],
                               one_polygon(bxs, bys, bro), [0])[0])


def relate_polygons(a, ia, b, ib) -> np.ndarray:
    """A.Relate(B) -> int8 code for operand pairs: pair k relates row
    ia[k] of a = (xs, ys, ring_offsets) with row ib[k] of b, two sets
    of ragged columns (the layout `polygon_edges` reads) holding
    (multi)polygons with holes.

    Mapping per NtsGeometry.IntersectionMatrixToSpatialRelation
    (NtsGeometry.cs:303-314): COVERS -> CONTAINS, COVEREDBY -> WITHIN,
    DISJOINT -> DISJOINT, else INTERSECTS (Spatial4j CONTAINS/WITHIN
    are OGC COVERS/COVEREDBY, boundary-inclusive). Boundary-only touch
    is INTERSECTS (OGC disjoint = no shared points at all) unless one
    covers the other. A row without vertices is DISJOINT from
    everything; then the bbox gate; a row whose vertices all coincide
    is a point, tested against the other polygon's rings; every other
    pair is decided in one batched noded relate
    (kernels.booleans.relate_pairs). Dateline-crossing inputs are
    page-split upstream (wkt.py), same as every other polygon kernel
    here."""
    ia = np.asarray(ia, dtype=np.int64)
    ib = np.asarray(ib, dtype=np.int64)
    out = np.full(len(ia), DISJOINT, dtype=np.int8)
    ua, ka = np.unique(ia, return_inverse=True)
    ub, kb = np.unique(ib, return_inverse=True)
    na, aminx, amaxx, aminy, amaxy = (v[ka] for v in row_boxes(*a[:2], ua))
    nb, bminx, bmaxx, bminy, bmaxy = (v[kb] for v in row_boxes(*b[:2], ub))
    live = ((na > 0) & (nb > 0)
            & ~((aminx > bmaxx) | (amaxx < bminx)
                | (aminy > bmaxy) | (amaxy < bminy)))
    # a shape whose vertices all coincide is a point: it has no edge
    b_pt = live & (bminx == bmaxx) & (bminy == bmaxy)
    a_pt = live & ~b_pt & (aminx == amaxx) & (aminy == amaxy)
    for sel, (pts, p_rows), (poly, g_rows), hit in (
            (b_pt, (b, ib), (a, ia), CONTAINS),
            (a_pt, (a, ia), (b, ib), WITHIN)):
        k = np.flatnonzero(sel)
        if len(k):
            xs, ys = pts[0], pts[1]
            first = p_rows[k]
            inside = points_in_row_polygons(
                xs.values[xs.offsets[first]], ys.values[ys.offsets[first]],
                *poly, g_rows[k])
            out[k] = np.where(inside, hit, DISJOINT)
    k = np.flatnonzero(live & ~b_pt & ~a_pt)
    if len(k):
        out[k] = relate_pairs(pair_vertices(shape_rings(*a, ua), ka[k],
                                            shape_rings(*b, ub), kb[k]))
    return out
