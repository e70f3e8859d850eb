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

from .booleans import (Rings, _group_of, _offsets,
                       one_polygon, pair_vertices, relate_pairs, row_boxes,
                       ring_spans, shape_rings)
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
    all its rings, any ring boundary counting as inside. A polygon with
    no edges covers nothing."""
    parity, boundary = _parity_boundary(px, py, poly, edges)
    return parity | boundary


def _parity_boundary(px, py, poly, edges: Edges):
    """(crossing parity, on boundary) of point k against polygon
    `poly[k]` of an edge table.

    An edge can only cross or touch the points whose y lies in its own
    y-range. Sorting the points by (polygon, y) puts those points of
    each edge's polygon in one contiguous run, found by binary search,
    so the kernel probes only these (point, edge) pairs, all of them
    in a few vectorized passes. Its float operations are those of the
    per-edge loop it replaced, so answers are bit-identical."""
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
    parity = np.empty(n, dtype=bool)
    parity[order] = (crossings & 1).astype(bool)
    on = np.empty(n, dtype=bool)
    on[order] = boundary
    return parity, on


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


# ring pairs per candidate pass of `ring_nesting`: bounds the pass's
# memory when one set holds many rings
_RING_PAIRS_PER_PASS = 1 << 20
# edges probed per ring; each gives a probe per (offset, side)
_PROBE_EDGES = 12
_PROBE_EPS = np.array([1e-6, 1e-6, 1e-3, 1e-3])
_PROBE_SIDE = np.array([1.0, -1.0, 1.0, -1.0])


def ring_nesting(rings: Rings):
    """(depth, parent) of every ring of a batch of ring sets, each set
    nested on its own: depth[i] counts the rings of i's set that
    contain ring i; parent[i] is the first of those (in ring order) at
    depth depth[i] - 1, or -1. Even depth is a shell, odd a hole: the
    reference's reading of a flat ring list
    (NtsWKTReaderShapeParser.cs:30-37).

    The rings of a set must not properly cross; they may touch at
    nodes (figure-eights) and share seam arcs, as the overlay's output
    rings do. Ring R lies in ring O when
    - |area R| < |area O| (of two rings that do not cross, the
      container is the larger; a smaller O nested in R can cover the
      probes along R's boundary), and R's bbox lies in O's;
    - the first trusted probe of R lands in O by crossing parity. The
      probes sit beside the midpoints of the (up to) 12 longest edges
      of R, longest first, at 1e-6 then 1e-3 of the edge's length,
      right side first. A probe is trusted when it lies strictly
      inside R and clears O's edges by half its offset. Without a
      trusted probe, R's first vertex decides.

    A ring without vertices and every ring of a one-ring set get depth
    0 without a probe. The point tests are one `_parity_boundary` pass
    per round over every pair of the batch; a round tries both sides
    of one (edge, offset) of R, and only the pairs whose probes all
    failed go on to the next."""
    depth = np.zeros(len(rings.size), dtype=np.int64)
    parent = np.full(len(rings.size), -1, dtype=np.int64)
    nring = np.diff(rings.first)
    sel = np.flatnonzero(np.repeat(nring > 1, nring) & (rings.size > 0))
    if len(sel) < 2:
        return depth, parent
    # edge k of ring i runs from its vertex k to vertex k + 1 (the last
    # back to vertex 0); polygon i of the edge table is ring sel[i]
    n = rings.size[sel]
    vb = _offsets(n)
    ring = _group_of(vb)
    k = np.arange(vb[-1]) - vb[:-1][ring]
    nxt = np.where(k + 1 == n[ring], 0, k + 1)
    gx, gy = rings.sx[sel][ring], rings.sy[sel][ring]
    ax, ay = rings.x[gx + k], rings.y[gy + k]
    bx, by = rings.x[gx + nxt], rings.y[gy + nxt]
    edges = Edges(ax, ay, bx, by, vb)
    term = ax * by - bx * ay
    b = vb.tolist()
    area = np.array([abs(float(np.add.reduce(term[s:t])))
                     for s, t in zip(b[:-1], b[1:])])
    lo = np.minimum.reduceat(np.stack((ax, ay)), vb[:-1], axis=1)
    hi = np.maximum.reduceat(np.stack((ax, ay)), vb[:-1], axis=1)
    ri, ro = _nesting_candidates(_group_of(rings.first)[sel], area, lo, hi)
    if not len(ri):
        return depth, parent
    # the probes of every ring that may lie in another, in trial order:
    # ring after ring, four per edge
    ex, ey = bx - ax, by - ay
    elen = np.hypot(ex, ey)
    cand = np.zeros(len(sel), dtype=bool)
    cand[ri] = True
    e = np.flatnonzero(cand[ring])
    e = e[np.lexsort((-elen[e], ring[e]))]
    rank = np.arange(len(e)) - np.searchsorted(ring[e], ring[e])
    e = e[(rank < _PROBE_EDGES) & (elen[e] != 0.0)]
    eps = elen[e][:, None] * _PROBE_EPS
    qx = ((ax[e] + ex[e] / 2.0)[:, None]
          + _PROBE_SIDE * eps * (ey[e] / elen[e])[:, None]).ravel()
    qy = ((ay[e] + ey[e] / 2.0)[:, None]
          + _PROBE_SIDE * eps * (-ex[e] / elen[e])[:, None]).ravel()
    eps, qring = eps.ravel(), np.repeat(ring[e], 4)
    qfirst = np.searchsorted(qring, np.arange(len(sel) + 1))
    # each round: every live pair tries both sides of its next (edge,
    # offset), in R and in O in one parity pass, and takes the first
    # probe that lies strictly inside R and clears O's edges by eps / 2.
    # The first round also tests R's first vertex in O, the answer of
    # a pair whose probes all fail.
    inside = np.zeros(len(ri), dtype=bool)
    at = qfirst[ri]
    live = np.flatnonzero(at < qfirst[ri + 1])
    fall = np.arange(len(ri))
    while len(live) or len(fall):
        q = (at[live][:, None] + [0, 1]).ravel()
        o = np.repeat(ro[live], 2)
        m = len(q)
        par, on = _parity_boundary(
            np.concatenate((qx[q], qx[q], ax[vb[ri[fall]]])),
            np.concatenate((qy[q], qy[q], ay[vb[ri[fall]]])),
            np.concatenate((qring[q], o, ro[fall])), edges)
        inside[fall] = par[2 * m:]
        fall = fall[:0]
        clear = _edge_dist2(qx[q], qy[q], o, edges) > (eps[q] * 0.5) ** 2
        good = (par[:m] & ~on[:m] & clear).reshape(-1, 2)
        done = good.any(axis=1)
        pick = np.argmax(good[done], axis=1)
        inside[live[done]] = par[m:2 * m].reshape(-1, 2)[done, pick]
        live = live[~done]
        at[live] += 2
        live = live[at[live] < qfirst[ri[live] + 1]]
    ri, ro = ri[inside], ro[inside]
    d = np.bincount(ri, minlength=len(sel))
    up = d[ro] == d[ri] - 1
    first = np.full(len(sel), len(sel))
    np.minimum.at(first, ri[up], ro[up])
    depth[sel] = d
    has = first < len(sel)
    parent[sel[has]] = sel[first[has]]
    return depth, parent


def _passes(counts, limit):
    """Bounds cutting consecutive groups of `counts` items into passes
    of at most about `limit` items (a larger group is a pass alone)."""
    ends = np.cumsum(counts)
    if ends[-1] <= limit:
        return [0, len(counts)]
    return np.unique(np.concatenate(([0, len(counts)], np.searchsorted(
        ends, np.arange(limit, ends[-1], limit), side="right")))).tolist()


def _nesting_candidates(set_of, area, lo, hi):
    """(ri, ro): the ordered ring pairs of one set (`set_of`, ascending,
    gives each ring's set) where ring ri has the smaller area and its
    bbox (`lo`, `hi`: rows x, y) lies in ring ro's; ri ascending."""
    start = np.searchsorted(set_of, set_of)
    cnt = np.searchsorted(set_of, set_of, side="right") - start
    bounds = _passes(cnt, _RING_PAIRS_PER_PASS)
    out_i, out_o = [], []
    for s, t in zip(bounds[:-1], bounds[1:]):
        c = cnt[s:t]
        i = np.repeat(np.arange(s, t), c)
        o = np.repeat(start[s:t] - _offsets(c)[:-1], c) + np.arange(c.sum())
        keep = ((area[i] < area[o]) & (lo[:, i] >= lo[:, o]).all(axis=0)
                & (hi[:, i] <= hi[:, o]).all(axis=0))
        out_i.append(i[keep])
        out_o.append(o[keep])
    return np.concatenate(out_i), np.concatenate(out_o)


def _edge_dist2(px, py, poly, edges: Edges) -> np.ndarray:
    """Squared distance from point k to the nearest edge of polygon
    `poly[k]` (of at least one edge), in passes of ~`_PAIRS_PER_PASS`
    (point, edge) pairs."""
    cnt = np.diff(edges.offsets)[poly]
    out = np.empty(len(px))
    bounds = _passes(cnt, _PAIRS_PER_PASS) if len(px) else [0]
    for s, t in zip(bounds[:-1], bounds[1:]):
        c = cnt[s:t]
        e = (np.repeat(edges.offsets[poly[s:t]] - _offsets(c)[:-1], c)
             + np.arange(c.sum()))
        x, y = np.repeat(px[s:t], c), np.repeat(py[s:t], c)
        ax, ay = edges.ax[e], edges.ay[e]
        dx, dy = edges.bx[e] - ax, edges.by[e] - ay
        L2 = dx * dx + dy * dy
        L2s = np.where(L2 == 0.0, 1.0, L2)
        f = np.clip(((x - ax) * dx + (y - ay) * dy) / L2s, 0.0, 1.0)
        d2 = (x - (ax + f * dx)) ** 2 + (y - (ay + f * dy)) ** 2
        out[s:t] = np.minimum.reduceat(d2, _offsets(c)[:-1])
    return out


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
