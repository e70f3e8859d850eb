r"""Noded overlay kernel: the AREA and the GEOMETRY of A ∩ B, A \ B,
A ∪ B and A △ B for two even-odd ring sets, of the union of N
overlapping members (concave, holed, multipart, nested islands, shared
edges, vertex touches, duplicates), and the RELATE of two ring sets,
each from one noding pass.

Reference parity target: NTS `Geometry.Intersection` / `Difference` /
`Union` / `SymDifference`, `UnionGeometryCollection` and `Relate`'s
DE-9IM -> SpatialRelation mapping
(Spatial4n.Core.NTS/Shapes/Nts/NtsGeometry.cs op surface). The noder
follows the snap-rounding design (Hobby 1999; Hershberger 2013): every
contact is computed once and near-coincident points share one node, so
degenerate contact is a structural fact instead of a float comparison.

1. Node. Every boundary edge of both operands is split in one
   vectorized pass at every proper crossing with another edge and at
   every vertex lying within the snap tolerance of it (vertex touches,
   collinear overlaps, T-junctions). Candidate points closer than the
   tolerance merge into one node; an input vertex wins over a computed
   crossing, so output rings keep input coordinates. The tolerance is
   the fixed fraction `_SNAP_REL` of the pair's bbox extent.
2. Node ids. A sub-segment is an integer node-id pair. A piece of
   boundary both operands share is ONE key with a signed coverage count
   per operand: the sum of the directions the operand's rings run it
   in (+1 along lo -> hi, -1 against).
3. Classify. One batched ray cast against all other pieces gives each
   operand's winding number just beside every piece (an x-ray for
   steep pieces, a y-ray for flat ones); the far side differs by the
   piece's coverage. For ∩ ∖ ∪ △ a point is in an operand when that
   count is odd (even-odd rings; a ring running a piece twice cancels).
   The N-member union (`union_members`) first orients every member so
   its winding number is 1 inside and 0 outside (shells CCW, holes CW)
   and puts all members in one operand: a point is in the union when
   the count is nonzero, i.e. when any member covers it. A piece is
   kept iff the op's region lies on exactly one side, directed so that
   region is on its LEFT.
4. Serve. AREA is the Green's-theorem sum over the kept pieces (no
   stitch). GEOMETRY stitches kept pieces by node id: around a node the
   kept pieces alternate in/out, and an incoming piece continues with
   the next outgoing piece clockwise (one np.lexsort on (node, angle)),
   which closes each region sector and splits figure-eight touches into
   separate rings. Shells come out CCW, holes CW.
5. Relate. `relate` (polygon <-> polygon and polygon <-> rect) and
   `member_overlap` (the MULTIPOLYGON member classifier) read the
   classified pieces instead of keeping any: A covers B when no side
   of a piece lies in B but not in A (checked before the mirror, so
   equal shapes are CONTAINS); the closed sets meet when a side lies
   in both, a piece lies in both, or a node ends pieces of both.
   Zero-area rings, whose runs cancel and which have no area-bearing
   side, count through the pieces they run. Boundaries that are
   apart need no special case: their pieces are the input edges and
   the same ray cast puts each on its side.

Scale note: runs per candidate pair inside an Arrow batch. Contact
candidates are bbox-culled over the (edges x edges) grid and the
classification is one (pieces x pieces) ray cast. A grid of up to
`_BLOCK` cells is one dense pass; a larger one (a buffer's boundary
strip of a few hundred vertices has ~15k edges) runs in blocks of
`_CULL` rows that each meet only the candidates reaching their span
(sorted by x for boxes, by y for rays), with the pairs put back in
dense order so node ids and output are the same either way.
"""
from __future__ import annotations

import numpy as np

from .relation import CONTAINS, DISJOINT, INTERSECTS, WITHIN

# snap tolerance as a fraction of the pair's bbox extent
_SNAP_REL = 1e-9

_OPS = {
    "and": lambda a, b: a & b,
    "or": lambda a, b: a | b,
    "sub": lambda a, b: a & ~b,
    "xor": lambda a, b: a ^ b,
}

_BLOCK = 1_000_000  # grid cells per vectorized block
_CULL = 64         # rows per block once candidates are culled


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
    """Drop a repeated closing vertex and normalize to CCW."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    return _ensure_ccw(xs, ys)


def _vertices(rings_a, rings_b):
    """Flat vertices of both operands: x, y, index of the next vertex
    around the same ring, and the operand (0 = A, 1 = B) per vertex.
    Closing duplicates and rings under three vertices are dropped."""
    xs, ys, nxt, opnd = [], [], [], []
    base = 0
    for k, rings in enumerate((rings_a, rings_b)):
        for rx, ry in rings:
            rx = np.asarray(rx, dtype=np.float64)
            ry = np.asarray(ry, dtype=np.float64)
            if len(rx) >= 2 and rx[0] == rx[-1] and ry[0] == ry[-1]:
                rx, ry = rx[:-1], ry[:-1]
            n = len(rx)
            if n < 3:
                continue
            nx = np.arange(base + 1, base + n + 1)
            nx[-1] = base
            xs.append(rx)
            ys.append(ry)
            nxt.append(nx)
            opnd.append(np.full(n, k, dtype=np.int8))
            base += n
    if not xs:
        return None
    return (np.concatenate(xs), np.concatenate(ys), np.concatenate(nxt),
            np.concatenate(opnd))


def _box_pairs(ax0, ax1, ay0, ay1, bx0, bx1, by0, by1):
    """Index pairs (i, j) whose closed boxes a_i and b_j meet, in
    (i, j) order."""
    if len(ax0) * len(bx0) <= _BLOCK:
        hit = ((ax0[:, None] <= bx1) & (bx0 <= ax1[:, None])
               & (ay0[:, None] <= by1) & (by0 <= ay1[:, None]))
        return np.nonzero(hit)
    # several blocks: visit a in (x column, y) order so that a block
    # spans little of either axis, and give each block only the b boxes
    # that reach its span (b sorted by left edge: a box reaching x is
    # one whose left edge lies within the widest b box of x)
    ncol = int(np.sqrt(len(ax0) / _CULL)) + 1
    col = np.floor((ax0 - ax0.min()) / max(np.ptp(ax0), 1e-300) * ncol)
    oa = np.lexsort((ay0, col))
    ob = np.argsort(bx0, kind="stable")
    sbx0 = bx0[ob]
    reach = (bx1 - bx0).max()
    out_i, out_j = [], []
    for s in range(0, len(oa), _CULL):
        ia = oa[s:s + _CULL]
        x_lo, x_hi = ax0[ia].min(), ax1[ia].max()
        jb = ob[np.searchsorted(sbx0, x_lo - reach):
                np.searchsorted(sbx0, x_hi, side="right")]
        jb = jb[(bx1[jb] >= x_lo) & (by0[jb] <= ay1[ia].max())
                & (by1[jb] >= ay0[ia].min())]
        hit = ((ax0[ia, None] <= bx1[jb]) & (bx0[jb] <= ax1[ia, None])
               & (ay0[ia, None] <= by1[jb]) & (by0[jb] <= ay1[ia, None]))
        i, j = np.nonzero(hit)
        out_i.append(ia[i])
        out_j.append(jb[j])
    i, j = np.concatenate(out_i), np.concatenate(out_j)
    o = np.lexsort((j, i))
    return i[o], j[o]


def _cluster(cx, cy, tol):
    """Label every candidate point with the smallest index of the
    points it is chained to by distance <= tol."""
    n = len(cx)
    lab = np.arange(n)
    # sort by (tol-wide x column, y): near pairs sit in one column or
    # the next, within tol in y — found by lexicographic searchsorted
    key = np.floor(cx / tol) + 1j * cy
    order = np.argsort(key)
    skey = key[order]
    pa, pb = [], []
    for dcol in (0.0, 1.0):
        lo = np.searchsorted(skey, skey.real + dcol + 1j * (skey.imag - tol),
                             side="left")
        hi = np.searchsorted(skey, skey.real + dcol + 1j * (skey.imag + tol),
                             side="right")
        if dcol == 0.0:
            lo = np.maximum(lo, np.arange(n) + 1)
        cnt = np.maximum(hi - lo, 0)
        tot = int(cnt.sum())
        if tot:
            a = np.repeat(np.arange(n), cnt)
            b = np.repeat(lo, cnt) + (np.arange(tot)
                                      - np.repeat(np.cumsum(cnt) - cnt, cnt))
            pa.append(order[a])
            pb.append(order[b])
    if not pa:
        return lab
    pa, pb = np.concatenate(pa), np.concatenate(pb)
    near = (cx[pa] - cx[pb]) ** 2 + (cy[pa] - cy[pb]) ** 2 <= tol * tol
    pa, pb = pa[near], pb[near]
    # min-label propagation with pointer jumping, to a fixpoint
    while True:
        m = np.minimum(lab[pa], lab[pb])
        new = lab.copy()
        np.minimum.at(new, pa, m)
        np.minimum.at(new, pb, m)
        new = new[new]
        if np.array_equal(new, lab):
            return lab
        lab = new


def _node(rings_a, rings_b):
    """Noded arrangement of both operands' boundaries.

    Returns (nx, ny, lo, hi, cover, touch): node coordinates, the
    distinct sub-segments as node-id pairs lo < hi, each piece's signed
    coverage count per operand (pieces x 2 int) and whether an
    operand's rings run the piece at all (pieces x 2 bool; true with a
    zero count where the runs cancel, as along a zero-area ring) — or
    None when the operands have no edge."""
    v = _vertices(rings_a, rings_b)
    if v is None:
        return None
    vx, vy, nxt, opnd = v
    e = np.nonzero((vx != vx[nxt]) | (vy != vy[nxt]))[0]
    if len(e) == 0:
        return None
    # floored at ~50 ulps of the coordinates' magnitude, so a pair far
    # from the origin still snaps float noise together
    span = max(vx.max() - vx.min(), vy.max() - vy.min())
    tol = max(span * _SNAP_REL,
              max(np.abs(vx).max(), np.abs(vy).max()) * 1e-14)
    ea, eb = e, nxt[e]            # edge k runs vertex ea[k] -> eb[k]
    x0, y0, x1, y1 = vx[ea], vy[ea], vx[eb], vy[eb]
    dx, dy = x1 - x0, y1 - y0
    bx0, bx1 = np.minimum(x0, x1) - tol, np.maximum(x0, x1) + tol
    by0, by1 = np.minimum(y0, y1) - tol, np.maximum(y0, y1) + tol

    # vertices within tol of an edge's interior split that edge
    vi, ek = _box_pairs(vx, vx, vy, vy, bx0, bx1, by0, by1)
    own = (vi == ea[ek]) | (vi == eb[ek])
    vi, ek = vi[~own], ek[~own]
    L2 = dx[ek] ** 2 + dy[ek] ** 2
    tv = ((vx[vi] - x0[ek]) * dx[ek] + (vy[vi] - y0[ek]) * dy[ek]) / L2
    d2 = ((vx[vi] - x0[ek] - tv * dx[ek]) ** 2
          + (vy[vi] - y0[ek] - tv * dy[ek]) ** 2)
    on = (tv > 0.0) & (tv < 1.0) & (d2 <= tol * tol)
    vi, ek, tv = vi[on], ek[on], tv[on]

    # proper crossings, each edge pair once; a crossing within tol/2 of
    # an endpoint is that vertex's contact, found above
    i, j = _box_pairs(bx0, bx1, by0, by1, bx0, bx1, by0, by1)
    pair = ((i < j) & (ea[i] != ea[j]) & (ea[i] != eb[j])
            & (eb[i] != ea[j]) & (eb[i] != eb[j]))
    i, j = i[pair], j[pair]
    qx, qy = x0[j] - x0[i], y0[j] - y0[i]
    den = dx[i] * dy[j] - dy[i] * dx[j]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qx * dy[j] - qy * dx[j]) / den
        u = (qx * dy[i] - qy * dx[i]) / den
    hit = (den != 0.0) & (t > 0.0) & (t < 1.0) & (u > 0.0) & (u < 1.0)
    i, j, t, u = i[hit], j[hit], t[hit], u[hit]
    px, py = x0[i] + t * dx[i], y0[i] + t * dy[i]
    lim = (0.5 * tol) ** 2
    clear = np.ones(len(i), dtype=bool)
    for ex, ey in ((x0[i], y0[i]), (x1[i], y1[i]),
                   (x0[j], y0[j]), (x1[j], y1[j])):
        clear &= (px - ex) ** 2 + (py - ey) ** 2 > lim
    i, j, t, u, px, py = i[clear], j[clear], t[clear], u[clear], \
        px[clear], py[clear]

    # merge near-coincident candidates into nodes (vertices first, so
    # a cluster holding a vertex takes that vertex's coordinates)
    nv, nc = len(vx), len(px)
    cx, cy = np.concatenate((vx, px)), np.concatenate((vy, py))
    rep, node = np.unique(_cluster(cx, cy, tol), return_inverse=True)
    nx, ny = cx[rep], cy[rep]

    # split every edge at its contacts, in order along the edge
    m = len(e)
    cid = np.arange(nv, nv + nc)
    ek_all = np.concatenate((np.arange(m), np.arange(m), ek, i, j))
    t_all = np.concatenate((np.zeros(m), np.ones(m), tv, t, u))
    p_all = np.concatenate((ea, eb, vi, cid, cid))
    o = np.lexsort((t_all, ek_all))
    ek_s, nd = ek_all[o], node[p_all[o]]
    same = ek_s[1:] == ek_s[:-1]
    a_, b_ = nd[:-1][same], nd[1:][same]
    side = opnd[ea[ek_s[:-1][same]]]
    real = a_ != b_
    a_, b_, side = a_[real], b_[real], side[real]
    if len(a_) == 0:
        return None
    nn = len(nx)
    keys, inv = np.unique(np.minimum(a_, b_) * nn + np.maximum(a_, b_),
                          return_inverse=True)
    # signed coverage: a sub-segment running lo -> hi counts +1
    sgn = np.where(a_ < b_, 1.0, -1.0)
    cover = np.stack([np.bincount(inv[side == k], weights=sgn[side == k],
                                  minlength=len(keys))
                      for k in (0, 1)], axis=1).astype(np.int64)
    touch = np.stack([np.bincount(inv[side == k], minlength=len(keys))
                      for k in (0, 1)], axis=1) > 0
    return nx, ny, keys // nn, keys % nn, cover, touch


def _ray_winding(qx, qy, sx0, sy0, sx1, sy1, w, own):
    """Per query point: the w-weighted count of segments the ray from
    (qx, qy) toward +x crosses (half-open in y), skipping the query's
    own segment own[k]. Returns (queries x w columns) int64."""
    with np.errstate(divide="ignore", invalid="ignore"):
        slope = (sx1 - sx0) / (sy1 - sy0)
        if len(qx) * len(sx0) <= _BLOCK:
            yq = qy[:, None]
            hit = (((sy0 > yq) != (sy1 > yq))
                   & (qx[:, None] < sx0 + (yq - sy0) * slope))
            hit[np.arange(len(qx)), own] = False
            return hit @ w
        # several blocks: visit queries in y order and give each block
        # only the segments whose y span reaches its band (segments
        # sorted by lower end, as in _box_pairs)
        out = np.zeros((len(qx), w.shape[1]), dtype=np.int64)
        oq = np.argsort(qy, kind="stable")
        ylo, yhi = np.minimum(sy0, sy1), np.maximum(sy0, sy1)
        os_ = np.argsort(ylo, kind="stable")
        sylo = ylo[os_]
        reach = (yhi - ylo).max()
        for s in range(0, len(oq), _CULL):
            iq = oq[s:s + _CULL]
            y_lo, y_hi = qy[iq[0]], qy[iq[-1]]
            js = os_[np.searchsorted(sylo, y_lo - reach):
                     np.searchsorted(sylo, y_hi, side="right")]
            js = js[yhi[js] > y_lo]
            yq = qy[iq, None]
            hit = (((sy0[js] > yq) != (sy1[js] > yq))
                   & (qx[iq, None] < sx0[js] + (yq - sy0[js]) * slope[js])
                   & (own[iq, None] != js))
            out[iq] = hit @ w[js]
    return out


def _sides(nx, ny, lo, hi, cover, winding=False):
    """Each operand's membership just left and just right of every
    piece (two pieces x 2 bool arrays), from one batched ray cast. A
    point is in an operand when its coverage count there is odd
    (even-odd rings) or, with `winding`, nonzero (rings oriented by
    `_oriented`)."""
    sx, sy = nx - nx.min(), ny - ny.min()   # shifted: smaller products
    x0, y0, x1, y1 = sx[lo], sy[lo], sx[hi], sy[hi]
    dx, dy = x1 - x0, y1 - y0
    mx, my = (x0 + x1) * 0.5, (y0 + y1) * 0.5
    steep = np.abs(dy) >= np.abs(dx)
    probe = np.empty(cover.shape, dtype=np.int64)
    for sel, swap in ((steep, False), (~steep, True)):
        k = np.nonzero(sel)[0]
        if len(k) == 0:
            continue
        if swap:   # y-ray: the same cast with the axes exchanged,
            # which mirrors the winding sign
            w = cover * -np.sign(dx).astype(np.int64)[:, None]
            probe[k] = _ray_winding(my[k], mx[k], y0, x0, y1, x1, w, k)
        else:
            w = cover * np.sign(dy).astype(np.int64)[:, None]
            probe[k] = _ray_winding(mx[k], my[k], x0, y0, x1, y1, w, k)
    # the probed side is east of steep pieces, north of flat ones;
    # crossing a piece from its right to its left adds its coverage
    probe_left = np.where(steep, dy < 0.0, dx > 0.0)[:, None]
    left = np.where(probe_left, probe, probe + cover)
    right = left - cover
    if winding:
        return left != 0, right != 0
    return (left & 1).astype(bool), (right & 1).astype(bool)


def _overlay(rings_a, rings_b, op, winding=False):
    """Kept directed pieces of `op`, region on the left (see `_sides`
    for `winding`).

    Returns (nx, ny, start, end) — node coordinates and the kept pieces
    as node-id pairs — or None when nothing is kept."""
    noded = _node(rings_a, rings_b)
    if noded is None:
        return None
    nx, ny, lo, hi, cover, _ = noded
    live = cover.any(axis=1)   # a piece whose runs cancel bounds nothing
    lo, hi, cover = lo[live], hi[live], cover[live]
    left, right = _sides(nx, ny, lo, hi, cover, winding)
    want = _OPS[op]
    in_l = want(left[:, 0], left[:, 1])
    in_r = want(right[:, 0], right[:, 1])
    keep = in_l != in_r
    if not keep.any():
        return None
    lo, hi, in_l = lo[keep], hi[keep], in_l[keep]
    return nx, ny, np.where(in_l, lo, hi), np.where(in_l, hi, lo)


def boolean_area(rings_a, rings_b, op) -> float:
    """Exact planar area of `op` over two even-odd ring sets: the
    Green's-theorem sum over the kept pieces, no stitch."""
    return _green_area(_overlay(rings_a, rings_b, op))


def _green_area(kept) -> float:
    if kept is None:
        return 0.0
    nx, ny, start, end = kept
    nx, ny = nx - nx.min(), ny - ny.min()   # shifted: smaller products
    xa, ya, xb, yb = nx[start], ny[start], nx[end], ny[end]
    return 0.5 * float(np.sum(xa * yb - xb * ya))


def robust_boolean(rings_a, rings_b, op):
    """Boolean GEOMETRY of two even-odd ring sets. `op` in {'and',
    'or', 'sub', 'xor'}. Returns a ring list in even-odd form (shells
    CCW, holes CW; [] for an empty result), or None when the stitch
    meets a node whose kept pieces do not alternate in/out (snapping
    created a crossing) — callers report an error row."""
    return _stitch(_overlay(rings_a, rings_b, op))


def _oriented(members):
    """The rings of every member, oriented so that the member's winding
    number is 1 inside and 0 outside: shells CCW and holes CW by
    even-odd depth within the member. Depth comes from the
    distance-guarded containment probe, so rings touching at a vertex
    still orient correctly."""
    from .overlay import _ring_signs
    out = []
    for member in members:
        rings = []
        for rx, ry in member:
            rx = np.asarray(rx, dtype=np.float64)
            ry = np.asarray(ry, dtype=np.float64)
            if len(rx) >= 2 and rx[0] == rx[-1] and ry[0] == ry[-1]:
                rx, ry = rx[:-1], ry[:-1]
            if len(rx) >= 3:
                rings.append((rx, ry))
        if len(rings) == 1:   # one ring: its own orientation decides
            signs = [_signed_area2(*rings[0])]
        else:
            signs = _ring_signs(rings)
        for (rx, ry), sgn in zip(rings, signs):
            out.append((rx, ry) if sgn >= 0 else (rx[::-1], ry[::-1]))
    return out


def union_members(members, minus=()):
    """Union GEOMETRY of N members, minus the union of the `minus`
    members. A member is an even-odd ring list (shells, holes, dateline
    pages); members may overlap, repeat, share edges and touch. One
    noding pass over all rings; a piece bounds the result where the
    summed winding number of `members` is nonzero on exactly one side
    (and that of `minus` zero). Returns rings in even-odd form (shells
    CCW, holes CW; [] for an empty result), or None when the stitch
    fails (see robust_boolean)."""
    return _stitch(_union_overlay(members, minus))


def union_area(members, minus=()) -> float:
    """Exact planar area of union_members(members, minus): the Green's
    sum over its kept pieces, no stitch."""
    return _green_area(_union_overlay(members, minus))


def _union_overlay(members, minus):
    return _overlay(_oriented(members), _oriented(minus), "sub",
                    winding=True)


def relate(rings_a, rings_b) -> int:
    """A.Relate(B) for two even-odd ring sets, as NTS maps DE-9IM
    outcomes (NtsGeometry.cs:303-314): CONTAINS when closed A covers
    closed B (checked first, so equal shapes give CONTAINS), WITHIN for
    the mirror, DISJOINT when the closed sets share no point, else
    INTERSECTS."""
    a_b, b_a, _, meet = _relation(rings_a, rings_b)
    if a_b:
        return CONTAINS
    if b_a:
        return WITHIN
    return INTERSECTS if meet else DISJOINT


def member_overlap(rings_a, rings_b) -> str:
    """How two MULTIPOLYGON members overlap: 'a_contains_b' /
    'b_contains_a' (one covers the other), 'none' (interiors disjoint,
    boundaries may touch) or 'cross' (interiors overlap otherwise)."""
    a_b, b_a, overlap, _ = _relation(rings_a, rings_b)
    if a_b:
        return "a_contains_b"
    if b_a:
        return "b_contains_a"
    return "cross" if overlap else "none"


def _relation(rings_a, rings_b):
    """(A covers B, B covers A, interiors overlap, closed sets meet) for
    two even-odd ring sets, read off the noded arrangement (an operand
    without an edge of positive length counts as empty): the sides
    of every piece are the faces, the pieces and their end nodes the
    boundaries. A covers B when no side lies in B but not in A and
    every piece of B's rings lies in closed A — the second test is what
    decides zero-area rings, whose runs cancel and which have no
    area-bearing side."""
    noded = _node(rings_a, rings_b)
    # an operand without a piece is empty
    if noded is None or not noded[5].any(axis=0).all():
        return False, False, False, False
    nx, ny, lo, hi, cover, touch = noded
    left, right = _sides(nx, ny, lo, hi, cover)
    sides = np.concatenate((left, right))
    a_only = (sides[:, 0] & ~sides[:, 1]).any()
    b_only = (sides[:, 1] & ~sides[:, 0]).any()
    overlap = (sides[:, 0] & sides[:, 1]).any()
    closed = left | right | touch          # piece in closed A / B
    ends = np.zeros((len(nx), 2), dtype=bool)
    for k in (0, 1):
        ends[lo[touch[:, k]], k] = ends[hi[touch[:, k]], k] = True
    return (not b_only and closed[touch[:, 1], 0].all(),
            not a_only and closed[touch[:, 0], 1].all(),
            overlap,
            overlap or closed.all(axis=1).any() or ends.all(axis=1).any())


def _stitch(kept):
    """Rings from kept directed pieces (see the module docstring)."""
    if kept is None:
        return []
    nx, ny, start, end = kept
    n = len(start)
    ex, ey = nx[end] - nx[start], ny[end] - ny[start]
    # rays around every node: each piece leaves its start (out-ray) and
    # arrives at its end (in-ray, pointing back along the piece)
    ray_node = np.concatenate((start, end))
    ray_ang = np.concatenate((np.arctan2(ey, ex), np.arctan2(-ey, -ex)))
    o = np.lexsort((ray_ang, ray_node))
    sorted_node = ray_node[o]
    first = np.ones(2 * n, dtype=bool)
    first[1:] = sorted_node[1:] != sorted_node[:-1]
    grp = np.cumsum(first) - 1
    g_first = np.nonzero(first)[0]
    g_last = np.append(g_first[1:], 2 * n) - 1
    pos = np.arange(2 * n)
    # next ray clockwise = previous in ascending angle, cyclic per node
    prev = np.where(first, g_last[grp], pos - 1)
    is_in = o >= n
    partner = o[prev[is_in]]
    if (partner >= n).any():
        return None
    nxt = np.empty(n, dtype=np.int64)
    nxt[o[is_in] - n] = partner
    rings = []
    seen = bytearray(n)
    nxt_l = nxt.tolist()
    for s in range(n):
        if seen[s]:
            continue
        cyc = []
        k = s
        while not seen[k]:
            seen[k] = 1
            cyc.append(k)
            k = nxt_l[k]
        if k != s:
            return None
        ids = start[cyc]
        rings.append((nx[ids], ny[ids]))
    return rings


def members_of_robust(rings):
    """Member grouping [(shell, [holes])] for robust_boolean output:
    rings may TOUCH at points (figure-eight contacts), where
    first-vertex parity is unreliable — nesting uses the
    distance-guarded containment probe (overlay._ring_contained_in)."""
    from .overlay import _ring_contained_in
    opened = [(np.asarray(rx, dtype=np.float64),
               np.asarray(ry, dtype=np.float64)) for rx, ry in rings]
    depth = []
    for i, (rx, ry) in enumerate(opened):
        d = 0
        for j, (ox, oy) in enumerate(opened):
            if j != i and _ring_contained_in(rx, ry, ox, oy):
                d += 1
        depth.append(d)
    members = []
    shell_idx = []
    for i, (r, d) in enumerate(zip(opened, depth)):
        if d % 2 == 0:
            members.append((r, []))
            shell_idx.append(i)
    for i, (r, d) in enumerate(zip(opened, depth)):
        if d % 2 == 1:
            parent, pdepth = None, -1
            for m, si in enumerate(shell_idx):
                if depth[si] == d - 1 and _ring_contained_in(
                        r[0], r[1], opened[si][0], opened[si][1]):
                    if depth[si] > pdepth:
                        parent, pdepth = m, depth[si]
            if parent is None:
                return None
            members[parent][1].append(r)
    return members
