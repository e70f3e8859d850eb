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
5. Relate. `relate_pairs` (polygon <-> polygon and polygon <-> rect;
   `relate` is its one-pair call) and `member_overlap` (the
   MULTIPOLYGON member classifier) read the
   classified pieces instead of keeping any: A covers B when no side
   of a piece lies in B but not in A (checked before the mirror, so
   equal shapes are CONTAINS); the closed sets meet when a side lies
   in both, a piece lies in both, or a node ends pieces of both.
   Zero-area rings, whose runs cancel and which have no area-bearing
   side, count through the pieces they run. Boundaries that are
   apart need no special case: their pieces are the input edges and
   the same ray cast puts each on its side.

Scale note: the noder runs once per Arrow batch, over every operand
pair of the batch at once (`pair_vertices` lays the pairs out as flat
vertex arrays, pair after pair; a one-pair caller passes a batch of
one). Every float operation keeps its pair's own inputs: the snap
tolerance comes from the pair's own extent, the ray cast and the
Green's sum shift by the pair's own node minimum, and each pair's area
is one `np.sum` over its own contiguous pieces. The pair index is the
major key of every sort, so node ids keep their order within a pair
and each pair's output is bit-identical to a batch of one. Contact
candidates and the classification meet only the pair's own edges and
pieces: small pairs are gathered into block-diagonal passes of at most
`_PAIR_BLOCK` cells; a pair of more than `_ALONE` cells runs alone, as
one dense pass of up to `_BLOCK` cells or, above that (a buffer's
boundary strip of a few hundred vertices has ~15k edges), in blocks of
`_CULL` rows that each meet only the candidates reaching their span
(sorted by x for boxes, by y for rays), with the pairs put back in
dense order. Memory per block is bounded whatever the batch size.
"""
from __future__ import annotations

import math
from typing import NamedTuple

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
_ALONE = 1 << 12   # a pair with more grid cells runs alone
_PAIR_BLOCK = 1 << 16  # grid cells per block-diagonal pass of small pairs


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


def _offsets(counts):
    """Start offsets of consecutive groups of `counts` items, plus the
    total: group g owns items out[g]:out[g + 1]."""
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out


def _group_of(base):
    """Group index of every item of groups laid out by `base`."""
    return np.repeat(np.arange(len(base) - 1), np.diff(base))


def _group_reduce(ufunc, values, base, empty=0.0):
    """ufunc.reduce over each group of `values` laid out by `base`;
    `empty` for a group without items."""
    out = np.full(len(base) - 1, empty, dtype=np.float64)
    has = np.diff(base) > 0
    if has.any():
        out[has] = ufunc.reduceat(values, base[:-1][has])
    return out


# --- ragged input -----------------------------------------------------------

class Lists(NamedTuple):
    """One ragged column: flat `values`, per-row `offsets` and `valid`
    (the layout of `shapes.VertexLists`)."""
    values: np.ndarray
    offsets: np.ndarray
    valid: np.ndarray


def _one_row(values) -> Lists:
    """A ragged column of one row holding `values` (None: a null row)."""
    if values is None:
        return Lists(np.zeros(0), np.zeros(2, dtype=np.int64),
                     np.zeros(1, dtype=bool))
    values = np.asarray(values)
    return Lists(values, np.array([0, len(values)]), np.ones(1, dtype=bool))


def one_polygon(xs, ys, ring_offsets=None) -> tuple:
    """(xs, ys, ring_offsets) ragged columns of one polygon row."""
    return tuple(_one_row(None if c is None else np.asarray(c, dtype=t))
                 for c, t in ((xs, np.float64), (ys, np.float64),
                              (ring_offsets, np.int64)))


def _row_vertices(xs, ys, rows):
    """(first x, first y, vertex count) of rows `rows` of two ragged
    columns; a row with a null `xs` or `ys` has no vertex."""
    xbase, ybase = xs.offsets[rows], ys.offsets[rows]
    return xbase, ybase, np.where(xs.valid[rows] & ys.valid[rows],
                                  np.minimum(xs.offsets[rows + 1] - xbase,
                                             ys.offsets[rows + 1] - ybase), 0)


def row_boxes(xs, ys, rows):
    """(vertex count, minx, maxx, miny, maxy) of rows `rows` of two
    ragged columns; a row without vertices has a NaN box."""
    xbase, ybase, nv = _row_vertices(xs, ys, rows)
    vb = _offsets(nv)
    k = np.arange(vb[-1]) - np.repeat(vb[:-1], nv)
    gx = xs.values[np.repeat(xbase, nv) + k]
    gy = ys.values[np.repeat(ybase, nv) + k]
    nan = np.nan
    return (nv, _group_reduce(np.minimum, gx, vb, nan),
            _group_reduce(np.maximum, gx, vb, nan),
            _group_reduce(np.minimum, gy, vb, nan),
            _group_reduce(np.maximum, gy, vb, nan))


def ring_spans(xs, ys, ring_offsets, rows, whole_if_short=True, drop=True):
    """Rings of rows `rows` of three ragged columns.

    Returns (first, gx, gy, n): row k owns rings first[k]:first[k + 1];
    ring r is the n[r] vertices from gx[r] of xs.values (gy[r] of
    ys.values). A row's `ring_offsets` cut its vertices into rings,
    clamped as a Python slice is; a null `ring_offsets` (or, with
    `whole_if_short`, one of fewer than 2 entries) makes all vertices
    one ring; a null `xs` or `ys` has no vertex. With `drop` (a bool,
    or one per row) a ring of 2+ vertices that repeats its first vertex
    drops the repeat."""
    rows = np.asarray(rows, dtype=np.int64)
    xbase, ybase, nv = _row_vertices(xs, ys, rows)
    rbase = ring_offsets.offsets[rows]
    nro = np.where(ring_offsets.valid[rows],
                   ring_offsets.offsets[rows + 1] - rbase, 0)
    multi = nro >= 2 if whole_if_short else ring_offsets.valid[rows]
    nrings = np.where(multi, np.maximum(nro - 1, 0), 1)
    first = _offsets(nrings)
    ring_row = np.repeat(np.arange(len(rows)), nrings)
    cap = nv[ring_row]
    rs = np.zeros(len(ring_row), dtype=np.int64)
    re = cap.copy()
    m = np.flatnonzero(multi[ring_row])
    p = rbase[ring_row[m]] + m - first[ring_row[m]]
    rs[m] = ring_offsets.values[p]
    re[m] = ring_offsets.values[p + 1]
    rs = np.minimum(rs, cap)
    n = np.maximum(np.minimum(re, cap) - rs, 0)
    gx = xbase[ring_row] + rs
    gy = ybase[ring_row] + rs
    X, Y = xs.values, ys.values
    c = np.flatnonzero((n >= 2) & np.broadcast_to(drop, rows.shape)[ring_row])
    n[c] -= ((X[gx[c]] == X[gx[c] + n[c] - 1])
             & (Y[gy[c]] == Y[gy[c] + n[c] - 1]))
    return first, gx, gy, n


class Rings(NamedTuple):
    """Ring sets (one operand each: a shape, or one page of one) as
    rings of flat coordinate buffers: set s owns rings
    first[s]:first[s + 1]; ring r is the size[r] vertices from sx[r] of
    `x` (sy[r] of `y`)."""
    x: np.ndarray
    y: np.ndarray
    sx: np.ndarray
    sy: np.ndarray
    size: np.ndarray
    first: np.ndarray


def shape_rings(xs, ys, ring_offsets, rows) -> Rings:
    """Ring sets of rows `rows` of three ragged columns: the rings of
    `ring_spans`, a ring of under three vertices left out."""
    first, gx, gy, n = ring_spans(xs, ys, ring_offsets, rows)
    keep = n >= 3
    first = _offsets(np.bincount(_group_of(first)[keep],
                                 minlength=len(first) - 1))
    return Rings(xs.values, ys.values, gx[keep], gy[keep], n[keep], first)


def list_rings(sets) -> Rings:
    """Ring sets from lists of (xs, ys) rings: set s holds the rings of
    sets[s], as given."""
    xs = [np.asarray(rx, dtype=np.float64) for rs in sets for rx, _ in rs]
    ys = [np.asarray(ry, dtype=np.float64) for rs in sets for _, ry in rs]
    size = np.array([len(rx) for rx in xs], dtype=np.int64)
    start = _offsets(size)[:-1]
    cat = (lambda a: np.concatenate(a) if a else np.zeros(0))
    return Rings(cat(xs), cat(ys), start, start, size,
                 _offsets([len(rs) for rs in sets]))


class _Verts(NamedTuple):
    """Flat vertices of a batch of operand pairs, pair after pair:
    operand A's rings, then B's, each ring's vertices in order. Pair p
    owns vertices base[p]:base[p + 1]; `nxt` is the index of the next
    vertex around the same ring; `opnd` is 0 for A, 1 for B."""
    x: np.ndarray
    y: np.ndarray
    nxt: np.ndarray
    opnd: np.ndarray
    base: np.ndarray


def pair_vertices(a: Rings, ia, b: Rings, ib) -> _Verts:
    """The noder's input for operand pairs: pair k is ring set ia[k] of
    `a` against ring set ib[k] of `b`. A ring that repeats its first
    vertex drops the repeat; a ring left under three vertices is left
    out."""
    ia = np.asarray(ia, dtype=np.int64)
    ib = np.asarray(ib, dtype=np.int64)
    npair = len(ia)
    # rings in (pair, operand, ring) order
    start = np.stack((a.first[ia], b.first[ib]), axis=1).ravel()
    cnt = np.stack((a.first[ia + 1] - a.first[ia],
                    b.first[ib + 1] - b.first[ib]), axis=1).ravel()
    slot = np.repeat(np.arange(2 * npair), cnt)
    rid = np.repeat(start - _offsets(cnt)[:-1], cnt) + np.arange(len(slot))
    src = slot % 2
    sx = np.empty(len(slot), dtype=np.int64)
    sy = np.empty(len(slot), dtype=np.int64)
    size = np.empty(len(slot), dtype=np.int64)
    bufs = (a, b)
    for k, r in enumerate(bufs):
        m = src == k
        sx[m], sy[m], size[m] = r.sx[rid[m]], r.sy[rid[m]], r.size[rid[m]]
        c = np.flatnonzero(m & (size >= 2))
        size[c] -= ((r.x[sx[c]] == r.x[sx[c] + size[c] - 1])
                    & (r.y[sy[c]] == r.y[sy[c] + size[c] - 1]))
    keep = size >= 3
    sx, sy, size, src, slot = sx[keep], sy[keep], size[keep], src[keep], \
        slot[keep]
    rb = _offsets(size)
    ring = np.repeat(np.arange(len(size)), size)
    k = np.arange(rb[-1]) - rb[:-1][ring]
    vsrc = src[ring]
    vx = np.empty(len(ring))
    vy = np.empty(len(ring))
    for s, r in enumerate(bufs):
        m = vsrc == s
        vx[m] = r.x[sx[ring[m]] + k[m]]
        vy[m] = r.y[sy[ring[m]] + k[m]]
    nxt = np.arange(1, len(ring) + 1)
    nxt[rb[1:] - 1] = rb[:-1]
    base = _offsets(np.bincount(slot[ring] // 2, minlength=npair))
    return _Verts(vx, vy, nxt, vsrc.astype(np.int8), base)


def _vertices(rings_a, rings_b) -> _Verts:
    """Batch of one pair from two lists of (xs, ys) rings."""
    return pair_vertices(list_rings([rings_a]), [0], list_rings([rings_b]),
                         [0])


# --- noding -----------------------------------------------------------------

def _runs(cells):
    """Consecutive group ranges (s, t, alone) covering every group in
    order. A group of more than `_ALONE` grid cells is a run alone, and
    so is a group no neighbour joins; the others are gathered into runs
    of at most `_PAIR_BLOCK` cells."""
    ends = np.cumsum(cells)
    s = 0
    for b in np.flatnonzero(cells > _ALONE).tolist() + [len(cells)]:
        while s < b:
            done = int(ends[s - 1]) if s else 0
            t = int(np.searchsorted(ends, done + _PAIR_BLOCK, side="right"))
            t = min(max(t, s + 1), b)
            yield s, t, t == s + 1
            s = t
        if b < len(cells):
            yield b, b + 1, True
            s = b + 1


def _grid(na, nb, abase, bbase, s, t):
    """Every (i, j) of groups s..t-1, i among the group's a items and j
    among its b items, in (i, j) order."""
    c = na[s:t] * nb[s:t]
    g = np.repeat(np.arange(s, t), c)
    q, r = np.divmod(np.arange(len(g)) - np.repeat(_offsets(c)[:-1], c),
                     nb[g])
    return abase[g] + q, bbase[g] + r


def _box_pairs_one(ax0, ax1, ay0, ay1, bx0, bx1, by0, by1):
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


def _box_pairs(a, abase, b, bbase):
    """Index pairs (i, j) whose closed boxes meet, in (i, j) order, a
    box of group p meeting only the boxes of group p. `a` and `b` are
    (x0, x1, y0, y1) arrays; group p owns a boxes abase[p]:abase[p + 1]
    and b boxes bbase[p]:bbase[p + 1]."""
    ax0, ax1, ay0, ay1 = a
    bx0, bx1, by0, by1 = b
    na, nb = np.diff(abase), np.diff(bbase)
    out_i, out_j = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
    for s, t, alone in _runs(na * nb):
        if alone:
            if na[s] * nb[s] == 0:
                continue
            ga, gb = slice(abase[s], abase[s + 1]), slice(bbase[s], bbase[s + 1])
            i, j = _box_pairs_one(ax0[ga], ax1[ga], ay0[ga], ay1[ga],
                                  bx0[gb], bx1[gb], by0[gb], by1[gb])
            out_i.append(i + abase[s])
            out_j.append(j + bbase[s])
            continue
        i, j = _grid(na, nb, abase, bbase, s, t)
        hit = ((ax0[i] <= bx1[j]) & (bx0[j] <= ax1[i])
               & (ay0[i] <= by1[j]) & (by0[j] <= ay1[i]))
        out_i.append(i[hit])
        out_j.append(j[hit])
    return np.concatenate(out_i), np.concatenate(out_j)


def _cluster(cx, cy, tol, grp):
    """Label every candidate point with the smallest index of the
    points of its group `grp` it is chained to by distance <= tol
    (`tol` per point, the same within a group)."""
    n = len(cx)
    lab = np.arange(n)
    # sort by (group, tol-wide x column, y): near pairs sit in one
    # column or the next of their group, within tol in y — found by
    # lexicographic searchsorted on (column slot, y)
    col = np.floor(cx / tol)
    order = np.lexsort((cy, col, grp))
    scol, sgrp, sy, stol = col[order], grp[order], cy[order], tol[order]
    new = np.ones(n, dtype=bool)
    new[1:] = (sgrp[1:] != sgrp[:-1]) | (scol[1:] != scol[:-1])
    slot = np.cumsum(new) - 1
    heads = np.flatnonzero(new)
    # the slot after each one is the next column of the same group
    nxt_col = np.zeros(len(heads), dtype=bool)
    nxt_col[:-1] = ((sgrp[heads[1:]] == sgrp[heads[:-1]])
                    & (scol[heads[1:]] == scol[heads[:-1]] + 1.0))
    skey = slot + 1j * sy
    pa, pb = [], []
    for dcol in (0, 1):
        lo = np.searchsorted(skey, slot + dcol + 1j * (sy - stol), side="left")
        hi = np.searchsorted(skey, slot + dcol + 1j * (sy + stol),
                             side="right")
        if dcol == 0:
            lo = np.maximum(lo, np.arange(n) + 1)
        cnt = np.maximum(hi - lo, 0)
        if dcol == 1:
            cnt = np.where(nxt_col[slot], cnt, 0)
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
    near = (cx[pa] - cx[pb]) ** 2 + (cy[pa] - cy[pb]) ** 2 <= tol[pa] * tol[pa]
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


class _Noded(NamedTuple):
    """Noded arrangement of a batch of pairs: node coordinates (pair p
    owns nodes nbase[p]:nbase[p + 1]), the distinct sub-segments as
    node-id pairs lo < hi (pair p owns pieces pbase[p]:pbase[p + 1]),
    each piece's signed coverage count per operand (pieces x 2 int) and
    whether an operand's rings run the piece at all (pieces x 2 bool;
    true with a zero count where the runs cancel, as along a zero-area
    ring)."""
    nx: np.ndarray
    ny: np.ndarray
    nbase: np.ndarray
    lo: np.ndarray
    hi: np.ndarray
    cover: np.ndarray
    touch: np.ndarray
    pbase: np.ndarray


def _pair_tol(vx, vy, base):
    """Snap tolerance of each pair: `_SNAP_REL` of its extent, floored
    at ~50 ulps of its coordinates' magnitude, so a pair far from the
    origin still snaps float noise together."""
    def span(v):
        return (_group_reduce(np.maximum, v, base)
                - _group_reduce(np.minimum, v, base))
    mag = np.maximum(_group_reduce(np.maximum, np.abs(vx), base),
                     _group_reduce(np.maximum, np.abs(vy), base))
    return np.maximum(np.maximum(span(vx), span(vy)) * _SNAP_REL, mag * 1e-14)


def _node(v: _Verts) -> _Noded:
    """Noded arrangement of both operands' boundaries, for every pair of
    the batch at once (see the module docstring)."""
    npair = len(v.base) - 1
    vx, vy, nxt, opnd = v.x, v.y, v.nxt, v.opnd
    vpair = _group_of(v.base)
    e = np.flatnonzero((vx != vx[nxt]) | (vy != vy[nxt]))
    epair = vpair[e]
    ebase = _offsets(np.bincount(epair, minlength=npair))
    tol = _pair_tol(vx, vy, v.base)
    etol = tol[epair]
    ea, eb = e, nxt[e]            # edge k runs vertex ea[k] -> eb[k]
    x0, y0, x1, y1 = vx[ea], vy[ea], vx[eb], vy[eb]
    dx, dy = x1 - x0, y1 - y0
    ebox = (np.minimum(x0, x1) - etol, np.maximum(x0, x1) + etol,
            np.minimum(y0, y1) - etol, np.maximum(y0, y1) + etol)

    # vertices within tol of an edge's interior split that edge
    vi, ek = _box_pairs((vx, vx, vy, vy), v.base, ebox, ebase)
    own = (vi == ea[ek]) | (vi == eb[ek])
    vi, ek = vi[~own], ek[~own]
    L2 = dx[ek] ** 2 + dy[ek] ** 2
    tv = ((vx[vi] - x0[ek]) * dx[ek] + (vy[vi] - y0[ek]) * dy[ek]) / L2
    d2 = ((vx[vi] - x0[ek] - tv * dx[ek]) ** 2
          + (vy[vi] - y0[ek] - tv * dy[ek]) ** 2)
    on = (tv > 0.0) & (tv < 1.0) & (d2 <= etol[ek] * etol[ek])
    vi, ek, tv = vi[on], ek[on], tv[on]

    # proper crossings, each edge pair once; a crossing within tol/2 of
    # an endpoint is that vertex's contact, found above
    i, j = _box_pairs(ebox, ebase, ebox, ebase)
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
    # (tol/2)^2 by libm pow, as a pair's scalar tolerance squares; a
    # product h * h differs from it in the last bit for ~0.1 % of h
    need = np.unique(epair[i])
    lim = np.zeros(npair)
    lim[need] = [math.pow(h, 2.0) for h in (0.5 * tol[need]).tolist()]
    lim = lim[epair[i]]
    clear = np.ones(len(i), dtype=bool)
    for ex, ey in ((x0[i], y0[i]), (x1[i], y1[i]),
                   (x0[j], y0[j]), (x1[j], y1[j])):
        clear &= (px - ex) ** 2 + (py - ey) ** 2 > lim
    i, j, t, u, px, py = i[clear], j[clear], t[clear], u[clear], \
        px[clear], py[clear]

    # merge near-coincident candidates into nodes: each pair's vertices,
    # then its crossings (vertices first, so a cluster holding a vertex
    # takes that vertex's coordinates)
    xpair = epair[i]
    nv = np.diff(v.base)
    nc = np.bincount(xpair, minlength=npair)
    cbase = _offsets(nv + nc)
    vpos = cbase[vpair] + np.arange(len(vx)) - v.base[vpair]
    cpos = (cbase[xpair] + nv[xpair] + np.arange(len(px))
            - _offsets(nc)[xpair])
    cx = np.empty(cbase[-1])
    cy = np.empty(cbase[-1])
    cx[vpos], cy[vpos], cx[cpos], cy[cpos] = vx, vy, px, py
    cpair = _group_of(cbase)
    rep, node = np.unique(_cluster(cx, cy, tol[cpair], cpair),
                          return_inverse=True)
    nx, ny, npr = cx[rep], cy[rep], cpair[rep]

    # split every edge at its contacts, in order along the edge
    m = len(e)
    ek_all = np.concatenate((np.arange(m), np.arange(m), ek, i, j))
    t_all = np.concatenate((np.zeros(m), np.ones(m), tv, t, u))
    p_all = np.concatenate((vpos[ea], vpos[eb], vpos[vi], cpos, cpos))
    o = np.lexsort((t_all, ek_all))
    ek_s, nd = ek_all[o], node[p_all[o]]
    same = ek_s[1:] == ek_s[:-1]
    a_, b_ = nd[:-1][same], nd[1:][same]
    side = opnd[ea[ek_s[:-1][same]]]
    real = a_ != b_
    a_, b_, side = a_[real], b_[real], side[real]
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
    lo, hi = keys // nn, keys % nn
    return _Noded(nx, ny, _offsets(np.bincount(npr, minlength=npair)),
                  lo, hi, cover, touch,
                  _offsets(np.bincount(npr[lo], minlength=npair)))


def _ray_winding_one(qx, qy, sx0, sy0, sx1, sy1, w, own):
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
        # sorted by lower end, as in _box_pairs_one)
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


def _ray_winding(qx, qy, qbase, sx0, sy0, sx1, sy1, sbase, w, own):
    """`_ray_winding_one` for groups: the queries of group p
    (qbase[p]:qbase[p + 1]) meet only its segments
    (sbase[p]:sbase[p + 1]); own[k] is a segment index."""
    out = np.zeros((len(qx), w.shape[1]), dtype=np.int64)
    nq, ns = np.diff(qbase), np.diff(sbase)
    hits_i, hits_j = [], []
    for s, t, alone in _runs(nq * ns):
        if alone:
            if nq[s] * ns[s] == 0:
                continue
            q, g = slice(qbase[s], qbase[s + 1]), slice(sbase[s], sbase[s + 1])
            out[q] = _ray_winding_one(qx[q], qy[q], sx0[g], sy0[g], sx1[g],
                                      sy1[g], w[g], own[q] - sbase[s])
            continue
        i, j = _grid(nq, ns, qbase, sbase, s, t)
        yq = qy[i]
        with np.errstate(divide="ignore", invalid="ignore"):
            slope = (sx1[j] - sx0[j]) / (sy1[j] - sy0[j])
            hit = (((sy0[j] > yq) != (sy1[j] > yq))
                   & (qx[i] < sx0[j] + (yq - sy0[j]) * slope)
                   & (own[i] != j))
        hits_i.append(i[hit])
        hits_j.append(j[hit])
    if hits_i:
        i, j = np.concatenate(hits_i), np.concatenate(hits_j)
        for c in range(w.shape[1]):
            out[:, c] += np.bincount(i, weights=w[j, c],
                                     minlength=len(qx)).astype(np.int64)
    return out


def _shifted(nx, ny, nbase):
    """Node coordinates shifted by their pair's own minimum (smaller
    products in the ray cast and the Green's sum)."""
    npr = _group_of(nbase)
    return (nx - _group_reduce(np.minimum, nx, nbase)[npr],
            ny - _group_reduce(np.minimum, ny, nbase)[npr])


def _sides(nd: _Noded, lo, hi, cover, base, winding=False):
    """Each operand's membership just left and just right of every
    piece lo -> hi (two pieces x 2 bool arrays; pair p owns pieces
    base[p]:base[p + 1]), from one batched ray cast that meets only the
    pair's own pieces. A point is in an operand when its coverage count
    there is odd (even-odd rings) or, with `winding`, nonzero (rings
    oriented by `_oriented`)."""
    sx, sy = _shifted(nd.nx, nd.ny, nd.nbase)
    x0, y0, x1, y1 = sx[lo], sy[lo], sx[hi], sy[hi]
    dx, dy = x1 - x0, y1 - y0
    mx, my = (x0 + x1) * 0.5, (y0 + y1) * 0.5
    steep = np.abs(dy) >= np.abs(dx)
    ppair = _group_of(base)
    probe = np.empty(cover.shape, dtype=np.int64)
    for sel, swap in ((steep, False), (~steep, True)):
        k = np.flatnonzero(sel)
        if len(k) == 0:
            continue
        qbase = _offsets(np.bincount(ppair[k], minlength=len(base) - 1))
        if swap:   # y-ray: the same cast with the axes exchanged,
            # which mirrors the winding sign
            w = cover * -np.sign(dx).astype(np.int64)[:, None]
            probe[k] = _ray_winding(my[k], mx[k], qbase, y0, x0, y1, x1,
                                    base, w, k)
        else:
            w = cover * np.sign(dy).astype(np.int64)[:, None]
            probe[k] = _ray_winding(mx[k], my[k], qbase, x0, y0, x1, y1,
                                    base, w, k)
    # the probed side is east of steep pieces, north of flat ones;
    # crossing a piece from its right to its left adds its coverage
    probe_left = np.where(steep, dy < 0.0, dx > 0.0)[:, None]
    left = np.where(probe_left, probe, probe + cover)
    right = left - cover
    if winding:
        return left != 0, right != 0
    return (left & 1).astype(bool), (right & 1).astype(bool)


# --- overlay: area and geometry ---------------------------------------------

class _Kept(NamedTuple):
    """Kept directed pieces of an overlay, region on the left, as
    node-id pairs start -> end (pair p owns pieces base[p]:base[p + 1]
    and nodes nbase[p]:nbase[p + 1])."""
    nx: np.ndarray
    ny: np.ndarray
    nbase: np.ndarray
    start: np.ndarray
    end: np.ndarray
    base: np.ndarray


def _overlay(v: _Verts, op, winding=False) -> _Kept:
    """Kept directed pieces of `op` for every pair of the batch (see
    `_sides` for `winding`)."""
    nd = _node(v)
    npair = len(v.base) - 1
    live = nd.cover.any(axis=1)   # a piece whose runs cancel bounds nothing
    ppair = _group_of(nd.pbase)[live]
    lo, hi, cover = nd.lo[live], nd.hi[live], nd.cover[live]
    left, right = _sides(nd, lo, hi, cover,
                         _offsets(np.bincount(ppair, minlength=npair)), winding)
    want = _OPS[op]
    in_l = want(left[:, 0], left[:, 1])
    in_r = want(right[:, 0], right[:, 1])
    keep = in_l != in_r
    lo, hi, in_l = lo[keep], hi[keep], in_l[keep]
    return _Kept(nd.nx, nd.ny, nd.nbase, np.where(in_l, lo, hi),
                 np.where(in_l, hi, lo),
                 _offsets(np.bincount(ppair[keep], minlength=npair)))


def overlay_areas(v: _Verts, op, winding=False) -> np.ndarray:
    """Exact planar area of `op` for every pair of the batch: the
    Green's-theorem sum over the kept pieces, no stitch."""
    k = _overlay(v, op, winding)
    sx, sy = _shifted(k.nx, k.ny, k.nbase)
    term = sx[k.start] * sy[k.end] - sx[k.end] * sy[k.start]
    out = np.zeros(len(k.base) - 1)
    b = k.base.tolist()
    # one np.sum per pair keeps each pair's summation order
    for p in np.flatnonzero(np.diff(k.base)).tolist():
        out[p] = 0.5 * float(np.sum(term[b[p]:b[p + 1]]))
    return out


def overlay_rings(v: _Verts, op, winding=False) -> list:
    """Boolean GEOMETRY of `op` for every pair of the batch: per pair a
    ring list in even-odd form (shells CCW, holes CW; [] for an empty
    result), or None when the stitch fails (see robust_boolean)."""
    k = _overlay(v, op, winding)
    out = []
    for p in range(len(k.base) - 1):
        s, e = k.base[p], k.base[p + 1]
        n0, n1 = k.nbase[p], k.nbase[p + 1]
        out.append(_stitch(k.nx[n0:n1], k.ny[n0:n1], k.start[s:e] - n0,
                           k.end[s:e] - n0) if e > s else [])
    return out


def boolean_area(rings_a, rings_b, op) -> float:
    """Exact planar area of `op` over two even-odd ring sets: the
    Green's-theorem sum over the kept pieces, no stitch."""
    return float(overlay_areas(_vertices(rings_a, rings_b), op)[0])


def robust_boolean(rings_a, rings_b, op):
    """Boolean GEOMETRY of two even-odd ring sets. `op` in {'and',
    'or', 'sub', 'xor'}. Returns a ring list in even-odd form (shells
    CCW, holes CW; [] for an empty result), or None when the stitch
    meets a node whose kept pieces do not alternate in/out (snapping
    created a crossing) — callers report an error row."""
    return overlay_rings(_vertices(rings_a, rings_b), op)[0]


def _oriented(members):
    """The rings of every member, oriented so that the member's winding
    number is 1 inside and 0 outside: shells CCW and holes CW by
    even-odd depth within the member (`pip.ring_nesting`, one call for
    all members), so rings touching at a vertex still orient
    correctly."""
    from .pip import ring_nesting
    opened = []
    for member in members:
        rings = []
        for rx, ry in member:
            rx = np.asarray(rx, dtype=np.float64)
            ry = np.asarray(ry, dtype=np.float64)
            if len(rx) >= 2 and rx[0] == rx[-1] and ry[0] == ry[-1]:
                rx, ry = rx[:-1], ry[:-1]
            if len(rx) >= 3:
                rings.append((rx, ry))
        opened.append(rings)
    depth = ring_nesting(list_rings(opened))[0].tolist()
    rings = [r for member in opened for r in member]
    return [(rx, ry) if (_signed_area2(rx, ry) >= 0.0) == (d % 2 == 0)
            else (rx[::-1], ry[::-1]) for (rx, ry), d in zip(rings, depth)]


def union_members(members, minus=()):
    """Union GEOMETRY of N members, minus the union of the `minus`
    members. A member is an even-odd ring list (shells, holes, dateline
    pages); members may overlap, repeat, share edges and touch. One
    noding pass over all rings; a piece bounds the result where the
    summed winding number of `members` is nonzero on exactly one side
    (and that of `minus` zero). Returns rings in even-odd form (shells
    CCW, holes CW; [] for an empty result), or None when the stitch
    fails (see robust_boolean)."""
    return overlay_rings(_union_vertices(members, minus), "sub",
                         winding=True)[0]


def union_area(members, minus=()) -> float:
    """Exact planar area of union_members(members, minus): the Green's
    sum over its kept pieces, no stitch."""
    return float(overlay_areas(_union_vertices(members, minus), "sub",
                               winding=True)[0])


def _union_vertices(members, minus):
    return _vertices(_oriented(members), _oriented(minus))


def relate_pairs(v: _Verts) -> np.ndarray:
    """A.Relate(B) for every pair of the batch (int8 codes), as NTS maps
    DE-9IM outcomes (NtsGeometry.cs:303-314): CONTAINS when closed A
    covers closed B (checked first, so equal shapes give CONTAINS),
    WITHIN for the mirror, DISJOINT when the closed sets share no
    point, else INTERSECTS."""
    a_b, b_a, _, meet = _relations(v)
    return np.where(a_b, CONTAINS, np.where(
        b_a, WITHIN, np.where(meet, INTERSECTS, DISJOINT))).astype(np.int8)


def relate(rings_a, rings_b) -> int:
    """relate_pairs for two even-odd ring sets."""
    return int(relate_pairs(_vertices(rings_a, rings_b))[0])


def member_overlap(rings_a, rings_b) -> str:
    """How two MULTIPOLYGON members overlap: 'a_contains_b' /
    'b_contains_a' (one covers the other), 'none' (interiors disjoint,
    boundaries may touch) or 'cross' (interiors overlap otherwise)."""
    a_b, b_a, overlap, _ = (r[0] for r in
                            _relations(_vertices(rings_a, rings_b)))
    if a_b:
        return "a_contains_b"
    if b_a:
        return "b_contains_a"
    return "cross" if overlap else "none"


def _relations(v: _Verts):
    """Per pair: (A covers B, B covers A, interiors overlap, closed sets
    meet), bool arrays read off the noded arrangement (an operand
    without an edge of positive length counts as empty): the sides of
    every piece are the faces, the pieces and their end nodes the
    boundaries. A covers B when no side lies in B but not in A and
    every piece of B's rings lies in closed A — the second test is what
    decides zero-area rings, whose runs cancel and which have no
    area-bearing side."""
    nd = _node(v)
    npair = len(v.base) - 1
    left, right = _sides(nd, nd.lo, nd.hi, nd.cover, nd.pbase)
    ppair = _group_of(nd.pbase)

    def some(mask, grp=ppair):   # per pair: does any item hold `mask`
        return np.bincount(grp[mask], minlength=npair) > 0

    touch = nd.touch
    # an operand without a piece is empty
    both = some(touch[:, 0]) & some(touch[:, 1])
    a_only = some((left[:, 0] & ~left[:, 1]) | (right[:, 0] & ~right[:, 1]))
    b_only = some((left[:, 1] & ~left[:, 0]) | (right[:, 1] & ~right[:, 0]))
    overlap = some((left[:, 0] & left[:, 1]) | (right[:, 0] & right[:, 1]))
    closed = left | right | touch          # piece in closed A / B
    ends = np.zeros((len(nd.nx), 2), dtype=bool)
    for k in (0, 1):
        ends[nd.lo[touch[:, k]], k] = ends[nd.hi[touch[:, k]], k] = True
    meet = (overlap | some(closed.all(axis=1))
            | some(ends.all(axis=1), _group_of(nd.nbase)))
    return (both & ~b_only & ~some(touch[:, 1] & ~closed[:, 0]),
            both & ~a_only & ~some(touch[:, 0] & ~closed[:, 1]),
            both & overlap, both & meet)


def _stitch(nx, ny, start, end):
    """Rings from one pair's kept directed pieces (see the module
    docstring)."""
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
    """Member grouping [(shell, [holes])] of one ring list of
    robust_boolean output: the one-row call of `members_of_rows`."""
    return members_of_rows([rings])[0]


def members_of_rows(ring_lists):
    """Member grouping [(shell, [holes])] of each ring list of
    robust_boolean output; None for a None list (a failed stitch) and
    for a list with a hole that no shell holds. The rings may TOUCH at
    points (figure-eight contacts); the nesting is `pip.ring_nesting`,
    one call for every list: a ring at even depth is a shell, one at
    odd depth a hole of its parent."""
    from .pip import ring_nesting
    lists = [[(np.asarray(rx, dtype=np.float64),
               np.asarray(ry, dtype=np.float64)) for rx, ry in rings or ()]
             for rings in ring_lists]
    depth, parent = ring_nesting(list_rings(lists))
    depth, parent = depth.tolist(), parent.tolist()
    out = []
    base = 0
    for given, rings in zip(ring_lists, lists):
        members, slot = [], {}
        for i, r in enumerate(rings, base):
            if depth[i] % 2 == 0:
                slot[i] = len(members)
                members.append((r, []))
        for i, r in enumerate(rings, base):
            if depth[i] % 2 == 1:
                if parent[i] < 0:
                    members = None
                    break
                members[slot[parent[i]]][1].append(r)
        out.append(None if given is None else members)
        base += len(rings)
    return out
