"""Polygon-union kernel for allowMultiOverlap (NtsGeometry.cs:64-94:
``if (allowMultiOverlap) geom = UnionGeometryCollection(geom)`` —
overlapping members of a MULTIPOLYGON are unioned at construction so
downstream relate logic sees disjoint components).

From-scratch Greiner–Hormann boundary traversal over two simple CCW
rings with PROPER boundary crossings. Degenerate contact (shared
vertices, vertex-on-edge, collinear overlapping edges) returns None —
the caller falls back to the validation rule. Output is a ring LIST in
even-odd form: one outer ring plus any pocket holes two interlocking
C-shapes can enclose; the engine's global even-odd PIP consumes that
directly.

Scale note: this runs inside the Arrow parse batch, per shape — cost is
O(|A|·|B|) per overlapping member pair, on shapes that are tiny next to
the row counts around them.
"""
from __future__ import annotations

import numpy as np


def _roll1(a):
    """np.roll(a, -1) without np.roll's dispatch overhead (hot path:
    hundreds of calls per GH op on small rings)."""
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


def _point_in_ring_strict(px, py, xs, ys) -> bool:
    """Strict interior test (boundary excluded); callers guarantee the
    point is not on the boundary (degenerate contact already bailed)."""
    inside = False
    n = len(xs)
    for i in range(n):
        ax, ay = xs[i], ys[i]
        bx, by = xs[(i + 1) % n], ys[(i + 1) % n]
        if (ay > py) != (by > py):
            x_at = ax + (py - ay) * (bx - ax) / (by - ay)
            if px < x_at:
                inside = not inside
    return inside


class _Node:
    __slots__ = ("x", "y", "nxt", "prv", "inter", "twin", "entry",
                 "visited")

    def __init__(self, x, y, inter=False):
        self.x = x
        self.y = y
        self.nxt = None
        self.prv = None
        self.inter = inter
        self.twin = None
        self.entry = False
        self.visited = False


def _build_list(xs, ys, inters_per_edge):
    """Circular doubly-linked list of ring vertices with intersection
    nodes spliced in t-order along each edge. Returns (head,
    intersection nodes)."""
    nodes = []
    inter_nodes = []
    n = len(xs)
    for i in range(n):
        nodes.append(_Node(xs[i], ys[i]))
        for _, node in sorted(inters_per_edge.get(i, []), key=lambda e: e[0]):
            nodes.append(node)
            inter_nodes.append(node)
    for i, nd in enumerate(nodes):
        nd.nxt = nodes[(i + 1) % len(nodes)]
        nodes[(i + 1) % len(nodes)].prv = nd
    return nodes[0], inter_nodes


def rings_properly_overlap(ax, ay, bx, by):
    """(overlap, degenerate).

    overlap: INTERIORS intersect — proper boundary crossings, or a
    vertex of one ring strictly inside the other (boundary-aware: a
    vertex lying ON the other boundary is skipped, so dateline-cut
    pages and touching real-world members don't false-positive).
    Boundary contact alone (shared vertices/edges, common in corpus
    multipolygons and at ±180 page cuts) keeps even-odd parity correct
    and reports (False, False) — the reference's ShapeCollection
    accepts such members untouched. degenerate: overlap accompanied by
    point/line boundary contact, which the union traversal can't node.

    Documented blind spot: rings whose EVERY vertex lies on the other
    ring's boundary (e.g. bit-identical members) pass undetected."""
    ax, ay = _open_ccw(ax, ay)
    bx, by = _open_ccw(bx, by)
    crossings, point_touch, line_touch = _edge_crossings(ax, ay, bx, by)
    degen = point_touch or line_touch
    # ANY surviving proper crossing means interior overlap: the
    # endpoint-epsilon filter inside _edge_crossings already removed
    # the near-tangent slivers dateline page cuts leave along ±180
    # (verified 0 survivors across the fiji/russia corpora), and an
    # odd count simply means the boundary pair closes through shared
    # segments (the reference's TestParseMultiPolygon fixture).
    if crossings:
        return True, degen
    from .pip import _ring_parity_and_boundary
    in_a, bnd_a = _ring_parity_and_boundary(ax, ay, bx, by)
    if _deep_inside(ax, ay, in_a & ~bnd_a, [(bx, by)]):
        return True, degen
    in_b, bnd_b = _ring_parity_and_boundary(bx, by, ax, ay)
    if _deep_inside(bx, by, in_b & ~bnd_b, [(ax, ay)]):
        return True, degen
    # vertex probes can ALL land on the other boundary while the
    # interiors still overlap (two squares sharing collinear edge
    # segments with offset spans): under degenerate contact, fall back
    # to sub-segment midpoint probes before declaring disjoint.
    if degen and _degen_interior_overlap([(ax, ay)], [(bx, by)]):
        return True, True
    return False, False


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
    """(kind, degen) between two multipolygon MEMBERS, each a list of
    (xs, ys) rings in even-odd form (shell + holes + dateline pages).

    kind: 'none' (interiors disjoint; boundary touching allowed),
    'cross' (boundaries cross transversally), 'a_contains_b' /
    'b_contains_a' (one member's interior swallows the other).
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
                return "cross", degen

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
        # union-by-drop is correct; classify as a degenerate cross so
        # the resolver takes the infeasible-union path (error / hull)
        # instead of silently keeping a phantom hole.
        return "cross", True
    if b_in_a:
        return "a_contains_b", degen
    if a_in_b:
        return "b_contains_a", degen
    # degenerate contact with every vertex probe on the other boundary
    # can hide a real interior overlap (collinear shared edge segments
    # with offset spans) — probe sub-segment midpoints before calling
    # the pair touch-only; a hit classifies as a degenerate cross so
    # the resolver takes the infeasible-union path instead of an
    # even-odd merge that would XOR the overlap into a phantom hole.
    if degen and _degen_interior_overlap(opened_a, opened_b):
        return "cross", True
    return "none", degen


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
    touching, but unsupported by the union traversal); line_touch =
    collinear edges sharing positive length (invalid contact)."""
    # one-slot memo: union_many's overlap test and the union traversal
    # ask for the SAME pair back to back (both normalize via _open_ccw,
    # so the arrays are value-identical) — reuse instead of recomputing
    # the crossing grid. Single-threaded per task; one pair retained.
    key = (ax.tobytes(), ay.tobytes(), bx.tobytes(), by.tobytes())
    if _XC_MEMO.get("key") == key:
        return _XC_MEMO["val"]
    na, nb = len(ax), len(bx)
    a2x, a2y = _roll1(ax), _roll1(ay)
    b2x, b2y = _roll1(bx), _roll1(by)
    out = []
    point_touch = False
    line_touch = False
    # fully vectorized over the (na x nb) edge-pair grid, blocked so a
    # pair of large corpus rings never materializes gigabyte grids
    # (r5: the old per-edge-i loop paid ~40 numpy dispatches per edge —
    # 2 ms per call, the dominant cost of every strip-union buffer /
    # multi-overlap union)
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
    _XC_MEMO["key"] = key
    _XC_MEMO["val"] = (out, point_touch, line_touch)
    return out, point_touch, line_touch


_XC_MEMO: dict = {}


def union_rings(ax, ay, bx, by):
    """Union of two simple rings -> list of (xs, ys) rings in even-odd
    form (outer ring CCW; pocket holes come out CW — orientation is
    irrelevant to the engine's even-odd PIP). Returns None on
    degenerate boundary contact. Greiner–Hormann traversal."""
    ax, ay = _open_ccw(ax, ay)
    bx, by = _open_ccw(bx, by)
    crossings, point_touch, line_touch = _edge_crossings(ax, ay, bx, by)
    if point_touch or line_touch:
        return None
    if not crossings:
        if _point_in_ring_strict(ax[0], ay[0], bx, by):
            return [(bx, by)]
        if _point_in_ring_strict(bx[0], by[0], ax, ay):
            return [(ax, ay)]
        return [(ax, ay), (bx, by)]

    a_edges: dict = {}
    b_edges: dict = {}
    for i, t, j, u, x, y in crossings:
        na_ = _Node(x, y, inter=True)
        nb_ = _Node(x, y, inter=True)
        na_.twin = nb_
        nb_.twin = na_
        a_edges.setdefault(i, []).append((t, na_))
        b_edges.setdefault(j, []).append((u, nb_))
    a_head, a_inters = _build_list(ax, ay, a_edges)
    b_head, _ = _build_list(bx, by, b_edges)

    # entry/exit marking: walk each list; status flips at every proper
    # crossing. node.entry == True means the walk ENTERS the other ring
    # at this node.
    for head, ox, oy in ((a_head, bx, by), (b_head, ax, ay)):
        inside = _point_in_ring_strict(head.x, head.y, ox, oy)
        nd = head
        while True:
            if nd.inter:
                nd.entry = not inside
                inside = not inside
            nd = nd.nxt
            if nd is head:
                break

    # traversal: follow a list, jumping to the twin at every crossing,
    # starting at EXIT nodes (the piece of the list ahead is OUTSIDE
    # the other ring) — at the next crossing the twin's forward piece
    # continues the same status. Starting from every unvisited exit
    # node extracts every output loop (pocket holes included). A step
    # guard bounds the walk; exceeding it means inconsistent links
    # (possible only under near-degenerate float geometry) -> None.
    max_steps = 4 * (len(ax) + len(bx) + 2 * len(crossings))
    rings = []
    for start in a_inters:
        if start.visited or start.entry:
            continue
        start.visited = True
        start.twin.visited = True
        loop_x, loop_y = [start.x], [start.y]
        nd = start.nxt
        steps = 0
        while True:
            steps += 1
            if steps > max_steps:
                return None
            if nd.inter:
                if nd.visited:
                    break
                nd.visited = True
                nd.twin.visited = True
                loop_x.append(nd.x)
                loop_y.append(nd.y)
                nd = nd.twin.nxt
            else:
                loop_x.append(nd.x)
                loop_y.append(nd.y)
                nd = nd.nxt
        if len(loop_x) >= 3:
            rings.append((np.asarray(loop_x), np.asarray(loop_y)))
    return rings


def union_many(rings):
    """Union a list of simple rings [(xs, ys), ...] by pairwise
    Greiner–Hormann passes until no two PRIMARY rings overlap.

    Worklist to fixpoint: when an incoming ring merges with a primary,
    the merged primary goes BACK on the worklist so it re-tests against
    every remaining primary — a bridge ring spanning two previously
    disjoint members must union with both, or the survivors' overlap
    would XOR into a phantom even-odd hole. Each merge reduces the
    primary count by one, so the loop terminates. Pocket-hole rings
    produced by a pairwise union join the output passively (even-odd),
    documented limitation: a later ring that overlaps a pocket hole is
    not re-clipped against it. Returns None on degenerate contact
    anywhere."""
    out: list = []
    holes: list = []
    work = [(np.asarray(rx, dtype=np.float64),
             np.asarray(ry, dtype=np.float64)) for rx, ry in rings]
    while work:
        rx, ry = work.pop(0)
        bb = (rx.min(), rx.max(), ry.min(), ry.max())
        merged = False
        for k in range(len(out)):
            ox, oy = out[k]
            # bbox fast reject: STRICTLY disjoint boxes can neither
            # overlap nor touch — skip the full crossing detection
            # (touching boxes still take the full check)
            if (bb[0] > ox.max() or ox.min() > bb[1]
                    or bb[2] > oy.max() or oy.min() > bb[3]):
                continue
            overlap, degen = rings_properly_overlap(rx, ry, ox, oy)
            if degen:
                return None
            if overlap:
                # pocket shield (r5): "overlap" with no boundary
                # crossings is pure ring containment — but a blob
                # sitting inside one of the accumulated POCKET holes is
                # REGION-disjoint from the primary (the pocket is not
                # part of the union region) and must stay a separate
                # primary, not be absorbed into the enclosing ring.
                # (Erosion strips hit this: a hole's grown blob lives
                # inside the shell strip's pocket.)
                axo, ayo = _open_ccw(rx, ry)
                bxo, byo = _open_ccw(ox, oy)
                cr, _, _ = _edge_crossings(axo, ayo, bxo, byo)  # memoized
                if not cr:
                    if _point_in_ring_strict(axo[0], ayo[0], bxo, byo):
                        inx, iny = axo, ayo
                    else:
                        inx, iny = bxo, byo
                    if any(_point_in_ring_strict(inx[0], iny[0], hx, hy)
                           for hx, hy in holes):
                        continue
                u = union_rings(rx, ry, ox, oy)
                if u is None:
                    return None
                # largest-area ring is the merged primary -> re-queue;
                # extras are pocket holes and join passively
                u.sort(key=lambda r: -abs(_signed_area2(r[0], r[1])))
                del out[k]
                holes.extend(u[1:])
                work.append(u[0])
                merged = True
                break
        if not merged:
            out.append((rx, ry))
    return out + holes
