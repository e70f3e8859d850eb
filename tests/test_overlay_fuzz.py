"""Seeded fuzz of the noded overlay kernel (kernels/booleans.py) on
grid-snapped star polygons: vertices on an integer grid scaled by 1,
0.1 and 1e-3, so shared vertices, collinear shared edges and vertex-on-
edge touches are common, and at x0.1 / x1e-3 the decimals are not
binary-exact. Only pairs whose rings pass the WKT parser's simplicity
check (kernels.wkt._ring_invalid_reason) are used.

For every pair and each of ∩ ∖ ∪ △:
- robust_boolean settles it (never None);
- the even-odd parity of the output rings equals brute-force PIP of
  the op at sample points clear of every input boundary;
- the area of the output geometry equals the kernel's area measure
  (booleans.boolean_area; for ∩ also overlay.intersection_area) to
  1e-9 · scale².

The N-member union (booleans.union_members) gets the same three checks
on cases of 2-6 members, some holed and some repeated: it settles every
case, its parity equals "any member contains" at the clear probes, and
its stitched area equals its Green's sum (booleans.union_area).

The relate (booleans.relate) and the MULTIPOLYGON member classifier
(booleans.member_overlap) run on the same integer star pairs plus
holed and zero-area cases. Their answers equal a brute-force
classification: every edge is split at every contact by exact integer
tests, and probes just beside each sub-segment's midpoint (clear of
every boundary) give the faces, the midpoints themselves give the
boundary pieces. Scaled by 0.1 and 1e-3, every pair keeps its answer.
"""
import numpy as np
import pytest

from spatial4n_spark.kernels.booleans import (boolean_area, member_overlap,
                                              relate, robust_boolean,
                                              union_area, union_members)
from spatial4n_spark.kernels.overlay import (intersection_area,
                                             polygon_area_evenodd)
from spatial4n_spark.kernels.relation import (CONTAINS, DISJOINT,
                                              INTERSECTS, WITHIN)
from spatial4n_spark.kernels.wkt import _ring_invalid_reason

OPS = {"and": np.logical_and, "or": np.logical_or,
       "sub": lambda a, b: a & ~b, "xor": np.logical_xor}
PAIRS_PER_SCALE = 300
PROBES = 40


def _star(rng, cx, cy):
    """Star-shaped ring with integer vertices (sorted angles, integer
    radii), consecutive duplicates removed."""
    n = int(rng.integers(3, 11))
    th = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
    r = rng.integers(1, 9, n)
    pts = []
    xs, ys = np.round(cx + r * np.cos(th)), np.round(cy + r * np.sin(th))
    for x, y in zip(xs, ys):
        if not pts or pts[-1] != (x, y):
            pts.append((float(x), float(y)))
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts.pop()
    return pts


def _valid(pts):
    return len(set(pts)) >= 3 and _ring_invalid_reason(pts + [pts[0]]) is None


def _pairs(seed, scale):
    rng = np.random.default_rng(seed)
    out = []
    while len(out) < PAIRS_PER_SCALE:
        a = _star(rng, 0, 0)
        b = _star(rng, int(rng.integers(-5, 6)), int(rng.integers(-5, 6)))
        ra = [(x * scale, y * scale) for x, y in a]
        rb = [(x * scale, y * scale) for x, y in b]
        if _valid(ra) and _valid(rb):
            out.append(tuple((np.array([p[0] for p in r]),
                              np.array([p[1] for p in r])) for r in (ra, rb)))
    return out


def _parity(px, py, rings):
    """Even-odd parity of points against a ring list (vectorized)."""
    inside = np.zeros(len(px), dtype=bool)
    for rx, ry in rings:
        x0, y0 = rx[None, :], ry[None, :]
        x1, y1 = np.roll(rx, -1)[None, :], np.roll(ry, -1)[None, :]
        yq = py[:, None]
        cross = (y0 > yq) != (y1 > yq)
        with np.errstate(divide="ignore", invalid="ignore"):
            xat = x0 + (yq - y0) * (x1 - x0) / (y1 - y0)
        inside ^= ((cross & (px[:, None] < xat)).sum(axis=1) & 1).astype(bool)
    return inside


def _boundary_dist(px, py, rings):
    best = np.full(len(px), np.inf)
    for rx, ry in rings:
        x0, y0 = rx[None, :], ry[None, :]
        dx = np.roll(rx, -1)[None, :] - x0
        dy = np.roll(ry, -1)[None, :] - y0
        t = np.clip(((px[:, None] - x0) * dx + (py[:, None] - y0) * dy)
                    / (dx * dx + dy * dy), 0.0, 1.0)
        d = np.hypot(px[:, None] - x0 - t * dx, py[:, None] - y0 - t * dy)
        best = np.minimum(best, d.min(axis=1))
    return best


@pytest.mark.parametrize("scale", [1.0, 0.1, 1e-3])
def test_overlay_fuzz(scale):
    rng = np.random.default_rng(99)
    nones = mismatches = probes = 0
    for A, B in _pairs(int(scale * 1000) + 5, scale):
        px = rng.uniform(-14.0, 14.0, PROBES) * scale
        py = rng.uniform(-14.0, 14.0, PROBES) * scale
        clear = ((_boundary_dist(px, py, [A]) > 1e-6 * scale)
                 & (_boundary_dist(px, py, [B]) > 1e-6 * scale))
        px, py = px[clear], py[clear]
        in_a, in_b = _parity(px, py, [A]), _parity(px, py, [B])
        for op, f in OPS.items():
            res = robust_boolean([A], [B], op)
            if res is None:
                nones += 1
                continue
            mismatches += int((_parity(px, py, res) != f(in_a, in_b)).sum())
            probes += len(px)
            got = polygon_area_evenodd(
                np.concatenate([r[0] for r in res] or [np.empty(0)]),
                np.concatenate([r[1] for r in res] or [np.empty(0)]),
                np.cumsum([0] + [len(r[0]) for r in res]))
            want = boolean_area([A], [B], op)
            if op == "and":
                assert want == intersection_area(*A, None, *B, None)
            assert abs(got - want) <= 1e-9 * scale ** 2, (A, B, op, got, want)
    assert nones == 0
    assert mismatches == 0
    assert probes > PAIRS_PER_SCALE * 4 * PROBES // 2


UNION_CASES_PER_SCALE = 150


def _holed(rng, cx, cy):
    """Star shell (radii 5-8) with a star hole (radii 1-2) inside the
    disc of radius 3 the shell clears, or None when the shell does not
    clear it."""
    while True:
        n = int(rng.integers(5, 11))
        th = np.sort(rng.uniform(0.0, 2.0 * np.pi, n))
        r = rng.integers(5, 9, n)
        shell = list(dict.fromkeys(zip(np.round(cx + r * np.cos(th)),
                                       np.round(cy + r * np.sin(th)))))
        if _valid(shell):
            break
    sx, sy = np.array(shell).T
    if _boundary_dist(np.array([cx]), np.array([cy]), [(sx, sy)])[0] <= 3.0:
        return None
    while True:
        m = int(rng.integers(3, 7))
        ph = np.sort(rng.uniform(0.0, 2.0 * np.pi, m))
        q = rng.integers(1, 3, m)
        hole = list(dict.fromkeys(zip(np.round(cx + q * np.cos(ph)),
                                      np.round(cy + q * np.sin(ph)))))
        if _valid(hole):
            return [shell, hole]


def _union_cases(seed, scale):
    """2-6 members per case: stars, holed stars, repeats (rotated,
    reversed or as is), all scaled."""
    rng = np.random.default_rng(seed)
    out = []
    while len(out) < UNION_CASES_PER_SCALE:
        members = []
        for _ in range(int(rng.integers(2, 7))):
            c = int(rng.integers(-5, 6)), int(rng.integers(-5, 6))
            pick = rng.random()
            if members and pick < 0.15:
                rings = members[int(rng.integers(len(members)))]
                k = int(rng.integers(1, 3))
                rings = [r[k:] + r[:k] if pick < 0.1 else r[::-1]
                         for r in rings]
            elif pick < 0.4:
                rings = _holed(rng, *c)
                if rings is None:
                    continue
            else:
                rings = [_star(rng, *c)]
                if not _valid(rings[0]):
                    continue
            members.append(rings)
        if len(members) >= 2:
            out.append([[(np.array([p[0] for p in r]) * scale,
                          np.array([p[1] for p in r]) * scale)
                         for r in rings] for rings in members])
    return out


@pytest.mark.parametrize("scale", [1.0, 0.1, 1e-3])
def test_union_fuzz(scale):
    rng = np.random.default_rng(7)
    mismatches = probes = holed = repeats = 0
    for members in _union_cases(int(scale * 1000) + 11, scale):
        holed += any(len(m) > 1 for m in members)
        keys = [frozenset((x, y) for r in m for x, y in zip(*r))
                for m in members]
        repeats += len(set(keys)) < len(keys)
        rings = [r for m in members for r in m]
        px = rng.uniform(-14.0, 14.0, PROBES) * scale
        py = rng.uniform(-14.0, 14.0, PROBES) * scale
        clear = _boundary_dist(px, py, rings) > 1e-6 * scale
        px, py = px[clear], py[clear]
        want = np.zeros(len(px), dtype=bool)
        for m in members:
            want |= _parity(px, py, m)
        res = union_members(members)
        assert res is not None, members
        mismatches += int((_parity(px, py, res) != want).sum())
        probes += len(px)
        got = polygon_area_evenodd(
            np.concatenate([r[0] for r in res] or [np.empty(0)]),
            np.concatenate([r[1] for r in res] or [np.empty(0)]),
            np.cumsum([0] + [len(r[0]) for r in res]))
        assert abs(got - union_area(members)) <= 1e-9 * scale ** 2
    assert mismatches == 0
    assert holed > UNION_CASES_PER_SCALE // 4
    assert repeats > UNION_CASES_PER_SCALE // 10
    assert probes > UNION_CASES_PER_SCALE * PROBES // 2


def _zero_area(rng, cx, cy):
    """Zero-area ring on the grid: out along a line and straight back,
    e.g. POLYGON((-1 0, -1 -3, -1 -6, -1 0)), which the parser accepts."""
    dx, dy = [(1, 0), (0, 1), (1, 1), (1, -1), (2, 1)][int(rng.integers(5))]
    k1 = int(rng.integers(1, 5))
    k2 = k1 + int(rng.integers(1, 5))
    return [(cx, cy), (cx + k1 * dx, cy + k1 * dy), (cx + k2 * dx, cy + k2 * dy)]


def _relate_cases(seed):
    """The star pairs of `_pairs`, then holed stars and zero-area rings
    against stars, holed stars and each other, as integer ring lists."""
    def arr(rings):
        return [(np.array([p[0] for p in r], dtype=float),
                 np.array([p[1] for p in r], dtype=float)) for r in rings]
    out = [([a], [b]) for a, b in _pairs(seed, 1.0)]
    rng = np.random.default_rng(seed)
    while len(out) < 2 * PAIRS_PER_SCALE:
        sides = []
        for kind in rng.integers(0, 3, 2):
            c = int(rng.integers(-5, 6)), int(rng.integers(-5, 6))
            if kind == 0:
                rings = [_star(rng, *c)]
                rings = rings if _valid(rings[0]) else None
            elif kind == 1:
                rings = _holed(rng, *c)
            else:
                rings = [_zero_area(rng, *c)]
            sides.append(rings)
        if all(sides):
            out.append(tuple(arr(r) for r in sides))
    return out


def _edge_list(rings):
    """(x0, y0, x1, y1) of every edge of positive length."""
    return [(x0, y0, x1, y1) for rx, ry in rings
            for x0, y0, x1, y1 in zip(rx, ry, np.roll(rx, -1), np.roll(ry, -1))
            if (x0, y0) != (x1, y1)]


def _cuts(e, others):
    """Parameters t in [0, 1] at which edge e meets any of `others`
    (exact on integer coordinates), and whether it meets one at all."""
    x0, y0, x1, y1 = e
    rx, ry = x1 - x0, y1 - y0
    ts, hit = {0.0, 1.0}, False
    for a0, b0, a1, b1 in others:
        sx, sy = a1 - a0, b1 - b0
        qx, qy = a0 - x0, b0 - y0
        den = rx * sy - ry * sx
        if den != 0:
            t = (qx * sy - qy * sx) / den
            u = (qx * ry - qy * rx) / den
            if 0 <= t <= 1 and 0 <= u <= 1:
                ts.add(t)
                hit = True
        elif qx * ry - qy * rx == 0:   # collinear: clip the other's ends
            rr = rx * rx + ry * ry
            ta = (qx * rx + qy * ry) / rr
            tb = ((a1 - x0) * rx + (b1 - y0) * ry) / rr
            if max(min(ta, tb), 0.0) <= min(max(ta, tb), 1.0):
                ts.update(min(max(t, 0.0), 1.0) for t in (ta, tb))
                hit = True
    return sorted(ts), hit


def _truth(A, B):
    """(A covers B, B covers A, interiors overlap, closed sets meet) by
    brute force; see the module docstring."""
    ea, eb = _edge_list(A), _edge_list(B)
    contact = False
    mids = ([], [])
    px, py = [], []
    for k, (mine, other) in enumerate(((ea, eb), (eb, ea))):
        for e in mine:
            ts = _cuts(e, ea + eb)[0]
            contact |= _cuts(e, other)[1]
            x0, y0, x1, y1 = e
            ln = np.hypot(x1 - x0, y1 - y0)
            for t0, t1 in zip(ts[:-1], ts[1:]):
                tm = (t0 + t1) / 2
                mx, my = x0 + tm * (x1 - x0), y0 + tm * (y1 - y0)
                mids[k].append((mx, my))
                for side in (1e-6, -1e-6):
                    px.append(mx - side * (y1 - y0) / ln)
                    py.append(my + side * (x1 - x0) / ln)
    px, py = np.array(px), np.array(py)
    clear = _boundary_dist(px, py, A + B) > 2e-7
    px, py = px[clear], py[clear]
    in_a, in_b = _parity(px, py, A), _parity(px, py, B)

    def closed(pts, rings):
        qx, qy = np.array(pts).T
        return _parity(qx, qy, rings) | (_boundary_dist(qx, qy, rings)
                                         <= 1e-9)
    a_on_b, b_on_a = closed(mids[0], B), closed(mids[1], A)
    overlap = bool((in_a & in_b).any())
    return (not (in_b & ~in_a).any() and b_on_a.all(),
            not (in_a & ~in_b).any() and a_on_b.all(), overlap,
            overlap or contact or a_on_b.any() or b_on_a.any())


def test_relate_fuzz():
    """relate and member_overlap equal the brute-force classification
    on star, holed and zero-area pairs, and every code occurs."""
    seen = set()
    for A, B in _relate_cases(7):
        a_b, b_a, overlap, meet = _truth(A, B)
        want = (CONTAINS if a_b else WITHIN if b_a
                else INTERSECTS if meet else DISJOINT)
        assert relate(A, B) == want, (A, B)
        kind = ("a_contains_b" if a_b else "b_contains_a" if b_a
                else "cross" if overlap else "none")
        assert member_overlap(A, B) == kind, (A, B)
        seen.add((want, kind))
    assert {c for c, _ in seen} == {CONTAINS, WITHIN, INTERSECTS, DISJOINT}
    assert {k for _, k in seen} == {"a_contains_b", "b_contains_a",
                                    "cross", "none"}


@pytest.mark.parametrize("scale", [0.1, 1e-3])
def test_relate_scale_invariant(scale):
    """Grid-snapped decimals answer as their integer originals do."""
    for A, B in _relate_cases(8):
        sa = [(rx * scale, ry * scale) for rx, ry in A]
        sb = [(rx * scale, ry * scale) for rx, ry in B]
        assert relate(sa, sb) == relate(A, B), (A, B)
        assert member_overlap(sa, sb) == member_overlap(A, B), (A, B)
