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
"""
import numpy as np
import pytest

from spatial4n_spark.kernels.booleans import (boolean_area, robust_boolean,
                                              union_area, union_members)
from spatial4n_spark.kernels.overlay import (intersection_area,
                                             polygon_area_evenodd)
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
