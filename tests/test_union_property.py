"""Monte-Carlo property sweep for the N-member union of the noded
overlay kernel (kernels/booleans.union_members): for VALID simple
rings, even-odd PIP over the union output must equal PIP(A) OR PIP(B)
at every sample point — the reference's collection-fold semantics
(NtsGeometry.cs:64-94 UnionGeometryCollection) expressed as a point
oracle — and the union must settle every pair.

Inputs are random star polygons REJECTED through the engine's own ring
validator (`_ring_invalid_reason`) — the members are valid simple
rings (the WKT parser validates upstream); a
sorted-angle star polygon is NOT automatically simple (an angular gap
> pi sends that edge through other wedges), which is exactly the class
of invalid input the validator exists to reject.
"""
import numpy as np

from spatial4n_spark.kernels.booleans import _open_ccw, union_members
from spatial4n_spark.kernels.pip import points_in_polygon
from spatial4n_spark.kernels.wkt import _ring_invalid_reason


def _star(rng, cx, cy, rmin, rmax, n):
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform(rmin, rmax, n)
    return cx + r * np.cos(th), cy + r * np.sin(th)


def _valid(xs, ys):
    ring = list(zip(xs.tolist(), ys.tolist())) + [(float(xs[0]),
                                                   float(ys[0]))]
    return _ring_invalid_reason(ring) is None


def _pip(rings, px, py):
    xs = np.concatenate([np.asarray(r[0]) for r in rings])
    ys = np.concatenate([np.asarray(r[1]) for r in rings])
    off = [0]
    for r in rings:
        off.append(off[-1] + len(r[0]))
    return points_in_polygon(px, py, xs, ys, np.array(off))


def test_union_rings_matches_pip_fold():
    rng = np.random.default_rng(7)
    unioned = 0
    for _ in range(150):
        a = _star(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), 0.5, 2.0,
                  int(rng.integers(3, 12)))
        b = _star(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), 0.5, 2.0,
                  int(rng.integers(3, 12)))
        if not (_valid(*a) and _valid(*b)):
            continue
        u = union_members([[a], [b]])
        assert u is not None
        unioned += 1
        px = rng.uniform(-4, 4, 600)
        py = rng.uniform(-4, 4, 600)
        got = _pip(u, px, py)
        want = _pip([_open_ccw(*a)], px, py) | _pip([_open_ccw(*b)], px, py)
        bad = np.nonzero(got != want)[0]
        assert bad.size == 0, \
            f"union PIP mismatch at {[(px[i], py[i]) for i in bad[:5]]}"
    assert unioned >= 40  # the sweep must actually exercise the kernel


def test_union_many_three_rings_matches_pip_fold():
    rng = np.random.default_rng(11)
    checked = 0
    for _ in range(50):
        rs = []
        attempts = 0
        while len(rs) < 3 and attempts < 200:
            attempts += 1
            p = _star(rng, rng.uniform(-1.5, 1.5), rng.uniform(-1.5, 1.5),
                      0.5, 1.8, int(rng.integers(3, 10)))
            if _valid(*p):
                rs.append(_open_ccw(*p))
        if len(rs) < 3:
            continue
        out = union_members([[r] for r in rs])
        assert out is not None
        checked += 1
        px = rng.uniform(-5, 5, 600)
        py = rng.uniform(-5, 5, 600)
        got = _pip(out, px, py)
        want = _pip([rs[0]], px, py) | _pip([rs[1]], px, py) \
            | _pip([rs[2]], px, py)
        bad = np.nonzero(got != want)[0]
        assert bad.size == 0, \
            f"three-member union PIP mismatch at {[(px[i], py[i]) for i in bad[:5]]}"
    assert checked >= 30
