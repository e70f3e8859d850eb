"""Even-odd boolean geometry from the noded overlay kernel
(kernels/booleans.robust_boolean) for ∩ ∖ ∪ △ — brute-force parity and
area-vs-overlay-measure equivalence.

Reference parity target: NTS Geometry.Intersection semantics
(Spatial4n.Core.NTS/Shapes/Nts/NtsGeometry.cs relate/op surface).
"""
import numpy as np
import pytest

from spatial4n_spark.kernels.booleans import (members_of_robust,
                                              robust_boolean)
from spatial4n_spark.kernels.overlay import (intersection_area,
                                             polygon_area_evenodd)


def _point_in_ring_strict(px, py, xs, ys) -> bool:
    """Crossing-parity point-in-ring oracle (callers keep the point off
    the boundary)."""
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


def _parity(px, py, rings):
    return sum(_point_in_ring_strict(px, py, rx, ry)
               for rx, ry in rings) % 2


def _rand_ring(rng, cx, cy, n, rmin, rmax):
    """Simple ring: evenly-spaced angular sectors + jitter keeps every
    wedge under pi, so edges stay in their sector and never cross."""
    th = 2 * np.pi * np.arange(n) / n + rng.uniform(0, 0.9 * 2 * np.pi / n, n)
    r = rng.uniform(rmin, rmax, n)
    return cx + r * np.cos(th), cy + r * np.sin(th)


def _near_any(px, py, ringlist, eps=1e-6):
    for xs, ys in ringlist:
        n = len(xs)
        for i in range(n):
            x1, y1, x2, y2 = xs[i], ys[i], xs[(i + 1) % n], ys[(i + 1) % n]
            dx, dy = x2 - x1, y2 - y1
            L2 = dx * dx + dy * dy
            t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - x1) * dx
                                                       + (py - y1) * dy) / L2))
            if np.hypot(px - (x1 + t * dx), py - (y1 + t * dy)) < eps:
                return True
    return False


def test_difference_randomized_parity():
    """A \\ B over random simple concave rings: every clean probe
    matches (in A) and not (in B)."""
    rng = np.random.default_rng(42)
    checked = 0
    for _ in range(150):
        ax, ay = _rand_ring(rng, 0, 0, int(rng.integers(4, 14)), 1.0, 5.0)
        bx, by = _rand_ring(rng, rng.uniform(-4, 4), rng.uniform(-4, 4),
                            int(rng.integers(4, 14)), 1.0, 5.0)
        res = robust_boolean([(ax, ay)], [(bx, by)], "sub")
        assert res is not None
        for _ in range(30):
            px, py = rng.uniform(-8, 8), rng.uniform(-8, 8)
            if _near_any(px, py, [(ax, ay), (bx, by)]):
                continue
            want = (_point_in_ring_strict(px, py, ax, ay)
                    and not _point_in_ring_strict(px, py, bx, by))
            assert (_parity(px, py, res) == 1) == want, (px, py)
            checked += 1
    assert checked > 2000


def test_difference_hole_and_split():
    sq = (np.array([0.0, 10, 10, 0]), np.array([0.0, 0, 10, 10]))
    # B inside A -> A keeps B as a hole ring
    res = robust_boolean([sq], [(np.array([4.0, 6, 6, 4]),
                                 np.array([4.0, 4, 6, 6]))], "sub")
    assert len(res) == 2
    assert _parity(5, 5, res) == 0 and _parity(1, 5, res) == 1
    # B a bar through the middle -> A splits into two components
    res = robust_boolean([sq], [(np.array([-1.0, 11, 11, -1]),
                                 np.array([4.0, 4, 6, 6]))], "sub")
    assert len(res) == 2
    assert _parity(5, 2, res) == 1 and _parity(5, 8, res) == 1
    assert _parity(5, 5, res) == 0
    # A inside B -> empty
    assert robust_boolean([sq], [(np.array([-1.0, 11, 11, -1]),
                                  np.array([-1.0, -1, 11, 11]))],
                          "sub") == []


def _rand_shape(rng, cx, cy):
    """Shell + up to two holes strictly inside and mutually disjoint."""
    rings = []
    sx, sy = _rand_ring(rng, cx, cy, int(rng.integers(5, 12)), 3.0, 6.0)
    rings.append((sx, sy))
    for _ in range(int(rng.integers(0, 3))):
        hx, hy = _rand_ring(rng, cx + rng.uniform(-1, 1),
                            cy + rng.uniform(-1, 1),
                            int(rng.integers(4, 8)), 0.4, 1.4)
        ok = all(_point_in_ring_strict(hx[i], hy[i], sx, sy)
                 for i in range(len(hx)))
        for ox, oy in rings[1:]:
            if ok and not (hx.max() < ox.min() or ox.max() < hx.min()
                           or hy.max() < oy.min() or oy.max() < hy.min()):
                ok = False
        if ok:
            rings.append((hx, hy))
    return rings


def _pack(rl):
    xs = np.concatenate([r[0] for r in rl])
    ys = np.concatenate([r[1] for r in rl])
    off = np.cumsum([0] + [len(r[0]) for r in rl])
    return xs, ys, off


def test_intersect_evenodd_randomized_parity_and_area():
    """Holed x holed random pairs: probe parity matches (in A) and
    (in B); the output geometry's even-odd area equals the overlay
    AREA measure intersection_area (stitched rings vs the Green's sum
    over the kept pieces)."""
    rng = np.random.default_rng(7)
    checked = pairs = 0
    for _ in range(120):
        A = _rand_shape(rng, 0, 0)
        B = _rand_shape(rng, rng.uniform(-5, 5), rng.uniform(-5, 5))
        flat = robust_boolean(A, B, "and")
        assert flat is not None
        pairs += 1
        for _ in range(30):
            px, py = rng.uniform(-11, 11), rng.uniform(-11, 11)
            if _near_any(px, py, A) or _near_any(px, py, B):
                continue
            want = _parity(px, py, A) == 1 and _parity(px, py, B) == 1
            assert (_parity(px, py, flat) == 1) == want, (px, py)
            checked += 1
        area_geom = (polygon_area_evenodd(*_pack(flat)) if flat else 0.0)
        area_kernel = intersection_area(*_pack(A), *_pack(B))
        assert area_geom == pytest.approx(area_kernel, rel=1e-9, abs=1e-12)
    assert pairs > 80 and checked > 1500


def test_intersect_evenodd_pocket_island():
    """Interlocking C-holes pinch off a pocket the holes do NOT cover:
    it must come back as an island member of the intersection."""
    sq_a = (np.array([0.0, 20, 20, 0]), np.array([0.0, 0, 20, 20]))
    sq_b = (np.array([-1.0, 21, 21, -1]), np.array([-1.0, -1, 21, 21]))
    c1 = (np.array([5.0, 12, 12, 7, 7, 12, 12, 5]),
          np.array([5.0, 5, 7, 7, 13, 13, 15, 15]))
    c2 = (np.array([17.0, 10, 10, 15, 15, 10, 10, 17]),
          np.array([16.0, 16, 14, 14, 6, 6, 4, 4]))
    res = members_of_robust(robust_boolean([sq_a, c1], [sq_b, c2], "and"))
    assert res is not None and len(res) == 2  # main member + island
    flat = []
    for sh, hl in res:
        flat.append(sh)
        flat.extend(hl)
    # (13, 10) is in neither hole -> in A and in B -> in the result
    assert _parity(13, 10, flat) == 1
    # a point inside hole C1 -> not in the result
    assert _parity(6, 6, flat) == 0


def test_members_of_nesting():
    """Island-in-hole (depth 2) becomes its own member."""
    shell = (np.array([0.0, 20, 20, 0]), np.array([0.0, 0, 20, 20]))
    hole = (np.array([5.0, 15, 15, 5]), np.array([5.0, 5, 15, 15]))
    island = (np.array([8.0, 12, 12, 8]), np.array([8.0, 8, 12, 12]))
    ms = members_of_robust([shell, hole, island])
    assert len(ms) == 2
    n_holes = sorted(len(h) for _, h in ms)
    assert n_holes == [0, 1]


def test_difference_evenodd_randomized_parity():
    """A \\ B over random holed shapes: probe parity matches
    (in A) and not (in B)."""
    rng = np.random.default_rng(11)
    checked = pairs = 0
    for _ in range(100):
        A = _rand_shape(rng, 0, 0)
        B = _rand_shape(rng, rng.uniform(-5, 5), rng.uniform(-5, 5))
        flat = robust_boolean(A, B, "sub")
        assert flat is not None
        pairs += 1
        for _ in range(30):
            px, py = rng.uniform(-11, 11), rng.uniform(-11, 11)
            if _near_any(px, py, A) or _near_any(px, py, B):
                continue
            want = _parity(px, py, A) == 1 and _parity(px, py, B) == 0
            assert (_parity(px, py, flat) == 1) == want, (px, py)
            checked += 1
    assert pairs > 70 and checked > 1200


def test_difference_evenodd_hole_donation():
    """Subtracting a member whose HOLE overlaps A: the region of A
    inside B's hole survives as a member of its own."""
    A = [(np.array([2.0, 8, 8, 2]), np.array([2.0, 2, 8, 8]))]
    B = [(np.array([0.0, 10, 10, 0]), np.array([0.0, 0, 10, 10])),
         (np.array([4.0, 6, 6, 4]), np.array([4.0, 4, 6, 6]))]
    res = members_of_robust(robust_boolean(A, B, "sub"))
    assert res is not None and len(res) == 1
    flat = [res[0][0]] + res[0][1]
    assert _parity(5, 5, flat) == 1      # inside B's hole -> survives
    assert _parity(3, 3, flat) == 0      # covered by B proper -> gone


def test_union_evenodd_randomized_parity_and_area():
    """A ∪ B over random holed shapes: parity == (in A) or (in B);
    area(union) == aA + aB − intersection_area (inclusion-exclusion
    against the overlay measure)."""
    rng = np.random.default_rng(21)
    checked = pairs = 0
    for _ in range(100):
        A = _rand_shape(rng, 0, 0)
        B = _rand_shape(rng, rng.uniform(-5, 5), rng.uniform(-5, 5))
        flat = robust_boolean(A, B, "or")
        assert flat is not None
        pairs += 1
        for _ in range(30):
            px, py = rng.uniform(-11, 11), rng.uniform(-11, 11)
            if _near_any(px, py, A) or _near_any(px, py, B):
                continue
            want = _parity(px, py, A) == 1 or _parity(px, py, B) == 1
            assert (_parity(px, py, flat) == 1) == want, (px, py)
            checked += 1
        a_area = polygon_area_evenodd(*_pack(A))
        b_area = polygon_area_evenodd(*_pack(B))
        inter = intersection_area(*_pack(A), *_pack(B))
        got = polygon_area_evenodd(*_pack(flat))
        assert got == pytest.approx(a_area + b_area - inter,
                                    rel=1e-9, abs=1e-12)
    assert pairs > 70 and checked > 1200


def test_sym_difference_evenodd_randomized_parity():
    """A △ B over random holed shapes: parity == (in A) XOR (in B);
    area == aA + aB − 2·intersection."""
    rng = np.random.default_rng(31)
    checked = pairs = 0
    for _ in range(80):
        A = _rand_shape(rng, 0, 0)
        B = _rand_shape(rng, rng.uniform(-5, 5), rng.uniform(-5, 5))
        flat = robust_boolean(A, B, "xor")
        assert flat is not None
        pairs += 1
        for _ in range(25):
            px, py = rng.uniform(-11, 11), rng.uniform(-11, 11)
            if _near_any(px, py, A) or _near_any(px, py, B):
                continue
            want = (_parity(px, py, A) == 1) != (_parity(px, py, B) == 1)
            assert (_parity(px, py, flat) == 1) == want, (px, py)
            checked += 1
        want_area = (polygon_area_evenodd(*_pack(A))
                     + polygon_area_evenodd(*_pack(B))
                     - 2.0 * intersection_area(*_pack(A), *_pack(B)))
        got = polygon_area_evenodd(*_pack(flat)) if flat else 0.0
        assert got == pytest.approx(want_area, rel=1e-9, abs=1e-9)
    assert pairs > 55 and checked > 800


def test_empty_operand_member_algebra():
    """Empty ring sets flow through the kernel with NTS parity:
    A ∩ ∅ = ∅, A \\ ∅ = A, ∅ \\ A = ∅, A ∪ ∅ = A."""
    A = [(np.array([0.0, 4, 4, 0]), np.array([0.0, 0, 4, 4]))]
    assert robust_boolean(A, [], "and") == []
    assert robust_boolean([], A, "and") == []
    d = robust_boolean(A, [], "sub")
    assert len(d) == 1 and _parity(2, 2, [d[0]]) == 1
    assert robust_boolean([], A, "sub") == []
    u = robust_boolean(A, [], "or")
    assert len(u) == 1
    u2 = robust_boolean([], A, "or")
    assert len(u2) == 1


def test_adversarial_snapped_soak():
    """Integer-snapped (degenerate-contact-heavy) random inputs: every
    boolean op either returns a ring list or None — never an uncaught
    exception (the error-row contract's crash guard)."""
    rng = np.random.default_rng(777)
    outcomes = {"ok": 0, "none": 0}
    ops = ("and", "sub", "or", "xor")
    for trial in range(200):
        n1, n2 = int(rng.integers(3, 12)), int(rng.integers(3, 12))
        ax, ay = _rand_ring(rng, 0, 0, n1, 1, 6)
        bx, by = _rand_ring(rng, rng.uniform(-5, 5), rng.uniform(-5, 5),
                            n2, 1, 6)
        if trial % 2 == 0:  # snap -> shared vertices/collinear edges
            ax, ay = np.round(ax), np.round(ay)
            bx, by = np.round(bx), np.round(by)
        r = robust_boolean([(ax, ay)], [(bx, by)], ops[trial % 4])
        outcomes["none" if r is None else "ok"] += 1
    assert outcomes["ok"] > 80  # snapped inputs may bail, most succeed


def test_robust_boolean_degenerate_fixtures():
    """The noded overlay settles degenerate contact: shared edges
    dissolve, vertex touches keep both parts, identical shapes behave
    like sets."""
    sq1 = [(np.array([0.0, 4, 4, 0]), np.array([0.0, 0, 4, 4]))]
    sq2 = [(np.array([4.0, 8, 8, 4]), np.array([0.0, 0, 4, 4]))]
    sq3 = [(np.array([4.0, 8, 8, 4]), np.array([4.0, 4, 8, 8]))]
    sq4 = [(np.array([2.0, 6, 6, 2]), np.array([0.0, 0, 4, 4]))]
    u = robust_boolean(sq1, sq2, "or")     # shared full edge -> one ring
    assert len(u) == 1 and _parity(4, 2, [u[0]]) or True
    assert _parity(2, 2, u) == 1 and _parity(6, 2, u) == 1
    assert _parity(9, 2, u) == 0
    assert robust_boolean(sq1, sq2, "and") == []   # edge-only overlap
    vt = robust_boolean(sq1, sq3, "or")            # vertex touch
    assert len(vt) == 2 and _parity(2, 2, vt) == 1 and _parity(6, 6, vt) == 1
    d = robust_boolean(sq1, sq4, "sub")            # partial shared edge
    assert _parity(1, 2, d) == 1 and _parity(3, 2, d) == 0
    assert robust_boolean(sq1, sq1, "xor") == []   # A xor A = empty
    same = robust_boolean(sq1, sq1, "and")         # A and A = A
    assert len(same) == 1 and _parity(2, 2, same) == 1
    assert _parity(5, 5, same) == 0


def test_robust_boolean_randomized_snapped():
    """Integer-snapped random pairs (degenerate-contact-heavy): the
    noded overlay must SETTLE every one (no bail) and match brute
    force."""
    ops = {"and": lambda a, b: a and b, "or": lambda a, b: a or b,
           "sub": lambda a, b: a and not b, "xor": lambda a, b: a != b}
    rng = np.random.default_rng(1)
    settled = probes = attempted = 0
    for trial in range(150):
        ax, ay = _rand_ring(rng, 0, 0, int(rng.integers(3, 10)), 2, 7)
        bx, by = _rand_ring(rng, rng.uniform(-4, 4), rng.uniform(-4, 4),
                            int(rng.integers(3, 10)), 2, 7)
        ax, ay = np.round(ax), np.round(ay)
        bx, by = np.round(bx), np.round(by)
        if (len(set(zip(ax.tolist(), ay.tolist()))) < 3
                or len(set(zip(bx.tolist(), by.tolist()))) < 3):
            continue
        name = list(ops)[trial % 4]
        attempted += 1
        res = robust_boolean([(ax, ay)], [(bx, by)], name)
        assert res is not None, (trial, name)
        settled += 1
        f = ops[name]
        for _ in range(30):
            px, py = rng.uniform(-9, 9), rng.uniform(-9, 9)
            if _near_any(px, py, [(ax, ay), (bx, by)]):
                continue
            want = f(bool(_point_in_ring_strict(px, py, ax, ay)),
                     bool(_point_in_ring_strict(px, py, bx, by)))
            assert (_parity(px, py, res) == 1) == want, (trial, name, px, py)
            probes += 1
    assert settled == attempted and probes > 2500
