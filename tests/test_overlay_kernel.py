"""kernels/overlay + the noded overlay kernel: exact intersection area
and intersection geometry.

Oracles: closed-form fixtures, the inclusion-exclusion metamorphic
identity area(A) + area(B) == area(A∪B) + area(A∩B) (union from the
N-member winding union, booleans.union_members), self/containment/touch
invariants, and a Monte-Carlo measure estimate on random star
polygons."""
import numpy as np
import pytest

from spatial4n_spark.kernels.overlay import (intersection_area,
                                             polygon_area_evenodd)
from spatial4n_spark.kernels.booleans import robust_boolean, union_members

SQ_A = (np.array([0., 2, 2, 0]), np.array([0., 0, 2, 2]))
SQ_B = (np.array([1., 3, 3, 1]), np.array([1., 1, 3, 3]))


def area_rings(rings):
    """Even-odd area of a ring list of disjoint pieces."""
    tot = 0.0
    for rx, ry in rings:
        tot += abs(np.sum(rx * np.roll(ry, -1) - np.roll(rx, -1) * ry)) / 2.0
    return tot


def star(cx, cy, r_out, r_in, n, phase=0.0):
    ang = phase + np.linspace(0, 2 * np.pi, 2 * n, endpoint=False)
    r = np.where(np.arange(2 * n) % 2 == 0, r_out, r_in)
    return cx + r * np.cos(ang), cy + r * np.sin(ang)


class TestFixtures:
    def test_offset_squares(self):
        assert intersection_area(*SQ_A, None, *SQ_B, None) == pytest.approx(1.0)

    def test_self(self):
        assert intersection_area(*SQ_A, None, *SQ_A, None) == pytest.approx(4.0)

    def test_contained(self):
        d = (np.array([0.5, 1.5, 1.5, 0.5]), np.array([0.5, 0.5, 1.5, 1.5]))
        assert intersection_area(*SQ_A, None, *d, None) == pytest.approx(1.0)
        assert intersection_area(*d, None, *SQ_A, None) == pytest.approx(1.0)

    def test_disjoint_and_shared_edge(self):
        far = (SQ_A[0] + 10.0, SQ_A[1])
        assert intersection_area(*SQ_A, None, *far, None) == 0.0
        touch = (SQ_A[0] + 2.0, SQ_A[1])  # shares the x=2 edge
        assert intersection_area(*SQ_A, None, *touch, None) == pytest.approx(0.0)

    def test_vertex_touch(self):
        corner = (SQ_A[0] + 2.0, SQ_A[1] + 2.0)  # meets only at (2,2)
        assert intersection_area(*SQ_A, None, *corner, None) == pytest.approx(0.0)

    def test_orientation_insensitive(self):
        rev = (SQ_B[0][::-1].copy(), SQ_B[1][::-1].copy())
        assert (intersection_area(*SQ_A, None, *rev, None)
                == pytest.approx(intersection_area(*SQ_A, None, *SQ_B, None)))

    def test_hole_subtracts(self):
        # A with a 1x1 hole, intersected with the full A footprint
        hx = np.array([0.5, 1.5, 1.5, 0.5])
        hy = np.array([0.5, 0.5, 1.5, 1.5])
        xs = np.concatenate([SQ_A[0], hx])
        ys = np.concatenate([SQ_A[1], hy])
        assert intersection_area(xs, ys, [0, 4, 8], *SQ_A, None) == pytest.approx(3.0)
        # ... and with a polygon covering exactly the hole: empty
        assert intersection_area(xs, ys, [0, 4, 8], hx, hy, None) == pytest.approx(0.0)

    def test_multipart(self):
        # two disjoint unit squares vs a rect covering one of them
        xs = np.array([0., 1, 1, 0, 5, 6, 6, 5])
        ys = np.array([0., 0, 1, 1, 0, 0, 1, 1])
        b = (np.array([4.5, 7, 7, 4.5]), np.array([-1., -1, 2, 2]))
        assert intersection_area(xs, ys, [0, 4, 8], *b, None) == pytest.approx(1.0)

    def test_triangle_closed_form(self):
        t = (np.array([0., 2, 0]), np.array([0., 0, 2]))
        # unit square strictly inside the triangle
        u = (np.array([0., 1, 1, 0]), np.array([0., 0, 1, 1]))
        assert intersection_area(*t, None, *u, None) == pytest.approx(1.0)
        # square with two corners ON the hypotenuse (x+y=2): the cut
        # corner is a half-unit triangle -> 0.5 remains
        v = (np.array([0.5, 1.5, 1.5, 0.5]), np.array([0.5, 0.5, 1.5, 1.5]))
        assert intersection_area(*t, None, *v, None) == pytest.approx(0.5)
        # full triangle area sanity via the same kernel
        assert polygon_area_evenodd(*t, None) == pytest.approx(2.0)


def _intersection(ax, ay, bx, by):
    return robust_boolean([(ax, ay)], [(bx, by)], "and")


class TestGHIntersection:
    """Intersection GEOMETRY, now stitched by the noded overlay kernel
    (the GH traversal serves unions only)."""

    def test_square_overlap_geometry(self):
        rings = _intersection(*SQ_A, *SQ_B)
        assert len(rings) == 1
        assert area_rings(rings) == pytest.approx(1.0)
        xs, ys = rings[0]
        assert sorted(zip(xs, ys)) == [(1., 1.), (1., 2.), (2., 1.), (2., 2.)]

    def test_containment_cases(self):
        d = (np.array([0.5, 1.5, 1.5, 0.5]), np.array([0.5, 0.5, 1.5, 1.5]))
        rings = _intersection(*SQ_A, *d)
        assert area_rings(rings) == pytest.approx(1.0)
        assert _intersection(*SQ_A, SQ_A[0] + 10.0, SQ_A[1]) == []

    def test_two_components(self):
        # U-shape x bar: two disjoint intersection pieces
        ux = np.array([0., 1, 1, 2, 2, 3, 3, 0])
        uy = np.array([0., 0, 2, 2, 0, 0, 3, 3])
        bar = (np.array([-1., 4, 4, -1]), np.array([0.5, 0.5, 1.5, 1.5]))
        rings = _intersection(ux, uy, *bar)
        assert rings is not None and len(rings) == 2
        assert area_rings(rings) == pytest.approx(2.0)
        # the area measure agrees
        assert intersection_area(ux, uy, None, *bar, None) == pytest.approx(2.0)

    def test_shared_edge_touch_is_empty(self):
        touch = (SQ_A[0] + 2.0, SQ_A[1])
        assert _intersection(*SQ_A, *touch) == []


class TestMetamorphic:
    def test_inclusion_exclusion_vs_union(self):
        rng = np.random.default_rng(7)
        done = 0
        while done < 40:
            ax, ay = star(0, 0, rng.uniform(1, 3), rng.uniform(0.5, 0.9),
                          int(rng.integers(3, 8)), rng.uniform(0, 6))
            bx, by = star(rng.uniform(-1.5, 1.5), rng.uniform(-1.5, 1.5),
                          rng.uniform(1, 3), rng.uniform(0.5, 0.9),
                          int(rng.integers(3, 8)), rng.uniform(0, 6))
            u = union_members([[(ax, ay)], [(bx, by)]])
            g = _intersection(ax, ay, bx, by)
            assert u is not None and g is not None
            done += 1
            a_area = polygon_area_evenodd(ax, ay, None)
            b_area = polygon_area_evenodd(bx, by, None)
            # union output is even-odd (pocket holes)
            ux = np.concatenate([r[0] for r in u])
            uy = np.concatenate([r[1] for r in u])
            uo = np.cumsum([0] + [len(r[0]) for r in u]).tolist()
            u_area = polygon_area_evenodd(ux, uy, uo)
            i_area = intersection_area(ax, ay, None, bx, by, None)
            assert a_area + b_area == pytest.approx(u_area + i_area, abs=1e-9)
            # stitched geometry area == Green's-theorem area
            gh_area = area_rings(g)
            assert gh_area == pytest.approx(i_area, abs=1e-9)

    def test_monte_carlo_measure(self):
        rng = np.random.default_rng(11)
        ax, ay = star(0, 0, 2.5, 1.0, 7, 0.3)
        bx, by = star(0.8, -0.4, 2.2, 0.8, 5, 1.1)
        exact = intersection_area(ax, ay, None, bx, by, None)
        n = 200_000
        px = rng.uniform(-3, 3, n)
        py = rng.uniform(-3, 3, n)
        from spatial4n_spark.kernels.pip import points_in_polygon
        pa = points_in_polygon(px, py, ax, ay)
        pb = points_in_polygon(px, py, bx, by)
        est = 36.0 * np.mean(pa & pb)
        assert est == pytest.approx(exact, rel=0.05)

    def test_symmetry(self):
        rng = np.random.default_rng(3)
        for _ in range(20):
            ax, ay = star(0, 0, rng.uniform(1, 3), rng.uniform(0.4, 0.9),
                          int(rng.integers(3, 9)), rng.uniform(0, 6))
            bx, by = star(rng.uniform(-1, 1), rng.uniform(-1, 1),
                          rng.uniform(1, 3), rng.uniform(0.4, 0.9),
                          int(rng.integers(3, 9)), rng.uniform(0, 6))
            ab = intersection_area(ax, ay, None, bx, by, None)
            ba = intersection_area(bx, by, None, ax, ay, None)
            assert ab == pytest.approx(ba, abs=1e-9)
            assert ab <= min(polygon_area_evenodd(ax, ay, None),
                             polygon_area_evenodd(bx, by, None)) + 1e-9


def test_hole_filling_square_measure():
    """An annulus against a member covering its hole (mutual vertex
    containment): the area kernel measures 16 - 4 = 12."""
    xs = np.array([0., 10, 10, 0, 4, 6, 6, 4])
    ys = np.array([0., 0, 10, 10, 4, 4, 6, 6])
    b = (np.array([3., 7, 7, 3]), np.array([3., 3, 7, 7]))
    assert intersection_area(xs, ys, [0, 4, 8], *b, None) == pytest.approx(12.0)
