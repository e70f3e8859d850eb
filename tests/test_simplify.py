"""Douglas-Peucker simplification: DP invariants (subsequence, bounded
deviation, idempotence), ring/part structure preservation, relate
compatibility at join tolerance, and the Spark st_simplify surface.
"""
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spatial4n_spark.kernels import simplify as simp
from spatial4n_spark.kernels.pip import points_in_polygon


def _noisy_circle(n=400, r=10.0, noise=0.05, seed=3, cx=0.0, cy=0.0):
    rng = np.random.RandomState(seed)
    t = np.linspace(0, 2 * np.pi, n, endpoint=False)
    rr = r + rng.uniform(-noise, noise, n)
    xs = np.append(cx + rr * np.cos(t), cx + rr[0] * np.cos(t[0]))
    ys = np.append(cy + rr * np.sin(t), cy + rr[0] * np.sin(t[0]))
    return xs, ys


def _is_subsequence(sub, full):
    it = iter(range(len(full)))
    for v in sub:
        for i in it:
            if full[i] == v:
                break
        else:
            return False
    return True


def test_polyline_endpoints_and_deviation():
    rng = np.random.RandomState(1)
    xs = np.cumsum(rng.uniform(0.1, 1.0, 300))
    ys = np.sin(xs * 0.7) + rng.uniform(-0.01, 0.01, 300)
    tol = 0.05
    mask = simp._dp_mask(xs, ys, tol)
    assert mask[0] and mask[-1]
    assert mask.sum() < 300
    dev = simp.max_deviation(xs, ys, xs[mask], ys[mask])
    assert dev <= tol + 1e-12


def test_ring_simplify_structure():
    xs, ys = _noisy_circle()
    sx, sy = simp.simplify_ring(xs, ys, 0.2)
    # closure preserved, big reduction, subsequence of the input
    assert sx[0] == sx[-1] and sy[0] == sy[-1]
    assert 4 <= len(sx) < len(xs) / 4
    assert _is_subsequence(sx.tolist(), xs.tolist())
    assert simp.max_deviation(xs, ys, sx, sy) <= 0.2 + 1e-12


def test_idempotent():
    xs, ys = _noisy_circle(seed=9)
    sx, sy = simp.simplify_ring(xs, ys, 0.1)
    sx2, sy2 = simp.simplify_ring(sx, sy, 0.1)
    np.testing.assert_array_equal(sx, sx2)
    np.testing.assert_array_equal(sy, sy2)


def test_polygon_with_hole_keeps_parts():
    ox, oy = _noisy_circle(n=300, r=10.0, seed=5)
    hx, hy = _noisy_circle(n=200, r=3.0, seed=6)
    xs = np.concatenate([ox, hx])
    ys = np.concatenate([oy, hy])
    offs = np.array([0, len(ox), len(ox) + len(hx)])
    sx, sy, so = simp.simplify_polygon(xs, ys, offs, 0.15)
    assert len(so) == 3 and so[0] == 0 and so[-1] == len(sx)
    # both rings survived and shrank
    assert 4 <= so[1] < len(ox)
    assert 4 <= so[2] - so[1] < len(hx)
    # hole is still a hole: center of the hole stays OUTSIDE the polygon
    inside = points_in_polygon(np.array([0.0]), np.array([0.0]),
                               sx, sy, so)
    assert not inside[0]
    # a point in the annulus stays inside
    inside = points_in_polygon(np.array([6.5]), np.array([0.0]),
                               sx, sy, so)
    assert inside[0]


def test_tiny_rings_pass_through():
    xs = np.array([0.0, 1.0, 0.5, 0.0])
    ys = np.array([0.0, 0.0, 1.0, 0.0])
    sx, sy = simp.simplify_ring(xs, ys, 10.0)
    np.testing.assert_array_equal(sx, xs)
    np.testing.assert_array_equal(sy, ys)


def test_relate_stable_at_join_tolerance():
    """The scale claim: at tolerance well below the shape's extent,
    interior points far from the boundary relate identically against
    the simplified polygon (candidates at cell granularity see no
    difference)."""
    xs, ys = _noisy_circle(n=500, r=10.0, noise=0.04, seed=11)
    tol = 0.1
    sx, sy, so = simp.simplify_polygon(xs, ys, [0, len(xs)], tol)
    rng = np.random.RandomState(12)
    px = rng.uniform(-12, 12, 4000)
    py = rng.uniform(-12, 12, 4000)
    d = np.sqrt(px ** 2 + py ** 2)
    clear = np.abs(d - 10.0) > (0.04 + tol) * 2  # away from the noisy band
    a = points_in_polygon(px[clear], py[clear], xs, ys, [0, len(xs)])
    b = points_in_polygon(px[clear], py[clear], sx, sy, so)
    np.testing.assert_array_equal(a, b)


@settings(max_examples=40, deadline=None)
@given(st.lists(st.tuples(st.floats(-100, 100), st.floats(-100, 100)),
                min_size=2, max_size=60),
       st.floats(0.001, 5.0))
def test_dp_invariants_random(pts, tol):
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    mask = simp._dp_mask(xs, ys, tol)
    assert mask[0] and mask[-1]
    assert simp.max_deviation(xs, ys, xs[mask], ys[mask]) <= tol + 1e-9


def test_st_simplify_spark(spark):
    xs, ys = _noisy_circle(n=300, r=5.0, seed=21, cx=10.0, cy=20.0)
    pdf = pd.DataFrame({
        "id": [1, 2],
        "xs": [xs.tolist(), None],
        "ys": [ys.tolist(), None],
        "ring_offsets": [[0, len(xs)], None],
    })
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    from spatial4n_spark.shapes import shape_col
    df = spark.createDataFrame(pdf)
    shape = shape_col(kind=7, xs=F.col("xs"), ys=F.col("ys"),
                      ring_offsets=F.col("ring_offsets"))
    out = df.select("id", SF.st_simplify(shape, 0.15).alias("s")) \
        .orderBy("id").collect()
    got = out[0]["s"]
    ex, ey = simp.simplify_ring(xs, ys, 0.15)
    assert got["xs"] == pytest.approx(ex.tolist())
    assert got["ys"] == pytest.approx(ey.tolist())
    assert got["ring_offsets"] == [0, len(ex)]
    assert out[1]["s"]["xs"] is None  # null row passes through
