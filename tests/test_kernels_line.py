"""Buffered-line fixtures. Source: Spatial4n.Tests/shape/BufferedLineTest.cs:68-97.

World bounds for these: cartesian (-100,100,-50,50)."""
import numpy as np
import pytest

from spatial4n_spark.kernels import relation as R
from spatial4n_spark.kernels.relate_line import (
    buffered_line_contains, line_point_distance, linestring_contains_point,
    relate_buffered_line_rect)

# (A, B, C, expected perpendicular distance)
CASES = [
    ((7, -4), (3, 2), (5, 6), 3.88290),
    ((3, 2), (7, 5), (5, 6), 2.0),
    ((3, 2), (3, 8), (4, 3), 1.0),   # vertical line
    ((3, 2), (6, 2), (4, 3), 1.0),   # horizontal line
]


@pytest.mark.parametrize("a,b,c,dist", CASES)
def test_line_point_distance(a, b, c, dist):
    got = float(line_point_distance(a[0], a[1], b[0], b[1], c[0], c[1]))
    assert got == pytest.approx(dist, abs=1e-5)


@pytest.mark.parametrize("a,b,c,dist", CASES)
def test_contains_at_buffer_boundary(a, b, c, dist):
    # contains at buf*1.001, not at buf*0.999 (BufferedLineTest.cs:68-97)
    assert bool(buffered_line_contains(a[0], a[1], b[0], b[1], dist * 1.001,
                                       np.array([c[0]]), np.array([c[1]]))[0])
    assert not bool(buffered_line_contains(a[0], a[1], b[0], b[1], dist * 0.999,
                                           np.array([c[0]]), np.array([c[1]]))[0])


def test_degenerate_point_line():
    # A == B: acts like a square buffer around the point
    assert bool(buffered_line_contains(5, 5, 5, 5, 1.0, np.array([5.5]), np.array([5.5]))[0])
    assert not bool(buffered_line_contains(5, 5, 5, 5, 1.0, np.array([7.0]), np.array([5.0]))[0])


def test_relate_rect():
    world = (-100.0, 100.0, -50.0, 50.0)
    # a diagonal buffered line vs rect containing it entirely
    rel = int(relate_buffered_line_rect(0, 0, 10, 10, 1.0, -20, 20, -20, 20, world)[0])
    assert rel == R.WITHIN
    # rect fully inside the buffer region near the middle of the line
    rel = int(relate_buffered_line_rect(0, 0, 10, 10, 3.0, 4.9, 5.1, 4.9, 5.1, world)[0])
    assert rel == R.CONTAINS
    # disjoint far away
    rel = int(relate_buffered_line_rect(0, 0, 10, 10, 1.0, 50, 60, -40, -30, world)[0])
    assert rel == R.DISJOINT
    # straddling
    rel = int(relate_buffered_line_rect(0, 0, 10, 10, 1.0, 4, 6, -20, 5, world)[0])
    assert rel == R.INTERSECTS


def test_linestring_multiseg():
    xs = np.array([0.0, 10.0, 10.0])
    ys = np.array([0.0, 0.0, 10.0])
    px = np.array([5.0, 10.5, 20.0])
    py = np.array([0.5, 5.0, 20.0])
    got = linestring_contains_point(xs, ys, 1.0, px, py)
    assert got.tolist() == [True, True, False]


def test_expand_buf_for_longitude_skew_reference():
    """BufferedLine.ExpandBufForLongitudeSkew (BufferedLine.cs:170-182):
    CalcLonDegreesAtLat(max(|A.Y|, |B.Y|), buf), never below buf. That
    is the longitude reached by walking `buf` degrees due east from the
    higher-latitude end, which geo_point_on_bearing_deg checks
    independently."""
    from spatial4n_spark.kernels.bearing import geo_point_on_bearing_deg
    from spatial4n_spark.kernels.relate_line import \
        expand_buf_for_longitude_skew

    ay = np.array([0.0, 10.0, -60.0, 45.0, 80.0, -30.0])
    by = np.array([0.0, -20.0, 30.0, 45.0, 10.0, 30.0])
    buf = np.array([1.0, 0.5, 2.0, 3.0, 0.25, 5.0])
    got = expand_buf_for_longitude_skew(ay, by, buf)
    assert got[0] == buf[0]                                  # equator
    assert (got >= buf).all()
    assert (got == expand_buf_for_longitude_skew(by, ay, buf)).all()
    assert (got == expand_buf_for_longitude_skew(-ay, by, buf)).all()
    lat = np.maximum(np.abs(ay), np.abs(by))
    east_x, _ = geo_point_on_bearing_deg(np.zeros(6), lat, buf,
                                         np.full(6, 90.0))
    assert got == pytest.approx(east_x, rel=1e-12, abs=1e-12)
    # at 60 degrees a degree of longitude is half as long: ~2x the buffer
    assert float(got[2]) == pytest.approx(4.0, rel=2e-3)
