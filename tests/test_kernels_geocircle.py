"""GeoCircle relate golden cases from the reference.

Source: Spatial4n.Tests/shape/TestShapesGeo.cs:145-216 (named
regressions), TestShapes2D.cs:151-153 (cartesian regression).
"""
import numpy as np
import pytest

from spatial4n_spark.kernels import relation as R
from spatial4n_spark.kernels.circle_box import geo_circle_bbox
from spatial4n_spark.kernels.normalize import KILOMETERS_TO_DEGREES
from spatial4n_spark.kernels.relate_circle import (
    relate_circle_circle, relate_circle_point, relate_circle_rect)


def km_to_deg(km):
    return km * KILOMETERS_TO_DEGREES


# (name, (cx, cy, r), (minx, maxx, miny, maxy), expected)
GEO_CASES = [
    ("bad proportion logic", (64, -70, 18), (46, 116, -86, -62), R.INTERSECTS),
    ("Both touch pole", (-90, 30, 60), (-24, -16, 14, 90), R.INTERSECTS),
    ("Spherical cap contains band", (0, -90, 30), (-180, 180, -90, -80), R.CONTAINS),
    ("touches pole", (0, -88, 2), (40, 60, -90, -86), R.INTERSECTS),
    ("wrong farthest opp corner", (92, 36, 46), (134, 136, 32, 80), R.INTERSECTS),
    ("edge rounding issue 2", (84, -40, 136), (-150, -80, 34, 84), R.INTERSECTS),
    ("nudge back circle", (-150, -90, 122), (0, -132, 32, 32), R.CONTAINS),
    ("wrong estimate", (-166, 59, km_to_deg(5226.2)), (36, 66, 23, 23), R.DISJOINT),
    ("bad CONTAINS (dateline)", (56, -50, km_to_deg(12231.5)), (108, 26, 39, 48), R.INTERSECTS),
    ("bad CONTAINS (backwrap2)", (112, -3, 91), (-163, 29, -38, 10), R.INTERSECTS),
    ("bad CONTAINS (r x-wrap)", (-139, 47, 80), (-180, 180, -3, 12), R.INTERSECTS),
    ("bad CONTAINS (pwrap)", (-139, 47, 80), (-180, 179, -3, 12), R.INTERSECTS),
    ("no-dist 1", (135, 21, 0), (-103, -154, -47, 52), R.WITHIN),
    ("bbox <= >= -90 bug", (-64, -84, 124), (-96, 96, -10, -10), R.CONTAINS),
    ("horiz axis != ctr", (71, -44, 40), (15, 27, -62, -34), R.INTERSECTS),
    ("pole boundary", (-100, -12, 102), (143, 175, 4, 32), R.INTERSECTS),
    ("full circle assert", (-64, 32, 180), (47, 47, -14, 90), R.CONTAINS),
]


@pytest.mark.parametrize("name,circle,rect,expected",
                         [(c[0], c[1], c[2], c[3]) for c in GEO_CASES])
def test_geocircle_named_cases(name, circle, rect, expected):
    cx, cy, r = circle
    minx, maxx, miny, maxy = rect
    got = int(relate_circle_rect(cx, cy, r, minx, maxx, miny, maxy, geo=True)[0])
    assert got == expected, f"{name}: got {R.NAMES[got]}, want {R.NAMES[expected]}"


def test_geocircle_batch_all_at_once():
    """Same cases as one vectorized batch (exercises the subset dispatch)."""
    cx = np.array([c[1][0] for c in GEO_CASES], dtype=float)
    cy = np.array([c[1][1] for c in GEO_CASES], dtype=float)
    r = np.array([c[1][2] for c in GEO_CASES], dtype=float)
    minx = np.array([c[2][0] for c in GEO_CASES], dtype=float)
    maxx = np.array([c[2][1] for c in GEO_CASES], dtype=float)
    miny = np.array([c[2][2] for c in GEO_CASES], dtype=float)
    maxy = np.array([c[2][3] for c in GEO_CASES], dtype=float)
    got = relate_circle_rect(cx, cy, r, minx, maxx, miny, maxy, geo=True)
    expected = np.array([c[3] for c in GEO_CASES])
    np.testing.assert_array_equal(got, expected)


def test_edge_rounding_issue_point():
    # TestShapesGeo "edge rounding issue": circle(0,66,156) CONTAINS point (0,-90)
    got = int(relate_circle_point(0, 66, 156, 0, -90, geo=True)[()]
              if np.isscalar(relate_circle_point(0, 66, 156, 0, -90, geo=True))
              else relate_circle_point(0, 66, 156, 0, -90, geo=True))
    assert got == R.CONTAINS


def test_construction_regressions_no_throw():
    # TestShapesGeo.cs:146-153: these circle bboxes must compute cleanly
    for (x, y, r) in [(110, -12, 102), (-44, 16, 106), (-36, -76, 14), (107, 82, 172)]:
        minx, maxx, miny, maxy = geo_circle_bbox(x, y, r)
        assert np.isfinite([minx, maxx, miny, maxy]).all()


def test_whole_globe_circle_bbox():
    # TestShapesGeo.cs:216: radius-180 circle bbox == world bounds
    minx, maxx, miny, maxy = geo_circle_bbox(0.0, 0.0, 180.0)
    assert (float(minx[0]), float(maxx[0]), float(miny[0]), float(maxy[0])) == \
        (-180.0, 180.0, -90.0, 90.0)


def test_cartesian_circle_regression():
    # TestShapes2D.cs:151-153: circle(107,-81,147) vs rect(92,121,-89,74)
    got = int(relate_circle_rect(107, -81, 147, 92, 121, -89, 74, geo=False)[0])
    assert got == R.INTERSECTS


def test_circle_circle_relate():
    assert int(relate_circle_circle(0, 0, 10, 0, 0, 3, geo=True)) == R.CONTAINS
    assert int(relate_circle_circle(0, 0, 3, 0, 0, 10, geo=True)) == R.WITHIN
    assert int(relate_circle_circle(0, 0, 3, 50, 0, 3, geo=True)) == R.DISJOINT
    assert int(relate_circle_circle(0, 0, 5, 8, 0, 5, geo=True)) == R.INTERSECTS


def test_cartesian_circle_bbox_reference():
    """CartesianDistCalc.CalcBoxByDistFromPt (CartesianDistCalc.cs
    :93-108): the box is (x - d, x + d, y - d, y + d), vectorized, and
    is the bbox a planar BUFFER(POINT) carries through both parse
    paths."""
    import pyarrow as pa

    from spatial4n_spark.kernels.circle_box import cartesian_circle_bbox
    from spatial4n_spark.kernels.wkt import parse_shape, parse_wkt_columns

    x = np.array([0.0, 107.0, -50.5, 1e-3])
    y = np.array([0.0, -81.0, 20.25, 2e-3])
    d = np.array([1.0, 147.0, 0.0, 0.1])
    got = cartesian_circle_bbox(x, y, d)
    for g, w in zip(got, (x - d, x + d, y - d, y + d)):
        assert (g == w).all()
    texts = [f"BUFFER(POINT({a} {b}), {r})" for a, b, r in zip(x, y, d)]
    cols = parse_wkt_columns(pa.array(texts), geo=False)
    for i, t in enumerate(texts):
        rec = parse_shape(t, geo=False)
        want = tuple(float(v[i]) for v in got)
        assert (rec["minx"], rec["maxx"], rec["miny"], rec["maxy"]) == want
        assert tuple(float(cols[f][i]) for f in
                     ("minx", "maxx", "miny", "maxy")) == want
