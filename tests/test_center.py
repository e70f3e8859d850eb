"""GetCenter parity: kernels.centroid + functions.st_center + the JVM
twin rect_center_cols.

Reference semantics: PointImpl/CircleImpl center = the point
(CircleImpl.cs:62); RectangleImpl.GetCenter = minX + Width/2 with
NormLonDEG when wrapped (RectangleImpl.cs:304-315); BufferedLine /
ShapeCollection center = bbox center (BufferedLine.cs:233,
ShapeCollection.cs:101); NtsGeometry center = geom.Centroid
(NtsGeometry.cs:200-210) — areal with even-odd holes, degenerate
fallback to lineal then puntal.
"""
import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from spatial4n_spark.kernels.centroid import (center_batch,
                                              polygon_centroid,
                                              rect_center)

HSET = settings(max_examples=80, deadline=None,
                suppress_health_check=[HealthCheck.too_slow])
FIN = dict(allow_nan=False, allow_infinity=False)


# ---------------------------------------------------------------- kernel

def test_rect_center_plain():
    cx, cy = rect_center([10.0], [20.0], [-10.0], [30.0])
    assert cx[0] == 15.0 and cy[0] == 10.0


def test_rect_center_dateline_wrap():
    # ENVELOPE(170, -170, ...) wraps: width 20, center 180 -> stays 180
    cx, _ = rect_center([170.0], [-170.0], [0.0], [10.0])
    assert cx[0] == 180.0
    # ENVELOPE(160, -170, ...): width 30, raw center 175 -> in range
    cx, _ = rect_center([160.0], [-170.0], [0.0], [10.0])
    assert cx[0] == 175.0
    # ENVELOPE(175, -165, ...): width 20, raw center 185 -> -175
    cx, _ = rect_center([175.0], [-165.0], [0.0], [10.0])
    assert cx[0] == pytest.approx(-175.0)


def test_polygon_centroid_square():
    xs = [0.0, 4.0, 4.0, 0.0, 0.0]
    ys = [0.0, 0.0, 4.0, 4.0, 0.0]
    cx, cy = polygon_centroid(xs, ys, [0, 5])
    assert (cx, cy) == (2.0, 2.0)


def test_polygon_centroid_orientation_invariant():
    xs = [0.0, 4.0, 4.0, 0.0, 0.0]
    ys = [0.0, 0.0, 4.0, 4.0, 0.0]
    cw = polygon_centroid(xs[::-1], ys[::-1], [0, 5])
    assert cw == (2.0, 2.0)


def test_polygon_centroid_hole_subtracts():
    # 4x4 square with a 1x1 hole in the lower-left quadrant: the hole
    # pushes the centroid up-right of (2,2).
    xs = [0.0, 4.0, 4.0, 0.0, 0.0, 0.5, 1.5, 1.5, 0.5, 0.5]
    ys = [0.0, 0.0, 4.0, 4.0, 0.0, 0.5, 0.5, 1.5, 1.5, 0.5]
    cx, cy = polygon_centroid(xs, ys, [0, 5, 10])
    # exact: (16*2 - 1*1) / 15 = 31/15
    assert cx == pytest.approx(31.0 / 15.0)
    assert cy == pytest.approx(31.0 / 15.0)
    # hole ring winding must not matter (even-odd sign, not orientation)
    xs2 = xs[:5] + xs[5:][::-1]
    ys2 = ys[:5] + ys[5:][::-1]
    assert polygon_centroid(xs2, ys2, [0, 5, 10]) == (cx, cy)


def test_polygon_centroid_triangle():
    xs = [0.0, 6.0, 0.0, 0.0]
    ys = [0.0, 0.0, 3.0, 0.0]
    cx, cy = polygon_centroid(xs, ys, [0, 4])
    assert cx == pytest.approx(2.0)
    assert cy == pytest.approx(1.0)


def test_polygon_centroid_multipolygon_area_weighted():
    # unit square at origin (area 1) + 2x2 square at x in [10,12]
    # (area 4): centroid x = (0.5*1 + 11*4)/5 = 8.9
    xs = [0.0, 1.0, 1.0, 0.0, 0.0, 10.0, 12.0, 12.0, 10.0, 10.0]
    ys = [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 2.0, 2.0, 0.0]
    cx, cy = polygon_centroid(xs, ys, [0, 5, 10])
    assert cx == pytest.approx(8.9)
    assert cy == pytest.approx((0.5 * 1 + 1.0 * 4) / 5.0)


def test_polygon_centroid_degenerate_falls_back_to_boundary():
    # zero-area "polygon": a spike out and back. Length centroid is the
    # segment midpoint, not NaN.
    xs = [0.0, 4.0, 0.0]
    ys = [0.0, 0.0, 0.0]
    cx, cy = polygon_centroid(xs, ys, [0, 3])
    assert cx == pytest.approx(2.0)
    assert cy == 0.0


def test_center_batch_kinds():
    kinds = np.array([1, 3, 2, 0], dtype=np.int8)
    x = np.array([5.0, -20.0, np.nan, np.nan])
    y = np.array([6.0, 30.0, np.nan, np.nan])
    minx = np.array([np.nan, np.nan, 170.0, np.nan])
    maxx = np.array([np.nan, np.nan, -170.0, np.nan])
    miny = np.array([np.nan, np.nan, 0.0, np.nan])
    maxy = np.array([np.nan, np.nan, 10.0, np.nan])
    cx, cy = center_batch(kinds, x, y, minx, maxx, miny, maxy,
                          [None] * 4, [None] * 4, [None] * 4)
    assert cx[0] == 5.0 and cy[0] == 6.0          # point -> itself
    assert cx[1] == -20.0 and cy[1] == 30.0       # circle -> its center
    assert cx[2] == 180.0 and cy[2] == 5.0        # wrapped rect
    assert math.isnan(cx[3]) and math.isnan(cy[3])  # empty -> nan


# ------------------------------------------------------------- properties

def _star_polygon(angles, radii, cx=0.0, cy=0.0):
    """Simple (star-shaped) polygon from sorted angles + radii."""
    xs = [cx + r * math.cos(a) for a, r in zip(angles, radii)]
    ys = [cy + r * math.sin(a) for a, r in zip(angles, radii)]
    xs.append(xs[0])
    ys.append(ys[0])
    return xs, ys


@HSET
@given(st.lists(st.tuples(
    st.floats(min_value=0.5, max_value=1.0, **FIN),       # angular gap
    st.floats(min_value=0.5, max_value=40.0, **FIN)),     # radius
    min_size=5, max_size=12))
def test_centroid_inside_bbox_and_translation_equivariant(pts):
    # Angles from normalized gaps, every gap <= 2pi/(0.5 n) < pi: the
    # radial polygon is star-shaped about the origin, hence simple.
    gaps = np.array([g for g, _ in pts])
    angles = (np.cumsum(gaps) - gaps[0]) * (2 * math.pi / gaps.sum())
    xs, ys = _star_polygon(angles.tolist(), [r for _, r in pts])
    n = len(xs)
    cx, cy = polygon_centroid(xs, ys, [0, n])
    # centroid of a simple polygon lies inside its bbox
    assert min(xs) - 1e-9 <= cx <= max(xs) + 1e-9
    assert min(ys) - 1e-9 <= cy <= max(ys) + 1e-9
    # translation equivariance
    tx, ty = 13.25, -7.5
    cx2, cy2 = polygon_centroid([v + tx for v in xs], [v + ty for v in ys],
                                [0, n])
    assert cx2 == pytest.approx(cx + tx, abs=1e-7)
    assert cy2 == pytest.approx(cy + ty, abs=1e-7)


@HSET
@given(st.floats(min_value=-179.0, max_value=179.0, **FIN),
       st.floats(min_value=1.0, max_value=300.0, **FIN),
       st.floats(min_value=-89.0, max_value=80.0, **FIN))
def test_rect_center_is_inside_rect(minx0, w, miny):
    from spatial4n_spark.kernels.normalize import norm_lon_deg
    minx = minx0
    maxx = float(norm_lon_deg(minx + w))
    maxy = min(90.0, miny + 9.5)
    cx, cy = rect_center([minx], [maxx], [miny], [maxy])
    assert -180.0 <= cx[0] <= 180.0
    assert miny <= cy[0] <= maxy
    # unwrapped x-distance from minx along +lon equals half the width
    d = (cx[0] - minx) % 360.0
    assert d == pytest.approx(w / 2.0 if w < 360.0 else 0.0, abs=1e-9)


@HSET
@given(st.floats(min_value=-179.0, max_value=179.0, **FIN),
       st.floats(min_value=0.5, max_value=350.0, **FIN),
       st.floats(min_value=-89.0, max_value=85.0, **FIN),
       st.floats(min_value=0.5, max_value=10.0, **FIN))
def test_rect_contains_its_center(minx0, w, miny, h):
    """Cross-kernel consistency: a rect CONTAINS its own GetCenter
    point (dateline-wrapped rects included)."""
    from spatial4n_spark.kernels import relation as REL
    from spatial4n_spark.kernels.normalize import norm_lon_deg
    from spatial4n_spark.kernels.relate_rect import relate_rect_point
    minx = minx0
    maxx = float(norm_lon_deg(minx + w))
    maxy = min(90.0, miny + h)
    cx, cy = rect_center([minx], [maxx], [miny], [maxy])
    rel = relate_rect_point([minx], [maxx], [miny], [maxy], cx, cy, geo=True)
    assert rel[0] == REL.CONTAINS


@HSET
@given(st.lists(st.tuples(
    st.floats(min_value=0.5, max_value=1.0, **FIN),
    st.floats(min_value=1.0, max_value=30.0, **FIN)),
    min_size=5, max_size=10))
def test_convex_polygon_contains_its_centroid(pts):
    """Centroid of a CONVEX polygon lies inside it (points on a circle
    of per-test radius, sorted by angle -> convex)."""
    from spatial4n_spark.kernels.pip import points_in_polygon
    gaps = np.array([g for g, _ in pts])
    r = pts[0][1]
    angles = (np.cumsum(gaps) - gaps[0]) * (2 * math.pi / gaps.sum())
    xs = (r * np.cos(angles)).tolist()
    ys = (r * np.sin(angles)).tolist()
    xs.append(xs[0])
    ys.append(ys[0])
    cx, cy = polygon_centroid(xs, ys, [0, len(xs)])
    assert points_in_polygon([cx], [cy], xs, ys, [0, len(xs)])[0]


# ---------------------------------------------------------- spark surface

WKT_CASES = [
    ("POINT (5 6)", 5.0, 6.0),
    ("ENVELOPE(-10, 30, 20, -40)", 10.0, -10.0),
    ("ENVELOPE(170, -170, 10, 0)", 180.0, 5.0),       # dateline wrap
    ("BUFFER(POINT(7 8), 3)", 7.0, 8.0),              # circle
    ("LINESTRING (0 0, 10 4)", 5.0, 2.0),             # bbox center
    ("MULTIPOINT ((0 0), (2 8))", 1.0, 4.0),
    ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", 2.0, 2.0),
    ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))",
     31.0 / 15.0, 31.0 / 15.0),
    ("GEOMETRYCOLLECTION (POINT (0 0), POINT (10 6))", 5.0, 3.0),
]


def test_st_center_udf(spark):
    from spatial4n_spark import functions as SF
    df = spark.createDataFrame([(i, w) for i, (w, _, _) in enumerate(WKT_CASES)],
                               "id int, wkt string")
    s = df.select("id", SF.st_from_wkt(F.col("wkt")).alias("s"))
    out = (s.select("id", SF.st_center(F.col("s")).alias("c"))
            .orderBy("id").collect())
    for row, (wkt, ex, ey) in zip(out, WKT_CASES):
        assert row["c"]["x"] == pytest.approx(ex, abs=1e-12), wkt
        assert row["c"]["y"] == pytest.approx(ey, abs=1e-12), wkt


def test_rect_center_cols_bit_identical_to_kernel(spark):
    """JVM twin vs NumPy kernel on a deterministic rect corpus that
    includes wrapped, pole-touching, and in-range rects."""
    from spatial4n_spark import functions as SF
    rows = []
    for k in range(400):
        cx0 = ((k * 48271) % 70000) / 200.0 - 175.0
        w = 10.0 + (k * 13) % 170
        minx = cx0 - w / 2.0
        maxx = cx0 + w / 2.0
        if minx < -180.0:
            minx += 360.0
        if maxx > 180.0:
            maxx -= 360.0
        miny = max(-90.0, ((k * 16807) % 28000) / 200.0 - 100.0)
        maxy = min(90.0, miny + 5.0 + (k * 11) % 60)
        rows.append((k, minx, maxx, miny, maxy))
    df = spark.createDataFrame(
        rows, "id int, minx double, maxx double, miny double, maxy double")
    ccx, ccy = SF.rect_center_cols(F.col("minx"), F.col("maxx"),
                                   F.col("miny"), F.col("maxy"))
    got = {r["id"]: (r["cx"], r["cy"]) for r in
           df.select("id", ccx.alias("cx"), ccy.alias("cy")).collect()}
    arr = np.array(rows)
    kx, ky = rect_center(arr[:, 1], arr[:, 2], arr[:, 3], arr[:, 4])
    for i, k in enumerate(int(r[0]) for r in rows):
        assert got[k][0] == kx[i], (k, got[k][0], kx[i])   # bitwise
        assert got[k][1] == ky[i]
