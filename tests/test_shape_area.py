"""GetArea(ctx) dispatcher: kernels.area.shape_area_batch + st_area.

Reference semantics: PointImpl.cs:83-86 (0), RectangleImpl.cs:118-128,
CircleImpl.cs:66-76, BufferedLine.cs:227-230 (buf * (len/2 + buf) * 4
per segment) with the ShapeCollection bbox cap (ShapeCollection.cs:
206-218), NtsGeometry.cs:184-196 (euclid shoelace * filledRatio * geo
bbox area).
"""
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.kernels.area import (buffered_line_area,
                                          euclidean_rect_area,
                                          geo_rect_area,
                                          polygon_area_euclid,
                                          shape_area_batch)


def test_polygon_area_hole_and_multi():
    xs = [0.0, 4, 4, 0, 0, 0.5, 1.5, 1.5, 0.5, 0.5]
    ys = [0.0, 0, 4, 4, 0, 0.5, 0.5, 1.5, 1.5, 0.5]
    assert polygon_area_euclid(xs, ys, [0, 5, 10]) == 15.0
    # hole winding irrelevant (even-odd sign)
    xs2 = xs[:5] + xs[5:][::-1]
    ys2 = ys[:5] + ys[5:][::-1]
    assert polygon_area_euclid(xs2, ys2, [0, 5, 10]) == 15.0
    # two disjoint squares sum
    xs3 = [0.0, 1, 1, 0, 0, 10, 12, 12, 10, 10]
    ys3 = [0.0, 0, 1, 1, 0, 0, 0, 2, 2, 0]
    assert polygon_area_euclid(xs3, ys3, [0, 5, 10]) == 5.0


def test_buffered_line_area_matches_reference_formula():
    # one horizontal segment length 10, buf 2 -> 2 * (5 + 2) * 4 = 56
    s, _ = buffered_line_area([0.0, 10.0], [0.0, 0.0], 2.0)
    assert s == 56.0
    # degenerate single point -> buf^2 * 4
    s, _ = buffered_line_area([3.0], [4.0], 2.0)
    assert s == 16.0


def test_shape_area_batch_dispatch():
    kind = [1, 2, 3, 7, 0]
    radius = [np.nan, np.nan, 10.0, np.nan, np.nan]
    minx = [0, -10, 0, 0, np.nan]
    maxx = [0, 10, 0, 4, np.nan]
    miny = [0, 0, 0, 0, np.nan]
    maxy = [0, 30, 0, 4, np.nan]
    sq = [0.0, 4, 4, 0, 0]
    out_e = shape_area_batch(kind, radius, minx, maxx, miny, maxy,
                             [None, None, None, sq, None],
                             [None, None, None, [0.0, 0, 4, 4, 0], None],
                             [None, None, None, [0, 5], None], False)
    assert out_e[0] == 0.0                      # point
    assert out_e[1] == 20.0 * 30.0              # euclid rect
    assert out_e[2] == pytest.approx(math.pi * 100.0)
    assert out_e[3] == 16.0                     # euclid polygon
    assert math.isnan(out_e[4])                 # empty
    out_g = shape_area_batch(kind, radius, minx, maxx, miny, maxy,
                             [None, None, None, sq, None],
                             [None, None, None, [0.0, 0, 4, 4, 0], None],
                             [None, None, None, [0, 5], None], True)
    # geo polygon: filledRatio(=1 for the square filling its bbox) *
    # geo bbox area
    assert out_g[3] == pytest.approx(float(geo_rect_area(0, 4, 0, 4)))
    assert out_g[1] == pytest.approx(float(geo_rect_area(-10, 10, 0, 30)))


def test_whole_earth_area_fixture():
    """TestDistances.TestArea: whole-earth rect area == 4 pi r^2 with
    r in degrees."""
    r = 180.0 / math.pi
    assert float(geo_rect_area(-180, 180, -90, 90)) == pytest.approx(
        4 * math.pi * r * r)


def test_line_area_capped_at_bbox():
    # huge buf on a short line: sum formula exceeds the bbox area -> cap
    kind = [4]
    out = shape_area_batch(kind, [60.0], [-60.0], [60.0], [-55.0], [55.0],
                           [[0.0, 10.0]], [[0.0, 0.0]], [None], False)
    assert out[0] == euclidean_rect_area(-60.0, 60.0, -55.0, 55.0)


def test_st_area_udf(spark):
    from spatial4n_spark import functions as SF
    cases = [
        ("POINT (5 6)", 0.0),
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
         float(geo_rect_area(0, 4, 0, 4))),
        ("ENVELOPE(-10, 10, 30, 0)", float(geo_rect_area(-10, 10, 0, 30))),
    ]
    df = spark.createDataFrame([(i, w) for i, (w, _) in enumerate(cases)],
                               "id int, wkt string")
    s = df.select("id", SF.st_from_wkt(F.col("wkt")).alias("s"))
    rows = (s.select("id", SF.st_area(F.col("s"), geo=True).alias("a"))
            .orderBy("id").collect())
    for row, (wkt, exp) in zip(rows, cases):
        assert row["a"] == pytest.approx(exp, abs=1e-9), wkt


def test_has_area_and_is_empty_cols(spark):
    from spatial4n_spark import functions as SF
    cases = [
        ("POINT (1 2)", False),
        ("ENVELOPE(-10, 10, 10, -10)", True),
        ("ENVELOPE(5, 5, 10, -10)", False),            # degenerate width
        ("BUFFER(POINT(1 2), 3)", True),
        ("BUFFER(POINT(1 2), 0)", False),              # zero-radius circle
        ("LINESTRING (0 0, 5 5)", False),              # buf 0
        ("BUFFER(LINESTRING(0 0, 5 5), 1)", True),
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", True),
        ("MULTIPOINT ((1 1), (2 2))", False),
    ]
    df = spark.createDataFrame([(i, w) for i, (w, _) in enumerate(cases)],
                               "id int, wkt string")
    s = df.select("id", SF.st_from_wkt(F.col("wkt")).alias("s"))
    rows = (s.select("id", SF.st_has_area_col(F.col("s")).alias("ha"),
                     SF.st_is_empty_col(F.col("s")).alias("em"))
            .orderBy("id").collect())
    for row, (wkt, exp) in zip(rows, cases):
        assert row["ha"] == exp, wkt
        assert row["em"] is False, wkt
