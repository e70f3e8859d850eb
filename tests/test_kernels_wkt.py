"""WKT parse fixtures. Source: Spatial4n.Tests/io/WktShapeParserTest.cs:60-182,
NtsWktShapeParserTest, NtsGeometryTest.cs:110-133 polygon sanity."""
import math
import os

import numpy as np
import pytest

from spatial4n_spark.kernels import wkt
from spatial4n_spark.kernels import relation as R
from spatial4n_spark.kernels.pip import relate_polygon_points, relate_polygon_rect


def P(s):
    return wkt.parse_shape(s)


def test_point_accept():
    for s in ["POINT (100 90)", "point(100 90)", "PoInT ( 100   90 )"]:
        d = P(s)
        assert d["kind"] == wkt.KIND_POINT and d["x"] == 100 and d["y"] == 90
    d = P("POINT (-45.3 8.04e1)")
    assert d["x"] == -45.3 and d["y"] == 80.4
    d = P("POINT ZM (100 90 -3 -4)")  # extra dims ignored
    assert d["x"] == 100 and d["y"] == 90
    assert P("POINT EMPTY")["kind"] == wkt.KIND_EMPTY


def test_point_reject():
    for s in ["POINT 100 90", "POINT (100, 90)", "POINT (100)",
              "POINT (10f0 90)", "POINT (EMPTY)"]:
        with pytest.raises(wkt.WktParseError):
            P(s)


def test_multipoint():
    for s in ["MULTIPOINT (10 40, 40 30, 20 20, 30 10)",
              "MULTIPOINT ((10 40), (40 30), (20 20), (30 10))"]:
        d = P(s)
        assert d["kind"] == wkt.KIND_MULTIPOINT
        assert d["xs"] == [10, 40, 20, 30]
        assert d["ys"] == [40, 30, 20, 10]


def test_envelope():
    # ENVELOPE arg order: x1, x2, maxY, minY (WktShapeParser.cs:312-328)
    d = P("ENVELOPE (10, 30, 45, 25)")
    assert d["kind"] == wkt.KIND_RECT
    assert (d["minx"], d["maxx"], d["miny"], d["maxy"]) == (10, 30, 25, 45)
    with pytest.raises(wkt.WktParseError):
        P("ENVELOPE (10 30 45 25)")


def test_linestring():
    d = P("LINESTRING (1 10, 2 20, 3 30)")
    assert d["kind"] == wkt.KIND_LINESTRING
    assert d["xs"] == [1, 2, 3] and d["ys"] == [10, 20, 30]
    d = P("MULTILINESTRING ((1 10, 2 20),(3 30, 4 40))")
    assert d["kind"] == wkt.KIND_MULTILINESTRING
    assert d["ring_offsets"] == [0, 2, 4]


def test_collection():
    d = P("GEOMETRYCOLLECTION (POINT (1 2))")
    assert d["kind"] == wkt.KIND_COLLECTION
    assert len(d["members"]) == 1 and d["members"][0]["x"] == 1
    d = P("GEOMETRYCOLLECTION EMPTY")
    assert d["kind"] == wkt.KIND_COLLECTION and d["members"] == []


def test_buffer_point_is_circle():
    d = P("BUFFER(POINT(1 2), 3)")
    assert d["kind"] == wkt.KIND_CIRCLE
    assert (d["x"], d["y"], d["radius"]) == (1, 2, 3)
    # bbox matches geo circle bbox
    assert d["maxy"] == pytest.approx(5.0)


def test_polygon_parse_and_relate():
    base = P("POLYGON((0 0, 10 0, 5 5, 0 0))")
    assert base["kind"] == wkt.KIND_POLYGON
    xs = np.array(base["xs"])
    ys = np.array(base["ys"])
    ro = np.array(base["ring_offsets"])
    # NtsGeometryTest.cs:110-133 sanity:
    inner = P("POLYGON((0 0, 9 0, 5 5, 0 0))")
    # all inner vertices inside base
    assert (relate_polygon_points(np.array(inner["xs"]), np.array(inner["ys"]),
                                  xs, ys, ro) == R.CONTAINS).all()
    # point (0,0) on boundary counts as contained
    assert int(relate_polygon_points(np.array([0.0]), np.array([0.0]), xs, ys, ro)[0]) == R.CONTAINS
    # clearly outside
    assert int(relate_polygon_points(np.array([20.0]), np.array([20.0]), xs, ys, ro)[0]) == R.DISJOINT


def test_polygon_with_hole():
    d = P("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),(2 2, 8 2, 8 8, 2 8, 2 2))")
    xs, ys, ro = np.array(d["xs"]), np.array(d["ys"]), np.array(d["ring_offsets"])
    assert int(relate_polygon_points(np.array([1.0]), np.array([1.0]), xs, ys, ro)[0]) == R.CONTAINS
    assert int(relate_polygon_points(np.array([5.0]), np.array([5.0]), xs, ys, ro)[0]) == R.DISJOINT
    # on the hole's edge counts as polygon (COVERS semantics)
    assert int(relate_polygon_points(np.array([2.0]), np.array([5.0]), xs, ys, ro)[0]) == R.CONTAINS


def test_polygon_rect_relate():
    # vertex arrays built directly: the equivalent WKT now demotes to a
    # rect per MakeRectFromPoly and carries no xs/ys
    xs = np.array([0.0, 10.0, 10.0, 0.0, 0.0])
    ys = np.array([0.0, 0.0, 10.0, 10.0, 0.0])
    ro = np.array([0, 5])
    assert relate_polygon_rect(xs, ys, ro, 2, 8, 2, 8) == R.CONTAINS
    assert relate_polygon_rect(xs, ys, ro, -5, 15, -5, 15) == R.WITHIN
    assert relate_polygon_rect(xs, ys, ro, 5, 15, 5, 15) == R.INTERSECTS
    assert relate_polygon_rect(xs, ys, ro, 11, 15, 11, 15) == R.DISJOINT
    # identical — CONTAINS preferred
    assert relate_polygon_rect(xs, ys, ro, 0, 10, 0, 10) in (R.CONTAINS, R.WITHIN)


def test_dateline_polygon_width180_rule():
    """A shell wider than 180 deg is assumed dateline-crossing and cut
    into pages; bbox must be the narrow dateline-crossing one
    (NtsWktShapeParser DatelineRule.Width180)."""
    # pentagon (non-rect ring; a rect ring would demote per
    # MakeRectFromPoly and PolyToRect180Rule instead)
    d = P("POLYGON((175 -10, -178 -11, -175 -10, -175 10, 175 10, 175 -10))")
    assert d["kind"] == wkt.KIND_MULTIPOLYGON
    assert d["minx"] == 175 and d["maxx"] == -175  # crosses dateline
    assert d["maxy"] == 10
    xs, ys, ro = np.array(d["xs"]), np.array(d["ys"]), np.array(d["ring_offsets"])
    # point at the dateline inside; point at 0 lon outside
    assert int(relate_polygon_points(np.array([179.5]), np.array([0.0]), xs, ys, ro)[0]) == R.CONTAINS
    assert int(relate_polygon_points(np.array([-179.5]), np.array([0.0]), xs, ys, ro)[0]) == R.CONTAINS
    assert int(relate_polygon_points(np.array([0.0]), np.array([0.0]), xs, ys, ro)[0]) == R.DISJOINT


def test_fiji_corpus():
    """Dateline-crossing Fiji multipolygon: smart bbox width < 5 deg and
    contains +-179.99,-16.9 (NtsGeometryTest.cs:227-250)."""
    with open(os.path.join(os.path.dirname(__file__), "resources",
                           "fiji.wkt.txt")) as f:
        txt = f.read().strip()
    d = wkt.parse_shape(txt)
    from spatial4n_spark.kernels.relate_rect import rect_width, relate_rect_point
    assert float(rect_width(d["minx"], d["maxx"])) < 5.0
    assert int(relate_rect_point(d["minx"], d["maxx"], d["miny"], d["maxy"],
                                 179.99, -16.9)) == R.CONTAINS
    assert int(relate_rect_point(d["minx"], d["maxx"], d["miny"], d["maxy"],
                                 -179.99, -16.9)) == R.CONTAINS
    xs, ys, ro = np.array(d["xs"]), np.array(d["ys"]), np.array(d["ring_offsets"])
    hits = relate_polygon_points(np.array([179.99, -179.99, 0.0]),
                                 np.array([-16.9, -16.9, 0.0]), xs, ys, ro)
    assert hits[0] == R.CONTAINS and hits[1] == R.CONTAINS and hits[2] == R.DISJOINT


def test_batch_parse():
    recs, errs = wkt.parse_wkt_batch(
        ["POINT (1 2)", "not wkt", None, "ENVELOPE (10, 30, 45, 25)"])
    assert recs[0]["kind"] == wkt.KIND_POINT and errs[0] is None
    assert recs[1] is None and errs[1]
    assert recs[2] is None and errs[2] == "null"
    assert recs[3]["kind"] == wkt.KIND_RECT


def test_rect_dateline_edge_normalization():
    # MakeRectangle: a 180/-180 edge is flipped so the rect does not cross
    # the dateline (SpatialContext.cs:260-267)
    d = P("ENVELOPE (180, -170, 10, 0)")
    assert d["minx"] == -180.0 and d["maxx"] == -170.0
    d = P("ENVELOPE (170, -180, 10, 0)")
    assert d["minx"] == 170.0 and d["maxx"] == 180.0
