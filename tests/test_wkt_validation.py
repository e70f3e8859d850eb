"""Polygon validation/repair rules + rect demotion + dateline rules.

Mirrors the reference's parser tests:
- rect demotion: NtsWktShapeParserTest.TestPolyToRect, PolyToRect180Rule,
  PolyToRectCcwRule (reference NtsWktShapeParser.cs:125-158)
- validation/repair: NtsWktShapeParserTest.TestWrapTopologyException,
  TestPolygonRepair (NtsWktShapeParser.cs:266-297, enums :304-368)
"""
import numpy as np
import pytest

from spatial4n_spark.context import SpatialEngineContext
from spatial4n_spark.kernels import wkt
from spatial4n_spark.kernels.pip import relate_polygon_polygon
from spatial4n_spark.kernels.relation import CONTAINS


P = wkt.parse_shape

BOWTIE = "POLYGON((0 0, 10 0, 10 20, 5 -5, 0 20, 0 0))"  # self-intersects
UNCLOSED = "POLYGON((0 0, 10 0, 10 20))"                  # doesn't connect


# ---- rect demotion -------------------------------------------------------

def test_poly_to_rect():
    # NtsWktShapeParserTest.TestPolyToRect
    r = P("POLYGON((0 5, 10 5, 10 20, 0 20, 0 5))")
    assert r["kind"] == wkt.KIND_RECT
    assert (r["minx"], r["maxx"], r["miny"], r["maxy"]) == (0, 10, 5, 20)


def test_poly_to_rect_180_rule():
    # PolyToRect180Rule: >180-wide rect ring crosses under Width180,
    # regardless of point order
    for w in ["POLYGON((160 0, -170 0, -170 10, 160 10, 160 0))",   # ccw
              "POLYGON((160 10, -170 10, -170 0, 160 0, 160 10))"]:  # cw
        r = P(w)
        assert r["kind"] == wkt.KIND_RECT
        assert (r["minx"], r["maxx"], r["miny"], r["maxy"]) == (160, -170, 0, 10)


def test_poly_to_rect_ccw_rule():
    # PolyToRectCcwRule: CCW => normal, CW => dateline-crossing
    ccw = P("POLYGON((160 0, -170 0, -170 10, 160 10, 160 0))",
            dateline_rule="ccwRect")
    assert (ccw["minx"], ccw["maxx"]) == (160, -170)
    cw = P("POLYGON((160 10, -170 10, -170 0, 160 0, 160 10))",
           dateline_rule="ccwRect")
    assert (cw["minx"], cw["maxx"]) == (-170, 160)


def test_poly_to_rect_dateline_none():
    # DatelineRule.None: no polygon crosses the dateline
    r = P("POLYGON((160 0, -170 0, -170 10, 160 10, 160 0))",
          dateline_rule="none")
    assert r["kind"] == wkt.KIND_RECT
    assert (r["minx"], r["maxx"]) == (-170, 160)


def test_non_rect_polygon_not_demoted():
    r = P("POLYGON((0 0, 10 0, 5 5, 0 0))")
    assert r["kind"] == wkt.KIND_POLYGON


def test_rect_ring_with_hole_not_demoted():
    r = P("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),"
          "(2 2, 8 2, 8 8, 2 8, 2 2))")
    assert r["kind"] == wkt.KIND_POLYGON


# ---- validation (default = error, reference default) ---------------------

def test_unclosed_ring_always_errors():
    # reference: LinearRing construction throws even with validation off
    for rule in ("none", "error", "repairConvexHull", "repairBuffer0"):
        with pytest.raises(wkt.WktParseError):
            P(UNCLOSED, validation_rule=rule)


def test_self_intersect_errors_by_default():
    # TestWrapTopologyException second case
    with pytest.raises(wkt.WktParseError):
        P(BOWTIE)


def test_validation_none_accepts_self_intersect():
    r = P(BOWTIE, validation_rule="none")
    assert r["kind"] == wkt.KIND_POLYGON
    assert len(r["xs"]) == 6


def test_valid_polygon_with_hole_passes_validation():
    r = P("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),"
          "(2 2, 8 2, 8 8, 2 8, 2 2))")
    assert r["kind"] == wkt.KIND_POLYGON
    assert len(r["ring_offsets"]) == 3


def test_hole_outside_shell_invalid():
    bad = ("POLYGON((0 0, 10 0, 5 5, 0 0),"
           "(20 20, 21 20, 21 21, 20 21, 20 20))")
    with pytest.raises(wkt.WktParseError):
        P(bad)
    assert P(bad, validation_rule="none")["kind"] == wkt.KIND_POLYGON


# ---- repair (TestPolygonRepair) ------------------------------------------

def _area2(rec):
    total = 0.0
    ro = rec["ring_offsets"]
    for a, b in zip(ro[:-1], ro[1:]):
        ring = list(zip(rec["xs"][a:b], rec["ys"][a:b]))
        total += abs(wkt._signed_area2(ring))
    return total


def test_repair_buffer0():
    rec = P(BOWTIE, validation_rule="repairBuffer0")
    assert rec["kind"] in (wkt.KIND_POLYGON, wkt.KIND_MULTIPOLYGON)
    assert _area2(rec) > 0
    # every lobe is a simple ring now
    ro = rec["ring_offsets"]
    for a, b in zip(ro[:-1], ro[1:]):
        ring = list(zip(rec["xs"][a:b], rec["ys"][a:b]))
        assert wkt._ring_invalid_reason(ring) is None


def test_repair_convex_hull_contains_buffer0():
    hull = P(BOWTIE, validation_rule="repairConvexHull")
    buf0 = P(BOWTIE, validation_rule="repairBuffer0")
    assert hull["kind"] == wkt.KIND_POLYGON
    assert _area2(hull) > 0
    rel = relate_polygon_polygon(
        np.asarray(hull["xs"]), np.asarray(hull["ys"]),
        np.asarray(hull["ring_offsets"]),
        np.asarray(buf0["xs"]), np.asarray(buf0["ys"]),
        np.asarray(buf0["ring_offsets"]))
    assert rel == CONTAINS


def test_repair_leaves_valid_polygons_alone():
    tri = "POLYGON((0 0, 10 0, 5 5, 0 0))"
    for rule in ("error", "repairConvexHull", "repairBuffer0"):
        r = P(tri, validation_rule=rule)
        assert r["kind"] == wkt.KIND_POLYGON
        assert len(r["xs"]) == 4


def test_buffer0_bowtie_lobes_cover_expected_points():
    rec = P(BOWTIE, validation_rule="repairBuffer0")
    from spatial4n_spark.kernels.pip import points_in_polygon
    xs, ys = np.asarray(rec["xs"]), np.asarray(rec["ys"])
    ro = np.asarray(rec["ring_offsets"])
    # interior of the big left lobe and the right lobe
    inside = points_in_polygon(np.array([1.0, 9.0]), np.array([2.0, 5.0]),
                               xs, ys, ro)
    assert inside.all()


# ---- batch/Spark surface -------------------------------------------------

def test_batch_parse_reports_validation_errors():
    cols = wkt.parse_wkt_columns(
        ["POINT (1 2)", BOWTIE, UNCLOSED,
         "POLYGON((0 5, 10 5, 10 20, 0 20, 0 5))"])
    kind, errs = cols["kind"], cols["error"]
    assert kind[0] == wkt.KIND_POINT and errs[0] is None
    assert kind[1] == wkt.KIND_EMPTY and "invalid polygon" in errs[1]
    assert kind[2] == wkt.KIND_EMPTY and "unclosed" in errs[2]
    assert kind[3] == wkt.KIND_RECT


def test_columns_parse_rules_roundtrip():
    cols = wkt.parse_wkt_columns(
        [BOWTIE], validation_rule="repairConvexHull")
    assert cols["error"][0] is None
    assert cols["kind"][0] == wkt.KIND_POLYGON
    cols2 = wkt.parse_wkt_columns([BOWTIE])
    assert cols2["error"][0] is not None


def test_context_factory_rules():
    ctx = SpatialEngineContext.from_args(
        {"datelineRule": "CcwRect", "validationRule": "RepairBuffer0"})
    assert ctx.dateline_rule == "ccwRect"
    assert ctx.validation_rule == "repairBuffer0"
    rec = ctx.parse_wkt(BOWTIE)
    assert _area2(rec) > 0
    with pytest.raises(ValueError):
        SpatialEngineContext.from_args({"validationRule": "fixItPlease"})


def test_spark_st_from_wkt_configured(spark):
    import pandas as pd

    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    df = spark.createDataFrame(pd.DataFrame({"w": [BOWTIE]}))
    default = df.withColumn("s", SF.st_from_wkt(F.col("w"))).select("s.*")
    row = default.collect()[0]
    assert row["error"] is not None
    repaired = df.withColumn(
        "s", SF.st_from_wkt(F.col("w"), validation_rule="repairBuffer0")
    ).select("s.*").collect()[0]
    assert repaired["error"] is None and len(repaired["xs"]) >= 8


def test_multipolygon_member_validation_and_repair():
    """Validation/repair applies per MULTIPOLYGON member (the reference
    runs MakeShapeFromGeometry per parsed part)."""
    bad_mp = ("MULTIPOLYGON(((0 0, 4 0, 2 3, 0 0)),"
              "((10 0, 20 0, 20 20, 15 -5, 10 20, 10 0)))")
    with pytest.raises(wkt.WktParseError):
        P(bad_mp)
    ok = P(bad_mp, validation_rule="none")
    assert ok["kind"] == wkt.KIND_MULTIPOLYGON
    rep = P(bad_mp, validation_rule="repairBuffer0")
    assert rep["kind"] == wkt.KIND_MULTIPOLYGON
    # first member intact (4 coords) + second planarized into lobes
    assert len(rep["ring_offsets"]) - 1 >= 3
    for a, b in zip(rep["ring_offsets"][:-1], rep["ring_offsets"][1:]):
        ring = list(zip(rep["xs"][a:b], rep["ys"][a:b]))
        assert wkt._ring_invalid_reason(ring) is None
    hull = P(bad_mp, validation_rule="repairConvexHull")
    assert _area2(hull) > 0


def _fuzz_polygon_texts(seed=3, n=1500):
    """Single-ring POLYGON texts on a coarse grid, so repeated vertices,
    bow-ties, collinear overlaps and vertex touches are common; plus
    axis-parallel rects, rings wider than 180 or past +-180, and
    unclosed rings."""
    rng = np.random.default_rng(seed)
    texts = []
    for k in range(n):
        m = int(rng.integers(3, 8))
        step = (1.0, 0.1, 45.0)[k % 3]  # 45: rings wider than 180
        pts = [tuple(float(v) * step for v in rng.integers(-4, 5, 2))
               for _ in range(m)]
        if rng.random() < 0.2:  # repeated vertex
            j = int(rng.integers(0, m))
            pts.insert(j, pts[j])
        if k % 11 == 0:  # axis-parallel rect, any start corner/direction
            x0, y0 = (float(v) for v in rng.integers(-4, 4, 2))
            w, h = (float(v) for v in rng.integers(1, 4, 2))
            c = [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]
            s = int(rng.integers(0, 4))
            pts = c[s:] + c[:s]
            if rng.random() < 0.5:
                pts = pts[::-1]
        if k % 17 == 0:
            pts = [(x + 170.0, y) for x, y in pts]  # past +180
        ring = pts if k % 13 == 0 else pts + [pts[0]]  # unclosed
        texts.append("POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in ring)
                     + "))")
    return texts


def _same(a, b):
    return (a == b or (isinstance(a, float) and isinstance(b, float)
                       and np.isnan(a) and np.isnan(b)))


def _assert_columns_match(cols, texts, parse_one, errors=wkt.WktParseError):
    """Row i of a columnar parse equals parse_one(texts[i]): kind,
    scalar fields, vertices and error text ("null" for a null row).
    parse_one may raise only `errors`; anything else fails the test."""
    kinds = set()
    for i, t in enumerate(texts):
        if t is None:
            rec, err = None, "null"
        else:
            try:
                rec, err = parse_one(t), None
            except errors as e:
                rec, err = None, str(e)[:200]
        assert cols["error"][i] == err, (t, cols["error"][i], err)
        if rec is None:
            assert cols["kind"][i] == wkt.KIND_EMPTY, t
            continue
        kinds.add(rec["kind"])
        assert cols["kind"][i] == rec["kind"], t
        for f in ("x", "y", "radius", "minx", "maxx", "miny", "maxy"):
            assert _same(float(cols[f][i]), float(rec[f])), (t, f)
        for f in ("xs", "ys", "ring_offsets"):
            want = rec[f] or None
            got = cols[f][i]
            assert (got is None and want is None) or list(got) == list(want), (t, f)
    return kinds


def _assert_columns_match_parse_shape(texts, rule, snap=None):
    cols = wkt.parse_wkt_columns(texts, validation_rule=rule, snap=snap)
    return _assert_columns_match(
        cols, texts, lambda t: P(t, validation_rule=rule, snap=snap))


@pytest.mark.parametrize("rule,snap", [
    ("none", None), ("error", None), ("repairConvexHull", None),
    ("repairBuffer0", None), ("error", wkt.make_snap("fixed", 2.0))])
def test_columns_polygon_batch_matches_parse_shape(rule, snap):
    """The batched single-ring POLYGON path of parse_wkt_columns gives
    exactly the per-row parse_shape result: kind, bbox, vertices and
    error text."""
    kinds = _assert_columns_match_parse_shape(_fuzz_polygon_texts(), rule, snap)
    assert {wkt.KIND_POLYGON, wkt.KIND_RECT} <= kinds


# the ENVELOPE, BUFFER(POINT) and POINT fast paths' edges, signed and
# 400-digit numerals, null rows, POLYGON texts whose coordinate list
# np.fromstring reads only in part and POLYGON comma lists the tokenizer
# rejects
LONG = "1" * 400
FAST_PATH_EDGES = [
    "ENVELOPE (180, -170, 10, 0)", "ENVELOPE (170, -180, 10, 0)",
    "ENVELOPE (180, -180, 10, 0)", "ENVELOPE (-180, 180, 10, 0)",
    "ENVELOPE (180, 180, 10, 0)", "envelope(-180,-180,1,0)",
    "ENVELOPE (10, 20, 0, 10)", "ENVELOPE (10, 20, 5, 5)",
    "BUFFER(POINT(1 2), -1)", "BUFFER(POINT(1 2), -0)", "BUFFER(POINT(1 2), 0)",
    "BUFFER(POINT(1 2), 200)", "BUFFER(POINT(179.5 89.5), 3.25)",
    "buffer(point(-10 5), 1e999)",
    "POINT Z (1 2 3)", "POINT M (1 2 3)", "POINT (1 2 3)", "POINT (1 2 3 4)",
    "POINT (1e999 2)", "POINT (-1e999 1e-999)", "POINT (0.1 -0.7)", None,
    "POINT (1 2)x", "POINT EMPTY", "LINESTRING (0 0, 1 1)",
    "POLYGON((0 0, 4 0, 4 3, 0 0))", "POLYGON((0 0, 1 0, 1 1, 0 0, e 5))",
    "POLYGON((0 0, 1 0, 1 1, 0 0e))", "POLYGON((0 0, 1 0, 1..5, 0 0))",
    "POLYGON((0 0, 1 0, 1-2 3, 0 0))", None,
    "POINT (+1 2)", "ENVELOPE (+1, 2, 3, 1)", "BUFFER(POINT(+1 2), +1)",
    "POINT (1. .5)", f"POINT ({LONG} 2)", f"POINT (0.{LONG} -{LONG}e-399)",
    f"ENVELOPE (-{LONG}e-398, .{LONG}, +{LONG}e-399, 1.)",
    f"BUFFER(POINT(1 2), 0.{LONG})",
    f"POLYGON((+0 0, 4 0, 4 3., .0 {LONG}e-999))",
    "POLYGON((0 0, 4 0,, 4 3, 0 0))", "POLYGON((0,0,4,0,4,3,0,0))",
    "POLYGON((0 0, 4 0, 4 3, 0 0,))", "POLYGON((0 0 5, 4 0 5, 4 3 5, 0 0 5))",
]
SNAPS = [None, wkt.make_snap("floating_single"), wkt.make_snap("fixed", 4.0)]


@pytest.mark.parametrize("snap", SNAPS)
def test_columns_fast_paths_match_parse_shape(snap):
    """Every fast path of parse_wkt_columns (POINT, ENVELOPE,
    BUFFER(POINT), POLYGON) gives exactly the tokenizer's row, under
    each snap model; so does a batch of null rows only."""
    kinds = _assert_columns_match_parse_shape(FAST_PATH_EDGES, "error", snap)
    assert {wkt.KIND_POINT, wkt.KIND_RECT, wkt.KIND_CIRCLE,
            wkt.KIND_POLYGON} <= kinds
    assert _assert_columns_match_parse_shape([None] * 3, "error", snap) == set()


@pytest.mark.parametrize("nwl", [False, True])
@pytest.mark.parametrize("snap", SNAPS)
def test_ntsreader_columns_match_parse_shape_ntsreader(nwl, snap):
    texts = ["POINT(10.5 20.25)", "POINT(-240 20)", "POINT(181 0)", None,
             "POINT(540 0)", "POINT(0 95)", "POINT(0 -95)", "POINT(-180 90)",
             "POINT(200 95)", "POINT (1e999 0)", "POINT Z (1 2 3)",
             "LINESTRING(0 0, 5 5)", "LINESTRING(0 0, 185 5)",
             "ENVELOPE(10, 20, 40, 30)", "POLYGON((0 0, 4 0, 4 3, 0 0))",
             "POLYGON((170 0, 190 0, 190 5, 170 0))", "bogus",
             "POINT (+1 2)", "POINT (1. .5)", f"POINT ({LONG} 2)",
             f"POINT (0.{LONG} -{LONG}e-398)", "ENVELOPE (+1, 2, 3, 1)"]
    cols = wkt.parse_ntsreader_columns(texts, snap=snap,
                                       norm_wrap_longitude=nwl)
    kinds = _assert_columns_match(cols, texts, lambda t: wkt.parse_shape_ntsreader(
        t, snap=snap, norm_wrap_longitude=nwl))
    assert {wkt.KIND_POINT, wkt.KIND_POLYGON} <= kinds


def test_legacy_column_matches_parse_legacy():
    texts = ["1 2", "-10.5 20 30 40", "-10 40 30 20", "1 2 3", "1 2 3 4 5",
             "45.5, -120.25", "95, 0", "Circle(1 2 d=3)", "circle(1 2 3)",
             "CIRCLE( 4.56,1.23 d=7.89 )", "Circle(1 2 distance=200)",
             "Circle(1 2)", "Circle(1 2 x=3)", "Circle(1 2 3 4)", "bogus",
             "", None, "x y"]
    cols = wkt.parse_column(texts, wkt.parse_legacy)
    kinds = _assert_columns_match(cols, texts, wkt.parse_legacy,
                                  (wkt.WktParseError, ValueError))
    assert {wkt.KIND_POINT, wkt.KIND_RECT, wkt.KIND_CIRCLE} <= kinds


def test_latlon_column_error_rows():
    """st_from_latlon: lon becomes x, lat y; a null, out-of-range,
    three-value or non-numeric row reads its error, cut at 200
    characters like every parser's."""
    import pyarrow as pa

    from spatial4n_spark import functions as SF
    from spatial4n_spark.shapes import decode
    texts = ["45.5, -120.25", " -3.25 ,10.5 ", None, "95, 0", "0, 190",
             "1,2,3", "abc, 5", "5", "1,2," + "9" * 300]
    cols = wkt.parse_column(texts, wkt.parse_latlon)
    _assert_columns_match(cols, texts, wkt.parse_latlon,
                          (wkt.WktParseError, ValueError))
    s = decode(SF.st_from_latlon.func(pa.array(texts)))
    assert (s.x[0], s.y[0], s.x[1], s.y[1]) == (-120.25, 45.5, 10.5, -3.25)
    assert s.error.to_pylist() == [
        None, None, "null",
        "Invalid latitude: latitudes are range -90 to 90: provided lat: [95.0]",
        "Invalid longitude: longitudes are range -180 to 180: provided lon: [190.0]",
        "incompatible dimension (2) and values (1,2,3)",
        "could not convert string to float: 'abc'",
        "incompatible dimension (2) and values (5)",
        ("incompatible dimension (2) and values (1,2," + "9" * 300)[:200]]
    assert s.kind.tolist() == [1, 1] + [0] * 7


def test_binary_column_null_and_bad_rows():
    import pyarrow as pa

    from spatial4n_spark import functions as SF
    from spatial4n_spark.kernels import binary as B
    from spatial4n_spark.shapes import decode
    blob = B.write_shape(P("POLYGON((0 0, 4 0, 4 3, 0 0))"))
    s = decode(SF.st_from_binary.func(
        pa.array([blob, None, b"", b"\x07", blob], type=pa.binary())))
    assert s.kind.tolist() == [7, 0, 0, 0, 7]
    assert s.error.to_pylist()[:2] == [None, "null"]
    assert s.error[2].as_py() and s.error[3].as_py()
    assert list(s.xs[4]) == [0.0, 4.0, 4.0, 0.0]
    assert list(s.ring_offsets[0]) == [0, 4]


def _large_rings(n=2400, seed=5):
    """Closed star-shaped rings of n vertices (simple by construction)
    and broken copies: a crossing, a vertex touch, a repeated vertex,
    and a coarse grid snap that makes some of each."""
    rng = np.random.default_rng(seed)
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(5, 10, n)
    star = list(zip((rad * np.cos(ang)).tolist(), (rad * np.sin(ang)).tolist()))
    crossing = list(star)
    crossing[700], crossing[702] = crossing[702], crossing[700]
    touch = list(star)
    touch[1500] = (0.0, 0.0)
    touch[1200] = (0.0, 0.0)
    repeated = star[:900] + [star[900]] + star[900:]
    snapped = [(round(x / 0.05) * 0.05, round(y / 0.05) * 0.05) for x, y in star]
    return [r + [r[0]] for r in (star, crossing, touch, repeated, snapped)]


@pytest.mark.parametrize("rule", ["none", "error", "repairConvexHull"])
def test_columns_polygon_batch_large_rings_match_parse_shape(rule):
    """Rings of a few thousand vertices take the same batched pass (one
    step per segment, O(rings x vertices) memory) and still equal
    parse_shape; the simplicity verdict equals the per-ring test."""
    rings = _large_rings()
    texts = ["POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in r) + "))"
             for r in rings]
    kinds = _assert_columns_match_parse_shape(texts, rule)
    assert wkt.KIND_POLYGON in kinds
    want = [wkt._ring_invalid_reason(r) is None for r in rings]
    assert want[:4] == [True, False, False, False]
    for r, w in zip(rings, want):
        vx = np.array([[p[0] for p in r]]); vy = np.array([[p[1] for p in r]])
        assert wkt._simple_rings(vx, vy).tolist() == [w]
    same = [r for r in rings if len(r) == len(rings[0])]
    vx = np.array([[p[0] for p in r] for r in same])
    vy = np.array([[p[1] for p in r] for r in same])
    assert wkt._simple_rings(vx, vy).tolist() == \
        [wkt._ring_invalid_reason(r) is None for r in same]
