"""MULTIPOLYGON overlap resolution. The reference parses MULTIPOLYGON
into a ShapeCollection (NtsWktShapeParser.cs:184-202) whose relate is
the member fold — union semantics, overlapping members accepted. The
engine's even-odd ring form would XOR an overlap into a phantom hole,
so overlap is resolved at parse time: containment drop, or the exact
union of the overlapping members from the noded overlay kernel — also
under degenerate contact, holes and dateline pages. Only when the union
rings do not stitch does the parser error, or (allowMultiOverlap=true,
factory key NtsSpatialContextFactory.cs:52 / NtsGeometry.cs:64-94)
take an approximate hull union; those fallbacks are tested by forcing
the union to return None."""
import numpy as np
import pytest

from spatial4n_spark.kernels import booleans
from spatial4n_spark.kernels.overlay import polygon_area_evenodd
from spatial4n_spark.kernels.pip import points_in_polygon
from spatial4n_spark.kernels.wkt import (WktParseError, parse_shape,
                                         parse_wkt_columns)

OVERLAP = ("MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)),"
           " ((5 5, 15 5, 15 15, 5 15, 5 5)))")
VTX_TOUCH = ("MULTIPOLYGON(((0 0, 10 0, 5 8, 0 0)),"
             " ((10 0, 20 0, 15 8, 10 0)))")   # shared vertex (10,0)
EDGE_SHARE = ("MULTIPOLYGON(((0 0, 10 0, 5 8, 0 0)),"
              " ((0 0, 10 0, 5 -8, 0 0)))")    # shared full edge
# interiors overlap AND boundaries share a vertex (0 0)
DEGEN_OVERLAP = ("MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)),"
                 " ((0 0, 14 5, 5 14, 0 0)))")
# square + the two triangle tips outside it, each with base 38/7 on
# x = 10 / y = 10 and height 4: 100 + 2 * 76/7
DEGEN_OVERLAP_AREA = 852.0 / 7.0


def _pip(rec, px, py):
    return points_in_polygon(np.array(px, float), np.array(py, float),
                             np.array(rec["xs"]), np.array(rec["ys"]),
                             rec["ring_offsets"])


def _area(rec):
    return polygon_area_evenodd(rec["xs"], rec["ys"], rec["ring_offsets"])


@pytest.fixture
def no_union(monkeypatch):
    """The union of overlapping members does not stitch."""
    monkeypatch.setattr(booleans, "union_members", lambda *a, **k: None)


def test_crossing_members_union_by_default():
    """Collection-fold parity: (7,7) is inside BOTH members; even-odd
    without the union would XOR it out, the reference's member fold
    says CONTAINS."""
    rec = parse_shape(OVERLAP)
    assert rec["kind"] == 8
    assert _pip(rec, [7, 2, 12, 12, -1], [7, 2, 12, 2, 16]).tolist() == \
        [True, True, True, False, False]
    assert (rec["minx"], rec["maxx"], rec["miny"], rec["maxy"]) == \
        (0.0, 15.0, 0.0, 15.0)
    # allowMultiOverlap only widens the infeasible case; same result
    rec2 = parse_shape(OVERLAP, allow_multi_overlap=True)
    assert rec2["xs"] == rec["xs"]


def test_validation_none_merges_as_is():
    rec = parse_shape(OVERLAP, validation_rule="none")
    # XOR artifact is the documented cost of disabling validation
    assert not _pip(rec, [7], [7])[0]


def test_vertex_touch_is_valid_and_merges():
    rec = parse_shape(VTX_TOUCH)
    assert rec["kind"] == 8
    assert _pip(rec, [5, 15, 10], [2, 2, 7]).tolist() == [True, True, False]


def test_shared_edge_disjoint_interiors_merge():
    # boundary-only contact (shared full edge, interiors disjoint):
    # even-odd parity stays correct, so members merge untouched —
    # dateline page cuts produce exactly this along ±180
    rec = parse_shape(EDGE_SHARE)
    assert rec["kind"] == 8
    assert _pip(rec, [5, 5, 5], [2, -2, 9]).tolist() == [True, True, False]


def test_containment_member_absorbed():
    wkt = ("MULTIPOLYGON(((0 0, 20 0, 10 16, 0 0)),"
           " ((8 2, 12 2, 10 5, 8 2)))")  # second strictly inside first
    rec = parse_shape(wkt)
    # union = outer triangle only: inner-triangle points stay INSIDE
    # (even-odd over both rings would carve them out)
    assert _pip(rec, [10], [3])[0]
    assert len(rec["ring_offsets"]) == 2


def test_degenerate_overlap_unions_by_default():
    """Overlap plus a shared vertex: the exact union, no error."""
    rec = parse_shape(DEGEN_OVERLAP)
    assert rec["kind"] == 8 and len(rec["ring_offsets"]) == 2
    # overlap, both tips; (12, 4) lies in the hull but not the union
    assert _pip(rec, [5, 12, 5, 12], [5, 5, 12, 4]).tolist() == \
        [True, True, True, False]
    assert _area(rec) == pytest.approx(DEGEN_OVERLAP_AREA, abs=1e-9)
    assert parse_shape(DEGEN_OVERLAP, allow_multi_overlap=True)["xs"] == \
        rec["xs"]


def test_unstitched_union_errors_by_default(no_union):
    with pytest.raises(WktParseError, match="did not stitch"):
        parse_shape(DEGEN_OVERLAP)


def test_degenerate_overlap_hulls_under_allow(no_union):
    rec = parse_shape(DEGEN_OVERLAP, allow_multi_overlap=True)
    assert rec["kind"] in (7, 8)
    # hull covers the overlap interior AND both members
    assert _pip(rec, [5, 12, 4], [5, 4, 12]).tolist() == [True, True, True]
    # repair rules take the same hull fallback
    rec2 = parse_shape(DEGEN_OVERLAP, validation_rule="repairConvexHull")
    assert _pip(rec2, [5], [5])[0]
    rec3 = parse_shape(DEGEN_OVERLAP, validation_rule="repairBuffer0")
    assert _pip(rec3, [5], [5])[0]


def test_non_overlapping_member_kept_outside_hull(no_union):
    wkt = DEGEN_OVERLAP[:-1] + ", ((100 0, 110 0, 105 8, 100 0)))"
    rec = parse_shape(wkt, allow_multi_overlap=True)
    assert _pip(rec, [105, 50], [2, 2]).tolist() == [True, False]


def test_interlocking_union_keeps_pocket_hole():
    # U-shape plus a bar across its opening: union boundary encloses a
    # pocket that belongs to NEITHER member -> stays a hole
    wkt = ("MULTIPOLYGON(((0 0, 10 0, 10 10, 7 10, 7 3, 3 3, 3 10,"
           " 0 10, 0 0)), ((-1 6, 11 6, 11 8, -1 8, -1 6)))")
    rec = parse_shape(wkt)
    assert len(rec["ring_offsets"]) >= 3  # outer + pocket hole
    got = _pip(rec, [5, 5, 5, 1], [4.5, 7, 9.5, 5])
    assert got.tolist() == [False, True, False, True]


def test_context_factory_key(monkeypatch):
    from spatial4n_spark.context import SpatialEngineContext
    ctx = SpatialEngineContext.from_args({"allowMultiOverlap": "true"})
    assert ctx.allow_multi_overlap
    for c in (ctx, SpatialEngineContext()):
        rec = c.parse_wkt(DEGEN_OVERLAP)
        assert _pip(rec, [5], [5])[0]
        assert _area(rec) == pytest.approx(DEGEN_OVERLAP_AREA, abs=1e-9)
    # the key decides only when the union does not stitch
    monkeypatch.setattr(booleans, "union_members", lambda *a, **k: None)
    assert _pip(ctx.parse_wkt(DEGEN_OVERLAP), [5], [5])[0]
    with pytest.raises(WktParseError):
        SpatialEngineContext().parse_wkt(DEGEN_OVERLAP)


def test_corpus_members_still_parse():
    """fiji/russia corpora: dateline page cuts + coarse overlapping
    members must parse under DEFAULT rules (the reference's own corpus
    tests read them with a default context)."""
    import os
    res = os.path.join(os.path.dirname(__file__), "resources")
    for name in ("fiji.wkt.txt", "russia.wkt.txt"):
        with open(os.path.join(res, name)) as fh:
            rec = parse_shape(fh.read().strip())
        assert rec["kind"] == 8 and rec["error"] is None if "error" in rec \
            else rec["kind"] == 8


def test_fiji_page_sliver_overlap_is_unioned():
    """A fiji member's dateline page cut leaves a sliver ring 3.4e-7
    deg wide at x = -180 that overlaps another member's page along
    x = -180 (about 3e-8 deg^2 of shared interior). The members are
    unioned, so the sliver strip is covered, not XORed into a phantom
    hole; the shape 0.1 deg east is covered either way."""
    import os
    res = os.path.join(os.path.dirname(__file__), "resources")
    with open(os.path.join(res, "fiji.wkt.txt")) as fh:
        text = fh.read().strip()
    for kw in ({}, {"allow_multi_overlap": True}):
        cols = parse_wkt_columns([text], **kw)
        rec = {f: v[0] for f, v in cols.items()}
        assert _pip(rec, [-179.9999998, -179.99999999, -179.9],
                    [-16.87] * 3).tolist() == [True, True, True]


def test_st_from_wkt_allow_multi_overlap(spark):
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    df = spark.createDataFrame([(DEGEN_OVERLAP,)], ["wkt"])
    default = df.select(SF.st_from_wkt(F.col("wkt")).alias("s")).first()
    assert default["s"]["error"] is None
    assert _area(default["s"]) == pytest.approx(DEGEN_OVERLAP_AREA,
                                                abs=1e-9)
    allowed = df.select(SF.st_from_wkt(
        F.col("wkt"), allow_multi_overlap=True).alias("s")).first()
    assert allowed["s"]["error"] is None
    assert allowed["s"]["xs"] == default["s"]["xs"]
    rel = spark.createDataFrame([(OVERLAP, 7.0, 7.0)], ["wkt", "px", "py"]) \
        .select(SF.st_relate_shape_point(
            SF.st_from_wkt(F.col("wkt")),
            F.col("px"), F.col("py")).alias("rel")).first()
    assert rel["rel"] == 2  # CONTAINS via the default exact union


def test_reference_parse_multipolygon_fixture():
    """NtsWktShapeParserTest.TestParseMultiPolygon's members overlap
    WITH degenerate contact (shared vertices, a shared edge, a proper
    crossing). The reference accepts it because its MULTIPOLYGON is a
    ShapeCollection of separately-validated members; this engine's
    even-odd form needs their union, which the noded overlay gives
    exactly: the second member (area 3) plus the first member's tip
    above it, the triangle (100 1, 101 1.5, 101 2) of area 1/4."""
    wkt = ("MULTIPOLYGON("
           "((100 0, 101 0, 101 2, 100 1, 100 0)),"
           "((100 0, 102 0, 102 2, 100 1, 100 0)))")
    rec = parse_shape(wkt)
    assert len(rec["ring_offsets"]) == 2
    assert _pip(rec, [100.5, 101.5, 100.9, 101.5], [0.5, 0.5, 1.75, 1.9]
                ).tolist() == [True, True, True, False]
    assert _area(rec) == pytest.approx(3.25, abs=1e-9)


def test_bridge_member_unions_transitively():
    """A bridge member crossing two previously-disjoint members must
    union with BOTH: the three members go through one union, so no
    merged ring is left overlapping B (a pairwise pass once left the
    merged A+C ring overlapping B, which even-odd XORed into a phantom
    hole over B∩bridge)."""
    wkt = ("MULTIPOLYGON(((0 0,1 0,1 1,0 1,0 0)),"
           "((2 0,3 0,3 1,2 1,2 0)),"
           "((0.5 0.25,2.5 0.25,2.5 0.75,0.5 0.75,0.5 0.25)))")
    rec = parse_shape(wkt, geo=False)
    ro = np.asarray(rec["ring_offsets"])
    assert len(ro) - 1 == 1  # one fused outer ring, no phantom holes
    # (2.25,.5) sat in B∩bridge — the phantom-hole point before the fix
    assert _pip(rec, [2.25, 1.5, 0.5, 1.5, 2.25, 3.5],
                [0.5, 0.5, 0.9, 0.9, 0.9, 0.5]).tolist() == \
        [True, True, True, False, True, False]


def test_duplicate_members_fold_to_one():
    """Collection-fold identity: union of a member with itself is the
    member. Even-odd would XOR bit-identical (or rotated / rewound)
    duplicate members away entirely; the member classifier finds that
    each covers the other and drops the later one."""
    dup = "MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0)),((0 0,10 0,10 10,0 10,0 0)))"
    rec = parse_shape(dup)
    assert len(rec["ring_offsets"]) - 1 == 1
    assert _pip(rec, [5], [5]).tolist() == [True]
    # rotated start + reversed winding is the same geometry
    rot = ("MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0)),"
           "((10 10,10 0,0 0,0 10,10 10)))")
    rec2 = parse_shape(rot)
    assert len(rec2["ring_offsets"]) - 1 == 1
    assert _pip(rec2, [5], [5]).tolist() == [True]
    # holed member duplicated: shell+hole survive once, hole still a hole
    holed = ("MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4)),"
             "((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4)))")
    rec3 = parse_shape(holed)
    assert len(rec3["ring_offsets"]) - 1 == 2
    assert _pip(rec3, [2, 5], [2, 5]).tolist() == [True, False]


def test_collinear_contact_interior_overlap_detected():
    """Round-4 resolver fix: two rects sharing collinear edge SEGMENTS
    while their interiors overlap ([1,2]x[0,2]) — every vertex of each
    lies on or outside the other's boundary, so the vertex probes are
    blind; the sub-segment midpoint probe must send the pair to the
    union, NEVER to a touch-only merge whose even-odd XOR would punch
    a phantom hole. The union is [0,3]x[0,2]."""
    wkt = ("MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)),"
           " ((1 0, 3 0, 3 2, 1 2, 1 0)))")
    rec = parse_shape(wkt)
    assert len(rec["ring_offsets"]) == 2
    assert _pip(rec, [1.5, 2.5, 0.5, 4.0], [1, 1, 1, 1]).tolist() == \
        [True, True, True, False]
    assert _area(rec) == pytest.approx(6.0, abs=1e-12)


def test_touch_only_members_still_plain_merge():
    """The midpoint probe must NOT reclassify genuine touch-only
    contact (shared edge, interiors on opposite sides)."""
    rec = parse_shape(EDGE_SHARE)
    assert rec["kind"] == 8 and len(rec["ring_offsets"]) == 3
    assert _pip(rec, [5, 5], [3, -3]).tolist() == [True, True]


def test_vertex_touch_overlap_keeps_both_members():
    """Members that overlap while touching only at vertices (a vertex on
    an edge, an edge through a vertex) are unioned, not reduced to the
    member one of whose vertices lies deep inside the other: (-2.8, 0)
    lies in the triangle only, (-4, 4) in the other member only."""
    wkt = ("MULTIPOLYGON(((-2 2, -3 3, -3 -1, -2 2)),"
           " ((0 4, -4 6, -6 2, -3 2, -1 2, 0 4)))")
    for kw in ({}, {"validation_rule": "repairConvexHull"},
               {"allow_multi_overlap": True}):
        rec = parse_shape(wkt, **kw)
        assert _pip(rec, [-2.8, -2.8, -4], [0, 2.5, 4]).tolist() == \
            [True, True, True], kw


def test_hole_filling_member_not_dropped_as_contained():
    """Code-review r4: a member that exactly covers another member's
    HOLE has all its vertices at even-odd parity 1 and no boundary
    crossings — the old containment probe dropped it, silently keeping
    a phantom hole (area 96, PIP(5,5) False). Mutual vertex containment
    sends the pair to the union: the filled square [0,10]^2, one ring,
    area 100, the old hole INSIDE."""
    wkt = ("MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),"
           "(4 4,6 4,6 6,4 6,4 4)), ((3 3,7 3,7 7,3 7,3 3)))")
    rec = parse_shape(wkt)
    assert len(rec["ring_offsets"]) == 2
    assert _pip(rec, [5.0, 3.5], [5.0, 5.0]).tolist() == [True, True]
    assert _area(rec) == pytest.approx(100.0, abs=1e-12)
