"""Binary codec: golden byte layout (BinaryCodec.cs: type byte +
little-endian doubles; collection = 0x04 0x00 int32 + nested) and
round-trips incl. error paths."""
import struct

import pytest

from spatial4n_spark.kernels import binary as B
from spatial4n_spark.kernels.wkt import WktParseError, parse_shape


def test_point_golden_bytes():
    b = B.write_shape(parse_shape("POINT (1.5 -2.25)"))
    assert b == bytes([1]) + struct.pack("<dd", 1.5, -2.25)
    r = B.read_shape(b)
    assert (r["x"], r["y"]) == (1.5, -2.25)


def test_rect_golden_bytes():
    b = B.write_shape(parse_shape("ENVELOPE (10, 20, 8, 4)"))
    # order per WriteRect: minX, maxX, minY, maxY
    assert b == bytes([2]) + struct.pack("<dddd", 10.0, 20.0, 4.0, 8.0)
    r = B.read_shape(b)
    assert (r["minx"], r["maxx"], r["miny"], r["maxy"]) == (10.0, 20.0, 4.0, 8.0)


def test_circle_golden_bytes():
    b = B.write_shape(parse_shape("BUFFER(POINT(3 4), 5.5)"))
    assert b == bytes([3]) + struct.pack("<ddd", 3.0, 4.0, 5.5)
    assert B.read_shape(b)["radius"] == 5.5


def test_collection_roundtrip():
    gc = parse_shape("GEOMETRYCOLLECTION (POINT (1 2), ENVELOPE (0, 5, 4, 1))")
    b = B.write_shape(gc)
    assert b[0] == 4 and b[1] == 0
    assert struct.unpack_from("<i", b, 2)[0] == 2
    r = B.read_shape(b)
    assert [m["kind"] for m in r["members"]] == [1, 2]
    assert (r["minx"], r["maxx"]) == (0.0, 5.0)


def test_errors():
    with pytest.raises(WktParseError, match="Unsupported shape byte"):
        B.read_shape(bytes([9]) + b"\x00" * 16)
    with pytest.raises(WktParseError, match="trailing"):
        B.read_shape(B.write_shape(parse_shape("POINT (1 2)")) + b"\x00")
    # geometry kinds now round-trip via the WKB branch (round 2); only a
    # truly unknown kind is rejected
    with pytest.raises(WktParseError, match="unsupported shape kind"):
        B.write_shape({"kind": 42})


def test_multipolygon_hole_nesting_in_wkb():
    """ADVICE r02 (medium): a multipolygon's hole rings must be encoded
    as interior rings of their part's WKB polygon, not standalone
    filled polygons — an external WKB reader must see the hole."""
    mp = parse_shape(
        "MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0),"
        "(2 2, 8 2, 8 8, 2 8, 2 2)), ((20 0, 30 0, 25 8, 20 0)))")
    b = B.write_shape(mp)
    # layout: type byte 5, then WKB: order byte + multipolygon(6) + n=2
    assert b[0] == 5 and b[1] == 1
    assert struct.unpack_from("<I", b, 2)[0] == 6
    assert struct.unpack_from("<I", b, 6)[0] == 2  # two PARTS, not three
    # part 1: polygon with 2 rings (shell + hole)
    assert b[10] == 1
    assert struct.unpack_from("<I", b, 11)[0] == 3  # polygon type
    assert struct.unpack_from("<I", b, 15)[0] == 2  # nrings
    # round-trip preserves even-odd semantics
    r = B.read_shape(b)
    import numpy as np

    from spatial4n_spark.kernels.pip import points_in_polygon
    inside = points_in_polygon(
        np.array([1.0, 5.0, 25.0]), np.array([1.0, 5.0, 2.0]),
        np.array(r["xs"]), np.array(r["ys"]), np.array(r["ring_offsets"]))
    assert list(inside) == [True, False, True]


def test_multipolygon_no_holes_wkb_unchanged():
    mp = parse_shape(
        "MULTIPOLYGON(((0 0, 4 0, 2 3, 0 0)), ((10 0, 14 0, 12 3, 10 0)))")
    b = B.write_shape(mp)
    assert struct.unpack_from("<I", b, 6)[0] == 2
    r = B.read_shape(b)
    assert len(r["ring_offsets"]) - 1 == 2


def test_writers_null_error_and_empty_rows():
    """One null, error or EMPTY row does not fail the writers' batch:
    null and error rows write null; EMPTY writes "POLYGON EMPTY" (read
    back as the same EMPTY row) and binary null (the layout has no
    EMPTY); the point still round-trips."""
    import pyarrow as pa

    from spatial4n_spark import functions as SF
    texts = pa.array(["POINT (1 2)", "bogus", None, "POLYGON EMPTY"])
    shapes = SF._st_from_wkt_default.func(texts)
    shapes = pa.concat_arrays([shapes, pa.nulls(1, shapes.type)])
    wkt = SF.make_st_to_wkt().func(shapes).to_pylist()
    assert wkt == ["POINT (1 2)", None, None, "POLYGON EMPTY", None]
    assert (SF._st_from_wkt_default.func(pa.array(wkt[3:4])).to_pylist()
            == shapes[3:4].to_pylist())
    blobs = SF.st_to_binary.func(shapes).to_pylist()
    assert blobs[1:] == [None] * 4
    assert (SF.st_from_binary.func(pa.array(blobs[:1])).to_pylist()
            == shapes[:1].to_pylist())


def test_wkt_writer_multipolygon_roundtrip_with_holes():
    """st_to_wkt writes a MULTIPOLYGON as members (shell + its holes,
    grouped like the WKB writer), so st_from_wkt reads the same struct
    back: holed members, a member inside another's hole, hole-free
    members."""
    import pyarrow as pa

    from spatial4n_spark import functions as SF
    texts = pa.array([
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 4 2, 4 4, 2 4, 2 2)),"
        " ((20 20, 30 20, 30 30, 20 30, 20 20), (22 22, 24 22, 24 24, 22 22)))",
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 8 2, 8 8, 2 8, 2 2)), ((4 4, 6 4, 6 6, 4 6, 4 4)))",
        "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
    ])
    shapes = SF._st_from_wkt_default.func(texts)
    assert shapes.field("kind").to_pylist() == [8, 8, 8]
    wkt = SF.make_st_to_wkt().func(shapes)
    assert all(w.startswith("MULTIPOLYGON (((") for w in wkt.to_pylist())
    assert wkt[2].as_py() == ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)),"
                              " ((5 5, 6 5, 6 6, 5 5)))")
    back = SF._st_from_wkt_default.func(wkt)
    assert back.to_pylist() == shapes.to_pylist()


def test_wkt_writer_collection_row_writes_null():
    """A GEOMETRYCOLLECTION row (kind 9) writes null; the rest of its
    batch is written as usual."""
    import pyarrow as pa

    from spatial4n_spark import functions as SF
    texts = pa.array(["POINT (1 2)",
                      "GEOMETRYCOLLECTION (POINT (1 2), POINT (3 4))",
                      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))"])
    shapes = SF._st_from_wkt_default.func(texts)
    assert shapes.field("kind").to_pylist() == [1, 9, 8]
    wkt = SF.make_st_to_wkt().func(shapes).to_pylist()
    assert wkt[:2] == ["POINT (1 2)", None]
    assert wkt[2].startswith("MULTIPOLYGON")


def test_writers_nest_a_hole_touching_its_shell_at_its_first_vertex():
    """A hole whose first vertex lies on its shell's boundary is still
    that shell's hole in both writers: two members, the first holed,
    and the re-parsed row keeps the hole's area out (100 - 10 + 1)."""
    import numpy as np
    import pyarrow as pa

    from spatial4n_spark import functions as SF
    from spatial4n_spark.kernels.overlay import polygon_area_evenodd
    shapes = SF._st_from_wkt_default.func(pa.array([
        "MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),(10 5,5 3,5 7,10 5)),"
        "((20 20,21 20,21 21,20 21,20 20)))"]))
    wkt = SF.make_st_to_wkt().func(shapes)
    assert wkt.to_pylist() == [
        "MULTIPOLYGON (((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (10 5, 5 3, 5 7, 10 5)), ((20 20, 21 20, 21 21, 20 21, 20 20)))"]
    blob = SF.st_to_binary.func(shapes).to_pylist()[0]
    assert struct.unpack_from("<I", blob, 6)[0] == 2      # two parts
    assert struct.unpack_from("<I", blob, 15)[0] == 2     # shell + hole
    for back in (SF._st_from_wkt_default.func(wkt),
                 SF.st_from_binary.func(pa.array([blob]))):
        rec = back.to_pylist()[0]
        assert rec["kind"] == 8 and rec["error"] is None
        assert polygon_area_evenodd(np.array(rec["xs"]), np.array(rec["ys"]),
                                    rec["ring_offsets"]) == 91.0
