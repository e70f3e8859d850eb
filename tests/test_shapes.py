"""shapes: the one shape-struct codec. encode(decode(x)) must give back
x unchanged for every kind, null structs and null fields included."""
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import shapes as S
from spatial4n_spark.kernels import wkt

NAN = float("nan")


def _records(*texts):
    return [wkt.parse_shape(t) for t in texts]


CASES = {
    "point": _records("POINT (10.5 -3.25)"),
    "rect": _records("ENVELOPE (1, 4, 3, -2)"),
    "rect_dateline": _records("ENVELOPE (170, -170, 10, -10)"),
    "circle": _records("BUFFER(POINT(5 6), 2.5)"),
    "line": _records("LINESTRING (0 0, 1 1, 2 0)",
                     "BUFFER(LINESTRING (0 0, 3 1), 0.5)"),
    "polygon_with_holes": _records(
        "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 3 2, 3 3, 2 3, 2 2),"
        " (5 5, 6 5, 6 6, 5 6, 5 5))"),
    "multipolygon": _records(
        "MULTIPOLYGON (((0 0, 2 0, 1 2, 0 0)), ((5 5, 7 5, 6 7, 5 5)))"),
    "empty": _records("POINT EMPTY"),
}


def _roundtrip(arr):
    b = S.decode(arr)
    return S.encode(len(b), valid=b.valid,
                    **{name: getattr(b, name) for name in S.FIELD_NAMES})


def _from_records(recs):
    return S.encode_records(recs)


def _nan_and_null_fields():
    # NaN coordinates encode as null (the pandas-UDF rule); a null
    # vertex array stays null and an empty one stays empty
    return S.encode(3, kind=np.array([1, 4, 7], dtype=np.int8),
                    x=np.array([NAN, NAN, NAN]),
                    y=np.array([2.0, NAN, NAN]),
                    minx=np.array([NAN, 0.0, 1.0]),
                    xs=[None, [], [0.0, 1.0, 0.0, 0.0]],
                    ys=[None, [], [0.0, 0.0, 1.0, 0.0]],
                    ring_offsets=[None, None, [0, 4]],
                    error=[None, "bad", None])


def _null_struct():
    arr = _from_records(_records("POINT (1 2)", "ENVELOPE (0, 1, 1, 0)"))
    return pa.StructArray.from_arrays(
        arr.flatten(), fields=list(arr.type),
        mask=pa.array([True, False]))


ARRAYS = {name: (lambda recs=recs: _from_records(recs))
          for name, recs in CASES.items()}
ARRAYS["null_struct"] = _null_struct
ARRAYS["nan_and_null_fields"] = _nan_and_null_fields


@pytest.mark.parametrize("name", sorted(ARRAYS))
def test_encode_decode_roundtrip(name):
    arr = ARRAYS[name]()
    assert [f.name for f in arr.type] == list(S.FIELD_NAMES)
    back = _roundtrip(arr)
    assert back.equals(arr), (back.to_pylist(), arr.to_pylist())
    # a slice decodes through the list offsets of the parent buffers
    if len(arr) > 1:
        assert _roundtrip(arr.slice(1)).equals(arr.slice(1))


def test_decode_fields():
    arr = _null_struct()
    s = S.decode(arr)
    # null struct: kind 0 (EMPTY), every field null
    assert s.kind.tolist() == [0, 2]
    assert np.isnan(s.x[0]) and np.isnan(s.minx[0]) and s.xs[0] is None
    assert s.valid.tolist() == [False, True]
    poly = S.decode(ARRAYS["polygon_with_holes"]())
    xs, ys, ro = poly.verts(0)
    assert ro.tolist() == [0, 5, 10, 15] and len(xs) == len(ys) == 15
    rec = poly.record(0)
    assert rec["kind"] == wkt.KIND_POLYGON and rec["minx"] == 0.0
    assert np.isnan(rec["x"]) and rec["error"] is None


def test_encode_nan_becomes_null():
    arr = _nan_and_null_fields()
    rows = arr.to_pylist()
    assert rows[0]["x"] is None and rows[0]["y"] == 2.0
    assert rows[0]["xs"] is None and rows[1]["xs"] == []
    assert rows[2]["ring_offsets"] == [0, 4]


def test_encode_rejects_unknown_fields():
    with pytest.raises(ValueError, match="not shape fields"):
        S.encode(1, kind=np.zeros(1, dtype=np.int8), z=np.zeros(1))


def test_ring_helpers():
    pages = S.rect_pages(170.0, -170.0, -1.0, 1.0)
    assert [p[0].tolist() for p in pages] == [[170.0, 180.0, 180.0, 170.0],
                                              [-180.0, -170.0, -170.0, -180.0]]
    rec = S.closed_rings_record([(pages[0], [])])
    assert rec["kind"] == 7 and rec["ring_offsets"] == [0, 5]
    assert rec["xs"][0] == rec["xs"][-1] and rec["minx"] == 170.0
    assert S.closed_rings_record([(p, []) for p in pages])["kind"] == 8


def test_shape_col_fills_typed_nulls(spark):
    df = spark.range(1).select(S.shape_col(kind=2, minx=F.lit(1.0),
                                           maxx=2.0).alias("s"))
    assert df.schema["s"].dataType.simpleString() == \
        S.SHAPE_SCHEMA.simpleString()
    row = df.first()["s"]
    assert (row["kind"], row["minx"], row["maxx"], row["xs"]) == \
        (2, 1.0, 2.0, None)
