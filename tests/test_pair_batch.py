"""The pair kernels noded per Arrow batch: every candidate pair of a
batch goes through one vectorized noding pass (kernels/booleans), so a
row's answer must not depend on the rows it shares a batch with.

- Row classes: the polygon relate is total. A rect relates as its ring
  pages, a point as its one vertex, EMPTY as DISJOINT; a null struct,
  an error row and any other kind give null, on either side. The
  polygon-circle relate is total on the same classes, and the closure
  point refine answers as the struct point relate on every class.
- Batch independence: each row alone equals the same row inside one
  mixed batch (every row class, holes, MULTIPOLYGONs, shared edges,
  vertex touches, A == B, a zero-area ring, coordinates near +-1e6,
  and a 1e-3-wide pair next to a 100-wide pair, whose snap tolerances
  differ by 1e5), bit for bit, for the relate, the overlay measure,
  the intersection area and the four boolean geometry ops.
"""
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels import relation as REL
from spatial4n_spark.kernels.pip import relate_polygon_polygon
from spatial4n_spark.kernels.relate_circle import relate_circle_rect
from spatial4n_spark.operators.joins import shape_shape_join
from spatial4n_spark.operators.refine import (collect_shape_table,
                                              make_closure_refine)
from spatial4n_spark.shapes import decode, encode

CLASSES = {
    "polygon": "POLYGON((0 0, 4 0, 2 3, 0 0))",
    "rect": "POLYGON((1 1, 3 1, 3 2, 1 2, 1 1))",   # axis-aligned: a rect
    "page_rect": "ENVELOPE(170, -170, 5, 0)",      # crosses the dateline
    "point": "POINT (2 1)",
    "empty": "POLYGON EMPTY",
    "error": "POLYGON((0 0, 1",
    "null": None,
    "collection": "GEOMETRYCOLLECTION(POINT(1 1), POINT(2 2))",
    "circle": "BUFFER(POINT(1 1), 2)",
    "line": "LINESTRING(0 0, 1 1)",
}
NULL_CLASSES = {"error", "null", "collection", "circle", "line"}


def _parse(texts, null_rows=()):
    """Shape structs of WKT texts; rows in `null_rows` become null
    structs (the parser gives a null text an error row instead)."""
    arr = SF._st_from_wkt_default.func(pa.array(texts, type=pa.string()))
    mask = np.zeros(len(texts), dtype=bool)
    mask[list(null_rows)] = True
    return pa.StructArray.from_arrays(arr.flatten(), fields=list(arr.type),
                                      mask=pa.array(mask))


def _class_pairs():
    names = list(CLASSES)
    pairs = [(a, b) for a in names for b in names]
    texts_a = [CLASSES[a] for a, _ in pairs]
    texts_b = [CLASSES[b] for _, b in pairs]
    nulls_a = [k for k, (a, _) in enumerate(pairs) if a == "null"]
    nulls_b = [k for k, (_, b) in enumerate(pairs) if b == "null"]
    return pairs, _parse(texts_a, nulls_a), _parse(texts_b, nulls_b)


def _verts(s, i):
    """The polygonal vertex arrays a row relates as (rect: its ring
    pages; point: its one vertex)."""
    k = s.kind[i]
    if k == 1:
        return np.array([s.x[i]]), np.array([s.y[i]]), None
    if k == 2:
        x0, x1 = s.minx[i], s.maxx[i]
        spans = [(x0, 180.0), (-180.0, x1)] if x0 > x1 else [(x0, x1)]
        xs = np.concatenate([[a, b, b, a] for a, b in spans])
        ys = np.tile([s.miny[i], s.miny[i], s.maxy[i], s.maxy[i]], len(spans))
        return xs, ys, np.arange(len(spans) + 1) * 4
    return s.verts(i) if k in (7, 8) else (None, None, None)


def _expected(pairs, a, b):
    sa, sb = decode(a), decode(b)
    want = []
    for k, (ca, cb) in enumerate(pairs):
        if ca in NULL_CLASSES or cb in NULL_CLASSES:
            want.append(None)
        else:
            want.append(relate_polygon_polygon(*_verts(sa, k), *_verts(sb, k)))
    return want


def test_relate_row_classes_struct_udf():
    pairs, a, b = _class_pairs()
    got = SF.st_relate_polygon_polygon.func(a, b).to_pylist()
    assert got == _expected(pairs, a, b)
    rel = dict(zip(pairs, got))
    assert rel["polygon", "point"] == REL.CONTAINS
    assert rel["point", "polygon"] == REL.WITHIN
    assert rel["rect", "point"] == REL.CONTAINS     # on the rect's edge
    assert rel["rect", "rect"] == REL.CONTAINS
    assert rel["polygon", "rect"] == REL.INTERSECTS
    assert rel["page_rect", "page_rect"] == REL.CONTAINS
    assert rel["empty", "polygon"] == rel["polygon", "empty"] == REL.DISJOINT
    assert rel["empty", "empty"] == REL.DISJOINT
    for c in NULL_CLASSES:
        assert rel[c, "polygon"] is None and rel["rect", c] is None
        assert rel["empty", c] is None


def _circles(cx, cy, r):
    n = len(cx)
    return encode(n, kind=np.full(n, 3, np.int8), x=np.asarray(cx, float),
                  y=np.asarray(cy, float), radius=np.asarray(r, float))


def test_relate_polygon_circle_row_classes():
    """Every row class against circles that contain, cut and miss the
    class shapes (one near the dateline), one batch: rect rows answer
    the transposed rect relate of the circle, EMPTY is DISJOINT, the
    null classes are null, and each row alone equals the row in the
    batch."""
    names = list(CLASSES)
    circles = [(2, 1, 0.5), (2, 1, 30), (100, 50, 5), (175, 2, 3), (0, 0, 3)]
    rows = [(n, c) for c in circles for n in names]
    poly = _parse([CLASSES[n] for n, _ in rows],
                  [k for k, (n, _) in enumerate(rows) if n == "null"])
    circ = _circles(*zip(*[c for _, c in rows]))
    got = SF.st_relate_polygon_circle.func(poly, circ).to_pylist()
    assert got == [SF.st_relate_polygon_circle.func(
        poly.slice(k, 1), circ.slice(k, 1)).to_pylist()[0]
        for k in range(len(rows))]
    s = decode(poly)
    rel = dict(zip(rows, got))
    for k, (n, (cx, cy, r)) in enumerate(rows):
        if n in NULL_CLASSES:
            assert got[k] is None, (n, cx, cy, r)
        elif n == "empty":
            assert got[k] == REL.DISJOINT
        elif n in ("rect", "page_rect"):
            assert got[k] == REL.transpose(relate_circle_rect(
                cx, cy, r, s.minx[k], s.maxx[k], s.miny[k], s.maxy[k]))[0]
    c_in, c_all, c_far, c_dl, c_cut = circles
    assert rel["polygon", c_in] == REL.CONTAINS
    assert rel["polygon", c_all] == rel["rect", c_all] == REL.WITHIN
    assert rel["polygon", c_cut] == REL.INTERSECTS
    assert rel["point", c_in] == rel["point", c_cut] == REL.WITHIN
    assert rel["point", c_far] == rel["polygon", c_far] == REL.DISJOINT
    assert rel["page_rect", c_dl] == REL.INTERSECTS
    assert rel["page_rect", c_in] == REL.DISJOINT
    # a circle without a radius relates as null
    one = _parse([CLASSES["polygon"]])
    assert SF.st_relate_polygon_circle.func(
        one, _circles([2.0], [1.0], [np.nan])).to_pylist() == [None]


def test_closure_refine_equals_struct_point_relate(spark):
    """The closure point refine (shape table in the UDF closure, rows
    picked by shape id) answers as `st_relate_shape_point` on every row
    class, including a circle, a linestring and a dateline rect, at
    probes inside, on the boundary, outside and across the dateline;
    an id missing from the table reads DISJOINT."""
    names = list(CLASSES)
    shapes = _parse([CLASSES[n] for n in names], [names.index("null")])
    right = spark.createDataFrame(pa.table({
        "sid": pa.array(np.arange(len(names), dtype=np.int64)),
        "shape": shapes}))
    refine = make_closure_refine(collect_shape_table(right, "sid")).func
    probes = [(2, 1), (1, 1), (0, 0), (0.5, 0.5), (3, 1.5), (2, 3),
              (175, 2), (-175, 2), (179, 6), (10, 10), (-0.5, -0.5)]
    sid = np.repeat(np.arange(len(names)), len(probes))
    px = np.tile([x for x, _ in probes], len(names)).astype(float)
    py = np.tile([y for _, y in probes], len(names)).astype(float)
    want = SF.st_relate_shape_point.func(shapes.take(sid), pa.array(px),
                                         pa.array(py)).to_pylist()
    got = refine(pa.array(np.r_[sid, 99]), pa.array(np.r_[px, 1.0]),
                 pa.array(np.r_[py, 1.0])).to_pylist()
    assert got == want + [REL.DISJOINT]
    by_class = {n: set(want[k * len(probes):(k + 1) * len(probes)])
                for k, n in enumerate(names)}
    for n in ("polygon", "rect", "page_rect", "point", "circle", "line"):
        assert by_class[n] == {REL.CONTAINS, REL.DISJOINT}, n
    # the same table under string ids, probed in reverse order
    keyed = right.selectExpr("concat('z#', cast(sid as string)) AS sid",
                             "shape")
    refine = make_closure_refine(collect_shape_table(keyed, "sid")).func
    ids = pa.array([f"z#{k}" for k in sid[::-1]] + ["z#99"])
    got = refine(ids, pa.array(np.r_[px[::-1], 1.0]),
                 pa.array(np.r_[py[::-1], 1.0])).to_pylist()
    assert got == want[::-1] + [REL.DISJOINT]


def test_relate_polygon_polygon_equals_relate_polygon_rect():
    polys = ["POLYGON((0 0, 4 0, 2 3, 0 0))",
             "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
             "MULTIPOLYGON(((0 0, 1 0, 0 1, 0 0)), ((5 5, 6 5, 5 6, 5 5)))",
             "POLYGON((2 1, 3 1, 2.5 2, 2 1))"]
    rects = ["ENVELOPE(1, 3, 2, 1)", "POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
             "ENVELOPE(4.5, 5.5, 5.5, 4.5)", "ENVELOPE(20, 30, 30, 20)",
             "ENVELOPE(-1, 11, 11, -1)", "ENVELOPE(4, 6, 6, 4)"]
    # a rect crossing the dateline, a triangle inside it (lon 172-176)
    # and one inside the complementary span (lon 10-12)
    crossing = [("POLYGON((172 1, 176 1, 174 3, 172 1))",
                 "ENVELOPE(170, -170, 5, 0)", REL.WITHIN),
                ("POLYGON((10 1, 12 1, 11 3, 10 1))",
                 "ENVELOPE(170, -170, 5, 0)", REL.DISJOINT)]
    p = _parse([x for x in polys for _ in rects] + [x for x, _, _ in crossing])
    r = _parse([y for _ in polys for y in rects] + [y for _, y, _ in crossing])
    assert decode(r).kind.tolist() == [2] * len(r)
    got = SF.st_relate_polygon_polygon.func(p, r).to_pylist()
    assert got == SF.st_relate_polygon_rect.func(p, r).to_pylist()
    assert got[-len(crossing):] == [want for _, _, want in crossing]
    assert {REL.CONTAINS, REL.WITHIN, REL.INTERSECTS, REL.DISJOINT} <= set(got)


def _tri(x, y, w):
    return f"POLYGON(({x} {y}, {x + w} {y}, {x + w / 2} {y + w}, {x} {y}))"


def test_shape_join_with_rects_parquet(spark, tmp_path):
    """A square POLYGON in each layer parses as a rect; the join relates
    it."""
    left = ["POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))", _tri(1, 1, 2), _tri(3, 3, 4),
            "POLYGON((20 20, 22 20, 22 22, 20 22, 20 20))", "POINT (2 2)"]
    right = ["POLYGON((2 2, 6 2, 6 6, 2 6, 2 2))", _tri(0, 0, 6),
             "ENVELOPE(21, 23, 23, 21)", _tri(30, 30, 1)]
    base = str(tmp_path / uuid.uuid4().hex)
    for name, texts, key in (("l", left, "lid"), ("r", right, "rid")):
        pq.write_table(pa.table({key: np.arange(len(texts), dtype=np.int64),
                                 "wkt": texts}), f"{base}_{name}.parquet")
    ld = spark.read.parquet(f"{base}_l.parquet").select(
        "lid", SF.st_from_wkt(F.col("wkt")).alias("lshape"))
    rd = spark.read.parquet(f"{base}_r.parquet").select(
        "rid", SF.st_from_wkt(F.col("wkt")).alias("rshape"))
    out = shape_shape_join(ld, rd, 2, predicate="all")
    got = {(r.lid, r.rid): r.relation
           for r in out.select("lid", "rid", "relation").collect()}
    sl, sr = decode(_parse(left)), decode(_parse(right))
    want = {}
    for i in range(len(left)):
        for j in range(len(right)):
            if (sl.minx[i] <= sr.maxx[j] and sr.minx[j] <= sl.maxx[i]
                    and sl.miny[i] <= sr.maxy[j] and sr.miny[j] <= sl.maxy[i]):
                want[i, j] = relate_polygon_polygon(*_verts(sl, i),
                                                    *_verts(sr, j))
    assert got == want
    assert got[0, 0] == REL.INTERSECTS and got[3, 2] == REL.INTERSECTS
    assert got[4, 0] == REL.WITHIN


# --- batch independence -----------------------------------------------------

def _poly(rings):
    """Shape record fields of a polygon given as open rings."""
    xs = np.concatenate([np.r_[rx, rx[:1]] for rx, _ in rings])
    ys = np.concatenate([np.r_[ry, ry[:1]] for _, ry in rings])
    ro = np.cumsum([0] + [len(rx) + 1 for rx, _ in rings])
    return dict(kind=7 if len(rings) == 1 else 8, xs=xs, ys=ys,
                ring_offsets=ro, minx=xs.min(), maxx=xs.max(),
                miny=ys.min(), maxy=ys.max())


def _ring(*pts):
    return np.array([p[0] for p in pts], float), np.array([p[1] for p in pts], float)


def _mixed_pairs():
    """(A, B) shape struct arrays of a mixed batch."""
    sq = _ring((0, 0), (4, 0), (4, 4), (0, 4))
    tri = _ring((0, 0), (4, 0), (2, 3))
    holed = [_ring((0, 0), (10, 0), (10, 10), (0, 10)),
             _ring((4, 4), (6, 4), (6, 6), (4, 6))]
    multi = [_ring((0, 0), (1, 0), (0, 1)), _ring((5, 5), (6, 5), (5, 6))]
    zero = [_ring((-1, 0), (-1, -3), (-1, -6))]
    shift = (lambda rings, dx, dy, s=1.0:
             [((rx - rx.min()) * s + dx, (ry - ry.min()) * s + dy)
              for rx, ry in rings])
    poly_pairs = [
        ([tri], [tri]),                                   # A == B
        ([tri], shift([tri], 4, 0)),                      # vertex touch
        ([sq], shift([sq], 4, 1)),                        # shared edge part
        ([sq], shift([tri], 1, 1)),                       # contains
        (holed, shift([sq], 4.5, 4.5, 0.25)),             # inside the hole
        (holed, shift([tri], 3, 3)),                      # across the hole
        (multi, shift([tri], 0.5, 0.2, 2)),
        (zero, [sq]), ([sq], zero), (zero, zero),
        (shift([tri], 1e6, -1e6), shift([tri], 1e6 + 1, -1e6 + 0.5)),
        (shift([tri], -1e6, 1e6, 1e-3), shift([tri], -1e6 + 5e-4, 1e6, 1e-3)),
        (shift([tri], 0.1, 0.1, 1e-3 / 4), shift([tri], 0.1 + 1e-4, 0.1, 1e-3 / 4)),
        (shift([tri], 0, 0, 25), shift([tri], 30, 10, 25)),   # 100 wide
        (shift(holed, 0, 0, 10), shift(multi, 1, 1, 60)),
    ]
    recs_a = [_poly(a) for a, _ in poly_pairs]
    recs_b = [_poly(b) for _, b in poly_pairs]
    names = list(CLASSES)
    cls = _parse([CLASSES[n] for n in names], [names.index("null")])
    poly = _records(recs_a + recs_b)
    na = len(recs_a)
    a = pa.concat_arrays([poly.slice(0, na)] + [cls] * len(names)
                         + [poly.slice(0, 3)] * len(names))
    b = pa.concat_arrays([poly.slice(na)] + [cls.take([k] * len(names))
                                             for k in range(len(names))]
                         + [cls.take([k] * 3) for k in range(len(names))])
    return a, b


def _records(recs):
    n = len(recs)
    cols = {f: [r[f] for r in recs] for f in ("xs", "ys", "ring_offsets")}
    cols.update({f: np.array([r[f] for r in recs], dtype=float)
                 for f in ("minx", "maxx", "miny", "maxy")})
    return encode(n, kind=np.array([r["kind"] for r in recs], np.int8), **cols)


def _canon(v):
    """Row values with floats as their exact bits."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


UDFS = {
    "relate": SF.st_relate_polygon_polygon,
    "measure": SF.st_overlay_measure,
    "area": SF.st_shape_intersection_area,
    "intersection": SF.st_intersection,
    "difference": SF.st_difference,
    "union": SF.st_union,
    "sym_difference": SF.st_sym_difference,
}


@pytest.mark.parametrize("name", list(UDFS))
def test_row_alone_equals_row_in_mixed_batch(name):
    a, b = _mixed_pairs()
    f = UDFS[name].func
    batch = _canon(f(a, b).to_pylist())
    alone = [_canon(f(a.slice(i, 1), b.slice(i, 1)).to_pylist()[0])
             for i in range(len(a))]
    assert batch == alone
    # the battery reaches the kernel: most rows give a non-null answer
    assert sum(v is not None for v in batch) > len(batch) // 3
