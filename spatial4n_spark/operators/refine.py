"""Closure-captured relate refine for broadcast-size shape layers.

The struct refine path (`functions.st_relate_shape_point`) ships every
shape field — including the POLYGON VERTEX ARRAYS — through Arrow once
per candidate row. For a triangle that is noise; for an admin boundary
with 10^4 vertices replicated across 10^6 candidate points it is the
dominant Arrow payload of the whole join, paid per row, per batch.

When the shape side is broadcast-small anyway (the layer already fits
on every executor by definition), collect it ONCE to a driver-side
table keyed by the caller's shape-id column and capture that table in
the refine UDF's closure: the join then carries only (shape_id, bbox)
and the refine input shrinks to three scalar columns (id, x, y). The
table ships with the serialized task — the same bytes the broadcast
was already paying — and each executor deserializes it once per task
instead of once per candidate row.

Dispatch inside the UDF mirrors `st_relate_shape_point`. The
polygons of the table are flattened into one edge table when the UDF
is built, and all polygon rows of a batch are one `points_in_polygons`
call, each row against its own polygon. The other kinds group rows by
shape id and run that shape's kernel once per group.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ByteType

from ..kernels import relation as REL
from ..kernels import wkt as _wkt
from ..shapes import VertexLists, decode, encode_records

# guard: beyond this many total vertices the closure (shipped per task)
# stops being "broadcast-small"; callers fall back to the struct path
MAX_CLOSURE_VERTICES = 2_000_000


def collect_shape_table(shapes: DataFrame, shape_id: str,
                        shape_col: str = "shape"):
    """One driver-side pass over the (broadcast-small) shape layer ->
    {id: shape record} (`ShapeBatch.record` dicts: NaN for null
    scalars, NumPy vertex arrays or None; a null shape's record carries
    the error "null shape"). Returns None when the layer
    exceeds MAX_CLOSURE_VERTICES (caller should use the struct refine
    instead)."""
    t = shapes.select(shape_id, shape_col).toArrow()
    ids = t.column(0).to_pylist()
    s = decode(t.column(1))
    if None in ids or len(set(ids)) != len(ids):
        # shape_id must be a unique non-null key: a duplicate would
        # silently collapse two shapes onto one table entry and
        # diverge from the struct path — fall back instead.
        return None
    nverts = np.diff(s.xs.offsets)[s.xs.valid].sum()
    if nverts > MAX_CLOSURE_VERTICES:
        return None
    table = {sid: s.record(i) for i, sid in enumerate(ids)}
    for i in np.flatnonzero(~s.valid).tolist():
        table[ids[i]]["error"] = "null shape"
    return table


def make_closure_refine(table: dict):
    """Arrow UDF (shape_id, px, py) -> relation code, with the shape
    table captured in the closure."""
    from ..kernels.pip import points_in_polygons, polygon_edges
    from ..kernels.relate_circle import relate_circle_point
    from ..kernels.relate_line import linestring_contains_point
    from ..kernels.relate_rect import relate_rect_point

    # the polygons ship as one edge table, the other kinds as records
    poly_index, polys, others = {}, [], {}
    for sid, rec in table.items():
        if rec["kind"] in (_wkt.KIND_POLYGON, _wkt.KIND_MULTIPOLYGON):
            poly_index[sid] = len(polys)
            polys.append(rec)
        else:
            others[sid] = rec
    edges = polygon_edges(*(
        VertexLists.from_list([rec[f] for rec in polys], dtype)
        for f, dtype in (("xs", np.float64), ("ys", np.float64),
                         ("ring_offsets", np.int64))))

    def refine(ids: pa.Array, px: pa.Array, py: pa.Array) -> pa.Array:
        n = len(ids)
        out = np.full(n, REL.DISJOINT, dtype=np.int8)
        poly = np.full(n, -1, dtype=np.int64)
        idv = ids.to_numpy(zero_copy_only=False)
        pxv = px.to_numpy(zero_copy_only=False)
        pyv = py.to_numpy(zero_copy_only=False)
        order = np.argsort(idv, kind="stable")
        sorted_ids = idv[order]
        bounds = np.nonzero(np.r_[True, sorted_ids[1:] != sorted_ids[:-1]])[0]
        bounds = np.r_[bounds, n]
        for b in range(len(bounds) - 1):
            rows = order[bounds[b]:bounds[b + 1]]
            sid = sorted_ids[bounds[b]]
            if sid in poly_index:
                poly[rows] = poly_index[sid]
                continue
            rec = others.get(sid)
            if rec is None:
                continue
            kind = rec["kind"]
            gx, gy = pxv[rows], pyv[rows]
            full = lambda v: np.full(len(rows), v)  # noqa: E731
            if kind == _wkt.KIND_RECT:
                out[rows] = relate_rect_point(
                    full(rec["minx"]), full(rec["maxx"]),
                    full(rec["miny"]), full(rec["maxy"]), gx, gy, geo=True)
            elif kind == _wkt.KIND_CIRCLE:
                out[rows] = relate_circle_point(
                    full(rec["x"]), full(rec["y"]), full(rec["radius"]),
                    gx, gy, geo=True)
            elif kind == _wkt.KIND_POINT:
                hit = (gx == rec["x"]) & (gy == rec["y"])
                out[rows] = np.where(hit, REL.CONTAINS, REL.DISJOINT)
            elif kind == _wkt.KIND_LINESTRING:
                rad = 0.0 if np.isnan(rec["radius"]) else float(rec["radius"])
                hit = linestring_contains_point(rec["xs"], rec["ys"], rad,
                                                gx, gy)
                out[rows] = np.where(hit, REL.CONTAINS, REL.DISJOINT)
        rows = np.flatnonzero(poly >= 0)
        if rows.size:
            hit = points_in_polygons(pxv[rows], pyv[rows], poly[rows], edges)
            out[rows] = np.where(hit, REL.CONTAINS, REL.DISJOINT)
        return pa.array(out, type=pa.int8())

    return arrow_udf(refine, ByteType())


def make_closure_shape_relate(table: dict):
    """Arrow UDF (left shape, right_id) -> relation code, with the
    RIGHT layer's vertex arrays captured in the closure (two-layer
    join, broadcast-small right side): per candidate pair only the
    LEFT shape crosses Arrow. The relate is `st_relate_polygon_polygon`'s
    over the table's shapes, every pair of a batch in one pass; a
    right id missing from the table relates as DISJOINT."""
    from ..functions import relate_operands, relate_shape_pairs
    ids = list(table)
    recs = [table[k] for k in ids]
    right = relate_operands(decode(encode_records(
        recs, [rec["error"] for rec in recs])))
    id_set = pa.array(ids)

    def relate(left: pa.Array, rid: pa.Array) -> pa.Array:
        a = decode(left)
        ib = (pc.index_in(rid.cast(id_set.type), value_set=id_set)
              .fill_null(-1).to_numpy(zero_copy_only=False)
              if len(ids) else np.full(len(a), -1))
        out = np.full(len(a), REL.DISJOINT, dtype=np.int8)
        null = np.zeros(len(a), dtype=bool)
        k = np.flatnonzero(ib >= 0)
        out[k], null[k] = relate_shape_pairs(relate_operands(a), k,
                                             right, ib[k])
        return pa.array(out, type=pa.int8(), mask=null)

    return arrow_udf(relate, ByteType())


# convex fast path: above this edge count the unrolled JVM predicate
# stops being worth the broadcast width (3 doubles per edge per shape)
MAX_CONVEX_EDGES = 8


def _shape_halfplanes(rec, max_edges: int):
    """[(a, b, c), ...] for ONE convex shape, or None if it has no
    half-plane form (non-convex, holed, page-split, too many edges,
    dateline rect, non-areal kind)."""
    kind, xs, ys, ro = rec["kind"], rec["xs"], rec["ys"], rec["ring_offsets"]
    if kind == _wkt.KIND_RECT:
        # a non-crossing rect is 4 axis-aligned half-planes (the closed
        # plain-rect branch of RectangleImpl); a dateline rect needs
        # the x-shift and falls back
        minx, maxx, miny, maxy = (rec["minx"], rec["maxx"], rec["miny"],
                                  rec["maxy"])
        if minx > maxx:
            return None
        return [(1.0, 0.0, -minx), (-1.0, 0.0, maxx),
                (0.0, 1.0, -miny), (0.0, -1.0, maxy)]
    if kind != _wkt.KIND_POLYGON or xs is None:
        return None
    if ro is not None and len(ro) > 2:
        return None
    n = len(xs)
    if n >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        n -= 1
    if n < 3 or n > max_edges:
        return None
    x2 = np.r_[xs[1:n], xs[0]]
    y2 = np.r_[ys[1:n], ys[0]]
    x1, y1 = xs[:n], ys[:n]
    # consecutive-edge cross products decide convexity + winding
    x3 = np.r_[x2[1:], x2[0]]
    y3 = np.r_[y2[1:], y2[0]]
    cross = (x2 - x1) * (y3 - y2) - (y2 - y1) * (x3 - x2)
    if np.all(cross >= 0):
        sign = 1.0      # CCW
    elif np.all(cross <= 0):
        sign = -1.0     # CW
    else:
        return None     # non-convex
    a = -(y2 - y1) * sign
    b = (x2 - x1) * sign
    c = ((y2 - y1) * x1 - (x2 - x1) * y1) * sign
    return list(zip(a.tolist(), b.tolist(), c.tolist()))


def split_convex(table: dict, max_edges: int = MAX_CONVEX_EDGES):
    """Partition the closure table by half-plane expressibility:
    ({convex_id: [(a,b,c),...]}, {other_id: rec}). Containment for the
    convex part is AND_k(a_k*x + b_k*y + c_k >= 0) — unrolled scalar
    Column conjuncts (whole-stage codegen, no Python), boundary-in
    matching the even-odd kernel's COVERS semantics; the rest runs the
    closure kernel refine."""
    hp, rest = {}, {}
    for sid, rec in table.items():
        planes = _shape_halfplanes(rec, max_edges)
        if planes is None:
            rest[sid] = rec
        else:
            hp[sid] = planes
    return hp, rest


def convex_halfplanes(table: dict, max_edges: int = MAX_CONVEX_EDGES):
    """All-or-nothing view of split_convex: None unless EVERY shape is
    half-plane-expressible.

    Deliberately all-or-nothing inside ONE join: auto-splitting a mixed
    layer into a JVM branch + a UDF branch would scan the (10^12-row)
    point side twice — worse than one pass with the kernel refine. A
    caller who KNOWS the mix is lopsided can pre-split the small shape
    layer with split_convex and run two joins against a cached/
    checkpointed point projection, paying the second scan knowingly."""
    hp, rest = split_convex(table, max_edges)
    return hp if not rest else None
