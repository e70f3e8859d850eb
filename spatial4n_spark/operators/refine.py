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

The UDF maps each shape id to its row of the decoded table and runs
the struct refine's own kernel dispatch (`functions.relate_shape_points`)
on those rows, so both refines share one body. A convex layer skips
Python altogether (`convex_halfplanes`).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ByteType

from ..kernels import wkt as _wkt
from ..shapes import decode, encode_records

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
    table captured in the closure: `functions.relate_shape_points`
    over the table decoded once, each point against the row of its
    shape id; an id missing from the table reads DISJOINT."""
    from ..functions import relate_shape_points

    ids = list(table)
    recs = [table[k] for k in ids]
    # the row after the table's is an empty record (kind 0): a missing
    # id maps to it and reads DISJOINT
    shapes = decode(encode_records(recs + [None],
                                   [rec["error"] for rec in recs] + [None]))
    id_set = pa.array(ids)

    def refine(sid: pa.Array, px: pa.Array, py: pa.Array) -> pa.Array:
        row = (pc.index_in(sid.cast(id_set.type), value_set=id_set)
               .fill_null(len(ids)).to_numpy(zero_copy_only=False)
               if len(ids) else np.zeros(len(sid), dtype=np.int64))
        return pa.array(relate_shape_points(
            shapes, row, px.to_numpy(zero_copy_only=False),
            py.to_numpy(zero_copy_only=False)), type=pa.int8())

    return arrow_udf(refine, ByteType())


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
