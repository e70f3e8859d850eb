"""The shape struct: its schema, its Arrow codec and its Column builder.

This module is the only place that knows the struct's field layout.
The struct mirrors the reference's tagged binary union
(Io/BinaryCodec.cs:40-57): a kind byte + doubles + vertex arrays, with
the bbox materialized eagerly (the reference caches bboxes per shape —
CircleImpl.cs:38-49, NtsGeometry.cs:79-87 — we persist them as columns
so scans can prune on min/max statistics). Polygon vertices are flat
`xs`/`ys` arrays cut into closed rings by `ring_offsets`.

Executor side, every shape UDF is an `arrow_udf` over whole struct
columns: `decode` turns a `pa.StructArray` into a `ShapeBatch` of NumPy
arrays, `encode` turns kernel output back into a `pa.StructArray`.
Driver side, `shape_col` builds a struct Column from named fields.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (ArrayType, ByteType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

SHAPE_FIELDS = [
    StructField("kind", ByteType()),
    StructField("x", DoubleType()),
    StructField("y", DoubleType()),
    StructField("radius", DoubleType()),
    StructField("minx", DoubleType()),
    StructField("maxx", DoubleType()),
    StructField("miny", DoubleType()),
    StructField("maxy", DoubleType()),
    StructField("xs", ArrayType(DoubleType())),
    StructField("ys", ArrayType(DoubleType())),
    StructField("ring_offsets", ArrayType(IntegerType())),
    StructField("error", StringType()),
]
SHAPE_SCHEMA = StructType(SHAPE_FIELDS)
FIELD_NAMES = tuple(f.name for f in SHAPE_FIELDS)
SCALAR_FIELDS = ("x", "y", "radius", "minx", "maxx", "miny", "maxy")
VERTEX_FIELDS = ("xs", "ys", "ring_offsets")
VERTEX_SCHEMA = StructType([f for f in SHAPE_FIELDS
                            if f.name in VERTEX_FIELDS])

_ARROW_TYPES = {f.name: to_arrow_type(f.dataType) for f in SHAPE_FIELDS}


class VertexLists:
    """One list column as flat values + offsets + validity. `vl[i]` is
    row i's values as a NumPy view, or None for a null list (an empty
    list stays an empty array)."""

    __slots__ = ("values", "offsets", "valid")

    def __init__(self, values, offsets, valid):
        self.values = values
        self.offsets = offsets
        self.valid = valid

    @classmethod
    def from_arrow(cls, arr: pa.Array, dtype) -> "VertexLists":
        values = arr.values.to_numpy(zero_copy_only=False)
        return cls(values.astype(dtype, copy=False),
                   arr.offsets.to_numpy(),
                   arr.is_valid().to_numpy(zero_copy_only=False))

    def __len__(self):
        return len(self.valid)

    def __getitem__(self, i):
        if not self.valid[i]:
            return None
        return self.values[self.offsets[i]:self.offsets[i + 1]]

    def tolist(self) -> list:
        return [self[i] for i in range(len(self))]

    def to_arrow(self, arrow_type) -> pa.Array:
        values = pa.array(self.values, type=arrow_type.value_type,
                          from_pandas=True)
        offsets = pa.array(self.offsets, type=pa.int32())
        return pa.ListArray.from_arrays(
            offsets, values, type=arrow_type,
            mask=pa.array(~np.asarray(self.valid, dtype=bool)))


class ShapeBatch:
    """A decoded batch of shape structs.

    `kind` is int8 (a null kind or a null struct reads as 0, EMPTY);
    the scalar fields are float64 with NaN for null; `xs`, `ys` and
    `ring_offsets` (int64) are `VertexLists`; `error` stays an Arrow
    string array; `valid` is the struct's own validity."""

    def __init__(self, kind, scalars: dict, lists: dict, error, valid):
        self.kind = kind
        for name in SCALAR_FIELDS:
            setattr(self, name, scalars[name])
        self.xs = lists["xs"]
        self.ys = lists["ys"]
        self.ring_offsets = lists["ring_offsets"]
        self.error = error
        self.valid = valid

    def __len__(self):
        return len(self.kind)

    def verts(self, i):
        """(xs, ys, ring_offsets) views of row i; each may be None."""
        return self.xs[i], self.ys[i], self.ring_offsets[i]

    def record(self, i) -> dict:
        """Row i as a field-name dict (scalars as floats, NaN for null;
        vertex arrays as NumPy views or None)."""
        rec = {name: float(getattr(self, name)[i]) for name in SCALAR_FIELDS}
        rec.update(kind=int(self.kind[i]), xs=self.xs[i], ys=self.ys[i],
                   ring_offsets=self.ring_offsets[i],
                   error=self.error[i].as_py())
        return rec


def decode(arr) -> ShapeBatch:
    """pa.StructArray (or a ChunkedArray of them) -> ShapeBatch.

    `flatten()` folds the struct's null mask into every child, so a
    null shape decodes as kind 0 with every field null."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    children = dict(zip((f.name for f in arr.type), arr.flatten()))
    kind = children["kind"].fill_null(0).to_numpy(zero_copy_only=False)
    scalars = {name: children[name].to_numpy(zero_copy_only=False)
               .astype(np.float64, copy=False) for name in SCALAR_FIELDS}
    lists = {name: VertexLists.from_arrow(
        children[name], np.int64 if name == "ring_offsets" else np.float64)
        for name in VERTEX_FIELDS}
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return ShapeBatch(kind.astype(np.int8, copy=False), scalars, lists,
                      children["error"], valid)


def _field_array(name, v, n) -> pa.Array:
    typ = _ARROW_TYPES[name]
    if v is None:
        return pa.nulls(n, type=typ)
    if isinstance(v, pa.Array):
        return v if v.type == typ else v.cast(typ)
    if isinstance(v, VertexLists):
        return v.to_arrow(typ)
    # from_pandas: NaN becomes null, the pandas-UDF conversion rule
    return pa.array(v, type=typ, from_pandas=True)


def encode(n: int, fields=SHAPE_FIELDS, valid=None, **cols) -> pa.StructArray:
    """Field columns -> pa.StructArray of `fields` (default: the full
    shape struct). Each column may be a NumPy array, a list (vertex
    fields: one sequence or None per row), a `VertexLists` or an Arrow
    array; a missing field is all null. NaN encodes as null. `valid`
    (optional bool array) masks whole structs."""
    unknown = set(cols) - {f.name for f in fields}
    if unknown:
        raise ValueError(f"not shape fields: {sorted(unknown)}")
    arrays = [_field_array(f.name, cols.get(f.name), n) for f in fields]
    mask = None if valid is None else pa.array(~np.asarray(valid, dtype=bool))
    return pa.StructArray.from_arrays(arrays, fields=[
        pa.field(f.name, _ARROW_TYPES[f.name]) for f in fields], mask=mask)


def encode_records(recs: list, errors: list | None = None) -> pa.StructArray:
    """Per-row kernel records (field dicts, or None for a row that only
    carries its `errors` entry) -> pa.StructArray."""
    n = len(recs)
    kind = np.zeros(n, dtype=np.int8)
    scalars = {name: np.full(n, np.nan) for name in SCALAR_FIELDS}
    lists = {name: [None] * n for name in VERTEX_FIELDS}
    for i, rec in enumerate(recs):
        if rec is None:
            continue
        kind[i] = rec["kind"]
        for name in SCALAR_FIELDS:
            v = rec.get(name)
            if v is not None:
                scalars[name][i] = v
        for name in VERTEX_FIELDS:
            v = rec.get(name)
            lists[name][i] = v if v is not None and len(v) else None
    return encode(n, kind=kind, error=errors, **scalars, **lists)


def rect_pages(minx, maxx, miny, maxy) -> list:
    """A rect as open 4-corner rings [(xs, ys), ...]: one ring, or two
    pages split at the dateline when minx > maxx (the WKT parser's
    convention)."""
    spans = ([(minx, 180.0), (-180.0, maxx)] if minx > maxx
             else [(minx, maxx)])
    return [(np.asarray([x0, x1, x1, x0], dtype=np.float64),
             np.asarray([miny, miny, maxy, maxy], dtype=np.float64))
            for x0, x1 in spans]


def closed_rings_record(members: list) -> dict:
    """Polygon members [(shell, [hole, ...]), ...] of open rings ->
    a shape record with closed rings (the WKT parser's convention):
    kind 7 (POLYGON) for one member, 8 (MULTIPOLYGON) for several."""
    xs_out, ys_out, offs = [], [], [0]
    for shell, holes in members:
        for rx, ry in [shell] + holes:
            xs_out.extend(rx.tolist() + [float(rx[0])])
            ys_out.extend(ry.tolist() + [float(ry[0])])
            offs.append(len(xs_out))
    return dict(kind=8 if len(members) > 1 else 7, minx=min(xs_out), maxx=max(xs_out),
                miny=min(ys_out), maxy=max(ys_out),
                xs=xs_out, ys=ys_out, ring_offsets=offs)


def shape_col(**fields):
    """Shape struct Column from named fields. Columns are used as given
    and must already have the field's type; Python literals and missing
    fields become typed literals / typed nulls."""
    unknown = set(fields) - set(FIELD_NAMES)
    if unknown:
        raise ValueError(f"not shape fields: {sorted(unknown)}")
    return F.struct(*[
        (fields[f.name] if isinstance(fields.get(f.name), Column)
         else F.lit(fields.get(f.name)).cast(f.dataType)).alias(f.name)
        for f in SHAPE_FIELDS])


def with_fields(shape, **changes):
    """`shape` (a struct Column) with some fields replaced, rebuilt as
    one plain struct. Make all edits in one call: on the overlay join
    (4 cores) Catalyst optimized the plan in ~0.45 s with one rebuild,
    ~2 s with two `Column.withField` edits and ~6 s with two nested
    rebuilds, since every read of the struct inlines the edits below
    it."""
    return shape_col(**({name: shape[name] for name in FIELD_NAMES}
                        | changes))
