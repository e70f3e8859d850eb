"""Columnar st_* surface: Arrow-batched UDFs over the shape struct.

Design rule (BASELINE north_star): geometry math runs in vectorized
NumPy inside Arrow-batched UDFs, never per-row Python; everything
relational stays in JVM whole-stage codegen via built-in
pyspark.sql.functions.

Every function that reads or writes shapes takes and returns whole
shape-struct columns (layout and Arrow codec: `spatial4n_spark.shapes`):

    st_from_wkt(text), st_from_legacy(text), st_from_latlon(text),
    st_from_binary(blob)                     -> shape
    st_to_wkt(shape), st_to_binary(shape)    -> text / bytes
    st_buffer(shape, d)                      -> shape
    st_center(shape)                         -> struct<x, y>
    st_area(shape, geo=True)                 -> double
    st_simplify(shape, tolerance)            -> struct<xs, ys, ring_offsets>
    st_relate_shape_point(shape, px, py)     -> relation code
    st_relate_polygon_polygon(a, b), st_relate_polygon_rect(a, rect),
    st_relate_polygon_circle(a, circle)      -> relation code
    st_intersection(a, b), st_difference(a, b), st_union(a, b),
    st_sym_difference(a, b)                  -> shape
    st_shape_intersection_area(a, b), st_difference_area(a, b)
                                             -> double
    st_overlay_measure(a, b)                 -> struct<inter, a_area, b_area>

Point, bbox and distance inputs stay plain double columns. Build a
shape from such columns with `shapes.shape_col`. The same UDFs are
callable from SQL text after `register_sql_functions(spark)`, e.g.
`SELECT st_buffer(st_from_wkt(wkt), 2.5) FROM t`.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (ArrayType, ByteType, DoubleType, StringType,
                               StructField, StructType)

from ..kernels import geohash as _gh
from ..kernels import relation as _rel
from ..kernels import wkt as _wkt
from ..kernels.circle_box import geo_circle_bbox as _geo_circle_bbox
from ..kernels.distance import geo_distance_deg as _geo_dist
from ..kernels.relate_circle import relate_circle_rect as _relate_circle_rect
from ..kernels.relate_rect import relate_rect_point as _relate_rect_point
from ..kernels.relate_rect import relate_rect_rect as _relate_rect_rect
from ..shapes import (SHAPE_SCHEMA, VERTEX_SCHEMA, closed_rings_record,
                      decode, encode, encode_records, rect_pages)


def _f64(arr: pa.Array) -> np.ndarray:
    """Numeric Arrow input -> float64 NumPy, null as NaN."""
    return arr.cast(pa.float64()).to_numpy(zero_copy_only=False)


def _doubles(v) -> pa.Array:
    """float64 UDF result; NaN encodes as null (the pandas-UDF rule)."""
    return pa.array(np.asarray(v, dtype=np.float64), from_pandas=True)


def _double_struct(**cols) -> pa.StructArray:
    return pa.StructArray.from_arrays([_doubles(v) for v in cols.values()],
                                      names=list(cols))


def _parsed(cols: dict) -> pa.StructArray:
    """Columnar parser output (dict of field arrays) -> shape structs."""
    return encode(len(cols["kind"]), **cols)


@arrow_udf(SHAPE_SCHEMA)
def _st_from_wkt_default(texts: pa.Array) -> pa.Array:
    return _parsed(_wkt.parse_wkt_columns(texts.to_pandas()))


_WKT_UDF_CACHE = {("width180", "error", True): _st_from_wkt_default}


def st_from_wkt(texts, dateline_rule: str = "width180",
                validation_rule: str = "error", geo: bool = True,
                precision_model: str = "floating",
                precision_scale: float | None = None,
                allow_multi_overlap: bool = False,
                parser: str = "default",
                norm_wrap_longitude: bool = False):
    """WKT -> shape struct (+ error column instead of exceptions).

    Parser semantics: Io/WktShapeParser.cs grammar incl. ENVELOPE arg
    order and BUFFER extension; the POINT fast path is one vectorized
    regex pass and lands straight in Arrow-bound columns.

    dateline_rule in {none, width180, ccwRect} and validation_rule in
    {none, error, repairConvexHull, repairBuffer0} mirror
    NtsSpatialContextFactory.datelineRule/validationRule (defaults
    Width180/Error, NtsSpatialContextFactory.cs:73-75); configured
    variants are cached Arrow UDFs with the rules bound in the closure.

    parser="ntsReader" selects the alt reader
    (NtsWKTReaderShapeParser.cs — ISO-only grammar, per-vertex lon
    wrap under norm_wrap_longitude, per-vertex bounds verify); the
    wktShapeParserClass factory key's distributed surface.
    """
    if parser not in ("default", "ntsReader"):
        raise ValueError(f"unknown WKT parser {parser!r}")
    if norm_wrap_longitude and parser != "ntsReader":
        # the per-vertex lon wrap is the alt reader's coordinate filter
        # (NtsWKTReaderShapeParser.cs:108-124); the default grammar has
        # no analog — silently ignoring the flag would hand back
        # unwrapped coordinates the caller asked to normalize
        raise ValueError(
            "norm_wrap_longitude requires parser='ntsReader'")
    key = (dateline_rule, validation_rule, geo, precision_model,
           precision_scale, allow_multi_overlap, parser,
           norm_wrap_longitude)
    if (precision_model == "floating" and not allow_multi_overlap
            and parser == "default"):
        key = (dateline_rule, validation_rule, geo)  # default-cache key
    udf = _WKT_UDF_CACHE.get(key)
    if udf is None:
        if dateline_rule not in _wkt.DATELINE_RULES:
            raise ValueError(f"unknown dateline rule {dateline_rule!r}")
        if validation_rule not in _wkt.VALIDATION_RULES:
            raise ValueError(f"unknown validation rule {validation_rule!r}")
        snap = _wkt.make_snap(precision_model, precision_scale)
        amo = allow_multi_overlap

        if parser == "ntsReader":
            nwl = norm_wrap_longitude

            @arrow_udf(SHAPE_SCHEMA)
            def _configured(t: pa.Array) -> pa.Array:
                return _parsed(_wkt.parse_ntsreader_columns(
                    t.to_pandas(), geo, dateline_rule, validation_rule,
                    snap, amo, norm_wrap_longitude=nwl))
        else:
            @arrow_udf(SHAPE_SCHEMA)
            def _configured(t: pa.Array) -> pa.Array:
                return _parsed(_wkt.parse_wkt_columns(
                    t.to_pandas(), geo, dateline_rule, validation_rule,
                    snap, amo))

        udf = _WKT_UDF_CACHE[key] = _configured
    return udf(texts)


@pandas_udf(StringType())
def _st_cell_udf(lat: pd.Series, lon: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    return pd.Series(_gh.encode(lat.to_numpy(), lon.to_numpy(), p))


def st_cell(lat, lon, precision: int):
    """Geohash cell id of points (GeohashUtils.EncodeLatLon semantics)."""
    return _st_cell_udf(lat, lon, F.lit(precision))


from pyspark.sql.types import LongType  # noqa: E402


@pandas_udf(LongType())
def _st_cell_code_udf(lat: pd.Series, lon: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    return pd.Series(_gh.cell_code(lat.to_numpy(), lon.to_numpy(), p))


def st_cell_code(lat, lon, precision: int):
    """Int64 cell code (interleaved geohash bits) — join fast path."""
    return _st_cell_code_udf(lat, lon, F.lit(precision))


@pandas_udf(ArrayType(LongType()))
def _st_cover_codes_udf(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                        maxy: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    return pd.Series(_gh.cover_codes_bbox_batch(
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan), p))


def st_cover_codes(minx, maxx, miny, maxy, precision: int):
    """Int64-code tile cover of a bbox (join fast path)."""
    return _st_cover_codes_udf(minx, maxx, miny, maxy, F.lit(precision))


@pandas_udf(ArrayType(StringType()))
def _st_cover_udf(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                  maxy: pd.Series, precision: pd.Series) -> pd.Series:
    p = int(precision.iloc[0])
    out = []
    mnx, mxx, mny, mxy = (minx.to_numpy(), maxx.to_numpy(),
                          miny.to_numpy(), maxy.to_numpy())
    for i in range(len(mnx)):
        if np.isnan(mnx[i]):
            out.append([])
        else:
            out.append(_gh.cover_cells_bbox(mnx[i], mxx[i], mny[i], mxy[i], p))
    return pd.Series(out)


def st_cover_cells(minx, maxx, miny, maxy, precision: int):
    """Tile cover of a bbox at a fixed level (dateline-aware).

    Equivalent to recursive GetSubGeohashes expansion with bbox pruning
    (GeohashUtils.cs:207-216) evaluated at `precision`.
    """
    return _st_cover_udf(minx, maxx, miny, maxy, F.lit(precision))


_BOX_SCHEMA = StructType([
    StructField("minx", DoubleType()), StructField("maxx", DoubleType()),
    StructField("miny", DoubleType()), StructField("maxy", DoubleType()),
])


@pandas_udf(_BOX_SCHEMA)
def st_cell_to_box(cells: pd.Series) -> pd.DataFrame:
    """Geohash -> cell bbox (GeohashUtils.DecodeBoundary, :163-204)."""
    minx, maxx, miny, maxy = _gh.decode_boundary(cells.to_numpy(dtype=str))
    return pd.DataFrame({"minx": minx, "maxx": maxx, "miny": miny, "maxy": maxy})


@pandas_udf(_BOX_SCHEMA)
def _st_circle_box_udf(x: pd.Series, y: pd.Series, r: pd.Series) -> pd.DataFrame:
    minx, maxx, miny, maxy = _geo_circle_bbox(x.to_numpy(), y.to_numpy(), r.to_numpy())
    return pd.DataFrame({"minx": minx, "maxx": maxx, "miny": miny, "maxy": maxy})


def st_circle_bbox(x, y, radius_deg):
    """Geo circle -> enclosing bbox (DistanceUtils.CalcBoxByDistFromPtDEG)."""
    return _st_circle_box_udf(x, y, radius_deg)


def _make_distance_udf(calculator: str):
    @pandas_udf(DoubleType())
    def _udf(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
        return pd.Series(_geo_dist(x1.to_numpy(), y1.to_numpy(),
                                   x2.to_numpy(), y2.to_numpy(), calculator))
    return _udf


_DIST_UDFS = {c: _make_distance_udf(c)
              for c in ("haversine", "lawOfCosines", "vincentySphere")}


def st_distance_deg(x1, y1, x2, y2, calculator: str = "haversine"):
    """Great-circle distance in degrees (exact reference formulas)."""
    return _DIST_UDFS[calculator](x1, y1, x2, y2)


def st_distance_km(x1, y1, x2, y2, calculator: str = "haversine"):
    from ..kernels.normalize import DEGREES_TO_KILOMETERS
    return st_distance_deg(x1, y1, x2, y2, calculator) * F.lit(DEGREES_TO_KILOMETERS)


def st_dwithin(x1, y1, x2, y2, dist_deg, calculator: str = "haversine"):
    """Distance-within predicate (AbstractDistanceCalculator.Within)."""
    return st_distance_deg(x1, y1, x2, y2, calculator) <= dist_deg


@pandas_udf(ByteType())
def st_relate_rect_point(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                         maxy: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
    """Dateline-aware rect.Relate(point) (RectangleImpl.cs:176-209)."""
    return pd.Series(_relate_rect_point(
        minx.to_numpy(), maxx.to_numpy(), miny.to_numpy(), maxy.to_numpy(),
        px.to_numpy(), py.to_numpy(), geo=True))


@pandas_udf(ByteType())
def st_relate_rect_rect(minx: pd.Series, maxx: pd.Series, miny: pd.Series, maxy: pd.Series,
                        eminx: pd.Series, emaxx: pd.Series, eminy: pd.Series,
                        emaxy: pd.Series) -> pd.Series:
    """Dateline-aware rect.Relate(rect) (RectangleImpl.cs:211-297)."""
    return pd.Series(_relate_rect_rect(
        minx.to_numpy(), maxx.to_numpy(), miny.to_numpy(), maxy.to_numpy(),
        eminx.to_numpy(), emaxx.to_numpy(), eminy.to_numpy(), emaxy.to_numpy(), geo=True))


@pandas_udf(ByteType())
def st_relate_circle_rect(cx: pd.Series, cy: pd.Series, r: pd.Series,
                          minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                          maxy: pd.Series) -> pd.Series:
    """GeoCircle.Relate(rect) full state machine (GeoCircle.cs:107-230)."""
    return pd.Series(_relate_circle_rect(
        cx.to_numpy(), cy.to_numpy(), r.to_numpy(),
        minx.to_numpy(), maxx.to_numpy(), miny.to_numpy(), maxy.to_numpy(), geo=True))


@arrow_udf(ByteType())
def st_relate_shape_point(shape: pa.Array, px: pa.Array,
                          py: pa.Array) -> pa.Array:
    """shape.Relate(point) dispatch by kind — the join refine kernel.

    Kernel selection happens per (kind-group), not per row: rows are
    grouped by kind and each group is processed as one NumPy batch.
    """
    from ..kernels.pip import points_in_polygon
    from ..kernels.relate_circle import relate_circle_point
    from ..kernels.relate_line import linestring_contains_point

    s = decode(shape)
    out = np.full(len(s), _rel.DISJOINT, dtype=np.int8)
    kd = s.kind
    pxv = _f64(px)
    pyv = _f64(py)

    m = kd == _wkt.KIND_RECT
    if m.any():
        out[m] = _relate_rect_point(s.minx[m], s.maxx[m], s.miny[m],
                                    s.maxy[m], pxv[m], pyv[m], geo=True)
    m = kd == _wkt.KIND_CIRCLE
    if m.any():
        out[m] = relate_circle_point(s.x[m], s.y[m], s.radius[m],
                                     pxv[m], pyv[m], geo=True)
    m = kd == _wkt.KIND_POINT
    if m.any():
        same = (s.x[m] == pxv[m]) & (s.y[m] == pyv[m])
        out[m] = np.where(same, _rel.CONTAINS, _rel.DISJOINT)
    m = (kd == _wkt.KIND_POLYGON) | (kd == _wkt.KIND_MULTIPOLYGON)
    if m.any():
        # group rows sharing the same polygon (joins replicate one shape
        # to many candidate points) and PIP each group as one batch.
        # Key on the FULL geometry bytes — a heuristic key like
        # (len, x0, x-1, y0) collides for distinct rings sharing
        # endpoints (closed rings always have x0 == x-1) and would
        # silently relate a row against the wrong polygon. tobytes()
        # is ~ns per vertex, negligible next to the PIP kernel.
        for rows in _group_by_geometry(s, np.nonzero(m)[0]):
            vx, vy, ro = s.verts(rows[0])
            hit = points_in_polygon(pxv[rows], pyv[rows], vx, vy, ro)
            out[rows] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    m = kd == _wkt.KIND_LINESTRING
    if m.any():
        # same per-shape grouping as the polygon branch: joins replicate
        # one line across many candidate points, so batch each line's
        # points into ONE kernel call instead of a per-row loop
        rad = np.where(np.isnan(s.radius), 0.0, s.radius)
        for rows in _group_by_geometry(s, np.nonzero(m)[0], rad):
            i0 = rows[0]
            hit = linestring_contains_point(s.xs[i0], s.ys[i0], rad[i0],
                                            pxv[rows], pyv[rows])
            out[rows] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    return pa.array(out, type=pa.int8())


def _group_by_geometry(s, idxs, extra=None) -> list:
    """Row indices `idxs` grouped by identical vertex arrays (and
    `extra[i]`), as int arrays in first-seen order."""
    groups: dict = {}
    setd = groups.setdefault
    for i in idxs:
        key = tuple(None if v is None else v.tobytes() for v in s.verts(i))
        setd(key if extra is None else (key, extra[i]), []).append(i)
    return [np.asarray(rows) for rows in groups.values()]


def st_relation_name(rel_col):
    """Relation code -> name (WITHIN/CONTAINS/DISJOINT/INTERSECTS)."""
    return (F.when(rel_col == _rel.WITHIN, "WITHIN")
             .when(rel_col == _rel.CONTAINS, "CONTAINS")
             .when(rel_col == _rel.DISJOINT, "DISJOINT")
             .when(rel_col == _rel.INTERSECTS, "INTERSECTS")
             .otherwise("NONE"))


@arrow_udf(SHAPE_SCHEMA)
def st_from_legacy(texts: pa.Array) -> pa.Array:
    """Legacy text format -> shape struct ("X Y", "minX minY maxX maxY",
    "Circle(x y d=r)"; LegacyShapeReadWriterFormat.cs:46-96)."""
    return _parsed(_wkt.parse_legacy_columns(texts.to_pandas()))


@pandas_udf(DoubleType())
def st_rect_area_geo(minx: pd.Series, maxx: pd.Series, miny: pd.Series,
                     maxy: pd.Series) -> pd.Series:
    """Spherical rect area in deg^2 (GeodesicSphereDistCalc.cs:58-66)."""
    from ..kernels.area import geo_rect_area
    return pd.Series(geo_rect_area(minx.to_numpy(), maxx.to_numpy(),
                                   miny.to_numpy(), maxy.to_numpy()))


@pandas_udf(DoubleType())
def st_circle_area_geo(r: pd.Series) -> pd.Series:
    """Spherical cap area in deg^2 (GeodesicSphereDistCalc.cs:68-73)."""
    from ..kernels.area import geo_circle_area
    return pd.Series(geo_circle_area(r.to_numpy()))


_DEST_SCHEMA = StructType([
    StructField("x2", DoubleType()), StructField("y2", DoubleType()),
])


@pandas_udf(_DEST_SCHEMA)
def st_point_on_bearing(x: pd.Series, y: pd.Series, dist_deg: pd.Series,
                        bearing_deg: pd.Series) -> pd.DataFrame:
    """Great-circle destination point (DistanceUtils.cs:222-283)."""
    from ..kernels.bearing import geo_point_on_bearing_deg
    lon2, lat2 = geo_point_on_bearing_deg(x.to_numpy(), y.to_numpy(),
                                          dist_deg.to_numpy(),
                                          bearing_deg.to_numpy())
    return pd.DataFrame({"x2": lon2, "y2": lat2})


from pyspark.sql.types import BooleanType  # noqa: E402


@pandas_udf(BooleanType())
def st_line_contains_point(ax: pd.Series, ay: pd.Series, bx: pd.Series,
                           by: pd.Series, buf: pd.Series, px: pd.Series,
                           py: pd.Series) -> pd.Series:
    """BufferedLine.Contains(point) (BufferedLine.cs:215-219)."""
    from ..kernels.relate_line import buffered_line_contains
    return pd.Series(buffered_line_contains(
        ax.to_numpy(), ay.to_numpy(), bx.to_numpy(), by.to_numpy(),
        buf.to_numpy(), px.to_numpy(), py.to_numpy()))


@pandas_udf(ByteType())
def st_relate_circle_circle(x1: pd.Series, y1: pd.Series, r1: pd.Series,
                            x2: pd.Series, y2: pd.Series,
                            r2: pd.Series) -> pd.Series:
    """Circle.Relate(circle) ring arithmetic (CircleImpl.cs:235-247)."""
    from ..kernels.relate_circle import relate_circle_circle
    return pd.Series(relate_circle_circle(
        x1.to_numpy(), y1.to_numpy(), r1.to_numpy(),
        x2.to_numpy(), y2.to_numpy(), r2.to_numpy(), geo=True))


@pandas_udf(DoubleType())
def st_norm_lon(lon: pd.Series) -> pd.Series:
    """Wrap longitude into [-180,180] (DistanceUtils.cs:290-301)."""
    from ..kernels.normalize import norm_lon_deg
    return pd.Series(norm_lon_deg(lon.to_numpy()))


@pandas_udf(DoubleType())
def st_norm_lat(lat: pd.Series) -> pd.Series:
    """Fold latitude into [-90,90] (DistanceUtils.cs:308-314)."""
    from ..kernels.normalize import norm_lat_deg
    return pd.Series(norm_lat_deg(lat.to_numpy()))


# ---------------------------------------------------------------------------
# JVM-side cell code: whole-stage-codegen geohash bit interleave
# ---------------------------------------------------------------------------

def _spread_bits32(v):
    """Interleave-spread a <=32-bit Column value: bit i -> bit 2i.

    Classic Morton magic-mask ladder — 15 long bitwise ops, all inside
    whole-stage codegen."""
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def _axis_idx_col(coord, lo: float, span: float, bits: int):
    """EXACT cell index along one axis: closed form + one boundary
    correction step.

    The kernel bisects with exact dyadic midpoints ("strictly greater
    goes high"), so cell i covers (b_i, b_{i+1}]. The raw closed form
    ceil(t*2^bits)-1 can be off by one when (coord - lo) rounds away a
    sub-ulp excess at a boundary (seen on real data: x =
    112.50000000000003 at the 112.5 boundary). Both grid step and
    boundaries b_i = lo + i*step are exactly representable (dyadic step,
    <=36-bit products), so comparing coord against b_{i0} / b_{i0+1}
    restores the exact bisection index. Mirrored by the DuckDB oracle
    (contract._lon_idx_sql)."""
    n = 1 << bits
    step = span / n  # exact dyadic for the +-180 / +-90 world
    i0 = F.ceil((coord + F.lit(-lo)) / F.lit(span) * F.lit(float(n))).cast("long") - 1
    i0 = F.least(F.lit(n - 1), F.greatest(F.lit(0), i0))
    b_lo = F.lit(lo) + i0.cast("double") * F.lit(step)
    b_hi = F.lit(lo) + (i0 + 1).cast("double") * F.lit(step)
    corr = (F.when(coord > b_hi, 1)
             .when(coord <= b_lo, -1).otherwise(0))
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), i0 + corr))


def _dbl_lit(v: float) -> str:
    """Exact SQL double literal (D suffix keeps the parser off DECIMAL)."""
    return f"{v!r}D"


def _spread_bits32_sql(v: str) -> str:
    """SQL-string twin of _spread_bits32 — same five mask steps.

    Textual duplication of the input mirrors the Column version's
    effective tree (Column reuse shares objects but codegen walks the
    tree the same number of times), so the generated code is identical;
    only the DRIVER-side construction cost differs: one string format +
    one F.expr parse instead of ~60 py4j roundtrips per cell code.
    """
    for shift, mask in ((16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                        (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                        (1, 0x5555555555555555)):
        v = f"(({v} | shiftleft({v}, {shift})) & {mask}L)"
    return v


def _axis_idx_sql(coord: str, lo: float, span: float, bits: int) -> str:
    """SQL-string twin of _axis_idx_col (same closed form + boundary
    correction; see that docstring for the exactness argument)."""
    n = 1 << bits
    step = span / n
    i0 = (f"(CAST(ceil((({coord}) + {_dbl_lit(-lo)}) / {_dbl_lit(span)}"
          f" * {_dbl_lit(float(n))}) AS BIGINT) - 1)")
    i0 = f"least({n - 1}L, greatest(0L, {i0}))"
    b_lo = f"({_dbl_lit(lo)} + (CAST({i0} AS DOUBLE) * {_dbl_lit(step)}))"
    b_hi = f"({_dbl_lit(lo)} + (CAST(({i0} + 1) AS DOUBLE) * {_dbl_lit(step)}))"
    corr = (f"(CASE WHEN ({coord}) > {b_hi} THEN 1"
            f" WHEN ({coord}) <= {b_lo} THEN -1 ELSE 0 END)")
    return f"least({n - 1}L, greatest(0L, {i0} + {corr}))"


def _morton_sql(li: str, ti: str, precision: int) -> str:
    nbits = precision * 5
    sl = _spread_bits32_sql(f"CAST({li} AS BIGINT)")
    st = _spread_bits32_sql(f"CAST({ti} AS BIGINT)")
    if nbits % 2 == 1:
        return f"CAST(({sl} | shiftleft({st}, 1)) AS BIGINT)"
    return f"CAST(({st} | shiftleft({sl}, 1)) AS BIGINT)"


def _axis_sql_params(axis: str, precision: int) -> tuple:
    nbits = precision * 5
    if axis == "lon":
        return -180.0, 360.0, (nbits + 1) // 2
    if axis == "lat":
        return -90.0, 180.0, nbits // 2
    raise ValueError(axis)


def st_axis_idx_col(coord, axis: str, precision: int):
    """Exact per-axis grid index ('lon' or 'lat') at a geohash precision.

    Exposed as a building block so joins can PRECOMPUTE per-side axis
    indices in a projection and keep filter conditions tiny: codegen
    performs no subexpression elimination inside Filter predicates, and
    `_spread_bits32`'s five v->f(v,v) steps duplicate their input tree
    2^5 times — a large coord expression inside a filter-context cell
    code blows the 64 KB Janino method limit (VERDICT r02 item 2).

    `coord` may be a Column or a SQL fragment string; the string form
    builds the whole expression with ONE F.expr parse (the Column form
    costs hundreds of py4j roundtrips per call — measured ~0.5 s of
    driver time per cell-code call site, pure plan-construction).
    """
    lo, span, bits = _axis_sql_params(axis, precision)
    if isinstance(coord, str):
        return F.expr(_axis_idx_sql(coord, lo, span, bits))
    return _axis_idx_col(coord, lo, span, bits)


def st_morton_col(li, ti, precision: int):
    """Interleave precomputed (lon_idx, lat_idx) columns into the int64
    cell code. li/ti should be plain column references (see
    st_axis_idx_col) when used inside a filter condition. String
    arguments are SQL fragments (single-parse fast path)."""
    if isinstance(li, str) and isinstance(ti, str):
        return F.expr(_morton_sql(li, ti, precision))
    nbits = precision * 5
    sl = _spread_bits32(li.cast("long"))
    st = _spread_bits32(ti.cast("long"))
    if nbits % 2 == 1:
        # odd total: lon occupies even bit positions (LSB-indexed)
        return sl.bitwiseOR(F.shiftleft(st, 1)).cast("long")
    return st.bitwiseOR(F.shiftleft(sl, 1)).cast("long")


def _cell_code_sql(lat: str, lon: str, precision: int) -> str:
    lon_lo, lon_span, lon_bits = _axis_sql_params("lon", precision)
    lat_lo, lat_span, lat_bits = _axis_sql_params("lat", precision)
    return _morton_sql(_axis_idx_sql(lon, lon_lo, lon_span, lon_bits),
                       _axis_idx_sql(lat, lat_lo, lat_span, lat_bits),
                       precision)


def st_cell_code_col(lat, lon, precision: int):
    """Int64 geohash cell code as a PURE Column expression (no UDF).

    Bit-identical to kernels.geohash.cell_code: lon takes ceil(5p/2)
    bits, lat floor(5p/2), interleaved lon-first from the MSB. Keeps
    the entire point side of the spatial join in whole-stage codegen —
    zero Arrow exchanges for cell assignment.

    lat/lon may be Columns or SQL fragment strings; pass strings where
    possible — the string path is one F.expr parse instead of ~150
    py4j roundtrips (~0.5 s of driver time per call site).
    """
    if isinstance(lat, str) and isinstance(lon, str):
        return F.expr(_cell_code_sql(lat, lon, precision))
    return st_morton_col(st_axis_idx_col(lon, "lon", precision),
                         st_axis_idx_col(lat, "lat", precision), precision)


def _cover_codes_sql(minx: str, maxx: str, miny: str, maxy: str,
                     precision: int) -> str:
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_n = 1 << lon_bits
    li0 = _axis_idx_sql(minx, -180.0, 360.0, lon_bits)
    li1 = _axis_idx_sql(maxx, -180.0, 360.0, lon_bits)
    ti0 = _axis_idx_sql(miny, -90.0, 180.0, lat_bits)
    ti1 = _axis_idx_sql(maxy, -90.0, 180.0, lat_bits)
    lon_seq = (f"(CASE WHEN ({minx}) <= ({maxx}) THEN sequence({li0}, {li1})"
               f" ELSE concat(sequence({li0}, {lon_n - 1}L),"
               f" sequence(0L, {li1})) END)")
    # lambda var names must not collide with caller columns referenced
    # by the ti0/ti1 fragments (they sit inside the outer lambda body)
    return (f"flatten(transform({lon_seq},"
            f" __s4n_li -> transform(sequence({ti0}, {ti1}),"
            f" __s4n_ti -> {_morton_sql('__s4n_li', '__s4n_ti', precision)})))")


def st_cover_codes_col(minx, maxx, miny, maxy, precision: int):
    """Int64-code tile cover of a bbox as a PURE Column expression.

    Same cell set as kernels.geohash.cover_codes_bbox (grid range
    between the corner cells, dateline-aware lon wrap), built with
    sequence/transform/flatten + the Morton spread — no Python on the
    shape side of the join either.

    String arguments are SQL fragments (single-parse fast path); all
    four must then be strings.
    """
    if all(isinstance(c, str) for c in (minx, maxx, miny, maxy)):
        return F.expr(_cover_codes_sql(minx, maxx, miny, maxy, precision))
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_n = 1 << lon_bits
    li0 = _axis_idx_col(minx, -180.0, 360.0, lon_bits)
    li1 = _axis_idx_col(maxx, -180.0, 360.0, lon_bits)
    ti0 = _axis_idx_col(miny, -90.0, 180.0, lat_bits)
    ti1 = _axis_idx_col(maxy, -90.0, 180.0, lat_bits)
    lon_seq = F.when(minx <= maxx, F.sequence(li0, li1)).otherwise(
        F.concat(F.sequence(li0, F.lit(lon_n - 1)), F.sequence(F.lit(0), li1)))

    return F.flatten(F.transform(
        lon_seq, lambda li: F.transform(F.sequence(ti0, ti1),
                                        lambda ti: st_morton_col(li, ti,
                                                                 precision))))


@pandas_udf(ArrayType(LongType()))
def _st_cover_codes_adaptive_udf(minx: pd.Series, maxx: pd.Series,
                                 miny: pd.Series, maxy: pd.Series,
                                 min_level: pd.Series, max_level: pd.Series,
                                 cells_budget: pd.Series) -> pd.Series:
    lo, hi = int(min_level.iloc[0]), int(max_level.iloc[0])
    budget = int(cells_budget.iloc[0])
    return pd.Series(_gh.cover_codes_bbox_adaptive_batch(
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan), lo, hi, budget))


def st_cover_codes_adaptive(minx, maxx, miny, maxy,
                            min_level: int, max_level: int,
                            cells_budget: int = 4):
    """Level-TAGGED cover codes at each bbox's own adaptive level (the
    finest level in the band whose EXACT cover count fits
    `cells_budget`; oversized bboxes fall back to a min_level grid
    range). Join keys are (code << 4) | level — disjoint across levels.
    The multi-level spatial-index shape side (batch Arrow kernel,
    kernels/geohash.cover_codes_bbox_adaptive_batch)."""
    return _st_cover_codes_adaptive_udf(minx, maxx, miny, maxy,
                                        F.lit(min_level), F.lit(max_level),
                                        F.lit(cells_budget))


@pandas_udf(ArrayType(LongType()))
def _st_cover_pyramid_udf(minx: pd.Series, maxx: pd.Series,
                          miny: pd.Series, maxy: pd.Series,
                          min_level: pd.Series, max_level: pd.Series,
                          cells_budget: pd.Series) -> pd.Series:
    lo, hi = int(min_level.iloc[0]), int(max_level.iloc[0])
    budget = int(cells_budget.iloc[0])
    return pd.Series(_gh.cover_pyramid_batch(
        minx.to_numpy(dtype=np.float64, na_value=np.nan),
        maxx.to_numpy(dtype=np.float64, na_value=np.nan),
        miny.to_numpy(dtype=np.float64, na_value=np.nan),
        maxy.to_numpy(dtype=np.float64, na_value=np.nan), lo, hi, budget))


def st_cover_pyramid(minx, maxx, miny, maxy,
                     min_level: int, max_level: int,
                     cells_budget: int = 4):
    """Multi-level tagged cover pyramid of a bbox: own adaptive-level
    cover first (element 0's tag IS the shape's level), then the exact
    cover at every coarser level down to min_level (prefix-shift
    derived). The two-sided adaptive join's shape emission — bounded
    per row by cells_budget + 4x(levels below own)."""
    return _st_cover_pyramid_udf(minx, maxx, miny, maxy,
                                 F.lit(min_level), F.lit(max_level),
                                 F.lit(cells_budget))


def st_cell_codes_for_levels_col(lat, lon, levels):
    """Array of level-tagged cell codes of a point at each level in
    `levels` — the point side of the adaptive multi-level join, as a
    PURE Column expression (whole-stage codegen; zero Arrow exchange).

    Only the FINEST level gets a Morton tree; every coarser code is its
    ancestor by the prefix property (a level-L code >> 5*(L-Lc) IS the
    level-Lc code — kernels/geohash.py), so codegen evaluates one
    coordinate tree per row instead of len(levels) (ProjectExec
    subexpression elimination collapses the shared base). Pass only the
    levels the shape side actually uses (plan-time pruning) to cut the
    point-side fan-out."""
    levels = list(levels)
    tag_bits = _gh.LEVEL_TAG_BITS
    finest = max(levels)
    base = st_cell_code_col(lat, lon, finest)
    return F.array(*[
        F.shiftleft(F.shiftright(base, 5 * (finest - lv)), tag_bits)
         .bitwiseOR(F.lit(lv)).cast("long")
        for lv in levels])


def st_cell_codes_multilevel_col(lat, lon, min_level: int, max_level: int):
    """st_cell_codes_for_levels_col over the full [min_level, max_level]
    band."""
    return st_cell_codes_for_levels_col(lat, lon,
                                        range(min_level, max_level + 1))


@arrow_udf(ByteType())
def st_relate_polygon_circle(polygon: pa.Array, circle: pa.Array) -> pa.Array:
    """Polygon.Relate(circle) vertex-counting (NtsGeometry.cs:248-275);
    the circle is read from its x, y and radius fields."""
    from ..kernels.pip import relate_polygon_circle
    a, c = decode(polygon), decode(circle)
    out = np.empty(len(a), dtype=np.int8)
    for i in range(len(a)):
        out[i] = relate_polygon_circle(
            *a.verts(i), a.minx[i], a.maxx[i], a.miny[i], a.maxy[i],
            c.x[i], c.y[i], c.radius[i])
    return pa.array(out, type=pa.int8())


@arrow_udf(ByteType())
def st_relate_polygon_rect(polygon: pa.Array, rect: pa.Array) -> pa.Array:
    """Polygon.Relate(rect), COVERS semantics (NtsGeometry.cs:303-314
    via from-scratch primitives); the rect is read from its bbox."""
    from ..kernels.pip import relate_polygon_rect
    a, r = decode(polygon), decode(rect)
    out = np.empty(len(a), dtype=np.int8)
    for i in range(len(a)):
        out[i] = relate_polygon_rect(*a.verts(i), r.minx[i], r.maxx[i],
                                     r.miny[i], r.maxy[i])
    return pa.array(out, type=pa.int8())


@arrow_udf(SHAPE_SCHEMA)
def st_from_latlon(texts: pa.Array) -> pa.Array:
    """'lat, lon' string -> point shape struct (ParseUtils.cs:162-191);
    range-invalid rows get an error instead of a shape."""
    return encode_records(*_wkt.parse_latlon_batch(texts.to_pylist()))


@arrow_udf(SHAPE_SCHEMA)
def st_buffer(shape: pa.Array, dist: pa.Array) -> pa.Array:
    """GetBuffered(distance) for point/circle/rect/line/polygon structs.

    Point -> circle(distance) (PointImpl.cs:67-70); circle -> radius
    grows, clamped to 180 (CircleImpl.cs:78-81 + MakeCircle clamp);
    rect -> pole-wrap / lon-skew expansion (RectangleImpl.cs:76-114,
    kernels.buffer.buffer_rect); buffered line(string) -> buf grows
    (BufferedLine.cs:160-163 / BufferedLineString.cs:96-99) with the
    bbox expanded by the longitude-skew rule
    (ExpandBufForLongitudeSkew, BufferedLine.cs:170-182), clamped to
    world bounds like the BufferedLine ctor's bbox. (Multi)polygon ->
    planar degree-space Minkowski buffer (NtsGeometry.cs:175-180
    delegates to NTS Buffer, which is planar): exact with round joins
    for convex rings, documented hull/erode approximations otherwise —
    see kernels.buffer.buffer_polygon. The struct bbox is set
    ANALYTICALLY (vertex bbox +- d, world-clamped), not from the
    discretized arc vertices. Shrinking a rect past collapse on either
    axis, or a circle below radius 0, gives an error row (MakeRectangle
    / MakeCircle throw). Other kinds -> error row."""
    from ..kernels.buffer import buffer_polygon, buffer_rect
    from ..kernels.circle_box import geo_circle_bbox, lon_degrees_at_lat
    s = decode(shape)
    n = len(s)
    k = s.kind
    d = _f64(dist)
    out = {name: np.full(n, np.nan) for name in
           ("x", "y", "radius", "minx", "maxx", "miny", "maxy")}
    okind = np.zeros(n, dtype=np.int8)
    err = np.full(n, None, dtype=object)

    for m, r in ((k == 1, np.minimum(d, 180.0)),
                 (k == 3, np.minimum(s.radius + d, 180.0))):
        if not m.any():
            continue
        bad_r = m & (r < 0.0)  # MakeCircle throws on negative radius
        m = m & ~bad_r
        err[bad_r] = "st_buffer: negative circle radius (InvalidShape)"
        bminx, bmaxx, bminy, bmaxy = geo_circle_bbox(s.x, s.y, r)
        for nm, v in (("x", s.x), ("y", s.y), ("radius", r),
                      ("minx", bminx), ("maxx", bmaxx),
                      ("miny", bminy), ("maxy", bmaxy)):
            out[nm][m] = v[m]
        okind[m] = 3
    rc = k == 2
    if rc.any():
        bminx, bmaxx, bminy, bmaxy = buffer_rect(s.minx, s.maxx, s.miny,
                                                 s.maxy, d)
        # MakeRectangle throws when a shrink (d < 0) collapses an axis:
        # Y directly; X when the dateline-aware width grows instead of
        # shrinking (a collapsed plain rect reads as a near-world
        # dateline-crossing one)
        bad_y = rc & (bminy > bmaxy)
        bad_x = rc & ~bad_y & (d < 0.0) & (
            _lon_width(bminx, bmaxx) > _lon_width(s.minx, s.maxx))
        err[bad_y] = "st_buffer: maxY must be >= minY (InvalidShape)"
        err[bad_x] = "st_buffer: rect width collapsed (InvalidShape)"
        rc = rc & ~bad_y & ~bad_x
        for nm, v in (("minx", bminx), ("maxx", bmaxx),
                      ("miny", bminy), ("maxy", bmaxy)):
            out[nm][rc] = v[rc]
        okind[rc] = 2
    oxs: list = [None] * n
    oys: list = [None] * n
    ln = k == 4
    for i in np.nonzero(ln)[0]:
        vx, vy = s.xs[i], s.ys[i]
        if vx is None or vy is None:
            err[i] = "st_buffer: line without vertex arrays"
            continue
        if vx.size == 0:
            err[i] = "st_buffer: empty linestring"
            continue
        nb = (0.0 if np.isnan(s.radius[i]) else s.radius[i]) + d[i]
        dl = float(lon_degrees_at_lat(np.abs(vy).max(), nb))
        out["radius"][i] = nb
        out["minx"][i] = max(-180.0, vx.min() - dl)
        out["maxx"][i] = min(180.0, vx.max() + dl)
        out["miny"][i] = max(-90.0, vy.min() - nb)
        out["maxy"][i] = min(90.0, vy.max() + nb)
        oxs[i] = vx
        oys[i] = vy
        okind[i] = 4
    oro: list = [None] * n
    pg = (k == 7) | (k == 8)
    for i in np.nonzero(pg)[0]:
        vx, vy, ro = s.verts(i)
        if vx is None or vy is None:
            err[i] = "st_buffer: polygon without vertex arrays"
            continue
        try:
            bx, by, boff, _ = buffer_polygon(vx, vy, ro, d[i])
        except ValueError as e:
            err[i] = f"st_buffer: {e}"
            continue
        if len(bx) == 0:
            continue  # fully eroded -> EMPTY (NTS empty result)
        if d[i] >= 0.0:
            # analytic: the buffer touches vertex bbox +- d exactly
            out["minx"][i] = max(-180.0, vx.min() - d[i])
            out["maxx"][i] = min(180.0, vx.max() + d[i])
            out["miny"][i] = max(-90.0, vy.min() - d[i])
            out["maxy"][i] = min(90.0, vy.max() + d[i])
        else:
            # erosion: extremes live on output vertices (offset
            # segments; arcs are concave toward the region)
            out["minx"][i] = bx.min()
            out["maxx"][i] = bx.max()
            out["miny"][i] = by.min()
            out["maxy"][i] = by.max()
        oxs[i] = bx
        oys[i] = by
        oro[i] = boff
        okind[i] = k[i]
    # original kind masks (invalid-result rows already carry their own
    # error): unsupported = no known kind
    bad = ~((k == 1) | (k == 3) | (k == 2) | ln | pg)
    err[bad] = "st_buffer: unsupported shape kind"
    return encode(n, kind=okind, xs=oxs, ys=oys, ring_offsets=oro,
                  error=err, **out)


def _lon_width(minx, maxx):
    """Dateline-aware longitude extent of a rect (minx > maxx wraps)."""
    w = maxx - minx
    return np.where(w < 0.0, w + 360.0, w)


_CENTER_SCHEMA = StructType([StructField("x", DoubleType()),
                             StructField("y", DoubleType())])


@arrow_udf(_CENTER_SCHEMA)
def st_center(shape: pa.Array) -> pa.Array:
    """GetCenter for shape structs.

    point/circle -> the point itself (CircleImpl.cs:62); rect and the
    bbox-centered kinds (line, multipoint, mls, collection) -> the
    dateline-aware bbox midpoint (RectangleImpl.cs:304-315,
    BufferedLine.cs:233, ShapeCollection.cs:101); (multi)polygon ->
    NTS area centroid with even-odd holes and the areal->lineal->
    puntal degenerate fallback (NtsGeometry.cs:200-210). Empty ->
    null/null (the reference's (nan, nan) point)."""
    from ..kernels.centroid import center_batch
    s = decode(shape)
    cx, cy = center_batch(s.kind, s.x, s.y, s.minx, s.maxx, s.miny, s.maxy,
                          s.xs, s.ys, s.ring_offsets)
    return _double_struct(x=cx, y=cy)


def _make_area_udf(geo: bool):
    @arrow_udf(DoubleType())
    def _st_area(shape: pa.Array) -> pa.Array:
        from ..kernels.area import shape_area_batch
        s = decode(shape)
        return _doubles(shape_area_batch(
            s.kind, s.radius, s.minx, s.maxx, s.miny, s.maxy,
            s.xs, s.ys, s.ring_offsets, geo))
    return _st_area


_AREA_UDFS = {geo: _make_area_udf(geo) for geo in (True, False)}


def st_has_area_col(shape):
    """IShape.HasArea as a pure Column over the shape struct:
    point/multipoint false (PointImpl.cs:81), rect maxX!=minX &&
    maxY!=minY (RectangleImpl.cs:116), circle radius>0
    (CircleImpl.cs:88), buffered line(string) buf>0
    (BufferedLine.cs:224 via the segment collection), (multi)polygon
    true (NtsGeometry: dimension-2 geometry), collection true iff its
    merged bbox has area (flat records drop members; exact member-any
    needs the parse-level member list), empty false."""
    k = shape["kind"]
    bbox_area = ((shape["maxx"] != shape["minx"])
                 & (shape["maxy"] != shape["miny"]))
    return (F.when(k == 2, bbox_area)
             .when(k == 3, shape["radius"] > 0)
             .when((k == 4) | (k == 6),
                   F.coalesce(shape["radius"] > 0, F.lit(False)))
             .when((k == 7) | (k == 8), F.lit(True))
             .when(k == 9, bbox_area)
             .otherwise(F.lit(False)))


def st_is_empty_col(shape):
    """IShape.IsEmpty as a pure Column (kind 0 = the NaN-coordinate
    empty record, Shape.cs:93-96)."""
    return shape["kind"] == 0


def st_area(shape, geo: bool = True):
    """GetArea(ctx) for shape structs — geo=True is the spherical
    context, geo=False the Euclidean (ctx=null) branch. Dispatch per
    kind: point 0, rect band/W*H, circle cap/pi r^2, buffered line
    segment-sum capped at the bbox area, (multi)polygon euclid shoelace
    scaled by filledRatio * geo bbox area (NtsGeometry.cs:184-196).
    Collection/empty -> null (flat records drop member structure; sum
    member areas with the ShapeCollection cap rule instead)."""
    return _AREA_UDFS[geo](shape)


def rect_center_cols(minx, maxx, miny, maxy):
    """JVM twin of the rect branch of `st_center` for hot paths: pure
    Column expressions (stay inside WholeStageCodegen, no Arrow
    exchange). Same float op order as kernels.centroid.rect_center so
    values are bit-identical (asserted in tests/test_center.py).
    Returns (cx, cy) Columns."""
    wrapped = maxx < minx
    w = F.when(wrapped, maxx - minx + F.lit(360.0)).otherwise(maxx - minx)
    raw = minx + w / F.lit(2.0)
    # norm_lon_deg (DistanceUtils.cs:290-301): in-range passthrough,
    # else -180 + pythonic-mod(lon + 180, 360), exact multiple -> +180
    off = F.pmod(raw + F.lit(180.0), F.lit(360.0))
    norm = (F.when((raw >= -180.0) & (raw <= 180.0), raw)
             .when((off == 0.0) & (raw > 0.0), F.lit(180.0))
             .otherwise(F.lit(-180.0) + off))
    cx = F.when(wrapped, norm).otherwise(raw)
    cy = miny + (maxy - miny) / F.lit(2.0)
    return cx, cy


@arrow_udf(ByteType())
def st_relate_polygon_polygon(a: pa.Array, b: pa.Array) -> pa.Array:
    """A.Relate(B) for two (multi)polygons, COVERS semantics
    (NtsGeometry.cs:283-314 DE-9IM -> SpatialRelation mapping,
    exact split-probe covers test in kernels.pip)."""
    from ..kernels.pip import relate_polygon_polygon
    sa, sb = decode(a), decode(b)
    out = np.empty(len(sa), dtype=np.int8)
    for i in range(len(sa)):
        out[i] = relate_polygon_polygon(*sa.verts(i), *sb.verts(i))
    return pa.array(out, type=pa.int8())


def _area_pages(s, i):
    """Row i -> list of planar (xs, ys, ring_offsets) pages for the
    overlay area kernel. Rects unwrap at the dateline into up to two
    pages; polygons arrive already page-split from the WKT parser.
    Returns None for kinds without a polygonal footprint the kernel
    can measure (circle/collection/empty); measure-zero kinds
    (point/line) return []."""
    k = s.kind[i]
    if k == 2:
        return [(rx, ry, None) for rx, ry in
                rect_pages(s.minx[i], s.maxx[i], s.miny[i], s.maxy[i])]
    if k in (7, 8):
        return [s.verts(i)]
    if k in (1, 4, 5, 6):
        return []
    return None


def _paged_intersection_area(pa_, pb):
    from ..kernels.overlay import intersection_area
    if pa_ is None or pb is None:
        return np.nan
    return sum(intersection_area(*p, *q)
               for p in pa_ for q in pb) if pa_ and pb else 0.0


@arrow_udf(DoubleType())
def st_shape_intersection_area(a: pa.Array, b: pa.Array) -> pa.Array:
    """Kind-dispatching intersection area (deg^2) over shape structs:
    rect x rect / rect x polygon / polygon x polygon, dateline-crossing
    rects paged. The kernel (the noded overlay of kernels/booleans.py,
    Green's theorem over the kept boundary pieces) is robust to holes,
    multiparts, shared edges and A == B, with no degenerate bailout.
    Measure-zero kinds (point/line) give 0.0; kinds without a polygonal
    footprint (circle/collection/empty) give null."""
    sa, sb = decode(a), decode(b)
    return _doubles([_paged_intersection_area(_area_pages(sa, i),
                                              _area_pages(sb, i))
                     for i in range(len(sa))])


@arrow_udf(SHAPE_SCHEMA)
def st_intersection(a: pa.Array, b: pa.Array) -> pa.Array:
    """Intersection GEOMETRY of two polygons/rects as a shape struct —
    concave, HOLED, MULTIPART and dateline-paged inputs, shared edges
    and vertex touches included (kernels/booleans, the noded overlay
    kernel that also backs `st_shape_intersection_area`, so geometry
    and measure agree). kind 7 for one output member (shell + holes),
    kind 8 for several (interlocking C-shapes, multipart inputs,
    hole-pinched islands, vertex-touching pieces), kind 0 (EMPTY) for
    a pair whose interiors are disjoint. Dateline-crossing rects
    page-split like the WKT parser, so paged inputs meet paged outputs
    consistently. An error row is left only for kinds without
    polygonal geometry and for a stitch the kernel cannot close."""
    return _boolean_geometry("and", a, b)


@arrow_udf(SHAPE_SCHEMA)
def st_difference(a: pa.Array, b: pa.Array) -> pa.Array:
    """Difference GEOMETRY A \\ B as a shape struct. Same kernel,
    input coverage and error contract as `st_intersection`; the scalar
    twin `st_difference_area` is the matching MEASURE."""
    return _boolean_geometry("sub", a, b)


@arrow_udf(SHAPE_SCHEMA)
def st_union(a: pa.Array, b: pa.Array) -> pa.Array:
    """Union GEOMETRY A ∪ B as a shape struct with a canonical
    dissolved boundary: shared edges between A and B are removed, not
    kept as seams. Same kernel, input coverage and error contract as
    `st_intersection`."""
    return _boolean_geometry("or", a, b)


@arrow_udf(SHAPE_SCHEMA)
def st_sym_difference(a: pa.Array, b: pa.Array) -> pa.Array:
    """Symmetric difference GEOMETRY A △ B as a shape struct. Same
    kernel, input coverage and error contract as `st_intersection`."""
    return _boolean_geometry("xor", a, b)


def _boolean_geometry(op, a, b) -> pa.StructArray:
    """Shared per-row driver for the boolean geometry UDFs: shape
    structs -> even-odd rings -> noded overlay `op` -> members ->
    closed-ring struct."""
    from ..kernels.booleans import members_of_robust, robust_boolean
    sa, sb = decode(a), decode(b)
    recs: list = [None] * len(sa)
    errs: list = [None] * len(sa)
    for i in range(len(sa)):
        try:
            rings_a, rings_b = _evenodd_rings(sa, i), _evenodd_rings(sb, i)
        except ValueError as e:
            errs[i] = str(e)
            continue
        rings = robust_boolean(rings_a, rings_b, op)
        members = None if rings is None else members_of_robust(rings)
        if members is None:
            errs[i] = "overlay: result rings did not stitch or nest"
        elif members:
            recs[i] = closed_rings_record(members)
    return encode_records(recs, errs)


def _evenodd_rings(s, i):
    """Even-odd ring list [(xs, ys), ...] of row i, or ValueError for
    kinds without polygonal geometry. Dateline-crossing rects
    page-split into two rings (the WKT parser's convention); EMPTY
    (kind 0) is the empty ring set — the overlay kernel then gives NTS
    parity for free (A ∩ ∅ = ∅, A \\ ∅ = A ∪ ∅ = A)."""
    kind = s.kind[i]
    if kind == 0:
        return []
    if kind == 2:
        return rect_pages(s.minx[i], s.maxx[i], s.miny[i], s.maxy[i])
    if kind not in (7, 8):
        raise ValueError(f"st_intersection needs polygons/rects,"
                         f" got kind {int(kind)}")
    rx, ry, offs = s.verts(i)
    if offs is None:
        offs = np.asarray([0, len(rx)], dtype=np.int64)
    out = []
    for k in range(len(offs) - 1):
        gx, gy = rx[offs[k]:offs[k + 1]], ry[offs[k]:offs[k + 1]]
        if len(gx) >= 2 and gx[0] == gx[-1] and gy[0] == gy[-1]:
            gx, gy = gx[:-1], gy[:-1]
        if len(gx) < 3:
            raise ValueError("degenerate ring (<3 vertices)")
        out.append((gx, gy))
    return out


_OVERLAY_MEASURE_SCHEMA = StructType([
    StructField("inter", DoubleType()),
    StructField("a_area", DoubleType()),
    StructField("b_area", DoubleType()),
])


@arrow_udf(_OVERLAY_MEASURE_SCHEMA)
def st_overlay_measure(a: pa.Array, b: pa.Array) -> pa.Array:
    """Fused overlay measure: intersection area + both own areas in ONE
    Arrow exchange (the with_fracs overlay path would otherwise ship
    the pair's vertex arrays through three separate UDF stages)."""
    from ..kernels.overlay import polygon_area_evenodd
    sa, sb = decode(a), decode(b)
    n = len(sa)
    inter = np.empty(n)
    a_area = np.empty(n)
    b_area = np.empty(n)

    def own(pages):
        if pages is None:
            return np.nan
        return sum(polygon_area_evenodd(*p) for p in pages)

    for i in range(n):
        pa_, pb = _area_pages(sa, i), _area_pages(sb, i)
        a_area[i] = own(pa_)
        b_area[i] = own(pb)
        inter[i] = _paged_intersection_area(pa_, pb)
    return _double_struct(inter=inter, a_area=a_area, b_area=b_area)


def st_difference_area(a, b):
    """Planar area (deg^2) of A \\ B — pure composition, no new kernel:
    area(A) - area(A ∩ B), both terms from the fused overlay measure
    (ONE Arrow exchange). Exact wherever the measure is."""
    m = st_overlay_measure(a, b)
    return m["a_area"] - m["inter"]


def rect_intersection_area_cols(aminx, amaxx, aminy, amaxy,
                                bminx, bmaxx, bminy, bmaxy,
                                geo: bool = True):
    """Planar intersection area (deg^2) of two rects as a PURE Column
    expression (JVM codegen, no Python).

    Dateline-aware: a geo rect with minX > maxX is the arc
    [minX, minX + width] with width = maxX - minX + 360
    (RectangleImpl.cs:134-147). The overlap LENGTH of two arcs on the
    longitude circle is the shifted-interval sum

        Σ_{s ∈ {-360, 0, +360}} max(0, min(a1, b1+s) - max(a0, b0+s))

    which is exact for arc widths ≤ 360 (a world-wrapping side and a
    two-component overlap both fall out of the same three terms).
    Mirrored verbatim by the SQL oracle (contract._rect_inter_area_sql)
    so engine and oracle agree bit-for-bit before rounding."""
    aw = amaxx - aminx
    bw = bmaxx - bminx
    if geo:
        aw = F.when(aw < 0, aw + 360.0).otherwise(aw)
        bw = F.when(bw < 0, bw + 360.0).otherwise(bw)
    a1 = aminx + aw
    b1 = bminx + bw
    zero = F.lit(0.0)
    if geo:
        x_ov = zero
        for s in (-360.0, 0.0, 360.0):
            x_ov = x_ov + F.greatest(
                zero, F.least(a1, b1 + s) - F.greatest(aminx, bminx + s))
    else:
        x_ov = F.greatest(zero, F.least(a1, b1) - F.greatest(aminx, bminx))
    y_ov = F.greatest(zero, F.least(amaxy, bmaxy) - F.greatest(aminy, bminy))
    return x_ov * y_ov


def make_st_to_wkt(decimals: int | None = None):
    """WKT formatter UDF factory (shape struct -> text)."""
    @arrow_udf(StringType())
    def _to_wkt(shape: pa.Array) -> pa.Array:
        s = decode(shape)
        return pa.array([_wkt.format_wkt(
            int(s.kind[i]), s.x[i], s.y[i], s.radius[i], s.minx[i],
            s.maxx[i], s.miny[i], s.maxy[i], *s.verts(i), decimals)
            for i in range(len(s))], type=pa.string())
    return _to_wkt


def st_to_wkt(shape, decimals: int | None = None):
    return make_st_to_wkt(decimals)(shape)


@pandas_udf(ByteType())
def st_relate_x_range(minx: pd.Series, maxx: pd.Series,
                      eminx: pd.Series, emaxx: pd.Series) -> pd.Series:
    """1-D longitude interval relate, dateline-aware
    (RectangleImpl.RelateXRange, :259-297)."""
    from ..kernels.relate_rect import relate_x_range
    return pd.Series(relate_x_range(minx.to_numpy(), maxx.to_numpy(),
                                    eminx.to_numpy(), emaxx.to_numpy(),
                                    geo=True))


@pandas_udf(ByteType())
def st_relate_y_range(miny: pd.Series, maxy: pd.Series,
                      eminy: pd.Series, emaxy: pd.Series) -> pd.Series:
    """1-D latitude interval relate (RectangleImpl.RelateYRange :254-257)."""
    from ..kernels.relate_rect import relate_y_range
    return pd.Series(relate_y_range(miny.to_numpy(), maxy.to_numpy(),
                                    eminy.to_numpy(), emaxy.to_numpy()))


@pandas_udf(DoubleType())
def st_cartesian_distance(x1: pd.Series, y1: pd.Series, x2: pd.Series,
                          y2: pd.Series) -> pd.Series:
    """Euclidean distance (CartesianDistCalc.cs:51-62)."""
    from ..kernels.distance import cartesian_distance
    return pd.Series(cartesian_distance(x1.to_numpy(), y1.to_numpy(),
                                        x2.to_numpy(), y2.to_numpy()))


@pandas_udf(DoubleType())
def st_cartesian_distance_sq(x1: pd.Series, y1: pd.Series, x2: pd.Series,
                             y2: pd.Series) -> pd.Series:
    """Squared distance — the sort-only optimization
    (CartesianDistCalc.cs:36-49)."""
    from ..kernels.distance import cartesian_distance
    return pd.Series(cartesian_distance(x1.to_numpy(), y1.to_numpy(),
                                        x2.to_numpy(), y2.to_numpy(),
                                        squared=True))


@pandas_udf(_DEST_SCHEMA)
def st_cartesian_point_on_bearing(x: pd.Series, y: pd.Series,
                                  dist: pd.Series,
                                  bearing_deg: pd.Series) -> pd.DataFrame:
    """Planar destination point (CartesianDistCalc.cs:70-91)."""
    from ..kernels.bearing import cartesian_point_on_bearing
    x2, y2 = cartesian_point_on_bearing(x.to_numpy(), y.to_numpy(),
                                        dist.to_numpy(),
                                        bearing_deg.to_numpy())
    return pd.DataFrame({"x2": x2, "y2": y2})


_UNITS_SCHEMA = StructType([
    StructField("deg", DoubleType()), StructField("km_rt", DoubleType()),
    StructField("rad", DoubleType()), StructField("mi", DoubleType()),
    StructField("km_from_mi", DoubleType()),
])


@pandas_udf(_UNITS_SCHEMA)
def st_units(dist_km: pd.Series) -> pd.DataFrame:
    """Unit conversions (DistanceUtils.cs:589-638 + the :95-112 mile
    constants, all exact): km -> degrees, round-trip back to km,
    degrees -> radians, km -> miles and back."""
    from ..kernels.normalize import (KM_TO_MILES, MILES_TO_KM,
                                     degrees_to_dist, dist_to_degrees,
                                     to_radians)
    km = dist_km.to_numpy()
    deg = dist_to_degrees(km)
    mi = km * KM_TO_MILES
    return pd.DataFrame({"deg": deg, "km_rt": degrees_to_dist(deg),
                         "rad": to_radians(deg), "mi": mi,
                         "km_from_mi": mi * MILES_TO_KM})


def st_vector_distance(vec1, vec2, power: float):
    """p-norm between two array<double> columns as a PURE Column
    expression (DistanceUtils.cs:123-189 special-case ladder: power=0
    counts differing components, 1 = Manhattan, 2 = Euclidean with
    sqrt, else generic p-norm with the 1/power root). Stays in
    whole-stage codegen — the embedding-distance hot path never needs
    an Arrow exchange for this."""
    p = float(power)
    if p == 0.0:
        term = lambda x, y: F.when(x == y, F.lit(0.0)).otherwise(F.lit(1.0))
    elif p == 1.0:
        term = lambda x, y: F.abs(x - y)
    elif p == 2.0:
        term = lambda x, y: (x - y) * (x - y)
    else:
        term = lambda x, y: F.pow(F.abs(x - y), F.lit(p))
    s = F.aggregate(F.zip_with(vec1, vec2, term), F.lit(0.0),
                    lambda acc, v: acc + v)
    if p in (0.0, 1.0):
        return s
    if p == 2.0:
        return F.sqrt(s)
    return F.pow(s, F.lit(1.0 / p))


def vector_box_corner_cols(center_cols, distance, upper_right: bool):
    """JVM VectorBoxCorner (DistanceUtils.cs:191-211): each coordinate
    Column moves by sin(45deg) * distance (negated for lower-left)."""
    from pyspark.sql import Column

    from ..kernels.distance import SIN_45_AS_RADS
    d = distance if isinstance(distance, Column) else F.lit(float(distance))
    d = F.lit(SIN_45_AS_RADS) * d
    if not upper_right:
        d = -d
    return [c + d for c in center_cols]


_HAV_VIN_SCHEMA = StructType([
    StructField("hav", DoubleType()), StructField("vin", DoubleType()),
])


@pandas_udf(_HAV_VIN_SCHEMA)
def st_hav_vin(x1: pd.Series, y1: pd.Series, x2: pd.Series,
               y2: pd.Series) -> pd.DataFrame:
    """Haversine + Vincenty in ONE Arrow pass (the kNN filter and the
    exact re-rank share the batch transfer)."""
    a = (x1.to_numpy(), y1.to_numpy(), x2.to_numpy(), y2.to_numpy())
    return pd.DataFrame({"hav": _geo_dist(*a, "haversine"),
                         "vin": _geo_dist(*a, "vincentySphere")})


from pyspark.sql.types import BinaryType  # noqa: E402


@arrow_udf(BinaryType())
def st_to_binary(shape: pa.Array) -> pa.Array:
    """Shape -> reference-layout bytes (Io/BinaryCodec.cs:158-234;
    geometry kinds via the WKB branch, Io/Nts/NtsBinaryCodec.cs)."""
    from ..kernels import binary as _bin
    s = decode(shape)
    out = []
    for i in range(len(s)):
        rec = s.record(i)
        for name in ("xs", "ys", "ring_offsets"):
            if rec[name] is not None:
                rec[name] = list(rec[name])
        out.append(_bin.write_shape(rec))
    return pa.array(out, type=pa.binary())


@arrow_udf(SHAPE_SCHEMA)
def st_from_binary(blobs: pa.Array) -> pa.Array:
    """Reference-layout bytes -> shape struct."""
    from ..kernels import binary as _bin
    recs: list = []
    errs: list = []
    for b in blobs.to_pylist():
        try:
            recs.append(_bin.read_shape(bytes(b)))
            errs.append(None)
        except Exception as e:  # noqa: BLE001
            recs.append(None)
            errs.append(str(e)[:200])
    return encode_records(recs, errs)


@arrow_udf(VERTEX_SCHEMA)
def _st_simplify_udf(shape: pa.Array, tolerance: pa.Array) -> pa.Array:
    from ..kernels import simplify as _simp
    s = decode(shape)
    tol = float(_f64(tolerance)[0])
    out = {"xs": s.xs.tolist(), "ys": s.ys.tolist(),
           "ring_offsets": s.ring_offsets.tolist()}
    for i in range(len(s)):
        vx, vy, ro = s.verts(i)
        if vx is None or len(vx) == 0:
            continue  # passes through unchanged
        out["xs"][i], out["ys"][i], out["ring_offsets"][i] = \
            _simp.simplify_polygon(vx, vy, ro, tol)
    return encode(len(s), fields=VERTEX_SCHEMA.fields, **out)


def st_simplify(shape, tolerance: float):
    """Douglas-Peucker simplification of polygon vertex arrays
    (kernels/simplify.py): per-ring, part structure preserved, every
    dropped vertex within `tolerance` (degrees) of the simplified
    chain. Engine-added scale operator — pre-shrink the build side of
    shape_shape_join when exact-to-tolerance semantics suffice: refine
    cost is O(vertices), and a coastline polygon at tolerance = one
    cell width keeps the same cover cells with 100x fewer vertices."""
    return _st_simplify_udf(shape, F.lit(float(tolerance)))


def register_sql_functions(spark, prefix: str = "") -> list:
    """Register the Arrow-batched st_* UDFs for Spark SQL text queries
    (`spark.udf.register` surface — the SURVEY §2.6 extensibility row).
    Shape arguments and results are whole shape structs, e.g.
    `st_buffer(st_from_wkt(wkt), 2.5)`. Column-expression builders
    (st_cell_code_col, st_cover_codes_col) are pure Catalyst
    expressions and need no registration. Returns the registered
    names."""
    udfs = {
        "st_from_wkt": _st_from_wkt_default,
        "st_from_latlon": st_from_latlon,
        "st_from_legacy": st_from_legacy,
        "st_from_binary": st_from_binary,
        "st_to_binary": st_to_binary,
        "st_to_wkt": make_st_to_wkt(),
        "st_buffer": st_buffer,
        "st_center": st_center,
        "st_area_geo": _AREA_UDFS[True],
        "st_area_euclid": _AREA_UDFS[False],
        "st_relate_shape_point": st_relate_shape_point,
        "st_relate_polygon_polygon": st_relate_polygon_polygon,
        "st_intersection_area": st_shape_intersection_area,
        "st_intersection": st_intersection,
        "st_difference": st_difference,
        "st_union": st_union,
        "st_sym_difference": st_sym_difference,
        "st_overlay_measure": st_overlay_measure,
        "st_relate_polygon_rect": st_relate_polygon_rect,
        "st_relate_polygon_circle": st_relate_polygon_circle,
        "st_simplify": _st_simplify_udf,
    }
    names = []
    for name, fn in udfs.items():
        full = prefix + name
        spark.udf.register(full, fn)
        names.append(full)
    return names


def haversine_deg_jvm(x1, y1, x2, y2):
    """Haversine distance in degrees as a PURE Column expression
    (DistHaversineRAD, DistanceUtils.cs:502-514, in Spark SQL math).

    Java and NumPy libm may differ by ulps on the transcendentals, so
    this is NOT the exactness surface — it exists as a codegen
    PRE-filter: `haversine_deg_jvm(..) <= r + slack` keeps every true
    candidate (slack covers the drift) while the exact kernel filter
    runs only on the survivors. Arrow traffic then scales with the ring
    population, not the cell-cover candidate count.
    """
    lat1, lon1 = F.radians(y1), F.radians(x1)
    lat2, lon2 = F.radians(y2), F.radians(x2)
    hx = F.sin((lon1 - lon2) * 0.5)
    hy = F.sin((lat1 - lat2) * 0.5)
    h = hy * hy + F.cos(lat1) * F.cos(lat2) * hx * hx
    # clamp: rounding can push h a hair past 1 for near-antipodal pairs;
    # sqrt(1-h) would be NaN, the prefilter comparison false, and a true
    # candidate silently dropped (ADVICE r03).
    h = F.least(F.greatest(h, F.lit(0.0)), F.lit(1.0))
    d = F.atan2(F.sqrt(h), F.sqrt(F.lit(1.0) - h)) * 2.0
    return F.degrees(d)


# absolute+relative slack on the JVM prefilter: libm drift is ~1 ulp,
# this is ~1e6 ulps of headroom at planetary magnitudes
JVM_PREFILTER_SLACK = 1e-7
