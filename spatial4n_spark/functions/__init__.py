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

import copy

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import (ByteType, DoubleType, StringType,
                               StructField, StructType)

from ..kernels import geohash as _gh
from ..kernels import relation as _rel
from ..kernels import wkt as _wkt
from ..kernels.circle_box import geo_circle_bbox as _geo_circle_bbox
from ..kernels.distance import geo_distance_deg as _geo_dist
from ..kernels.relate_circle import relate_circle_rect as _relate_circle_rect
from ..kernels.relate_rect import relate_rect_point as _relate_rect_point
from ..kernels.relate_rect import relate_rect_rect as _relate_rect_rect
from ..shapes import (SHAPE_SCHEMA, VERTEX_SCHEMA, VertexLists,
                      closed_rings_record,
                      decode, encode, encode_records)


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


def evaluated_once(udf):
    """A copy of `udf` whose calls Catalyst never copies.

    A deterministic UDF call is an ordinary expression to the
    optimizer: after `withColumn(c, f(x)).where(<c>)`,
    PushPredicateThroughNonJoin substitutes f(x) into a Filter below
    its Project, and CollapseProject inlines a column read twice, so
    the kernel runs in two Python nodes over the same rows. A
    nondeterministic call is neither substituted nor inlined: it runs
    once, where it was written. Use the copy where a pair kernel's
    result column is read again or filtered on. `asNondeterministic`
    marks the instance it is called on, so it is called on a copy and
    `udf` itself stays deterministic."""
    return copy.copy(getattr(udf, "_unwrapped", udf)) \
        .asNondeterministic()._wrapped()


@arrow_udf(SHAPE_SCHEMA)
def _st_from_wkt_default(texts: pa.Array) -> pa.Array:
    return _parsed(_wkt.parse_wkt_columns(texts))


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
                    t, geo, dateline_rule, validation_rule,
                    snap, amo, norm_wrap_longitude=nwl))
        else:
            @arrow_udf(SHAPE_SCHEMA)
            def _configured(t: pa.Array) -> pa.Array:
                return _parsed(_wkt.parse_wkt_columns(
                    t, geo, dateline_rule, validation_rule,
                    snap, amo))

        udf = _WKT_UDF_CACHE[key] = _configured
    return udf(texts)


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
    """shape.Relate(point) dispatch by kind — the join refine kernel
    (`relate_shape_points` over the batch, row k against point k)."""
    s = decode(shape)
    out = relate_shape_points(s, np.arange(len(s)), _f64(px), _f64(py))
    return pa.array(out, type=pa.int8())


def relate_shape_points(s, rows, px, py) -> np.ndarray:
    """shape.Relate(point) -> int8 code per point: point k relates with
    row `rows[k]` of the shape batch `s`.

    Kernel selection happens per kind, not per point: each kind's
    points are processed as one NumPy batch. The polygon rows, each
    against its own vertex arrays, go through `points_in_row_polygons`
    (one kernel call for a batch of small polygons; points that share a
    row share its edges); a polygon row with null vertex arrays reads
    DISJOINT, and so does every kind without a case here.
    """
    from ..kernels.pip import points_in_row_polygons
    from ..kernels.relate_circle import relate_circle_point
    from ..kernels.relate_line import linestring_contains_point

    rows = np.asarray(rows, dtype=np.int64)
    out = np.full(len(rows), _rel.DISJOINT, dtype=np.int8)
    kd = s.kind[rows]

    m = np.flatnonzero(kd == _wkt.KIND_RECT)
    if len(m):
        r = rows[m]
        out[m] = _relate_rect_point(s.minx[r], s.maxx[r], s.miny[r],
                                    s.maxy[r], px[m], py[m], geo=True)
    m = np.flatnonzero(kd == _wkt.KIND_CIRCLE)
    if len(m):
        r = rows[m]
        out[m] = relate_circle_point(s.x[r], s.y[r], s.radius[r],
                                     px[m], py[m], geo=True)
    m = np.flatnonzero(kd == _wkt.KIND_POINT)
    if len(m):
        r = rows[m]
        same = (s.x[r] == px[m]) & (s.y[r] == py[m])
        out[m] = np.where(same, _rel.CONTAINS, _rel.DISJOINT)
    m = np.flatnonzero((kd == _wkt.KIND_POLYGON)
                       | (kd == _wkt.KIND_MULTIPOLYGON))
    if len(m):
        hit = points_in_row_polygons(px[m], py[m], s.xs, s.ys,
                                     s.ring_offsets, rows[m])
        out[m] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    m = np.flatnonzero(kd == _wkt.KIND_LINESTRING)
    if len(m):
        # joins replicate one line across many candidate points, so
        # group the points by line and batch each line's points into
        # ONE kernel call. Key on the FULL geometry bytes: a heuristic
        # key like (len, x0, x-1, y0) collides for distinct lines
        # sharing endpoints and would relate a point against the wrong
        # line.
        rad = np.where(np.isnan(s.radius), 0.0, s.radius)
        lines, at = np.unique(rows[m], return_inverse=True)
        lab = _group_by_geometry(s, lines, rad)[at]
        by = np.argsort(lab, kind="stable")
        for k in np.split(m[by], np.flatnonzero(np.diff(lab[by])) + 1):
            i0 = rows[k[0]]
            hit = linestring_contains_point(s.xs[i0], s.ys[i0], rad[i0],
                                            px[k], py[k])
            out[k] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    return out


def _group_by_geometry(s, idxs, extra=None) -> np.ndarray:
    """Group label of each row of `idxs`: rows with identical vertex
    arrays (and equal `extra[row]`) share a label, numbered in
    first-seen order."""
    groups: dict = {}
    setd = groups.setdefault
    labels = []
    for i in idxs.tolist():
        key = tuple(None if v is None else v.tobytes() for v in s.verts(i))
        labels.append(setd(key if extra is None else (key, extra[i]),
                           len(groups)))
    return np.asarray(labels, dtype=np.int64)


@arrow_udf(SHAPE_SCHEMA)
def st_from_legacy(texts: pa.Array) -> pa.Array:
    """Legacy text format -> shape struct ("X Y", "minX minY maxX maxY",
    "Circle(x y d=r)"; LegacyShapeReadWriterFormat.cs:46-96)."""
    return _parsed(_wkt.parse_column(texts, _wkt.parse_legacy))


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
# JVM-side cell keys: whole-stage-codegen geohash bit interleave
# ---------------------------------------------------------------------------
# Every cell key, cover and geohash string is built from SQL fragments
# with one F.expr parse per call site (a Column-API Morton tree costs
# ~150 py4j round trips, ~0.5 s of driver time per site).

# byte b -> b's 8 bits spread to the even bit positions of 16 bits
_SPREAD_LUT = [sum(((b >> i) & 1) << (2 * i) for i in range(8))
               for b in range(256)]
_SPREAD_LUT_SQL = "array(" + ", ".join(f"{v}L" for v in _SPREAD_LUT) + ")"
_CONV32_DIGITS = "0123456789ABCDEFGHIJKLMNOPQRSTUV"   # conv(x, 10, 32)


def _dbl_lit(v: float) -> str:
    """Exact SQL double literal (D suffix keeps the parser off DECIMAL)."""
    return f"{v!r}D"


def _spread_sql(v: str, bits: int) -> str:
    """Interleave-spread an index fragment in [0, 2^bits): bit i -> bit
    2i, by one `element_at` lookup in the byte table per input byte.

    Each byte reads `v` once, so a cell code carries its axis index
    expressions ceil(bits/8) times each (twice at precision 6, four
    times at 12).
    """
    terms = []
    for k in range((bits + 7) // 8):
        byte = f"CAST((shiftright({v}, {8 * k}) & 255L) AS INT)"
        terms.append(f"shiftleft(element_at({_SPREAD_LUT_SQL}, {byte} + 1),"
                     f" {16 * k})")
    return "(" + " | ".join(terms) + ")"


def _axis_idx_sql(coord: str, lo: float, span: float, bits: int) -> str:
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
    (contract._axis_idx_sql).

    NaN is index 0, as in the kernel, where NaN is never greater than a
    midpoint; Spark orders NaN above every double, so the correction
    alone would move it up a cell. A coordinate beyond the axis range,
    +-inf included, clamps to the end cell. A null coordinate gives null.
    """
    n = 1 << bits
    step = span / n
    # clamp before the - 1: ceil of a huge negative coord is the least
    # BIGINT, and subtracting from it overflows (an error under ANSI)
    i0 = (f"(least({n}L, greatest(1L, CAST(ceil((({coord}) + {_dbl_lit(-lo)})"
          f" / {_dbl_lit(span)} * {_dbl_lit(float(n))}) AS BIGINT))) - 1)")
    b_lo = f"({_dbl_lit(lo)} + (CAST({i0} AS DOUBLE) * {_dbl_lit(step)}))"
    b_hi = f"({_dbl_lit(lo)} + (CAST(({i0} + 1) AS DOUBLE) * {_dbl_lit(step)}))"
    corr = (f"(CASE WHEN ({coord}) > {b_hi} THEN 1"
            f" WHEN ({coord}) <= {b_lo} THEN -1 ELSE 0 END)")
    # least/greatest skip a null argument, so null needs its own branch.
    # i0 is read three times; keep it so: the tile-index job's guarded
    # cell code gets no subexpression elimination inside its CASE
    # branch, and two more reads (the end-cell clamps folded into the
    # correction's conditions) made that job's pass 29 % slower.
    return (f"(CASE WHEN isnan({coord}) THEN 0L WHEN ({coord}) IS NOT NULL"
            f" THEN least({n - 1}L, greatest(0L, {i0} + {corr})) END)")


def _morton_sql(li: str, ti: str, precision: int) -> str:
    """Int64 cell code from (lon_idx, lat_idx) SQL fragments: each axis
    index spread through the byte table (_spread_sql), then interleaved
    lon-first from the MSB. The indices must lie in [0, 2^bits)."""
    nbits = precision * 5
    sl = _spread_sql(f"CAST({li} AS BIGINT)", (nbits + 1) // 2)
    st = _spread_sql(f"CAST({ti} AS BIGINT)", nbits // 2)
    if nbits % 2 == 1:
        return f"CAST(({sl} | shiftleft({st}, 1)) AS BIGINT)"
    return f"CAST(({st} | shiftleft({sl}, 1)) AS BIGINT)"


def _geohash_sql(code: str, precision: int) -> str:
    """Geohash string of an int64 cell-code fragment: its base-32
    spelling, MSB first (as kernels.geohash.indices_to_hash). `conv`
    writes the code in base 32 with the digits 0-9A-V, `lpad` restores
    the leading zero digits and `translate` maps those digits to the
    geohash alphabet. `code` is read once, so st_cell stays one cell
    code long: the driver's plan analysis grows with the expression,
    and one `element_at` per 5-bit group would read it `precision`
    times (54 KB of SQL at precision 5)."""
    return (f"translate(lpad(conv(CAST({code} AS STRING), 10, 32),"
            f" {precision}, '0'), '{_CONV32_DIGITS}', '{_gh.BASE32}')")


def _axis_sql_params(axis: str, precision: int) -> tuple:
    nbits = precision * 5
    if axis == "lon":
        return -180.0, 360.0, (nbits + 1) // 2
    if axis == "lat":
        return -90.0, 180.0, nbits // 2
    raise ValueError(axis)


def st_axis_idx_col(coord: str, axis: str, precision: int):
    """Exact per-axis grid index ('lon' or 'lat') at a geohash precision
    of the SQL fragment `coord`.

    Exposed as a building block so joins can PRECOMPUTE per-side axis
    indices in a projection and keep filter conditions small: codegen
    performs no subexpression elimination inside Filter predicates (nor
    inside a CASE branch), so each byte-table lookup of the Morton
    spread generates its own copy of the index expression — ceil(bits/8)
    copies per axis, four at precision 12. Precomputed plain columns
    keep a filter-context cell code far below Janino's 64 KB method
    limit (VERDICT r02 item 2).
    """
    lo, span, bits = _axis_sql_params(axis, precision)
    return F.expr(_axis_idx_sql(coord, lo, span, bits))


def st_morton_col(li: str, ti: str, precision: int):
    """Interleave (lon_idx, lat_idx) SQL fragments into the int64 cell
    code. li/ti should be plain column references (see st_axis_idx_col)
    when used inside a filter condition."""
    return F.expr(_morton_sql(li, ti, precision))


def _cell_code_sql(lat: str, lon: str, precision: int) -> str:
    lon_lo, lon_span, lon_bits = _axis_sql_params("lon", precision)
    lat_lo, lat_span, lat_bits = _axis_sql_params("lat", precision)
    return _morton_sql(_axis_idx_sql(lon, lon_lo, lon_span, lon_bits),
                       _axis_idx_sql(lat, lat_lo, lat_span, lat_bits),
                       precision)


def st_cell_code_col(lat: str, lon: str, precision: int):
    """Int64 geohash cell code of the point (lat, lon), given as SQL
    fragments, as a pure Column expression (no UDF).

    Bit-identical to kernels.geohash.cell_code, NaN included: lon takes
    ceil(5p/2) bits, lat floor(5p/2), interleaved lon-first from the
    MSB. Keeps the point side of the spatial join in whole-stage
    codegen. A null coordinate gives a null code.
    """
    return F.expr(_cell_code_sql(lat, lon, precision))


def st_cell(lat: str, lon: str, precision: int):
    """Geohash cell id of the point (lat, lon), given as SQL fragments
    (GeohashUtils.EncodeLatLon semantics; equal to
    kernels.geohash.encode): the base-32 spelling of st_cell_code_col.
    A null coordinate gives a null cell."""
    return F.expr(_geohash_sql(_cell_code_sql(lat, lon, precision),
                               precision))


def with_cover_codes(df, minx: str, maxx: str, miny: str, maxy: str,
                     precision: int, out: str = "cover_cell"):
    """`df` with one row per (input row, cover cell): column `out` holds
    the int64 code of each cell at `precision` that the bbox (SQL
    fragments, dateline-aware) overlaps.

    The cell set equals kernels.geohash.cover_codes_bbox_batch's, with
    no duplicates: the grid range between the corner cells, wrapping
    past the last lon index when minx > maxx (the whole lon ring when
    the wrapped range would overlap itself). A NaN minx, a null bound or
    an empty index range (miny > maxy across a cell boundary) gives no
    rows; any other NaN bound reads as index 0, as in the kernel.

    A generator cannot nest in another expression, so this is a
    DataFrame step, not a Column: the corner indices and range sizes
    are projected first, then one explode over k in [0, nlon * nlat)
    spells (pmod(li0 + k div nlat, lon_n), ti0 + k mod nlat) into the
    Morton code, all in whole-stage codegen.
    """
    lon_lo, lon_span, lon_bits = _axis_sql_params("lon", precision)
    lat_lo, lat_span, lat_bits = _axis_sql_params("lat", precision)
    lon_n = 1 << lon_bits
    li0 = _axis_idx_sql(minx, lon_lo, lon_span, lon_bits)
    li1 = _axis_idx_sql(maxx, lon_lo, lon_span, lon_bits)
    ti0 = _axis_idx_sql(miny, lat_lo, lat_span, lat_bits)
    ti1 = _axis_idx_sql(maxy, lat_lo, lat_span, lat_bits)
    nlon = (f"CASE WHEN isnan({minx}) THEN 0L"
            f" WHEN ({minx}) > ({maxx})"
            f" THEN least(__cv_li1 - __cv_li0 + {lon_n + 1}L, {lon_n}L)"
            f" ELSE __cv_li1 - __cv_li0 + 1L END")
    k = ("CASE WHEN __cv_nlon > 0 AND __cv_nlat > 0"
         " THEN sequence(0L, __cv_nlon * __cv_nlat - 1L) END")
    code = _morton_sql(f"pmod(__cv_li0 + __cv_k div __cv_nlat, {lon_n}L)",
                       "__cv_ti0 + __cv_k % __cv_nlat", precision)
    # the indices get their own projection (read more than once below,
    # so it is not collapsed into the next): each is computed once.
    # explode_outer + a null filter on the output, not explode: explode
    # makes InferFiltersFromGenerate add a size() > 0 pre-filter that
    # builds every sequence array a second time
    return (df.selectExpr("*", f"{li0} AS __cv_li0", f"{li1} AS __cv_li1",
                          f"{ti0} AS __cv_ti0", f"{ti1} AS __cv_ti1")
              .selectExpr("*", f"{nlon} AS __cv_nlon",
                          "__cv_ti1 - __cv_ti0 + 1L AS __cv_nlat")
              .selectExpr("*", f"explode_outer({k}) AS __cv_k")
              .where("__cv_k IS NOT NULL")
              .withColumn(out, F.expr(code))
              .drop("__cv_li0", "__cv_li1", "__cv_ti0", "__cv_ti1",
                    "__cv_nlon", "__cv_nlat", "__cv_k"))


@arrow_udf(ByteType())
def st_relate_polygon_circle(polygon: pa.Array, circle: pa.Array) -> pa.Array:
    """Polygon.Relate(circle), the reference's vertex counting
    (NtsGeometry.cs:248-275), every row of the batch at once; the
    circle is read from its x, y and radius fields.

    1. bbox gate: rect.Relate(circle), the transposed GeoCircle
       relate; WITHIN and DISJOINT short-circuit, and a rect row's
       answer is this one.
    2. Count the vertices outside the circle; mixed => INTERSECTS.
    3. All outside => DISJOINT unless the polygon covers the circle's
       center (then CONTAINS). None outside => WITHIN.

    POLYGON, MULTIPOLYGON, rect and point rows (a point as its one
    vertex) relate; EMPTY is DISJOINT; a null or error row, any other
    kind, or a circle without x, y or radius gives null."""
    from ..kernels.pip import points_in_row_polygons
    from ..kernels.relate_circle import circle_contains_xy

    a, c = decode(polygon), decode(circle)
    (xs, ys, ro), null = relate_operands(a)
    null |= np.isnan(c.x) | np.isnan(c.y) | np.isnan(c.radius)
    out = _rel.transpose(_relate_circle_rect(
        c.x, c.y, c.radius, a.minx, a.maxx, a.miny, a.maxy,
        geo=True)).astype(np.int8)
    out[a.kind == _wkt.KIND_EMPTY] = _rel.DISJOINT
    rows = np.flatnonzero(~null & (a.kind != _wkt.KIND_RECT)
                          & (a.kind != _wkt.KIND_EMPTY)
                          & (out != _rel.WITHIN) & (out != _rel.DISJOINT))
    # every vertex of those rows, flat, with its row
    nv = np.where(xs.valid[rows], np.diff(xs.offsets)[rows], 0)
    vrow = np.repeat(rows, nv)
    at = (np.arange(nv.sum()) + np.repeat(xs.offsets[rows] - np.cumsum(nv)
                                          + nv, nv))
    inside = circle_contains_xy(c.x[vrow], c.y[vrow], c.radius[vrow],
                                xs.values[at], ys.values[at], geo=True)
    n_out = np.bincount(np.repeat(np.arange(len(rows)), nv),
                        weights=~inside, minlength=len(rows))
    out[rows] = np.where(n_out == 0, _rel.WITHIN, _rel.INTERSECTS)
    probe = rows[n_out == nv]
    if len(probe):
        hit = points_in_row_polygons(c.x[probe], c.y[probe], xs, ys, ro,
                                     probe)
        out[probe] = np.where(hit, _rel.CONTAINS, _rel.DISJOINT)
    return pa.array(out, type=pa.int8(), mask=null)


@arrow_udf(SHAPE_SCHEMA)
def st_from_latlon(texts: pa.Array) -> pa.Array:
    """'lat, lon' string -> point shape struct (ParseUtils.cs:162-191);
    range-invalid rows get an error instead of a shape."""
    return _parsed(_wkt.parse_column(texts, _wkt.parse_latlon))


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


def _polygon_lists(s, split_pages: bool = False):
    """The polygonal vertex lists of every row of a shape batch, as
    three ragged columns (xs, ys, ring_offsets): a POLYGON or
    MULTIPOLYGON row's own lists, a rect's ring pages (`rect_pages`:
    one 4-corner ring, two split at the dateline), a point's one vertex
    and null lists for every other row. With `split_pages` each page of
    a rect is an entry of its own, without ring offsets. Returns
    (xs, ys, ring_offsets, row): entry k belongs to row row[k]."""
    kind = s.kind
    poly = (kind == 7) | (kind == 8)
    rect = kind == 2
    cross = rect & (s.minx > s.maxx)
    per_row = np.where(rect & split_pages, 1 + cross, 1)
    row = np.repeat(np.arange(len(kind)), per_row)
    page = np.arange(len(row)) - np.repeat(np.cumsum(per_row) - per_row,
                                           per_row)
    npages = np.where(rect[row], 1 if split_pages else 1 + cross[row], 0)
    ep, ept = poly[row], (kind == 1)[row]

    def ragged(own, n_rect, n_point, fill):
        """One ragged column: a polygon entry copies its row's list
        `own`, the others hold n_rect / n_point values from `fill`."""
        n = np.select([ep, npages > 0, ept],
                      [np.diff(own.offsets)[row], n_rect, n_point], 0)
        valid = np.select([ep, npages > 0, ept], [own.valid[row],
                                                  n_rect > 0, n_point > 0],
                          False)
        n = np.where(valid, n, 0)
        off = np.zeros(len(row) + 1, dtype=np.int64)
        np.cumsum(n, out=off[1:])
        e = np.repeat(np.arange(len(row)), n)
        j = np.arange(off[-1]) - off[:-1][e]
        values = np.empty(off[-1], dtype=own.values.dtype)
        m = ep[e]
        values[m] = own.values[own.offsets[row[e[m]]] + j[m]]
        values[~m] = fill(e[~m], j[~m])
        return VertexLists(values, off, valid)

    def corner(lo, hi):   # 4-corner page rings, x: lo hi hi lo
        def fill(e, j):
            r, q, c = row[e], page[e] + j // 4, j % 4
            x0 = np.where(cross[r] & (q == 1), -180.0, lo[r])
            x1 = np.where(cross[r] & (q == 0), 180.0, hi[r])
            return np.where((c == 0) | (c == 3), x0, x1)
        return fill

    xs = ragged(s.xs, 4 * npages, 1, lambda e, j: np.where(
        ept[e], s.x[row[e]], corner(s.minx, s.maxx)(e, j)))
    # y: miny miny maxy maxy on every page
    ys = ragged(s.ys, 4 * npages, 1, lambda e, j: np.where(
        ept[e], s.y[row[e]],
        np.where(j % 4 < 2, s.miny[row[e]], s.maxy[row[e]])))
    ro = ragged(s.ring_offsets, 0 if split_pages else npages + 1, 0,
                lambda e, j: 4 * j)
    return xs, ys, ro, row


def relate_operands(s):
    """The relate's view of a shape batch: its `_polygon_lists` and
    which rows relate as null (a null struct, an error row, a kind
    other than EMPTY, point, rect, POLYGON and MULTIPOLYGON)."""
    err = s.error.is_valid().to_numpy(zero_copy_only=False)
    null = (~s.valid | ((s.kind == 0) & err)
            | ~np.isin(s.kind, (0, 1, 2, 7, 8)))
    return _polygon_lists(s)[:3], null


def relate_shape_pairs(a, ia, b, ib):
    """A.Relate(B) for shape pairs: pair k relates row ia[k] of the
    operands `a` (`relate_operands`) with row ib[k] of `b`. Returns
    (int8 codes, null mask). An EMPTY row is DISJOINT from everything;
    a rect relates as its ring pages; a point as its one vertex."""
    from ..kernels.pip import relate_polygons
    (la, na), (lb, nb) = a, b
    null = na[ia] | nb[ib]
    out = np.zeros(len(ia), dtype=np.int8)
    k = np.flatnonzero(~null)
    out[k] = relate_polygons(la, ia[k], lb, ib[k])
    return out, null


@arrow_udf(ByteType())
def st_relate_polygon_polygon(a: pa.Array, b: pa.Array) -> pa.Array:
    """A.Relate(B) for two polygonal shapes, COVERS semantics
    (NtsGeometry.cs:283-314 DE-9IM -> SpatialRelation mapping, read
    off the noded arrangement of both boundaries in kernels.booleans,
    every row of the batch in one pass). POLYGON, MULTIPOLYGON, rect
    (its ring pages) and point rows relate; EMPTY is DISJOINT; a null
    or error row, or any other kind, gives null."""
    sa, sb = decode(a), decode(b)
    rows = np.arange(len(sa))
    out, null = relate_shape_pairs(relate_operands(sa), rows,
                                   relate_operands(sb), rows)
    return pa.array(out, type=pa.int8(), mask=null)


# Polygon.Relate(rect), COVERS semantics (NtsGeometry.cs:303-314): the
# polygon relate, which relates a rect row as its ring pages (two when
# the rect crosses the dateline)
st_relate_polygon_rect = st_relate_polygon_polygon


def _measure_pages(s):
    """The overlay measure's pages of a shape batch: (lists, pages,
    first, nan). Row r's pages are entries pages[first[r]:first[r + 1]]
    of the ragged columns `lists` — a POLYGON / MULTIPOLYGON row is one
    page, a rect one per dateline page; measure-zero kinds (point,
    line) have none; `nan` marks rows without a polygonal footprint
    the kernel can measure (EMPTY, null, error, circle, collection)."""
    *lists, row = _polygon_lists(s, split_pages=True)
    pages = np.flatnonzero(np.isin(s.kind[row], (2, 7, 8)))
    first = np.zeros(len(s) + 1, dtype=np.int64)
    np.cumsum(np.bincount(row[pages], minlength=len(s)), out=first[1:])
    return lists, pages, first, ~np.isin(s.kind, (1, 2, 4, 5, 6, 7, 8))


def _paged_sum(vals, row, pos, n):
    """Per row, the sum of its values in page order, as Python's sum
    runs it (0 + v0 + v1 ...); vals[k] is at position pos[k] of row
    row[k]."""
    out = np.zeros(n)
    for p in range(int(pos.max()) + 1 if len(pos) else 0):
        m = pos == p
        out[row[m]] = out[row[m]] + vals[m]
    return out


def _intersection_measure(sa, sb, own: bool):
    """(A ∩ B area, and with `own` A's and B's own areas) per row of two
    shape batches, each page pair of a row one pair of one batched
    kernel call."""
    from ..kernels.overlay import intersection_areas, polygon_areas_evenodd
    n = len(sa)
    la, pa_, fa, nan_a = _measure_pages(sa)
    lb, pb, fb, nan_b = _measure_pages(sb)
    ca, cb = np.diff(fa), np.diff(fb)
    cnt = ca * cb
    row = np.repeat(np.arange(n), cnt)
    k = np.arange(len(row)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    ia = pa_[fa[row] + k // np.maximum(cb[row], 1)]
    ib = pb[fb[row] + k % np.maximum(cb[row], 1)]
    inter = _paged_sum(intersection_areas(la, ia, lb, ib), row, k, n)
    inter[nan_a | nan_b] = np.nan
    if not own:
        return inter, None, None
    areas = []
    for lists, pages, first, nan in ((la, pa_, fa, nan_a), (lb, pb, fb, nan_b)):
        cnt = np.diff(first)
        prow = np.repeat(np.arange(n), cnt)
        area = _paged_sum(polygon_areas_evenodd(*lists)[pages], prow,
                          np.arange(len(pages)) - first[prow], n)
        area[nan] = np.nan
        areas.append(area)
    return inter, *areas


@arrow_udf(DoubleType())
def st_shape_intersection_area(a: pa.Array, b: pa.Array) -> pa.Array:
    """Kind-dispatching intersection area (deg^2) over shape structs:
    rect x rect / rect x polygon / polygon x polygon, dateline-crossing
    rects paged. The kernel (the noded overlay of kernels/booleans.py,
    Green's theorem over the kept boundary pieces, every pair of the
    batch in one pass) is robust to holes, multiparts, shared edges and
    A == B, with no degenerate bailout. Measure-zero kinds (point/line)
    give 0.0; kinds without a polygonal footprint
    (circle/collection/empty) give null."""
    return _doubles(_intersection_measure(decode(a), decode(b), False)[0])


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
    """Shared driver for the boolean geometry UDFs: shape structs ->
    even-odd ring sets -> one batched noded overlay `op` -> per row
    members -> closed-ring struct."""
    from ..kernels.booleans import (members_of_rows, overlay_rings,
                                    pair_vertices)
    sa, sb = decode(a), decode(b)
    (ra, err_a), (rb, err_b) = _evenodd_rings(sa), _evenodd_rings(sb)
    errs = np.where(err_a != None, err_a, err_b)  # noqa: E711
    ok = np.flatnonzero(errs == None)  # noqa: E711
    recs: list = [None] * len(sa)
    for i, members in zip(ok.tolist(), members_of_rows(
            overlay_rings(pair_vertices(ra, ok, rb, ok), op))):
        if members is None:
            errs[i] = "overlay: result rings did not stitch or nest"
        elif members:
            recs[i] = closed_rings_record(members)
    return encode_records(recs, errs.tolist())


def _evenodd_rings(s):
    """(Rings, errors): the even-odd ring set of every row of a shape
    batch, and per row None or the error of a kind without polygonal
    geometry. A rect gives its ring pages (`rect_pages`, split at the
    dateline as the WKT parser splits); a POLYGON / MULTIPOLYGON ring
    of under three vertices is an error; EMPTY (kind 0) is the empty
    ring set — the overlay kernel then gives NTS parity for free
    (A ∩ ∅ = ∅, A \\ ∅ = A ∪ ∅ = A)."""
    from ..kernels.booleans import Rings, _group_of, _offsets, ring_spans
    xs, ys, ro, _ = _polygon_lists(s)
    kind = s.kind
    rect = kind == 2
    areal = rect | (kind == 7) | (kind == 8)
    first, gx, gy, n = ring_spans(xs, ys, ro, np.arange(len(kind)),
                                  whole_if_short=False, drop=~rect)
    ring_row = _group_of(first)
    errs = np.full(len(kind), None, dtype=object)
    errs[~areal & (kind != 0)] = [
        f"st_intersection needs polygons/rects, got kind {int(k)}"
        for k in kind[~areal & (kind != 0)]]
    short = np.zeros(len(kind), dtype=bool)
    short[ring_row[n < 3]] = True
    errs[areal & ~rect & short] = "degenerate ring (<3 vertices)"
    keep = areal[ring_row]
    first = _offsets(np.bincount(ring_row[keep], minlength=len(kind)))
    return Rings(xs.values, ys.values, gx[keep], gy[keep], n[keep],
                 first), errs


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
    inter, a_area, b_area = _intersection_measure(decode(a), decode(b), True)
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
    """WKT formatter UDF factory (shape struct -> text). A null shape,
    an error row and a GEOMETRYCOLLECTION (kind 9, whose members the
    struct does not hold) write null; EMPTY writes "POLYGON EMPTY",
    which st_from_wkt reads back as the same EMPTY row. A MULTIPOLYGON
    writes one member per shell with its holes."""
    @arrow_udf(StringType())
    def _to_wkt(shape: pa.Array) -> pa.Array:
        s = decode(shape)
        skip = (~s.valid | s.error.is_valid().to_numpy(zero_copy_only=False)
                | (s.kind == _wkt.KIND_COLLECTION))
        return pa.array([None if skip[i] else _wkt.format_wkt(
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
    geometry kinds via the WKB branch, Io/Nts/NtsBinaryCodec.cs).

    A null shape, an error row and EMPTY write null: the reference
    layout has no value that reads back as EMPTY."""
    from ..kernels import binary as _bin
    s = decode(shape)
    out = []
    for i in range(len(s)):
        if s.kind[i] == _wkt.KIND_EMPTY:
            out.append(None)
            continue
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
    return _parsed(_wkt.parse_column(blobs, _bin.read_shape))


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
    `st_buffer(st_from_wkt(wkt), 2.5)`. The cell-key builders
    (st_cell_code_col, st_cell, with_cover_codes) are pure Catalyst
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
