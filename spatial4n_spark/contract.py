"""Driver-contract queries + DuckDB oracle SQL.

Every operator exposed in __spark_entry__.queries() lives here with a
matching ANSI-SQL oracle in oracle_sql(). Geo inputs are derived
DETERMINISTICALLY from the driver's TPC-H-ish tables with pure integer/
double arithmetic written once and evaluated identically by Spark SQL
and DuckDB (both IEEE-754 doubles; +,-,*,/,% and comparisons are
correctly rounded in both). The Spark side always runs the ENGINE path
(pandas-UDF kernels / distributed joins); the oracle re-derives the
expected answer relationally.

Column names are aliased identically on both sides (driver hashes
values over name-sorted columns).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .shapes import shape_col

# ---------------------------------------------------------------------------
# shared derivations (valid in BOTH Spark SQL and DuckDB)
# ---------------------------------------------------------------------------

# NOTE: every fragment starts its double chain with cast(... as double) —
# Spark parses bare `200.0` as DECIMAL (exact math) while DuckDB uses
# DOUBLE; the cast makes both engines run the identical IEEE-754 ops.

# points from customer
PX = "(((c_custkey * 7919) % 71989) / cast(200.0 as double) - 179.97)"
PY = "(((c_custkey * 104729) % 35993) / cast(200.0 as double) - 89.97)"

# dateline-capable rects from nation
NCX = "(((n_nationkey * 48271) % 70000) / cast(200.0 as double) - 175.0)"
NCY = "(((n_nationkey * 16807) % 28000) / cast(200.0 as double) - 70.0)"
NW = "(cast(4.0 as double) + (n_nationkey * 31) % 60)"
NH = "(cast(3.0 as double) + (n_nationkey * 17) % 30)"
NMINX = f"(CASE WHEN {NCX} - {NW}/2.0 < -180.0 THEN {NCX} - {NW}/2.0 + 360.0 ELSE {NCX} - {NW}/2.0 END)"
NMAXX = f"(CASE WHEN {NCX} + {NW}/2.0 > 180.0 THEN {NCX} + {NW}/2.0 - 360.0 ELSE {NCX} + {NW}/2.0 END)"
NMINY = f"greatest(-90.0, {NCY} - {NH}/2.0)"
NMAXY = f"least(90.0, {NCY} + {NH}/2.0)"

# dateline-capable rects from supplier
RCX = "(((s_suppkey * 48271) % 70000) / cast(200.0 as double) - 175.0)"
RCY = "(((s_suppkey * 16807) % 28000) / cast(200.0 as double) - 70.0)"
RW = "(cast(10.0 as double) + (s_suppkey * 13) % 80)"
RH = "(cast(5.0 as double) + (s_suppkey * 11) % 40)"
RMINX = f"(CASE WHEN {RCX} - {RW}/2.0 < -180.0 THEN {RCX} - {RW}/2.0 + 360.0 ELSE {RCX} - {RW}/2.0 END)"
RMAXX = f"(CASE WHEN {RCX} + {RW}/2.0 > 180.0 THEN {RCX} + {RW}/2.0 - 360.0 ELSE {RCX} + {RW}/2.0 END)"
RMINY = f"greatest(-90.0, {RCY} - {RH}/2.0)"
RMAXY = f"least(90.0, {RCY} + {RH}/2.0)"

# pole/dateline-free circles from supplier (for the SQL-expressible
# circle-relate oracle: |cy| + r < 82, |cx| + deltaLon < 179)
SCX = "(((s_suppkey * 7907) % 52000) / cast(200.0 as double) - 130.0)"
SCY = "(((s_suppkey * 7919) % 24000) / cast(200.0 as double) - 60.0)"
SR = "(cast(2.0 as double) + ((s_suppkey * 104729) % 2000) / cast(100.0 as double))"

# pole/dateline-free rects from nation (counterpart of the circle oracle)
N2CX = "(((n_nationkey * 37 + 11) % 50000) / cast(200.0 as double) - 125.0)"
N2CY = "(((n_nationkey * 53 + 7) % 26000) / cast(200.0 as double) - 65.0)"
N2W = "(cast(4.0 as double) + (n_nationkey * 23) % 40)"
N2H = "(cast(3.0 as double) + (n_nationkey * 29) % 24)"
N2MINX = f"({N2CX} - {N2W}/2.0)"
N2MAXX = f"({N2CX} + {N2W}/2.0)"
N2MINY = f"greatest(-88.0, {N2CY} - {N2H}/2.0)"
N2MAXY = f"least(88.0, {N2CY} + {N2H}/2.0)"


def _hav(x1, y1, x2, y2):
    """Haversine distance in degrees — SQL mirror of
    DistanceUtils.DistHaversineRAD (DistanceUtils.cs:502-514) incl. the
    same-position shortcut."""
    return f"""(CASE WHEN {x1} = {x2} AND {y1} = {y2} THEN 0.0 ELSE
      degrees(2.0 * atan2(
        sqrt(  pow(sin((radians({y1}) - radians({y2})) * 0.5), 2)
             + cos(radians({y1})) * cos(radians({y2}))
               * pow(sin((radians({x1}) - radians({x2})) * 0.5), 2)),
        sqrt(1.0 - (pow(sin((radians({y1}) - radians({y2})) * 0.5), 2)
             + cos(radians({y1})) * cos(radians({y2}))
               * pow(sin((radians({x1}) - radians({x2})) * 0.5), 2)))))
      END)"""


def _vin(x1, y1, x2, y2):
    """Vincenty-sphere distance in degrees (DistanceUtils.cs:564-583)."""
    a = f"(cos(radians({y2})) * sin(radians({x2}) - radians({x1})))"
    b = (f"(cos(radians({y1})) * sin(radians({y2})) - "
         f"sin(radians({y1})) * cos(radians({y2})) * cos(radians({x2}) - radians({x1})))")
    c = (f"(sin(radians({y1})) * sin(radians({y2})) + "
         f"cos(radians({y1})) * cos(radians({y2})) * cos(radians({x2}) - radians({x1})))")
    return (f"(CASE WHEN {x1} = {x2} AND {y1} = {y2} THEN 0.0 ELSE "
            f"degrees(atan2(sqrt({a}*{a} + {b}*{b}), {c})) END)")


def _rr(imin, imax, emin, emax):
    """Interval relate (RectangleImpl.Relate_Range :234-252) as SQL."""
    return f"""(CASE
      WHEN {emin} > {imax} OR {emax} < {imin} THEN 3
      WHEN {emin} >= {imin} AND {emax} <= {imax} THEN 2
      WHEN {emin} <= {imin} AND {emax} >= {imax} THEN 1
      ELSE 4 END)"""


def _rect_contains_point_sql(minx, maxx, miny, maxy, px, py):
    """RectangleImpl.Relate(point)==CONTAINS as a SQL predicate (geo,
    dateline-aware; :176-209)."""
    maxx_u = f"(CASE WHEN {maxx} < {minx} THEN {maxx} + 360.0 ELSE {maxx} END)"
    px_adj = (f"(CASE WHEN {px} < {minx} THEN {px} + 360.0 "
              f"WHEN {px} > {maxx_u} THEN {px} - 360.0 ELSE {px} END)")
    return (f"({py} <= {maxy} AND {py} >= {miny} AND "
            f"{px_adj} >= {minx} AND {px_adj} <= {maxx_u})")


def _relate_x_range_sql(aminx, amaxx, bminx, bmaxx):
    """RectangleImpl.RelateXRange (:259-297) as SQL (geo)."""
    araw = f"({amaxx} - {aminx})"
    braw = f"({bmaxx} - {bminx})"
    a2 = f"(CASE WHEN {araw} < 0 THEN {aminx} + {araw} + 360.0 ELSE {amaxx} END)"
    b2 = f"(CASE WHEN {braw} < 0 THEN {bminx} + {braw} + 360.0 ELSE {bmaxx} END)"
    shift_a = f"({a2} < {bminx})"
    shift_b = f"(NOT {shift_a} AND {b2} < {aminx})"
    xa1 = f"(CASE WHEN {shift_a} THEN {aminx} + 360.0 ELSE {aminx} END)"
    xa2 = f"(CASE WHEN {shift_a} THEN {a2} + 360.0 ELSE {a2} END)"
    xb1 = f"(CASE WHEN {shift_b} THEN {bminx} + 360.0 ELSE {bminx} END)"
    xb2 = f"(CASE WHEN {shift_b} THEN {b2} + 360.0 ELSE {b2} END)"
    return f"""(CASE
      WHEN {araw} = 360.0 THEN 2
      WHEN {braw} = 360.0 THEN 1
      ELSE {_rr(xa1, xa2, xb1, xb2)} END)"""


def _relate_rect_rect_sql(aminx, amaxx, aminy, amaxy, bminx, bmaxx, bminy, bmaxy):
    """RectangleImpl.Relate(rect) (:211-231) as SQL (geo)."""
    yrel = _rr(aminy, amaxy, bminy, bmaxy)
    xrel = _relate_x_range_sql(aminx, amaxx, bminx, bmaxx)
    return f"""(CASE
      WHEN {yrel} = 3 THEN 3
      WHEN {xrel} = 3 THEN 3
      WHEN {xrel} = {yrel} THEN {xrel}
      WHEN {aminx} = {bminx} AND {amaxx} = {bmaxx} THEN {yrel}
      WHEN {aminy} = {bminy} AND {amaxy} = {bmaxy} THEN {xrel}
      ELSE 4 END)"""


def _circle_relate_rect_sql(cx, cy, r, rminx, rmaxx, rminy, rmaxy):
    """GeoCircle.Relate(rect) as SQL, valid for pole/dateline-free
    inputs (radius < 90): phase 1 bbox gate (CircleImpl.cs:127-141) +
    phase 2 closest/farthest-corner logic (:143-223) with the
    horizontal-axis latitude (GeoCircle.cs:80-95)."""
    dl = f"degrees(asin(sin(radians({r})) / cos(radians({cy}))))"
    bminx, bmaxx = f"({cx} - {dl})", f"({cx} + {dl})"
    bminy, bmaxy = f"({cy} - {r})", f"({cy} + {r})"
    bbox_rel = _relate_rect_rect_sql(bminx, bmaxx, bminy, bmaxy,
                                     rminx, rmaxx, rminy, rmaxy)
    identity = (f"({bminx} = {rminx} AND {bmaxx} = {rmaxx} AND "
                f"{bminy} = {rminy} AND {bmaxy} = {rmaxy})")
    h0 = f"degrees(asin(sin(radians({cy})) / cos(radians({r}))))"
    horiz = f"least(greatest({h0}, {bminy}), {bmaxy})"
    closest_x = f"(CASE WHEN {cx} < {rminx} THEN {rminx} WHEN {cx} > {rmaxx} THEN {rmaxx} ELSE {cx} END)"
    farthest_x = (f"(CASE WHEN {cx} < {rminx} THEN {rmaxx} WHEN {cx} > {rmaxx} THEN {rminx} "
                  f"ELSE (CASE WHEN {rmaxx} - {cx} > {cx} - {rminx} THEN {rmaxx} ELSE {rminx} END) END)")
    closest_y = f"(CASE WHEN {horiz} < {rminy} THEN {rminy} WHEN {horiz} > {rmaxy} THEN {rmaxy} ELSE {horiz} END)"
    farthest_y = (f"(CASE WHEN {horiz} < {rminy} THEN {rmaxy} WHEN {horiz} > {rmaxy} THEN {rminy} "
                  f"ELSE (CASE WHEN {rmaxy} - {horiz} > {horiz} - {rminy} THEN {rmaxy} ELSE {rminy} END) END)")
    other_y = f"(CASE WHEN {farthest_y} = {rmaxy} THEN {rminy} ELSE {rmaxy} END)"
    c_closest = f"({_hav(cx, cy, closest_x, closest_y)} <= {r})"
    c_farthest = f"({_hav(cx, cy, farthest_x, farthest_y)} <= {r})"
    c_other = f"({_hav(cx, cy, farthest_x, other_y)} <= {r})"
    spans_y = f"({horiz} >= {rminy} AND {horiz} <= {rmaxy})"
    disjoint_cond = (f"({cx} <> {closest_x} AND {horiz} <> {closest_y} "
                     f"AND NOT {c_closest})")
    geo_extra = (f"({cy} <> {horiz} AND {spans_y} AND NOT {c_other})")
    return f"""(CASE
      WHEN {bbox_rel} = 3 THEN 3
      WHEN {bbox_rel} = 1 THEN 1
      WHEN {bbox_rel} = 2 AND {identity} THEN 1
      WHEN {disjoint_cond} THEN 3
      WHEN {bbox_rel} <> 2 THEN 4
      WHEN NOT {c_farthest} THEN 4
      WHEN {geo_extra} THEN 4
      ELSE 2 END)"""


# ---------------------------------------------------------------------------
# geohash closed forms (bisection-consistent: idx = ceil(v)-1, clamped)
# ---------------------------------------------------------------------------

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _axis_idx_sql(coord, lo: float, span: float, bits: int) -> str:
    """EXACT bisection-equivalent cell index: closed form + one boundary
    correction against the exactly-representable grid boundaries
    b_i = lo + i*step (mirrors functions._axis_idx_sql)."""
    n = 1 << bits
    step = span / n  # exact dyadic
    i0 = (f"least({n - 1}, greatest(0, "
          f"CAST(ceil((({coord} + {-lo:.1f}) / {span:.1f} * {float(n)})) AS BIGINT) - 1))")
    b_lo = f"({lo:.1f} + CAST({i0} AS DOUBLE) * {step!r})"
    b_hi = f"({lo:.1f} + CAST(({i0} + 1) AS DOUBLE) * {step!r})"
    corr = (f"(CASE WHEN {coord} > {b_hi} THEN 1 "
            f"WHEN {coord} <= {b_lo} THEN -1 ELSE 0 END)")
    return f"least({n - 1}, greatest(0, {i0} + {corr}))"


def _lon_idx_sql(x, bits):
    return _axis_idx_sql(x, -180.0, 360.0, bits)


def _lat_idx_sql(y, bits):
    return _axis_idx_sql(y, -90.0, 180.0, bits)


def _morton_int_sql(lon_idx, lat_idx, precision):
    """Int64 geohash cell code from integer cell indices in SQL —
    mirrors functions._morton_sql / kernels.geohash.cell_code
    bit-for-bit (lon takes the MSB, interleaved lon-first)."""
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    terms = []
    li, ti = lon_bits, lat_bits
    for b in range(nbits):
        pos = nbits - 1 - b  # bit position in the final code
        if b % 2 == 0:
            li -= 1
            terms.append(f"((({lon_idx}) >> {li}) & 1) * {1 << pos}")
        else:
            ti -= 1
            terms.append(f"((({lat_idx}) >> {ti}) & 1) * {1 << pos}")
    return "(" + " + ".join(terms) + ")"


def _interleave_sql(lon_idx, lat_idx, precision):
    """Build the geohash string from integer cell indices in SQL —
    mirrors kernels.geohash.indices_to_hash bit-for-bit."""
    nbits = precision * 5
    code = _morton_int_sql(lon_idx, lat_idx, precision)
    chars = []
    for c in range(precision):
        shift = nbits - 5 * (c + 1)
        chars.append(f"substring('{_B32}', CAST((({code} >> {shift}) & 31) AS INT) + 1, 1)")
    return "concat(" + ", ".join(chars) + ")"


# ---------------------------------------------------------------------------
# derived Spark inputs
# ---------------------------------------------------------------------------

# The schema of every table `_load` reads, as Spark infers it from
# the parquet footers (pandas-written timestamps carry no time zone, so
# they read as TIMESTAMP_NTZ).
TABLE_SCHEMAS = {
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
            "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
              "o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING",
}


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read table `name` from `<sf_dir>/<name>.parquet` with its
    declared schema (`TABLE_SCHEMAS`).

    `spark.read.parquet` without a schema infers one, and the inference
    reads the file footers through a Spark job while the plan is being
    built: one eager job per table per query, 26 of the 37 that one
    `query_mix` pass started, and most of the analyzer's
    `ResolveDataSource` time. With the schema given, building a plan
    starts no job. A file whose columns differ from the declaration is
    read by name, as any parquet read with a user schema is."""
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet")


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "customer").selectExpr(
        "c_custkey", f"{PX} AS x", f"{PY} AS y")


def _rect_shape_struct():
    """shape struct column for a rect (minx/maxx/miny/maxy columns)."""
    return shape_col(kind=2, minx=F.col("minx"), maxx=F.col("maxx"),
                     miny=F.col("miny"), maxy=F.col("maxy"))


def nation_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_load(spark, sf_dir, "nation")
            .selectExpr("n_nationkey AS rect_id", f"{NMINX} AS minx", f"{NMAXX} AS maxx",
                        f"{NMINY} AS miny", f"{NMAXY} AS maxy")
            .withColumn("shape", _rect_shape_struct()))


def supplier_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_load(spark, sf_dir, "supplier")
            .selectExpr("s_suppkey AS srect_id", f"{RMINX} AS sminx", f"{RMAXX} AS smaxx",
                        f"{RMINY} AS sminy", f"{RMAXY} AS smaxy"))


def supplier_circles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS circle_id", f"{SCX} AS cx", f"{SCY} AS cy", f"{SR} AS r")


def nation_plain_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS rect_id", f"{N2MINX} AS minx", f"{N2MAXX} AS maxx",
        f"{N2MINY} AS miny", f"{N2MAXY} AS maxy")


# oracle-side derived tables as CTEs
_CTE_POINTS = f"pts AS (SELECT c_custkey, {PX} AS x, {PY} AS y FROM customer)"
_CTE_NRECTS = (f"nrects AS (SELECT n_nationkey AS rect_id, {NMINX} AS minx, "
               f"{NMAXX} AS maxx, {NMINY} AS miny, {NMAXY} AS maxy FROM nation)")
_CTE_SRECTS = (f"srects AS (SELECT s_suppkey AS srect_id, {RMINX} AS sminx, "
               f"{RMAXX} AS smaxx, {RMINY} AS sminy, {RMAXY} AS smaxy FROM supplier)")
_CTE_CIRCLES = (f"circles AS (SELECT s_suppkey AS circle_id, {SCX} AS cx, "
                f"{SCY} AS cy, {SR} AS r FROM supplier)")
_CTE_N2RECTS = (f"n2rects AS (SELECT n_nationkey AS rect_id, {N2MINX} AS minx, "
                f"{N2MAXX} AS maxx, {N2MINY} AS miny, {N2MAXY} AS maxy FROM nation)")


# ---------------------------------------------------------------------------
# queries (engine path) + oracles
# ---------------------------------------------------------------------------

def q_pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed point-in-rectangle spatial join (cell-index coarse +
    dateline-aware kernel refine), incl. dateline-crossing rects."""
    from .operators.joins import point_in_shape_join
    from .plans.strategy import plan_point_shape_join
    pts = customer_points(spark, sf_dir)
    rects = nation_rects(spark, sf_dir)
    plan = plan_point_shape_join(10_000_000, 25, 34.0, 18.0, shape_kinds=(2,))
    out = point_in_shape_join(pts, rects, plan)
    return out.select("c_custkey", "rect_id", "x", "y")


ORACLE_PIP_RECT = f"""
WITH {_CTE_POINTS}, {_CTE_NRECTS}
SELECT c_custkey, rect_id, x, y
FROM pts CROSS JOIN nrects
WHERE {_rect_contains_point_sql('minx', 'maxx', 'miny', 'maxy', 'x', 'y')}
"""


def q_rect_rect_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 4-verdict rect-rect relate (dateline-aware) over nation x
    supplier rect sets, via the vectorized kernel — plus the overlay
    measure (operators/overlay.py): exact planar intersection area per
    pair from the pure-Column dateline-aware arc-overlap formula."""
    from . import functions as SF
    n = nation_rects(spark, sf_dir).select("rect_id", "minx", "maxx", "miny", "maxy")
    s = supplier_rects(spark, sf_dir)
    j = n.crossJoin(s)
    rel = SF.st_relate_rect_rect(F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
                                 F.col("sminx"), F.col("smaxx"), F.col("sminy"), F.col("smaxy"))
    ia = SF.rect_intersection_area_cols(
        F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
        F.col("sminx"), F.col("smaxx"), F.col("sminy"), F.col("smaxy"))
    return j.select("rect_id", "srect_id", rel.cast("int").alias("relation"),
                    F.round(ia, 4).alias("ia_deg2"))


def _rect_inter_area_sql(aminx, amaxx, aminy, amaxy,
                         bminx, bmaxx, bminy, bmaxy) -> str:
    """SQL mirror of functions.rect_intersection_area_cols — identical
    op order so engine and oracle doubles agree bit-for-bit before the
    shared round()."""
    aw = f"CASE WHEN ({amaxx} - {aminx}) < 0 THEN ({amaxx} - {aminx}) + 360.0 ELSE ({amaxx} - {aminx}) END"
    bw = f"CASE WHEN ({bmaxx} - {bminx}) < 0 THEN ({bmaxx} - {bminx}) + 360.0 ELSE ({bmaxx} - {bminx}) END"
    a1 = f"({aminx} + {aw})"
    b1 = f"({bminx} + {bw})"
    terms = "0.0"
    for s in ("-360.0", "0.0", "360.0"):
        terms = (f"({terms} + greatest(0.0, least({a1}, {b1} + {s})"
                 f" - greatest({aminx}, {bminx} + {s})))")
    y_ov = f"greatest(0.0, least({amaxy}, {bmaxy}) - greatest({aminy}, {bminy}))"
    return f"({terms} * {y_ov})"


ORACLE_RECT_RECT = f"""
WITH {_CTE_NRECTS}, {_CTE_SRECTS}
SELECT rect_id, srect_id,
  {_relate_rect_rect_sql('minx', 'maxx', 'miny', 'maxy',
                         'sminx', 'smaxx', 'sminy', 'smaxy')} AS relation,
  round({_rect_inter_area_sql('minx', 'maxx', 'miny', 'maxy',
                              'sminx', 'smaxx', 'sminy', 'smaxy')}, 4) AS ia_deg2
FROM nrects CROSS JOIN srects
"""


def q_circle_rect_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoCircle.Relate(rect) over supplier circles x plain nation rects
    via the full spherical kernel (bbox phase + corner phase)."""
    from . import functions as SF
    c = supplier_circles(spark, sf_dir)
    r = nation_plain_rects(spark, sf_dir)
    j = c.crossJoin(r)
    rel = SF.st_relate_circle_rect(F.col("cx"), F.col("cy"), F.col("r"),
                                   F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"))
    return j.select("circle_id", "rect_id", rel.cast("int").alias("relation"))


ORACLE_CIRCLE_RECT = f"""
WITH {_CTE_CIRCLES}, {_CTE_N2RECTS}
SELECT circle_id, rect_id,
  {_circle_relate_rect_sql('cx', 'cy', 'r', 'minx', 'maxx', 'miny', 'maxy')} AS relation
FROM circles CROSS JOIN n2rects
"""


def q_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine distances (km, exact reference formula) for bounded
    pairs, rounded for cross-libm comparison."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir).where("c_custkey % 10 = 0")
    c = supplier_circles(spark, sf_dir)
    j = pts.crossJoin(c)
    dist = SF.st_distance_km(F.col("x"), F.col("y"), F.col("cx"), F.col("cy"))
    return (j.withColumn("dist_km", F.round(dist, 4))
             .where(F.col("dist_km") < 3000.0)
             .select("c_custkey", "circle_id", "dist_km"))


ORACLE_DISTANCE = f"""
WITH {_CTE_POINTS}, {_CTE_CIRCLES}
SELECT c_custkey, circle_id,
       round({_hav('x', 'y', 'cx', 'cy')} * (pi() / 180.0 * 6371.0087714), 4) AS dist_km
FROM pts CROSS JOIN circles
WHERE c_custkey % 10 = 0
  AND round({_hav('x', 'y', 'cx', 'cy')} * (pi() / 180.0 * 6371.0087714), 4) < 3000.0
"""


def q_dwithin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed distance join (circle-bbox cover -> cell equi-join ->
    exact refine) with per-row radius."""
    from .operators.joins import distance_join
    from .plans.strategy import JoinPlan
    pts = customer_points(spark, sf_dir).withColumnRenamed("c_custkey", "point_id")
    qs = supplier_circles(spark, sf_dir).selectExpr(
        "circle_id AS query_id", "cx AS qx", "cy AS qy", "r AS qr")
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    out = distance_join(pts, qs, F.col("qr"), plan)
    return out.select(F.col("point_id").alias("c_custkey"),
                      F.col("query_id").alias("circle_id"))


ORACLE_DWITHIN = f"""
WITH {_CTE_POINTS}, {_CTE_CIRCLES}
SELECT c_custkey, circle_id
FROM pts CROSS JOIN circles
WHERE {_hav('x', 'y', 'cx', 'cy')} <= r
"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius kNN: haversine candidate filter, exact Vincenty
    re-rank, row_number window; deterministic tie-break."""
    from .operators.joins import knn_join
    from .plans.strategy import JoinPlan
    pts = customer_points(spark, sf_dir).withColumnRenamed("c_custkey", "point_id")
    qs = supplier_circles(spark, sf_dir).selectExpr(
        "circle_id AS query_id", "cx AS qx", "cy AS qy")
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    out = knn_join(pts, qs, k=5, plan=plan, max_radius=60.0,
                   query_id="query_id", tie_break="point_id")
    return out.select(F.col("query_id").alias("circle_id"),
                      F.col("point_id").alias("c_custkey"),
                      F.col("knn_rank").cast("int").alias("knn_rank"))


ORACLE_KNN = f"""
WITH {_CTE_POINTS}, {_CTE_CIRCLES},
cand AS (
  SELECT circle_id, c_custkey, {_vin('x', 'y', 'cx', 'cy')} AS dv
  FROM pts CROSS JOIN circles
  WHERE {_hav('x', 'y', 'cx', 'cy')} <= 60.0
)
SELECT circle_id, c_custkey,
       CAST(row_number() OVER (PARTITION BY circle_id ORDER BY dv, c_custkey) AS INT) AS knn_rank
FROM cand
QUALIFY row_number() OVER (PARTITION BY circle_id ORDER BY dv, c_custkey) <= 5
"""


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile assignment: geohash cell at precision 5 + parent rollup cell
    (prefix truncation) at precision 2."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir)
    return (pts.withColumn("cell", SF.st_cell("`y`", "`x`", 5))
               .withColumn("cell2", F.substring("cell", 1, 2))
               .select("c_custkey", "cell", "cell2"))


ORACLE_TILE = f"""
WITH {_CTE_POINTS},
idx AS (
  SELECT c_custkey,
         {_lon_idx_sql('x', 13)} AS li,
         {_lat_idx_sql('y', 12)} AS ti
  FROM pts
)
SELECT c_custkey,
       {_interleave_sql('li', 'ti', 5)} AS cell,
       substring({_interleave_sql('li', 'ti', 5)}, 1, 2) AS cell2
FROM idx
"""


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-parent-cell counts (groupBy on the precision-2 prefix — the
    hierarchical rollup geohash makes free), wide-merged with the
    grid-density hotspot clustering family (round 5: driver-verifies
    operators/cluster.grid_cluster against a recursive-CTE oracle):
    per precision-2 cell, the density-cluster label (min dense-cell
    code of the 8-connected component, NULL = sparse/noise) and the
    count of distinct labels inside the cell (1 dense / 0 sparse —
    proves every point in a cell got the SAME label)."""
    from . import functions as SF
    from .operators.cluster import grid_cluster
    pts = customer_points(spark, sf_dir)
    roll = (pts.withColumn("cell", SF.st_cell("`y`", "`x`", 5))
               .groupBy(F.substring("cell", 1, 2).alias("cell2"))
               .agg(F.count("*").alias("cnt")))
    lab = grid_cluster(pts, "x", "y", precision=2,
                       min_count=_GC_MIN_COUNT)
    lab2 = (lab.withColumn("cell2", SF.st_cell("`y`", "`x`", 2))
               .groupBy("cell2")
               .agg(F.min("cluster_id").alias("cluster_id"),
                    F.countDistinct("cluster_id").cast("int")
                     .alias("n_labels")))
    return roll.join(lab2, "cell2")


_GC_MIN_COUNT = 2

ORACLE_ROLLUP = f"""
WITH RECURSIVE {_CTE_POINTS},
idx AS (
  SELECT {_lon_idx_sql('x', 13)} AS li, {_lat_idx_sql('y', 12)} AS ti FROM pts
),
roll AS (
  SELECT substring({_interleave_sql('li', 'ti', 5)}, 1, 2) AS cell2,
         count(*) AS cnt
  FROM idx GROUP BY 1
),
i2 AS (
  SELECT {_lon_idx_sql('x', 5)} AS ix, {_lat_idx_sql('y', 5)} AS iy FROM pts
),
cells AS (
  SELECT ix, iy, {_morton_int_sql('ix', 'iy', 2)} AS code, count(*) AS c
  FROM i2 GROUP BY ix, iy
),
dense AS (SELECT * FROM cells WHERE c >= {_GC_MIN_COUNT}),
edges AS (
  SELECT a.code AS src, b.code AS dst
  FROM dense a JOIN dense b
    ON abs(a.iy - b.iy) <= 1
   AND (abs(a.ix - b.ix) <= 1 OR abs(a.ix - b.ix) = 31)
),
reach AS (
  SELECT code AS node, code AS label FROM dense
  UNION
  SELECT e.src AS node, r.label AS label
  FROM reach r JOIN edges e ON e.dst = r.node
),
labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
percell AS (
  SELECT substring({_interleave_sql('cells.ix', 'cells.iy', 2)}, 1, 2) AS cell2,
         l.cluster_id AS cluster_id,
         CAST(CASE WHEN l.cluster_id IS NULL THEN 0 ELSE 1 END AS INT)
           AS n_labels
  FROM cells LEFT JOIN labels l ON cells.code = l.node
)
SELECT roll.cell2, roll.cnt, percell.cluster_id, percell.n_labels
FROM roll JOIN percell ON roll.cell2 = percell.cell2
"""


def q_cover_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile cover of (dateline-capable) rects at precision 3."""
    from .operators.joins import with_shape_cover
    rects = nation_rects(spark, sf_dir)
    return (with_shape_cover(rects, "shape", 3, "cell")
            .select("rect_id", "cell"))


ORACLE_COVER = f"""
WITH {_CTE_NRECTS},
idx AS (
  SELECT rect_id,
         {_lon_idx_sql('minx', 8)} AS il0, {_lon_idx_sql('maxx', 8)} AS il1,
         {_lat_idx_sql('miny', 7)} AS it0, {_lat_idx_sql('maxy', 7)} AS it1
  FROM nrects
),
lons AS (
  SELECT rect_id, it0, it1, unnest(CASE WHEN il0 <= il1 THEN range(il0, il1 + 1)
              ELSE list_concat(range(il0, 256), range(0, il1 + 1)) END) AS li
  FROM idx
),
grid AS (
  SELECT rect_id, li, unnest(range(it0, it1 + 1)) AS ti FROM lons
)
SELECT rect_id, {_interleave_sql('li', 'ti', 3)} AS cell FROM grid
"""


def q_wkt_point_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build WKT POINT strings in SQL, parse with the engine's WKT
    kernel, return the parsed coords (exact round-trip — Java
    double->string is shortest-roundtrip)."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir)
    wkt = F.expr("concat('POINT (', cast(x as string), ' ', cast(y as string), ')')")
    # ParseUtils 'lat, lon' ingest (Io/ParseUtils.cs:162-191) folded into
    # the same round-trip: every 97th row carries an out-of-range
    # latitude and must surface an error, not a shape
    ll = F.expr("""CASE WHEN c_custkey % 97 = 0
        THEN concat(cast(y + 250.0 as string), ' , ', cast(x as string))
        ELSE concat(cast(y as string), ' , ', cast(x as string)) END""")
    parsed = (pts.withColumn("shape", SF.st_from_wkt(wkt))
                 .withColumn("llshape", SF.st_from_latlon(ll)))
    return parsed.select("c_custkey",
                         F.col("shape.x").alias("px"),
                         F.col("shape.y").alias("py"),
                         F.col("shape.kind").cast("int").alias("kind"),
                         F.col("llshape.x").alias("llx"),
                         F.col("llshape.y").alias("lly"),
                         F.col("llshape.error").isNotNull().alias("ll_err"))


ORACLE_WKT_POINT = f"""
WITH {_CTE_POINTS}
SELECT c_custkey, x AS px, y AS py, 1 AS kind,
       CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE x END AS llx,
       CASE WHEN c_custkey % 97 = 0 THEN NULL ELSE y END AS lly,
       (c_custkey % 97 = 0) AS ll_err
FROM pts
"""


def q_wkt_envelope_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENVELOPE parse honoring the odd CQL arg order (x1, x2, maxY, minY)."""
    from . import functions as SF
    r = nation_plain_rects(spark, sf_dir)
    wkt = F.expr("concat('ENVELOPE (', cast(minx as string), ', ', cast(maxx as string), "
                 "', ', cast(maxy as string), ', ', cast(miny as string), ')')")
    parsed = r.withColumn("shape", SF.st_from_wkt(wkt))
    return parsed.select("rect_id",
                         F.col("shape.minx").alias("pminx"),
                         F.col("shape.maxx").alias("pmaxx"),
                         F.col("shape.miny").alias("pminy"),
                         F.col("shape.maxy").alias("pmaxy"))


ORACLE_WKT_ENVELOPE = f"""
WITH {_CTE_N2RECTS}
SELECT rect_id, minx AS pminx, maxx AS pmaxx, miny AS pminy, maxy AS pmaxy FROM n2rects
"""


def supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle polygon layer keyed by s_suppkey, built as WKT and
    parsed by the engine. Vertex offsets carry sub-grid decimals:
    customer points and supplier centers share the 0.005-degree
    lattice, and aligned slope-2 edges put points EXACTLY on the
    boundary (sign flips on 1-ulp arithmetic-order differences vs the
    oracle); the .000357/.000713/.000251/.000509 tails keep every test
    point strictly off every edge (raster pixel centers sit at
    0.005*(k + .25/.75) — min gap ~9e-4, cross products >= ~2e-2)."""
    from . import functions as SF
    tri = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS poly_id",
        f"{SCX} AS x1t", f"({SCY} - 10.000357) AS y1t",
        f"({SCX} + 24.000713) AS x2t", f"({SCY} - 10.000357) AS y2t",
        f"({SCX} + 12.000251) AS x3t", f"({SCY} + 14.000509) AS y3t")
    wkt = F.expr("concat('POLYGON((', cast(x1t as string), ' ', cast(y1t as string), ', ',"
                 " cast(x2t as string), ' ', cast(y2t as string), ', ',"
                 " cast(x3t as string), ' ', cast(y3t as string), ', ',"
                 " cast(x1t as string), ' ', cast(y1t as string), '))')")
    return tri.withColumn("shape", SF.st_from_wkt(wkt)).select("poly_id", "shape")


_CTE_TRI = f"""tri AS (
  SELECT s_suppkey AS poly_id,
         {SCX} AS x1t, ({SCY} - 10.000357) AS y1t,
         ({SCX} + 24.000713) AS x2t, ({SCY} - 10.000357) AS y2t,
         ({SCX} + 12.000251) AS x3t, ({SCY} + 14.000509) AS y3t
  FROM supplier
)"""


def q_polygon_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-POLYGON join: triangles built as WKT, parsed by the
    engine, PIP via the even-odd kernel through the cell join."""
    from .operators.joins import point_in_shape_join
    from .plans.strategy import JoinPlan
    polys = supplier_triangles(spark, sf_dir)
    pts = customer_points(spark, sf_dir)
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    out = point_in_shape_join(pts, polys, plan, shape_id="poly_id")
    return out.select("c_custkey", "poly_id")


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings tables)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup
    return exact_dedup(_load(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
       count(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard refine over MinHash-LSH candidate pairs —
    the production propose/dispose composition (LSH banding generates
    candidates, Jaccard verifies)."""
    from .operators.dedup import minhash_lsh_pairs, ngram_jaccard_on_pairs
    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n_hashes=16, bands=4, shingle_n=2)
    return ngram_jaccard_on_pairs(docs, pairs, n=3)


ORACLE_NGRAM_LSH_TMPL = """
WITH pairs AS ({minhash}),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - 1),
           i -> string_split(text, ' ')[i] || ' ' ||
                string_split(text, ' ')[i + 1] || ' ' ||
                string_split(text, ' ')[i + 2])) AS s
  FROM documents
)
SELECT p.doc_a, p.doc_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
FROM pairs p JOIN sh a ON a.doc_id = p.doc_a JOIN sh b ON b.doc_id = p.doc_b
"""


def _ddb_minhash_cols(n_hashes: int = 16) -> str:
    m = (1 << 61) - 1
    wh = "CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)"
    cols = []
    for k in range(n_hashes):
        a = 2 * k + 1
        b = (k * 40503 + 17) % 65536
        cols.append(
            f"list_aggregate(list_transform(sh, s -> ({a} * ({wh}) + {b}) % {m}), 'min') AS mh_{k}")
    return ", ".join(cols)


ORACLE_MINHASH_LSH = f"""
WITH sh0 AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' '))),
           i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS sh
  FROM documents
),
sig AS (SELECT doc_id, {_ddb_minhash_cols(16)} FROM sh0),
bands AS (
  SELECT doc_id, 0 AS band, md5(concat_ws('_', mh_0, mh_1, mh_2, mh_3)) AS bh FROM sig
  UNION ALL
  SELECT doc_id, 1, md5(concat_ws('_', mh_4, mh_5, mh_6, mh_7)) FROM sig
  UNION ALL
  SELECT doc_id, 2, md5(concat_ws('_', mh_8, mh_9, mh_10, mh_11)) FROM sig
  UNION ALL
  SELECT doc_id, 3, md5(concat_ws('_', mh_12, mh_13, mh_14, mh_15)) FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import with_simhash
    return with_simhash(_load(spark, sf_dir, "documents"), bits=16) \
        .select("doc_id", "simhash")


def _ddb_simhash(bits: int = 16) -> str:
    wh = "CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)"
    terms = []
    for b in range(bits):
        s = (f"list_aggregate(list_transform(ws, w -> "
             f"CASE WHEN (({wh}) >> {b}) % 2 = 1 THEN 1 ELSE -1 END), 'sum')")
        terms.append(f"(CASE WHEN ({s}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(terms)


ORACLE_SIMHASH = f"""
WITH ws0 AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws FROM documents
)
SELECT doc_id, CAST({_ddb_simhash(16)} AS BIGINT) AS simhash FROM ws0
"""


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import with_token_stats
    return with_token_stats(_load(spark, sf_dir, "documents")) \
        .select("doc_id", "n_tokens", "n_subtokens")


ORACLE_TOKEN_STATS = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(list_aggregate(list_transform(string_split(text, ' '),
            w -> CASE WHEN length(w) <= 6 THEN 1
                 ELSE CAST(ceil(length(w) / CAST(4.0 AS DOUBLE)) AS BIGINT) END),
            'sum') AS BIGINT) AS n_subtokens
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import with_quality
    return with_quality(_load(spark, sf_dir, "documents")).select(
        "doc_id", "q_len", "q_words", "q_mean_word_len",
        "q_digit_ratio", "q_stopword_ratio")


def _markers_sql():
    from .operators.text import EN_MARKERS
    return ", ".join(f"'{m}'" for m in EN_MARKERS)


ORACLE_QUALITY = f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS q_len,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS q_words,
  round((length(text) - len(string_split(text, ' ')) + 1)
        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS q_mean_word_len,
  round(length(regexp_replace(text, '[^0-9]', '', 'g'))
        / CAST(length(text) AS DOUBLE), 6) AS q_digit_ratio,
  round(len(list_filter(string_split(text, ' '), w -> w IN ({_markers_sql()})))
        / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS q_stopword_ratio
FROM documents
"""


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import with_lang_guess
    return with_lang_guess(_load(spark, sf_dir, "documents")).select(
        "doc_id", "en_score", "lang_guess")


ORACLE_LANG = f"""
SELECT doc_id,
  CAST(len(list_filter(string_split(text, ' '), w -> w IN ({_markers_sql()}))) AS BIGINT)
    AS en_score,
  CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ({_markers_sql()}))) * 20
            >= len(string_split(text, ' '))
       THEN 'en' ELSE 'other' END AS lang_guess
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import with_fingerprint
    return with_fingerprint(_load(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint")


ORACLE_FINGERPRINT = """
WITH t AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
           (w, i) -> (i * CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))
                     % 2305843009213693951) AS terms
  FROM documents
)
SELECT doc_id,
       CAST(list_aggregate(terms, 'sum') % 2305843009213693951 AS BIGINT) AS fingerprint
FROM t
"""


def q_embed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first 10 vectors as queries."""
    from .operators.similarity import brute_force_topk
    emb = _load(spark, sf_dir, "embeddings")
    qs = emb.where("vec_id < 10").selectExpr("vec_id AS q_id", "embedding AS q_embedding")
    return brute_force_topk(emb, qs, k=5)


ORACLE_EMBED_KNN = """
WITH pairs AS (
  SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))))
           AS cosine
  FROM embeddings e CROSS JOIN embeddings q
  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id
)
SELECT q_id, vec_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT)
         AS sim_rank,
       round(cosine, 6) AS cosine_r
FROM pairs
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 5
"""


def q_embed_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH hyperplane bucket assignment (the ANN partitioner)."""
    from .operators.similarity import make_hyperplane_tables_udf
    emb = _load(spark, sf_dir, "embeddings")
    bk = make_hyperplane_tables_udf(8, 1)
    return emb.select(
        "vec_id",
        F.element_at(bk(F.col("embedding")), 1).cast("int").alias("bucket"))


def _ddb_bucket(n_planes: int = 8, offset: int = 0) -> str:
    bits = []
    for j in range(offset, offset + n_planes):
        dot = (f"list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), "
               f"(v, i) -> v * (CAST(({j} * 78233 + (i - 1) * 40503) % 1000003 AS DOUBLE)"
               f" - 501001.0)), 'sum')")
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << (j - offset)} ELSE 0 END)")
    return " + ".join(bits)


ORACLE_EMBED_LSH = f"""
SELECT vec_id, CAST({_ddb_bucket(8)} AS INT) AS bucket FROM embeddings
"""


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector zonal stats over the synthetic tile set (decode
    stub, real Spark plumbing). Tagged union of BOTH zone families —
    plain-rect zones (closed-rect containment) and POLYGON zones
    (supplier triangles via the even-odd PIP refine) — run as ONE
    mixed-kind zone layer through a single cell-join + closure-refine
    pass over the pixels (zonal_stats_tagged): the pixel side is
    scanned once, not once per family."""
    from .operators.zonal import decode_raster_tiles, zonal_stats_tagged
    refs = spark.range(0, 64).selectExpr(
        "concat('raster://tile/', cast(id as string)) AS media_ref")
    pixels = decode_raster_tiles(refs)
    rects = nation_plain_rects(spark, sf_dir).select(
        F.lit("rect").alias("zone_kind"),
        F.col("rect_id").cast("bigint").alias("zone_id"),
        _rect_shape_struct().alias("shape"))
    polys = supplier_triangles(spark, sf_dir).selectExpr(
        "'poly' AS zone_kind", "cast(poly_id as bigint) AS zone_id",
        "shape")
    # materialize the small zone layer ONCE: its WKT-parse lineage is
    # otherwise re-executed by each consumer (closure-table collect,
    # slim-bbox broadcast, cover-code broadcast) — three Python stages
    # re-parsing the same layer dominated the r3 suite time. (A
    # collect+createDataFrame LocalRelation variant was A/B-measured
    # interleaved and lost to the checkpoint — driver-side Row
    # conversion costs more than the block-manager fetches it saves.)
    from .staging import stage
    zones = stage(rects.unionByName(polys), "zonal_zones")
    return zonal_stats_tagged(pixels, zones)


ORACLE_ZONAL = f"""
WITH {_CTE_N2RECTS},
{_CTE_TRI},
px AS (
  SELECT t AS tile, i, j,
         (t % 16) * 22.5 - 180.0 + (i + 0.5) * (22.5 / 16) AS px_lon,
         (t // 16) * 45.0 - 90.0 + (j + 0.5) * (45.0 / 16) AS px_lat,
         (t * 31 + i * 7 + j * 13) % 255 AS value
  FROM unnest(range(0, 64)) AS tt(t),
       unnest(range(0, 16)) AS ii(i),
       unnest(range(0, 16)) AS jj(j)
)
SELECT 'rect' AS zone_kind, CAST(rect_id AS BIGINT) AS zone_id,
       count(*) AS px_count, CAST(sum(value) AS BIGINT) AS px_sum
FROM px JOIN n2rects
  ON px_lon >= minx AND px_lon <= maxx AND px_lat >= miny AND px_lat <= maxy
GROUP BY 1, 2
UNION ALL
SELECT 'poly' AS zone_kind, CAST(poly_id AS BIGINT) AS zone_id,
       count(*) AS px_count, CAST(sum(value) AS BIGINT) AS px_sum
FROM px JOIN tri
  ON ((x2t - x1t) * (px_lat - y1t) - (y2t - y1t) * (px_lon - x1t)) >= 0
 AND ((x3t - x2t) * (px_lat - y2t) - (y3t - y2t) * (px_lon - x2t)) >= 0
 AND ((x1t - x3t) * (px_lat - y3t) - (y1t - y3t) * (px_lon - x3t)) >= 0
GROUP BY 1, 2
"""


def q_span_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved span plumbing: build spans per doc, posexplode, and
    return (kind, media_ref, offset) in order plus the WKT-parsed x —
    the span-sequence-equality invariant surface."""
    from . import functions as SF
    docs = _load(spark, sf_dir, "documents")
    dx = "(((doc_id * 7919) % 71989) / cast(200.0 as double) - 179.97)"
    dy = "(((doc_id * 104729) % 35993) / cast(200.0 as double) - 89.97)"
    spans = F.expr(f"""array(
      named_struct('kind', 'text', 'text', concat('prose ', cast(doc_id as string)),
                   'media_ref', cast(null as string), 'offset', 0),
      named_struct('kind', 'text',
                   'text', concat('POINT (', cast({dx} as string), ' ', cast({dy} as string), ')'),
                   'media_ref', cast(null as string), 'offset', 1),
      named_struct('kind', 'media', 'text', cast(null as string),
                   'media_ref', concat('raster://tile/', cast(doc_id % 64 as string)),
                   'offset', 2))""")
    ex = (docs.withColumn("spans", spans)
              .select("doc_id", F.posexplode("spans").alias("pos", "span")))
    parsed = ex.withColumn(
        "wkt_x",
        F.when(F.col("pos") == 1,
               SF.st_from_wkt(F.col("span.text"))["x"]).otherwise(F.lit(None)))
    return parsed.select("doc_id",
                         F.col("pos").cast("int").alias("pos"),
                         F.col("span.kind").alias("kind"),
                         F.col("span.media_ref").alias("media_ref"),
                         F.col("span.offset").cast("int").alias("offset"),
                         "wkt_x")


ORACLE_SPAN = """
SELECT doc_id, 0 AS pos, 'text' AS kind, CAST(NULL AS VARCHAR) AS media_ref,
       0 AS offset, CAST(NULL AS DOUBLE) AS wkt_x
FROM documents
UNION ALL
SELECT doc_id, 1, 'text', CAST(NULL AS VARCHAR), 1,
       (((doc_id * 7919) % 71989) / CAST(200.0 AS DOUBLE) - 179.97)
FROM documents
UNION ALL
SELECT doc_id, 2, 'media', 'raster://tile/' || CAST(doc_id % 64 AS VARCHAR), 2,
       CAST(NULL AS DOUBLE)
FROM documents
"""


def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational coverage demo (TPC-H Q1 shape): partial-agg-friendly
    groupBy over lineitem."""
    li = _load(spark, sf_dir, "lineitem")
    return (li.where("l_shipdate <= timestamp '1998-09-02 00:00:00'")
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                   F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                   F.round(F.sum(F.expr("l_extendedprice * (1 - l_discount)")), 4)
                    .alias("sum_disc_price"),
                   F.count("*").alias("count_order")))


ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 4) AS sum_qty,
       round(sum(l_extendedprice), 4) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function coverage: per-user event ordering + running value."""
    ev = _load(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("seq", F.row_number().over(w).cast("int"))
              .withColumn("run_value", F.round(F.sum("value").over(w), 6))
              .select("event_id", "user_id", "seq", "run_value"))


ORACLE_EVENTS = """
SELECT event_id, user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING), 6) AS run_value
FROM events
"""


# convex-triangle PIP: three half-plane sign tests with boundary
# counting as inside (COVERS) — CCW orientation by construction
ORACLE_POLYGON_PIP = f"""
WITH {_CTE_POINTS},
{_CTE_TRI}
SELECT c_custkey, poly_id
FROM pts CROSS JOIN tri
WHERE ((x2t - x1t) * (y - y1t) - (y2t - y1t) * (x - x1t)) >= 0
  AND ((x3t - x2t) * (y - y2t) - (y3t - y2t) * (x - x2t)) >= 0
  AND ((x1t - x3t) * (y - y3t) - (y1t - y3t) * (x - x3t)) >= 0
"""



# ---------------------------------------------------------------------------
# round-2 coverage: area, bearing, buffered line, extent, legacy codec,
# collection combine, circle-circle, normalization
# ---------------------------------------------------------------------------

_RDEG = "(1.0/(pi()/180.0))"     # sphere radius in degrees, same ops as kernel
_D2R = "(pi()/180.0)"


def _norm_lon_sql(v: str) -> str:
    """Mirror of kernels.normalize.norm_lon_deg (same CASE as ORACLE_NORM)."""
    off = f"(((({v}) + 180.0) % 360.0) + 360.0) % 360.0"
    return (f"(CASE WHEN ({v}) >= -180.0 AND ({v}) <= 180.0 THEN ({v}) "
            f"WHEN ({off}) = 0 AND ({v}) > 0 THEN 180.0 "
            f"ELSE -180.0 + ({off}) END)")


def q_st_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical rect + circle-cap areas (deg^2) per supplier, plus the
    rect's GetCenter point.

    Rect: GeodesicSphereDistCalc.cs:58-66 (dateline-aware width);
    circle cap: :68-73; center: RectangleImpl.cs:304-315 (dateline-
    aware midpoint via st_center). Rounded for cross-libm comparison."""
    from . import functions as SF
    r = supplier_rects(spark, sf_dir)
    c = supplier_circles(spark, sf_dir)
    j = r.join(c, r["srect_id"] == c["circle_id"], "inner")
    ctr = SF.st_center(shape_col(
        kind=2, minx=F.col("sminx"), maxx=F.col("smaxx"),
        miny=F.col("sminy"), maxy=F.col("smaxy")))
    return j.select(
        F.col("circle_id").alias("s_suppkey"),
        F.round(SF.st_rect_area_geo(F.col("sminx"), F.col("smaxx"),
                                    F.col("sminy"), F.col("smaxy")), 4).alias("rect_area"),
        F.round(SF.st_circle_area_geo(F.col("r")), 4).alias("circle_area"),
        F.round(ctr.getField("x"), 6).alias("ctr_x"),
        F.round(ctr.getField("y"), 6).alias("ctr_y"))


_CTR_X_WRAP = "(sminx + ((smaxx - sminx) + 360.0) / 2.0)"

ORACLE_AREA = f"""
WITH {_CTE_SRECTS}, {_CTE_CIRCLES},
w AS (
  SELECT circle_id AS s_suppkey,
         (CASE WHEN (smaxx - sminx) < 0 THEN (smaxx - sminx) + 360.0
               ELSE (smaxx - sminx) END) AS width,
         sminx, smaxx, sminy, smaxy, r
  FROM srects JOIN circles ON srect_id = circle_id
)
SELECT s_suppkey,
       round({_D2R} * {_RDEG} * {_RDEG}
             * abs(sin(sminy * {_D2R}) - sin(smaxy * {_D2R})) * width, 4) AS rect_area,
       round(2.0 * pi() * {_RDEG} * {_RDEG}
             * (1.0 - sin((90.0 - r) * {_D2R})), 4) AS circle_area,
       round(CASE WHEN (smaxx - sminx) < 0
                  THEN {{NORM_WRAP}}
                  ELSE sminx + (smaxx - sminx) / 2.0 END, 6) AS ctr_x,
       round(sminy + (smaxy - sminy) / 2.0, 6) AS ctr_y
FROM w
""".replace("{NORM_WRAP}", _norm_lon_sql(_CTR_X_WRAP))


_BDIST = "(cast(1.0 as double) + (c_custkey * 7) % 80)"
_BBRG = "(cast(0.0 as double) + (c_custkey * 13) % 360)"


def q_point_on_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle destination points (DistanceUtils.PointOnBearingRAD)."""
    from . import functions as SF
    pts = (customer_points(spark, sf_dir)
           .selectExpr("c_custkey", "x", "y",
                       f"{_BDIST} AS d", f"{_BBRG} AS brg"))
    dest = SF.st_point_on_bearing(F.col("x"), F.col("y"), F.col("d"), F.col("brg"))
    return pts.select("c_custkey",
                      F.round(dest["x2"], 6).alias("x2"),
                      F.round(dest["y2"], 6).alias("y2"))


ORACLE_BEARING = f"""
WITH {_CTE_POINTS},
inp AS (
  SELECT c_custkey, x * {_D2R} AS lon1, y * {_D2R} AS lat1,
         {_BDIST} * {_D2R} AS d, {_BBRG} * {_D2R} AS brg
  FROM pts
),
s1 AS (
  SELECT c_custkey, lon1, lat1, d, brg,
         sin(lat1) * cos(d) + cos(lat1) * sin(d) * cos(brg) AS sinlat2
  FROM inp
),
s2 AS (
  SELECT c_custkey, lon1, lat1, d, brg, sinlat2,
         asin(least(1.0, greatest(-1.0, sinlat2))) AS lat2,
         lon1 + atan2(sin(brg) * sin(d) * cos(lat1), cos(d) - sin(lat1) * sinlat2) AS lon2r
  FROM s1
),
s3 AS (
  SELECT c_custkey, lat2,
         CASE WHEN lon2r > pi() THEN -1.0 * (pi() - (lon2r - pi()))
              WHEN lon2r < -pi() THEN (lon2r + pi()) + pi()
              ELSE lon2r END AS lon2
  FROM s2
)
SELECT c_custkey,
       round(lon2 * {_RDEG}, 6) AS x2,
       round(lat2 * {_RDEG}, 6) AS y2
FROM s3
"""


_LAX = "(((n_nationkey * 41 + 3) % 56000) / cast(200.0 as double) - 140.0)"
_LAY = "(((n_nationkey * 43 + 5) % 30000) / cast(200.0 as double) - 75.0)"
_LDX = "(cast(5.0 as double) + (n_nationkey * 7) % 20)"
_LDY = "(cast(3.0 as double) + (n_nationkey * 11) % 15)"
_LBUF = "(cast(3.0 as double) + n_nationkey % 8)"


def buffered_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS line_id", f"{_LAX} AS ax", f"{_LAY} AS ay",
        f"({_LAX} + {_LDX}) AS bx", f"({_LAY} + {_LDY}) AS by",
        f"{_LBUF} AS buf")


def q_line_contains_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points inside buffered line segments (BufferedLine.Contains,
    the rotated-rectangle two-infinite-line test). Line side broadcasts
    (bounded count); at scale the coarse stage is the line-bbox tile
    cover, same skeleton as point_in_shape_join."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir)
    lines = buffered_lines(spark, sf_dir)
    j = pts.crossJoin(F.broadcast(lines))
    hit = SF.st_line_contains_point(F.col("ax"), F.col("ay"), F.col("bx"),
                                    F.col("by"), F.col("buf"),
                                    F.col("x"), F.col("y"))
    return j.where(hit).select("c_custkey", "line_id")


ORACLE_LINE = f"""
WITH {_CTE_POINTS},
lines AS (
  SELECT n_nationkey AS line_id, {_LAX} AS ax, {_LAY} AS ay,
         ({_LAX} + {_LDX}) AS bx, ({_LAY} + {_LDY}) AS by, {_LBUF} AS buf
  FROM nation
),
p AS (
  SELECT line_id, ax, ay, buf, (bx - ax) AS dx, (by - ay) AS dy FROM lines
),
parm AS (
  SELECT line_id, buf,
         (ax + dx / 2.0) AS cx, (ay + dy / 2.0) AS cy,
         (dy / dx) AS sp, ((-dx) / dy) AS sq,
         (sqrt(dx * dx + dy * dy) / 2.0 + buf) AS bufq
  FROM p
),
parm2 AS (
  SELECT line_id, buf, bufq, sp, sq,
         (cy - sp * cx) AS ip, (cy - sq * cx) AS iq,
         (1.0 / sqrt(sp * sp + 1.0)) AS dp,
         (1.0 / sqrt(sq * sq + 1.0)) AS dq
  FROM parm
)
SELECT c_custkey, line_id
FROM pts CROSS JOIN parm2
WHERE abs(y - sp * x - ip) * dp <= buf
  AND abs(y - sq * x - iq) * dq <= bufq
"""


def q_extent_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_extent UDAF: dateline-aware bbox union per nation group
    (LongitudeRange.ExpandTo fold). Groups here are dateline-free by
    construction, so the smart union equals min/max — which is exactly
    what makes the relational oracle expressible."""
    from .operators.extent_agg import st_extent
    pts = _load(spark, sf_dir, "customer").selectExpr(
        "c_nationkey", f"({PX} / 3.0) AS x", f"({PY} / 2.0) AS y")
    boxes = pts.selectExpr("c_nationkey", "x AS minx", "x AS maxx",
                           "y AS miny", "y AS maxy")
    return st_extent(boxes, ["c_nationkey"])


ORACLE_EXTENT = f"""
SELECT c_nationkey,
       min(({PX} / 3.0)) AS minx, max(({PX} / 3.0)) AS maxx,
       min(({PY} / 2.0)) AS miny, max(({PY} / 2.0)) AS maxy
FROM customer
GROUP BY c_nationkey
"""


_GLX = "(((p_partkey * 61 + 7) % 64000) / cast(200.0 as double) - 160.0)"
_GLY = "(((p_partkey * 67 + 11) % 32000) / cast(200.0 as double) - 80.0)"
_GLR = "(cast(1.0 as double) + ((p_partkey * 73) % 1500) / cast(100.0 as double))"
_GMAXX = f"({_GLX} + (cast(2.0 as double) + p_partkey % 10))"
_GMAXY = f"({_GLY} + (cast(1.0 as double) + p_partkey % 7))"


def q_legacy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy text codec round-trip: build "X Y" / "minX minY maxX maxY"
    / "Circle(x y d=r)" strings, parse with the legacy kernel, emit the
    decoded shape columns (LegacyShapeReadWriterFormat.cs:46-96).

    Spark's double->string is shortest-round-trip, so point/rect coords
    decode bit-exactly; circle bbox goes through asin/cos (rounded)."""
    from . import functions as SF
    part = _load(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        f"""CASE p_partkey % 3
            WHEN 0 THEN concat(cast({_GLX} as string), ' ', cast({_GLY} as string))
            WHEN 1 THEN concat(cast({_GLX} as string), ' ', cast({_GLY} as string), ' ',
                               cast({_GMAXX} as string), ' ', cast({_GMAXY} as string))
            ELSE concat('Circle(', cast({_GLX} as string), ' ',
                        cast(({_GLY} / 2.0) as string), ' d=', cast({_GLR} as string), ')')
            END AS legacy""")
    s = SF.st_from_legacy(F.col("legacy"))
    return part.select(
        "p_partkey",
        s["kind"].cast("int").alias("kind"),
        s["x"].alias("x"), s["y"].alias("y"), s["radius"].alias("radius"),
        F.round(s["minx"], 6).alias("minx"), F.round(s["maxx"], 6).alias("maxx"),
        F.round(s["miny"], 6).alias("miny"), F.round(s["maxy"], 6).alias("maxy"))


ORACLE_LEGACY = f"""
WITH base AS (
  SELECT p_partkey, p_partkey % 3 AS fmt, {_GLX} AS gx, {_GLY} AS gy,
         ({_GLY} / 2.0) AS cy, {_GLR} AS gr, {_GMAXX} AS gmaxx, {_GMAXY} AS gmaxy
  FROM part
),
dl AS (
  SELECT *, asin(sin(gr * {_D2R}) / cos(cy * {_D2R})) * {_RDEG} AS dlon FROM base
)
SELECT p_partkey,
       CASE fmt WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 3 END AS kind,
       CASE fmt WHEN 0 THEN gx WHEN 1 THEN NULL ELSE gx END AS x,
       CASE fmt WHEN 0 THEN gy WHEN 1 THEN NULL ELSE cy END AS y,
       CASE fmt WHEN 2 THEN gr ELSE NULL END AS radius,
       round(CASE fmt WHEN 0 THEN gx WHEN 1 THEN gx ELSE gx - dlon END, 6) AS minx,
       round(CASE fmt WHEN 0 THEN gx WHEN 1 THEN gmaxx ELSE gx + dlon END, 6) AS maxx,
       round(CASE fmt WHEN 0 THEN gy WHEN 1 THEN gy ELSE cy - gr END, 6) AS miny,
       round(CASE fmt WHEN 0 THEN gy WHEN 1 THEN gmaxy ELSE cy + gr END, 6) AS maxy
FROM dl
"""


def q_collection_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ShapeCollection.Relate: fold member verdicts with the Combine
    state machine (ShapeCollection.cs:131-161, SpatialRelation.cs:110-126).

    Members = each nation's supplier rects; target = the nation rect.
    Per-member relate runs the rect kernel; the fold runs JVM-side as a
    flags aggregation (partial-agg friendly) that is provably equal to
    the sequential Combine fold: X+X=X, {CONTAINS,DISJOINT}=CONTAINS,
    anything else INTERSECTS — order-independent."""
    from . import functions as SF
    sup = _load(spark, sf_dir, "supplier").selectExpr(
        "s_nationkey", f"{RMINX} AS sminx", f"{RMAXX} AS smaxx",
        f"{RMINY} AS sminy", f"{RMAXY} AS smaxy")
    nat = nation_rects(spark, sf_dir).select("rect_id", "minx", "maxx", "miny", "maxy")
    j = sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["rect_id"], "inner")
    rel = SF.st_relate_rect_rect(
        F.col("sminx"), F.col("smaxx"), F.col("sminy"), F.col("smaxy"),
        F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy")).cast("int")
    per = j.select(F.col("rect_id").alias("nationkey"), rel.alias("rel"))
    agg = per.groupBy("nationkey").agg(
        F.min("rel").alias("mn"), F.max("rel").alias("mx"),
        F.max(F.when(F.col("rel").isin(1, 4), 1).otherwise(0)).alias("bad"))
    combined = (F.when(F.col("mn") == F.col("mx"), F.col("mn"))
                 .when(F.col("bad") == 0, F.lit(2))
                 .otherwise(F.lit(4)))
    return agg.select("nationkey", combined.cast("int").alias("combined_rel"))


ORACLE_COLLECTION = f"""
WITH {_CTE_NRECTS},
sup AS (
  SELECT s_nationkey, {RMINX} AS sminx, {RMAXX} AS smaxx,
         {RMINY} AS sminy, {RMAXY} AS smaxy
  FROM supplier
),
per AS (
  SELECT rect_id AS nationkey,
         {_relate_rect_rect_sql('sminx', 'smaxx', 'sminy', 'smaxy',
                                'minx', 'maxx', 'miny', 'maxy')} AS rel
  FROM sup JOIN nrects ON s_nationkey = rect_id
)
SELECT nationkey,
       CAST(CASE WHEN min(rel) = max(rel) THEN min(rel)
                 WHEN max(CASE WHEN rel IN (1, 4) THEN 1 ELSE 0 END) = 0 THEN 2
                 ELSE 4 END AS INT) AS combined_rel
FROM per GROUP BY nationkey
"""


def q_circle_circle_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circle.Relate(circle) ring arithmetic (CircleImpl.cs:235-247)."""
    from . import functions as SF
    c = supplier_circles(spark, sf_dir).selectExpr(
        "circle_id", "cx", "cy", "r",
        "(cx + 3.0) AS cx2", "(cy + 2.0) AS cy2", "(r / 2.0 + 1.0) AS r2")
    rel = SF.st_relate_circle_circle(F.col("cx"), F.col("cy"), F.col("r"),
                                     F.col("cx2"), F.col("cy2"), F.col("r2"))
    return c.select("circle_id", rel.cast("int").alias("rel"))


ORACLE_CIRCLE_CIRCLE = f"""
WITH {_CTE_CIRCLES},
c2 AS (
  SELECT circle_id, cx, cy, r, (cx + 3.0) AS cx2, (cy + 2.0) AS cy2,
         (r / 2.0 + 1.0) AS r2
  FROM circles
),
d AS (
  SELECT circle_id, r, r2, {_hav('cx', 'cy', 'cx2', 'cy2')} AS crossd FROM c2
)
SELECT circle_id,
       CAST(CASE WHEN crossd > r + r2 THEN 3
                 WHEN crossd < r AND crossd + r2 <= r THEN 2
                 WHEN crossd < r2 AND crossd + r <= r2 THEN 1
                 ELSE 4 END AS INT) AS rel
FROM d
"""


_OLON = "(((o_orderkey * 17) % 144000) / cast(100.0 as double) - 720.0)"
_OLAT = "(((o_orderkey * 19) % 72000) / cast(100.0 as double) - 360.0)"


def q_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lon wrap / lat fold normalization (DistanceUtils.cs:290-314) on
    out-of-range coordinates. Pure modular double arithmetic — exact on
    both sides, no rounding."""
    from . import functions as SF
    o = _load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", f"{_OLON} AS lon_raw", f"{_OLAT} AS lat_raw")
    return o.select(
        "o_orderkey",
        SF.st_norm_lon(F.col("lon_raw")).alias("lon_n"),
        SF.st_norm_lat(F.col("lat_raw")).alias("lat_n"))


ORACLE_NORM = f"""
WITH raw AS (
  SELECT o_orderkey, {_OLON} AS v, {_OLAT} AS w FROM orders
),
m AS (
  SELECT o_orderkey, v, w,
         (((v + 180.0) % 360.0) + 360.0) % 360.0 AS lon_off,
         abs((w + 90.0) % 360.0) AS lat_off
  FROM raw
)
SELECT o_orderkey,
       CASE WHEN v >= -180.0 AND v <= 180.0 THEN v
            WHEN lon_off = 0 AND v > 0 THEN 180.0
            ELSE -180.0 + lon_off END AS lon_n,
       CASE WHEN w >= -90.0 AND w <= 90.0 THEN w
            ELSE (CASE WHEN lat_off <= 180.0 THEN lat_off
                       ELSE 360.0 - lat_off END) - 90.0 END AS lat_n
FROM m
"""


def q_knn_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT kNN — no radius bound (operators/joins.knn_join with
    max_radius=None). Ranking: exact Vincenty + id tie-break, identical
    to the relational oracle's full cross-join kNN."""
    from .operators.joins import knn_join
    from .plans.strategy import JoinPlan
    pts = customer_points(spark, sf_dir).withColumnRenamed("c_custkey", "point_id")
    qs = supplier_circles(spark, sf_dir).selectExpr(
        "circle_id AS query_id", "cx AS qx", "cy AS qy")
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    out = knn_join(pts, qs, k=5, plan=plan,
                   query_id="query_id", tie_break="point_id")
    return out.select(F.col("query_id").alias("circle_id"),
                      F.col("point_id").alias("c_custkey"),
                      F.col("knn_rank").cast("int").alias("knn_rank"))


ORACLE_KNN_RINGS = f"""
WITH {_CTE_POINTS}, {_CTE_CIRCLES},
cand AS (
  SELECT circle_id, c_custkey, {_vin('x', 'y', 'cx', 'cy')} AS dv
  FROM pts CROSS JOIN circles
)
SELECT circle_id, c_custkey,
       CAST(row_number() OVER (PARTITION BY circle_id ORDER BY dv, c_custkey) AS INT) AS knn_rank
FROM cand
QUALIFY row_number() OVER (PARTITION BY circle_id ORDER BY dv, c_custkey) <= 5
"""


# bounded band for the polygon<->circle relate (oracle needs a
# pole/dateline-free GeoCircle: |ccy|+r <= 78, |ccx|+dlon <= 165)
TCX = "(((s_suppkey * 7907) % 40000) / cast(200.0 as double) - 100.0)"
TCY = "(((s_suppkey * 7919) % 20000) / cast(200.0 as double) - 50.0)"
PCCX = f"({TCX} + (s_suppkey % 29))"
PCCY = f"({TCY} - 10.0 + (s_suppkey % 23))"
# fractional radius, never equal to the integer-grid vertex
# distances (same-meridian ties like dist==r==7.0 flip on libm ulp)
PCCR = "(cast(2.37 as double) + ((s_suppkey * 31) % 140) / cast(10.0 as double))"


def q_polygon_circle_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon.Relate(circle) — vertex-counting (NtsGeometry.cs:248-275)
    over WKT-parsed triangles vs per-supplier circles."""
    from . import functions as SF
    tri = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS poly_id",
        f"{TCX} AS x1t", f"({TCY} - 10.0) AS y1t",
        f"({TCX} + 24.0) AS x2t", f"({TCY} - 10.0) AS y2t",
        f"({TCX} + 12.0) AS x3t", f"({TCY} + 14.0) AS y3t",
        f"{PCCX} AS ccx", f"{PCCY} AS ccy", f"{PCCR} AS ccr")
    wkt = F.expr("concat('POLYGON((', cast(x1t as string), ' ', cast(y1t as string), ', ',"
                 " cast(x2t as string), ' ', cast(y2t as string), ', ',"
                 " cast(x3t as string), ' ', cast(y3t as string), ', ',"
                 " cast(x1t as string), ' ', cast(y1t as string), '))')")
    polys = tri.withColumn("shape", SF.st_from_wkt(wkt))
    s = F.col("shape")
    rel = SF.st_relate_polygon_circle(
        s, shape_col(kind=3, x=F.col("ccx"), y=F.col("ccy"),
                     radius=F.col("ccr")))
    return polys.select("poly_id", rel.cast("int").alias("rel"))


def _transpose_sql(rel: str) -> str:
    return f"(CASE WHEN {rel} = 1 THEN 2 WHEN {rel} = 2 THEN 1 ELSE {rel} END)"


ORACLE_POLYGON_CIRCLE = f"""
WITH tri AS (
  SELECT s_suppkey AS poly_id,
         {TCX} AS x1t, ({TCY} - 10.0) AS y1t,
         ({TCX} + 24.0) AS x2t, ({TCY} - 10.0) AS y2t,
         ({TCX} + 12.0) AS x3t, ({TCY} + 14.0) AS y3t,
         {PCCX} AS ccx, {PCCY} AS ccy, {PCCR} AS ccr
  FROM supplier
),
bb AS (
  SELECT *, least(x1t, x2t, x3t) AS bminx, greatest(x1t, x2t, x3t) AS bmaxx,
         least(y1t, y2t, y3t) AS bminy, greatest(y1t, y2t, y3t) AS bmaxy
  FROM tri
),
ph AS (
  SELECT poly_id, ccx, ccy, ccr, x1t, y1t, x2t, y2t, x3t, y3t,
         {_transpose_sql(_circle_relate_rect_sql('ccx', 'ccy', 'ccr', 'bminx', 'bmaxx', 'bminy', 'bmaxy'))} AS bbr,
         (CASE WHEN {_hav('ccx', 'ccy', 'x1t', 'y1t')} <= ccr THEN 0 ELSE 1 END
        + CASE WHEN {_hav('ccx', 'ccy', 'x2t', 'y2t')} <= ccr THEN 0 ELSE 1 END
        + CASE WHEN {_hav('ccx', 'ccy', 'x3t', 'y3t')} <= ccr THEN 0 ELSE 1 END
        + CASE WHEN {_hav('ccx', 'ccy', 'x1t', 'y1t')} <= ccr THEN 0 ELSE 1 END) AS n_out,
         (((x2t - x1t) * (ccy - y1t) - (y2t - y1t) * (ccx - x1t)) >= 0
          AND ((x3t - x2t) * (ccy - y2t) - (y3t - y2t) * (ccx - x2t)) >= 0
          AND ((x1t - x3t) * (ccy - y3t) - (y1t - y3t) * (ccx - x3t)) >= 0) AS center_in
  FROM bb
)
SELECT poly_id,
       CAST(CASE WHEN bbr = 1 OR bbr = 3 THEN bbr
                 WHEN n_out > 0 AND n_out < 4 THEN 4
                 WHEN n_out = 4 THEN (CASE WHEN center_in THEN 2 ELSE 3 END)
                 ELSE 1 END AS INT) AS rel
FROM ph
"""


# rects for the polygon<->rect relate, same band as the TCX triangles
# offsets chosen incommensurate with the triangle's vertex grid and
# slope-2 edges so exact boundary touches cannot occur (the simplified
# proper-cross oracle would miss touch-INTERSECTS; kernel counts them)
PRMINX = f"({TCX} + (s_suppkey % 37) - 6.31)"
PRMAXX = f"({PRMINX} + 4.77 + (s_suppkey % 19))"
PRMINY = f"({TCY} - 12.53 + (s_suppkey % 21))"
PRMAXY = f"({PRMINY} + 3.29 + (s_suppkey % 13))"


def q_polygon_rect_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon.Relate(rect), COVERS semantics — WKT-parsed triangles vs
    derived rects (NtsGeometry.cs:303-314 mapping)."""
    from . import functions as SF
    tri = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS poly_id",
        f"{TCX} AS x1t", f"({TCY} - 10.0) AS y1t",
        f"({TCX} + 24.0) AS x2t", f"({TCY} - 10.0) AS y2t",
        f"({TCX} + 12.0) AS x3t", f"({TCY} + 14.0) AS y3t",
        f"{PRMINX} AS rminx", f"{PRMAXX} AS rmaxx",
        f"{PRMINY} AS rminy", f"{PRMAXY} AS rmaxy")
    wkt = F.expr("concat('POLYGON((', cast(x1t as string), ' ', cast(y1t as string), ', ',"
                 " cast(x2t as string), ' ', cast(y2t as string), ', ',"
                 " cast(x3t as string), ' ', cast(y3t as string), ', ',"
                 " cast(x1t as string), ' ', cast(y1t as string), '))')")
    polys = tri.withColumn("shape", SF.st_from_wkt(wkt))
    s = F.col("shape")
    rel = SF.st_relate_polygon_rect(
        s, shape_col(kind=2, minx=F.col("rminx"), maxx=F.col("rmaxx"),
                     miny=F.col("rminy"), maxy=F.col("rmaxy")))
    return polys.select("poly_id", rel.cast("int").alias("rel"))


def _tri_covers_point_sql(px, py) -> str:
    """CCW triangle (x1t..y3t) covers point — boundary in."""
    return (f"(((x2t - x1t) * ({py} - y1t) - (y2t - y1t) * ({px} - x1t)) >= 0"
            f" AND ((x3t - x2t) * ({py} - y2t) - (y3t - y2t) * ({px} - x2t)) >= 0"
            f" AND ((x1t - x3t) * ({py} - y3t) - (y1t - y3t) * ({px} - x3t)) >= 0)")


def _edges_cross_sql() -> str:
    """Any triangle edge properly crossing any rect edge."""
    tri_edges = [("x1t", "y1t", "x2t", "y2t"), ("x2t", "y2t", "x3t", "y3t"),
                 ("x3t", "y3t", "x1t", "y1t")]
    rect_edges = [("rminx", "rminy", "rmaxx", "rminy"),
                  ("rmaxx", "rminy", "rmaxx", "rmaxy"),
                  ("rmaxx", "rmaxy", "rminx", "rmaxy"),
                  ("rminx", "rmaxy", "rminx", "rminy")]
    terms = []
    for (ax, ay, bx, by) in tri_edges:
        for (cx, cy, dx, dy) in rect_edges:
            d1 = f"(({bx} - {ax}) * ({cy} - {ay}) - ({by} - {ay}) * ({cx} - {ax}))"
            d2 = f"(({bx} - {ax}) * ({dy} - {ay}) - ({by} - {ay}) * ({dx} - {ax}))"
            d3 = f"(({dx} - {cx}) * ({ay} - {cy}) - ({dy} - {cy}) * ({ax} - {cx}))"
            d4 = f"(({dx} - {cx}) * ({by} - {cy}) - ({dy} - {cy}) * ({bx} - {cx}))"
            terms.append(f"(({d1} > 0) <> ({d2} > 0) AND ({d3} > 0) <> ({d4} > 0)"
                         f" AND {d1} <> 0 AND {d2} <> 0 AND {d3} <> 0 AND {d4} <> 0)")
    return "(" + " OR ".join(terms) + ")"


ORACLE_POLYGON_RECT = f"""
WITH tri AS (
  SELECT s_suppkey AS poly_id,
         {TCX} AS x1t, ({TCY} - 10.0) AS y1t,
         ({TCX} + 24.0) AS x2t, ({TCY} - 10.0) AS y2t,
         ({TCX} + 12.0) AS x3t, ({TCY} + 14.0) AS y3t,
         {PRMINX} AS rminx, {PRMAXX} AS rmaxx,
         {PRMINY} AS rminy, {PRMAXY} AS rmaxy
  FROM supplier
),
ph AS (
  SELECT poly_id,
         (least(x1t, x2t, x3t) > rmaxx OR greatest(x1t, x2t, x3t) < rminx OR
          least(y1t, y2t, y3t) > rmaxy OR greatest(y1t, y2t, y3t) < rminy) AS bbox_dis,
         ({_tri_covers_point_sql('rminx', 'rminy')}
          AND {_tri_covers_point_sql('rminx', 'rmaxy')}
          AND {_tri_covers_point_sql('rmaxx', 'rminy')}
          AND {_tri_covers_point_sql('rmaxx', 'rmaxy')}) AS corners_all,
         ({_tri_covers_point_sql('rminx', 'rminy')}
          OR {_tri_covers_point_sql('rminx', 'rmaxy')}
          OR {_tri_covers_point_sql('rmaxx', 'rminy')}
          OR {_tri_covers_point_sql('rmaxx', 'rmaxy')}) AS corners_any,
         (x1t >= rminx AND x1t <= rmaxx AND y1t >= rminy AND y1t <= rmaxy AND
          x2t >= rminx AND x2t <= rmaxx AND y2t >= rminy AND y2t <= rmaxy AND
          x3t >= rminx AND x3t <= rmaxx AND y3t >= rminy AND y3t <= rmaxy) AS verts_in,
         {_edges_cross_sql()} AS cross_any
  FROM tri
)
SELECT poly_id,
       CAST(CASE WHEN bbox_dis THEN 3
                 WHEN corners_all AND NOT cross_any THEN 2
                 WHEN verts_in THEN 1
                 WHEN corners_any OR cross_any THEN 4
                 ELSE 3 END AS INT) AS rel
FROM ph
"""

# --- polygon <-> polygon relate: shared expression templates so Spark and
# DuckDB compute bit-identical B-triangle coordinates ------------------------

_PP_G = {"gxt": "(x1t + x2t + x3t) / 3.0", "gyt": "(y1t + y2t + y3t) / 3.0"}


def _pp_b_coord(axis: str, i: int) -> str:
    """B-triangle coordinate CASE over variant v (1=shrink, 2=expand,
    3=fixed shift, 4=far shift away from the world edge, 5=per-key
    variable shift) — same SQL text runs in Spark and DuckDB."""
    c = f"x{i}t" if axis == "x" else f"y{i}t"
    g = "gxt" if axis == "x" else "gyt"
    fix = "13.31" if axis == "x" else "6.77"
    far = "61.31" if axis == "x" else "44.77"
    mod, mul = ("41", "1.37") if axis == "x" else ("23", "0.77")
    return (f"CASE WHEN v = 1 THEN {g} + ({c} - {g}) * 0.37 "
            f"WHEN v = 2 THEN {g} + ({c} - {g}) * 2.23 "
            f"WHEN v = 3 THEN {c} + {fix} "
            f"WHEN v = 4 THEN {c} + (CASE WHEN {g} > 0 THEN -{far} ELSE {far} END) "
            f"ELSE {c} + (CASE WHEN {g} > 0 THEN -1.0 ELSE 1.0 END)"
            f" * ((poly_id % {mod}) * {mul}) END")


_PP_TRI_A = [("x1t", "y1t"), ("x2t", "y2t"), ("x3t", "y3t")]
_PP_TRI_B = [("u1", "w1"), ("u2", "w2"), ("u3", "w3")]


def _pp_cross(ax, ay, bx, by, px, py) -> str:
    return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"


def _pp_covers(p, q) -> str:
    """CCW triangle p covers triangle q: every q vertex inside every
    closed half-plane of p (boundary in — COVERS semantics)."""
    terms = []
    for k in range(3):
        (ax, ay), (bx, by) = p[k], p[(k + 1) % 3]
        for (px, py) in q:
            terms.append(_pp_cross(ax, ay, bx, by, px, py) + " >= 0")
    return "(" + " AND ".join(terms) + ")"


def _pp_sat_disjoint(p, q) -> str:
    """Strictly separating edge exists among p's or q's edges (convex
    SAT) — exact disjointness for convex shapes in general position."""
    outer = []
    for poly, other in ((p, q), (q, p)):
        for k in range(3):
            (ax, ay), (bx, by) = poly[k], poly[(k + 1) % 3]
            outer.append("(" + " AND ".join(
                _pp_cross(ax, ay, bx, by, px, py) + " < 0"
                for (px, py) in other) + ")")
    return "(" + " OR ".join(outer) + ")"


def q_polygon_polygon_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon.Relate(polygon), COVERS semantics: triangles A from
    supplier x 5 derived B-variants (shrink / expand / overlap-shift /
    far-shift / per-key shift) — both layers WKT-parsed, related by the
    noded relate kernel (NtsGeometry.cs:283-314 mapping)."""
    from . import functions as SF
    tri = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS poly_id",
        f"{TCX} AS x1t", f"({TCY} - 10.0) AS y1t",
        f"({TCX} + 24.0) AS x2t", f"({TCY} - 10.0) AS y2t",
        f"({TCX} + 12.0) AS x3t", f"({TCY} + 14.0) AS y3t")
    tri = tri.selectExpr("*", f"{_PP_G['gxt']} AS gxt", f"{_PP_G['gyt']} AS gyt")
    tri = tri.selectExpr("*", "explode(array(1, 2, 3, 4, 5)) AS v")
    b_cols = [f"{_pp_b_coord(axis, i)} AS {'u' if axis == 'x' else 'w'}{i}"
              for i in (1, 2, 3) for axis in ("x", "y")]
    tri = tri.selectExpr("poly_id", "v",
                         "x1t", "y1t", "x2t", "y2t", "x3t", "y3t", *b_cols)

    def wkt_of(v1x, v1y, v2x, v2y, v3x, v3y):
        return (f"concat('POLYGON((', cast({v1x} as string), ' ', cast({v1y} as string), ', ',"
                f" cast({v2x} as string), ' ', cast({v2y} as string), ', ',"
                f" cast({v3x} as string), ' ', cast({v3y} as string), ', ',"
                f" cast({v1x} as string), ' ', cast({v1y} as string), '))')")

    parsed = (tri
              .withColumn("sa", SF.st_from_wkt(F.expr(wkt_of("x1t", "y1t", "x2t", "y2t", "x3t", "y3t"))))
              .withColumn("sb", SF.st_from_wkt(F.expr(wkt_of("u1", "w1", "u2", "w2", "u3", "w3")))))
    a, b = F.col("sa"), F.col("sb")
    rel = SF.st_relate_polygon_polygon(a, b)
    # GetCenter on polygon A exercises st_center's area-centroid branch
    # (NtsGeometry.cs:200-210); for a triangle it equals the vertex
    # mean, which sits exactly on the k/200 coordinate grid — the
    # 6-decimal round is tie-free on both sides.
    ctr = SF.st_center(a)
    # GetArea(geo ctx) on polygon A: euclid shoelace * filledRatio *
    # geo bbox area (NtsGeometry.cs:184-196). The parser preserves
    # vertex order, so the oracle's explicit 3-term shoelace is
    # bit-identical (the closing edge's cross term is exactly 0).
    area = SF.st_area(a, geo=True)
    return parsed.select("poly_id", "v", rel.cast("int").alias("rel"),
                         F.round(ctr.getField("x"), 6).alias("actr_x"),
                         F.round(ctr.getField("y"), 6).alias("actr_y"),
                         F.round(area, 6).alias("aarea"))


ORACLE_POLYGON_POLYGON = f"""
WITH tri0 AS (
  SELECT s_suppkey AS poly_id,
         {TCX} AS x1t, ({TCY} - 10.0) AS y1t,
         ({TCX} + 24.0) AS x2t, ({TCY} - 10.0) AS y2t,
         ({TCX} + 12.0) AS x3t, ({TCY} + 14.0) AS y3t
  FROM supplier
),
trig AS (
  SELECT *, {_PP_G['gxt']} AS gxt, {_PP_G['gyt']} AS gyt FROM tri0
),
pairs AS (
  SELECT trig.*, vv.v FROM trig CROSS JOIN (VALUES (1), (2), (3), (4), (5)) AS vv(v)
),
bt AS (
  SELECT poly_id, v, x1t, y1t, x2t, y2t, x3t, y3t,
         {_pp_b_coord('x', 1)} AS u1, {_pp_b_coord('y', 1)} AS w1,
         {_pp_b_coord('x', 2)} AS u2, {_pp_b_coord('y', 2)} AS w2,
         {_pp_b_coord('x', 3)} AS u3, {_pp_b_coord('y', 3)} AS w3
  FROM pairs
)
SELECT poly_id, v,
       CAST(CASE WHEN {_pp_covers(_PP_TRI_A, _PP_TRI_B)} THEN 2
                 WHEN {_pp_covers(_PP_TRI_B, _PP_TRI_A)} THEN 1
                 WHEN {_pp_sat_disjoint(_PP_TRI_A, _PP_TRI_B)} THEN 3
                 ELSE 4 END AS INT) AS rel,
       round((x1t + x2t + x3t) / 3.0, 6) AS actr_x,
       round((y1t + y2t + y3t) / 3.0, 6) AS actr_y,
       round(({_D2R} * {_RDEG} * {_RDEG}
              * abs(sin(least(y1t, y2t, y3t) * {_D2R})
                    - sin(greatest(y1t, y2t, y3t) * {_D2R}))
              * (greatest(x1t, x2t, x3t) - least(x1t, x2t, x3t)))
             * (abs(0.5 * ((x1t * y2t - x2t * y1t)
                           + (x2t * y3t - x3t * y2t)
                           + (x3t * y1t - x1t * y3t)))
                / ((greatest(x1t, x2t, x3t) - least(x1t, x2t, x3t))
                   * (greatest(y1t, y2t, y3t) - least(y1t, y2t, y3t)))),
             6) AS aarea
FROM bt
"""



def q_wkt_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse -> format round-trip through the WKT writer (fixed 4-dec
    formatting so DuckDB's printf reproduces the exact string)."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir)
    wkt_in = F.expr("concat('POINT (', cast(x as string), ' ', cast(y as string), ')')")
    parsed = pts.withColumn("shape", SF.st_from_wkt(wkt_in))
    return parsed.select(
        "c_custkey", SF.st_to_wkt(F.col("shape"), decimals=4).alias("wkt"))


ORACLE_WKT_WRITER = f"""
WITH {_CTE_POINTS}
SELECT c_custkey,
       printf('POINT (%.4f %.4f)', x, y) AS wkt
FROM pts
"""


def q_wkt_multipoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPOINT grammar: build -> parse -> explode member points."""
    from . import functions as SF
    src = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", f"{SCX} AS ax", f"{SCY} AS ay",
        f"({SCX} + 5.0) AS bx", f"({SCY} - 3.0) AS by")
    wkt = F.expr("concat('MULTIPOINT ((', cast(ax as string), ' ', cast(ay as string), "
                 "'), (', cast(bx as string), ' ', cast(by as string), '))')")
    parsed = src.withColumn("shape", SF.st_from_wkt(wkt))
    s = F.col("shape")
    ex = parsed.select(
        "s_suppkey",
        F.posexplode(F.arrays_zip(s["xs"], s["ys"])).alias("idx", "pt"))
    return ex.select("s_suppkey", F.col("idx").cast("int").alias("idx"),
                     F.col("pt.xs").alias("px"), F.col("pt.ys").alias("py"))


ORACLE_WKT_MULTIPOINT = f"""
WITH src AS (
  SELECT s_suppkey, {SCX} AS ax, {SCY} AS ay,
         ({SCX} + 5.0) AS bx, ({SCY} - 3.0) AS by
  FROM supplier
)
SELECT s_suppkey, 0 AS idx, ax AS px, ay AS py FROM src
UNION ALL
SELECT s_suppkey, 1 AS idx, bx AS px, by AS py FROM src
"""


def q_xy_range_relate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D interval relates (RelateXRange dateline-aware / RelateYRange)
    — the rectangle API's extra predicates (Rectangle.cs:72-78)."""
    from . import functions as SF
    r = supplier_rects(spark, sf_dir).selectExpr(
        "srect_id", "sminx", "smaxx", "sminy", "smaxy",
        "(CASE WHEN sminx + 15.0 > 180.0 THEN sminx - 345.0 ELSE sminx + 15.0 END) AS eminx",
        "(CASE WHEN smaxx + 40.0 > 180.0 THEN smaxx - 320.0 ELSE smaxx + 40.0 END) AS emaxx",
        "greatest(-90.0, sminy - 8.0) AS eminy",
        "least(90.0, smaxy + 5.0) AS emaxy")
    return r.select(
        "srect_id",
        SF.st_relate_x_range(F.col("sminx"), F.col("smaxx"),
                             F.col("eminx"), F.col("emaxx")).cast("int").alias("xrel"),
        SF.st_relate_y_range(F.col("sminy"), F.col("smaxy"),
                             F.col("eminy"), F.col("emaxy")).cast("int").alias("yrel"))


ORACLE_XY_RANGE = f"""
WITH {_CTE_SRECTS},
e AS (
  SELECT srect_id, sminx, smaxx, sminy, smaxy,
         (CASE WHEN sminx + 15.0 > 180.0 THEN sminx - 345.0 ELSE sminx + 15.0 END) AS eminx,
         (CASE WHEN smaxx + 40.0 > 180.0 THEN smaxx - 320.0 ELSE smaxx + 40.0 END) AS emaxx,
         greatest(-90.0, sminy - 8.0) AS eminy,
         least(90.0, smaxy + 5.0) AS emaxy
  FROM srects
)
SELECT srect_id,
       CAST({_relate_x_range_sql('sminx', 'smaxx', 'eminx', 'emaxx')} AS INT) AS xrel,
       CAST({_rr('sminy', 'smaxy', 'eminy', 'emaxy')} AS INT) AS yrel
FROM e
"""


def q_cartesian_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian world model: Euclidean distance, the squared-distance
    sort-only variant, planar destination point (CartesianDistCalc)."""
    from . import functions as SF
    p = _load(spark, sf_dir, "part").selectExpr(
        "p_partkey", f"{_GLX} AS x1", f"{_GLY} AS y1",
        f"({_GLX} + 3.0 + (p_partkey % 11)) AS x2",
        f"({_GLY} - 2.0 + (p_partkey % 7)) AS y2",
        "(cast(1.0 as double) + (p_partkey % 50)) AS d",
        "(cast(0.0 as double) + (p_partkey * 29) % 360) AS brg")
    dest = SF.st_cartesian_point_on_bearing(F.col("x1"), F.col("y1"),
                                            F.col("d"), F.col("brg"))
    return p.select(
        "p_partkey",
        SF.st_cartesian_distance(F.col("x1"), F.col("y1"),
                                 F.col("x2"), F.col("y2")).alias("dist"),
        SF.st_cartesian_distance_sq(F.col("x1"), F.col("y1"),
                                    F.col("x2"), F.col("y2")).alias("dist_sq"),
        F.round(dest["x2"], 6).alias("dest_x"),
        F.round(dest["y2"], 6).alias("dest_y"))


ORACLE_CARTESIAN = f"""
WITH p AS (
  SELECT p_partkey, {_GLX} AS x1, {_GLY} AS y1,
         ({_GLX} + 3.0 + (p_partkey % 11)) AS x2,
         ({_GLY} - 2.0 + (p_partkey % 7)) AS y2,
         (cast(1.0 as double) + (p_partkey % 50)) AS d,
         (cast(0.0 as double) + (p_partkey * 29) % 360) AS brg
  FROM part
)
SELECT p_partkey,
       sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)) AS dist,
       ((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)) AS dist_sq,
       round(x1 + sin(brg * {_D2R}) * d, 6) AS dest_x,
       round(y1 + cos(brg * {_D2R}) * d, 6) AS dest_y
FROM p
"""


def q_unit_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit conversion surface (Dist2Degrees / Degrees2Dist / ToRadians,
    DistanceUtils.cs:589-638; km<->miles :95-112) with the exact
    constants, plus the p-norm VectorDistance ladder (:123-189) as a
    pure-Column expression over derived 3-vectors."""
    from . import functions as SF
    o = _load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey", "(cast(1.0 as double) + (o_orderkey % 20000) / 2.0) AS d_km")
    u = SF.st_units(F.col("d_km"))
    va = F.array(F.col("d_km"), F.col("d_km") / F.lit(2.0), F.lit(3.0))
    vb = F.array(F.lit(1.0), F.col("d_km") / F.lit(4.0), F.lit(5.0))
    return o.select("o_orderkey",
                    F.round(u["deg"], 9).alias("deg"),
                    F.round(u["km_rt"], 9).alias("km_rt"),
                    F.round(u["rad"], 9).alias("rad"),
                    F.round(u["mi"], 9).alias("mi"),
                    F.round(u["km_from_mi"], 9).alias("km_from_mi"),
                    SF.st_vector_distance(va, vb, 0.0).alias("vd0"),
                    F.round(SF.st_vector_distance(va, vb, 1.0), 9).alias("vd1"),
                    F.round(SF.st_vector_distance(va, vb, 2.0), 9).alias("vd2"))


ORACLE_UNITS = f"""
WITH o AS (
  SELECT o_orderkey,
         (cast(1.0 as double) + (o_orderkey % 20000) / 2.0) AS d_km
  FROM orders
)
SELECT o_orderkey,
       round((d_km / 6371.0087714) * {_RDEG}, 9) AS deg,
       round(((d_km / 6371.0087714) * {_RDEG}) * {_D2R} * 6371.0087714, 9) AS km_rt,
       round(((d_km / 6371.0087714) * {_RDEG}) * {_D2R}, 9) AS rad,
       round(d_km * 0.621371192, 9) AS mi,
       round((d_km * 0.621371192) * (1.0 / 0.621371192), 9) AS km_from_mi,
       CAST((CASE WHEN d_km = 1.0 THEN 0.0 ELSE 1.0 END)
        + (CASE WHEN d_km / 2.0 = d_km / 4.0 THEN 0.0 ELSE 1.0 END)
        + 1.0 AS DOUBLE) AS vd0,
       round(abs(d_km - 1.0) + abs(d_km / 2.0 - d_km / 4.0) + abs(3.0 - 5.0), 9) AS vd1,
       round(sqrt((d_km - 1.0) * (d_km - 1.0)
                  + (d_km / 2.0 - d_km / 4.0) * (d_km / 2.0 - d_km / 4.0)
                  + (3.0 - 5.0) * (3.0 - 5.0)), 9) AS vd2
FROM o
"""


# second polyline segment deltas (nonzero, non-vertical)
_LDX2 = "(cast(4.0 as double) + (n_nationkey * 13) % 18)"
_LDY2 = "(cast(2.0 as double) + (n_nationkey * 19) % 12)"


def q_linestring_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buffered LINESTRING contains points: WKT BUFFER(LINESTRING(...))
    parse -> per-segment rotated-rectangle union (BufferedLineString =
    ShapeCollection of BufferedLine, BufferedLineString.cs:35,81)."""
    from . import functions as SF
    lines = _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS line_id",
        f"{_LAX} AS ax", f"{_LAY} AS ay",
        f"({_LAX} + {_LDX}) AS bx", f"({_LAY} + {_LDY}) AS by",
        f"(({_LAX} + {_LDX}) + {_LDX2}) AS cx2",
        f"(({_LAY} + {_LDY}) - {_LDY2}) AS cy2",
        f"{_LBUF} AS buf")
    wkt = F.expr(
        "concat('BUFFER(LINESTRING(', cast(ax as string), ' ', cast(ay as string), ', ',"
        " cast(bx as string), ' ', cast(by as string), ', ',"
        " cast(cx2 as string), ' ', cast(cy2 as string), '), ',"
        " cast(buf as string), ')')")
    shapes = lines.withColumn("shape", SF.st_from_wkt(wkt)).select("line_id", "shape")
    pts = customer_points(spark, sf_dir).where("c_custkey % 2 = 0")
    j = pts.crossJoin(F.broadcast(shapes))
    rel = SF.st_relate_shape_point(F.col("shape"), F.col("x"), F.col("y"))
    return j.where(rel == 2).select("c_custkey", "line_id")


def _seg_contains_sql(ax, ay, bx, by) -> str:
    """One buffered segment contains (x, y) — mirror of
    BufLineParams + InfBufLine.DistanceUnbuffered (generic slopes)."""
    dx = f"({bx} - {ax})"
    dy = f"({by} - {ay})"
    cx = f"({ax} + {dx} / 2.0)"
    cy = f"({ay} + {dy} / 2.0)"
    sp = f"({dy} / {dx})"
    sq = f"((-{dx}) / {dy})"
    ip = f"({cy} - {sp} * {cx})"
    iq = f"({cy} - {sq} * {cx})"
    dp = f"(1.0 / sqrt({sp} * {sp} + 1.0))"
    dq = f"(1.0 / sqrt({sq} * {sq} + 1.0))"
    bufq = f"(sqrt({dx} * {dx} + {dy} * {dy}) / 2.0 + buf)"
    return (f"(abs(y - {sp} * x - {ip}) * {dp} <= buf"
            f" AND abs(y - {sq} * x - {iq}) * {dq} <= {bufq})")


ORACLE_LINESTRING = f"""
WITH {_CTE_POINTS},
lines AS (
  SELECT n_nationkey AS line_id,
         {_LAX} AS ax, {_LAY} AS ay,
         ({_LAX} + {_LDX}) AS bx, ({_LAY} + {_LDY}) AS by,
         (({_LAX} + {_LDX}) + {_LDX2}) AS cx2,
         (({_LAY} + {_LDY}) - {_LDY2}) AS cy2,
         {_LBUF} AS buf
  FROM nation
)
SELECT c_custkey, line_id
FROM pts CROSS JOIN lines
WHERE c_custkey % 2 = 0
  AND ({_seg_contains_sql('ax', 'ay', 'bx', 'by')}
       OR {_seg_contains_sql('bx', 'by', 'cx2', 'cy2')})
"""


def q_geometrycollection_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOMETRYCOLLECTION grammar + ComputeBoundingBox union
    (ShapeCollection.cs:67-91; members dateline-free here so the smart
    longitude union equals plain min/max — SQL-expressible)."""
    from . import functions as SF
    src = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey", f"{SCX} AS px", f"{SCY} AS py",
        f"({SCX} + 8.0) AS eminx", f"({SCX} + 20.0) AS emaxx",
        f"({SCY} - 6.0) AS eminy", f"({SCY} - 1.0) AS emaxy",
        f"({SCX} - 4.0) AS qx", f"({SCY} + 7.0) AS qy")
    wkt = F.expr(
        "concat('GEOMETRYCOLLECTION (POINT (', cast(px as string), ' ', cast(py as string),"
        " '), ENVELOPE (', cast(eminx as string), ', ', cast(emaxx as string), ', ',"
        " cast(emaxy as string), ', ', cast(eminy as string),"
        " '), POINT (', cast(qx as string), ' ', cast(qy as string), '))')")
    parsed = src.withColumn("shape", SF.st_from_wkt(wkt))
    s = F.col("shape")
    return parsed.select("s_suppkey",
                         s["minx"].alias("minx"), s["maxx"].alias("maxx"),
                         s["miny"].alias("miny"), s["maxy"].alias("maxy"))


ORACLE_GC_BBOX = f"""
WITH src AS (
  SELECT s_suppkey, {SCX} AS px, {SCY} AS py,
         ({SCX} + 8.0) AS eminx, ({SCX} + 20.0) AS emaxx,
         ({SCY} - 6.0) AS eminy, ({SCY} - 1.0) AS emaxy,
         ({SCX} - 4.0) AS qx, ({SCY} + 7.0) AS qy
  FROM supplier
)
SELECT s_suppkey,
       least(px, eminx, qx) AS minx, greatest(px, emaxx, qx) AS maxx,
       least(py, eminy, qy) AS miny, greatest(py, emaxy, qy) AS maxy
FROM src
"""


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH bucket candidates -> exact
    cosine refine (the dedup-by-embedding scale path)."""
    from .operators.dedup import embedding_neardup_pairs
    emb = _load(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.25)


ORACLE_EMBED_NEARDUP = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, ({_ddb_bucket(8)}) AS bkt
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, x.vec_id AS id_b,
         list_dot_product(a.e, x.e)
           / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(x.e, x.e))) AS cosine
  FROM b a JOIN b x ON a.bkt = x.bkt AND a.vec_id < x.vec_id
)
SELECT id_a, id_b, round(cosine, 6) AS cosine_r
FROM pairs WHERE cosine >= 0.25
"""


def q_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec round-trip (BinaryCodec layout: type byte +
    little-endian doubles): WKT parse -> encode -> decode -> values,
    plus the encoded byte length pinning the layout."""
    from . import functions as SF
    src = _load(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        f"""CASE p_partkey % 5
            WHEN 0 THEN concat('POINT (', cast({_GLX} as string), ' ', cast({_GLY} as string), ')')
            WHEN 1 THEN concat('ENVELOPE (', cast({_GLX} as string), ', ', cast({_GMAXX} as string),
                               ', ', cast({_GMAXY} as string), ', ', cast({_GLY} as string), ')')
            WHEN 2 THEN concat('BUFFER(POINT(', cast({_GLX} as string), ' ',
                        cast(({_GLY} / 2.0) as string), '), ', cast({_GLR} as string), ')')
            WHEN 3 THEN concat('LINESTRING (', cast({_GLX} as string), ' ', cast({_GLY} as string),
                        ', ', cast(({_GLX} + 7.31) as string), ' ', cast(({_GLY} + 0.93) as string),
                        ', ', cast(({_GLX} + 3.17) as string), ' ', cast(({_GLY} + 5.71) as string), ')')
            ELSE concat('POLYGON((', cast({_GLX} as string), ' ', cast({_GLY} as string),
                        ', ', cast(({_GLX} + 7.31) as string), ' ', cast(({_GLY} + 0.93) as string),
                        ', ', cast(({_GLX} + 3.17) as string), ' ', cast(({_GLY} + 5.71) as string),
                        ', ', cast({_GLX} as string), ' ', cast({_GLY} as string), '))')
            END AS wkt""")
    parsed = src.withColumn("s1", SF.st_from_wkt(F.col("wkt")))
    enc = SF.st_to_binary(F.col("s1"))
    dec = parsed.withColumn("blob", enc).withColumn("s2", SF.st_from_binary(F.col("blob")))
    s2 = F.col("s2")
    return dec.select(
        "p_partkey", s2["kind"].cast("int").alias("kind"),
        F.length("blob").cast("int").alias("nbytes"),
        s2["x"].alias("x"), s2["y"].alias("y"), s2["radius"].alias("radius"),
        F.round(s2["minx"], 6).alias("minx"), F.round(s2["maxx"], 6).alias("maxx"),
        F.round(s2["miny"], 6).alias("miny"), F.round(s2["maxy"], 6).alias("maxy"),
        F.size(s2["xs"]).cast("int").alias("n_vertices"),
        (F.size(s2["ring_offsets"]) - 1).cast("int").alias("n_rings"))


ORACLE_BINARY = f"""
WITH base AS (
  SELECT p_partkey, p_partkey % 5 AS fmt, {_GLX} AS gx, {_GLY} AS gy,
         ({_GLY} / 2.0) AS cy, {_GLR} AS gr, {_GMAXX} AS gmaxx, {_GMAXY} AS gmaxy
  FROM part
),
dl AS (
  SELECT *, asin(sin(gr * {_D2R}) / cos(cy * {_D2R})) * {_RDEG} AS dlon FROM base
)
SELECT p_partkey,
       CASE fmt WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 WHEN 3 THEN 4 ELSE 7 END AS kind,
       CASE fmt WHEN 0 THEN 17 WHEN 1 THEN 33 WHEN 2 THEN 25
                WHEN 3 THEN 58 ELSE 78 END AS nbytes,
       CASE fmt WHEN 0 THEN gx WHEN 2 THEN gx ELSE NULL END AS x,
       CASE fmt WHEN 0 THEN gy WHEN 2 THEN cy ELSE NULL END AS y,
       CASE fmt WHEN 2 THEN gr WHEN 3 THEN 0.0 ELSE NULL END AS radius,
       round(CASE fmt WHEN 0 THEN gx WHEN 1 THEN gx WHEN 2 THEN gx - dlon
                      ELSE gx END, 6) AS minx,
       round(CASE fmt WHEN 0 THEN gx WHEN 1 THEN gmaxx WHEN 2 THEN gx + dlon
                      ELSE gx + 7.31 END, 6) AS maxx,
       round(CASE fmt WHEN 0 THEN gy WHEN 1 THEN gy WHEN 2 THEN cy - gr
                      ELSE gy END, 6) AS miny,
       round(CASE fmt WHEN 0 THEN gy WHEN 1 THEN gmaxy WHEN 2 THEN cy + gr
                      WHEN 3 THEN gy + 5.71 ELSE gy + 5.71 END, 6) AS maxy,
       CASE fmt WHEN 3 THEN 3 WHEN 4 THEN 4 ELSE NULL END AS n_vertices,
       CASE fmt WHEN 4 THEN 1 ELSE NULL END AS n_rings
FROM dl
"""


def q_cell_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash decode round-trip: encode point -> cell -> decode bbox
    (GeohashUtils.DecodeBoundary :163-204). Bisection bounds are exact
    dyadic values, so the oracle reproduces them bit-for-bit from the
    cell indices."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir)
    cells = pts.withColumn("cell", SF.st_cell("`y`", "`x`", 4))
    box = SF.st_cell_to_box(F.col("cell"))
    return cells.select("c_custkey", "cell",
                        box["minx"].alias("minx"), box["maxx"].alias("maxx"),
                        box["miny"].alias("miny"), box["maxy"].alias("maxy"))


ORACLE_CELL_DECODE = f"""
WITH {_CTE_POINTS},
idx AS (
  SELECT c_custkey,
         {_lon_idx_sql('x', 10)} AS li,
         {_lat_idx_sql('y', 10)} AS ti
  FROM pts
)
SELECT c_custkey,
       {_interleave_sql('li', 'ti', 4)} AS cell,
       (-180.0 + CAST(li AS DOUBLE) * {360.0 / (1 << 10)!r}) AS minx,
       (-180.0 + CAST(li + 1 AS DOUBLE) * {360.0 / (1 << 10)!r}) AS maxx,
       (-90.0 + CAST(ti AS DOUBLE) * {180.0 / (1 << 10)!r}) AS miny,
       (-90.0 + CAST(ti + 1 AS DOUBLE) * {180.0 / (1 << 10)!r}) AS maxy
FROM idx
"""


def q_sub_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Child-cell expansion (GetSubGeohashes, GeohashUtils.cs:207-216):
    the 32 children of each distinct precision-1 cell of the points."""
    from . import functions as SF
    pts = customer_points(spark, sf_dir)
    base = (pts.withColumn("cell1", SF.st_cell("`y`", "`x`", 1))
               .select("cell1").distinct())
    from .kernels.geohash import BASE32
    children = F.explode(F.array(*[F.lit(c) for c in BASE32])).alias("suffix")
    return (base.select("cell1", children)
                .select("cell1", F.concat(F.col("cell1"), F.col("suffix")).alias("child")))


ORACLE_SUB_CELLS = f"""
WITH {_CTE_POINTS},
idx AS (
  SELECT DISTINCT {_interleave_sql(_lon_idx_sql('x', 3), _lat_idx_sql('y', 2), 1)} AS cell1
  FROM pts
)
SELECT cell1, cell1 || c AS child
FROM idx CROSS JOIN (SELECT unnest(string_split('{'|'.join("0123456789bcdefghjkmnpqrstuvwxyz")}', '|')) AS c) s
"""


def q_wkt_multilinestring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTILINESTRING grammar: build -> parse -> part/vertex structure
    + bbox (WktShapeParser.cs:357-372)."""
    from . import functions as SF
    src = _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey", f"{_LAX} AS ax", f"{_LAY} AS ay",
        f"({_LAX} + {_LDX}) AS bx", f"({_LAY} + {_LDY}) AS by",
        f"({_LAX} - 3.0) AS cx", f"({_LAY} + 6.0) AS cy2",
        f"({_LAX} + 2.0) AS dx", f"({_LAY} + 9.0) AS dy")
    wkt = F.expr(
        "concat('MULTILINESTRING ((', cast(ax as string), ' ', cast(ay as string), ', ',"
        " cast(bx as string), ' ', cast(by as string), '), (',"
        " cast(cx as string), ' ', cast(cy2 as string), ', ',"
        " cast(dx as string), ' ', cast(dy as string), '))')")
    parsed = src.withColumn("shape", SF.st_from_wkt(wkt))
    s = F.col("shape")
    return parsed.select(
        "n_nationkey",
        s["kind"].cast("int").alias("kind"),
        (F.size(s["ring_offsets"]) - 1).cast("int").alias("n_parts"),
        F.size(s["xs"]).cast("int").alias("n_vertices"),
        s["minx"].alias("minx"), s["maxx"].alias("maxx"),
        s["miny"].alias("miny"), s["maxy"].alias("maxy"))


ORACLE_WKT_MLS = f"""
WITH src AS (
  SELECT n_nationkey, {_LAX} AS ax, {_LAY} AS ay,
         ({_LAX} + {_LDX}) AS bx, ({_LAY} + {_LDY}) AS by,
         ({_LAX} - 3.0) AS cx, ({_LAY} + 6.0) AS cy2,
         ({_LAX} + 2.0) AS dx, ({_LAY} + 9.0) AS dy
  FROM nation
)
SELECT n_nationkey, 6 AS kind, 2 AS n_parts, 4 AS n_vertices,
       least(ax, bx, cx, dx) AS minx, greatest(ax, bx, cx, dx) AS maxx,
       least(ay, by, cy2, dy) AS miny, greatest(ay, by, cy2, dy) AS maxy
FROM src
"""


_IVF_SIMS = """
seeds AS (
  SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS se
  FROM embeddings WHERE vec_id < 16
),
sims AS (
  SELECT e.vec_id, s.sid,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), s.se)
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(s.se, s.se))) AS cos
  FROM embeddings e CROSS JOIN seeds s
)"""


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partition assignment: nearest of 16 deterministic coarse
    centroids by cosine (one GEMM per Arrow batch — the billion-row
    partitioner for ANN)."""
    from .operators.similarity import ivf_assign, ivf_seeds
    emb = _load(spark, sf_dir, "embeddings")
    seeds = ivf_seeds(emb, k=16)
    return ivf_assign(emb, seeds).select("vec_id", "centroid_id")


ORACLE_IVF_ASSIGN = f"""
WITH {_IVF_SIMS}
SELECT vec_id, sid AS centroid_id
FROM sims
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) = 1
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: probe the 4 nearest centroid partitions per
    query, exact cosine top-5 within the probed candidates."""
    from .operators.similarity import ivf_seeds, ivf_topk
    emb = _load(spark, sf_dir, "embeddings")
    seeds = ivf_seeds(emb, k=16)
    qs = emb.where("vec_id < 10").selectExpr("vec_id AS q_id",
                                             "embedding AS q_embedding")
    return ivf_topk(emb, qs, k=5, seeds=seeds, nprobe=4)


ORACLE_IVF_TOPK = f"""
WITH {_IVF_SIMS},
assigned AS (
  SELECT vec_id, sid AS centroid_id FROM sims
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) = 1
),
qprobe AS (
  SELECT vec_id AS q_id, sid AS centroid_id FROM sims WHERE vec_id < 10
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, sid) <= 4
),
cand AS (
  SELECT q.q_id, a.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
            * sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))))
           AS cosine
  FROM assigned a
  JOIN qprobe q ON a.centroid_id = q.centroid_id
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN embeddings qe ON qe.vec_id = q.q_id
  WHERE a.vec_id <> q.q_id
)
SELECT q_id, vec_id,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS INT) AS sim_rank,
       round(cosine, 6) AS cosine_r
FROM cand
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= 5
"""


def q_wkt_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-WKT handling + polygon validation/repair rules:
    kernels never throw — bad rows carry an error and kind=EMPTY
    (reference raises ParseException/InvalidShapeException at the same
    inputs, NtsWktShapeParserTest.TestWrapTopologyException); the
    self-intersecting case is additionally re-parsed under
    repairConvexHull/repairBuffer0 (NtsWktShapeParser.cs:266-297) and
    the rect case exercises MakeRectFromPoly demotion (:125-158)."""
    from . import functions as SF
    src = _load(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        f"""CASE o_orderkey % 8
            WHEN 0 THEN concat('POINT (', cast({_OLON} as string), ' 10)')
            WHEN 1 THEN 'POINT (1 2'
            WHEN 2 THEN 'FRISBEE (1 2)'
            WHEN 3 THEN 'ENVELOPE (10, 20, 1, 5)'
            WHEN 4 THEN 'ENVELOPE (10, 20, 5, 1)'
            WHEN 5 THEN 'POLYGON((0 0, 10 0, 10 20, 5 -5, 0 20, 0 0))'
            WHEN 6 THEN 'POLYGON((0 5, 10 5, 10 20, 0 20, 0 5))'
            ELSE 'POLYGON((0 0, 10 0, 10 20))'
            END AS wkt""")
    # multi-overlap resolution family (kernels/wkt._resolve_multi_overlap
    # over the noded overlay union), exercised on the case-5 rows:
    # overlapping MULTIPOLYGON members union exactly by default
    # (collection-fold semantics, NtsWktShapeParser.cs:184-202), also
    # with degenerate contact (md: the members share the vertex 0 0),
    # and allowMultiOverlap=true gives the same exact union — its hull
    # is only the fallback for union rings that do not stitch
    # (NtsGeometry.cs:64-94 spirit)
    mo_wkt = ("MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)),"
              " ((5 5, 15 5, 15 15, 5 15, 5 5)))")
    md_wkt = ("MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)),"
              " ((0 0, 14 5, 5 14, 0 0)))")
    src = src.selectExpr(
        "*",
        f"CASE WHEN o_orderkey % 8 = 5 THEN '{mo_wkt}' END AS mo_wkt",
        f"CASE WHEN o_orderkey % 8 = 5 THEN '{md_wkt}' END AS md_wkt")
    parsed = (src
              .withColumn("s", SF.st_from_wkt(F.col("wkt")))
              .withColumn("sh", SF.st_from_wkt(
                  F.col("wkt"), validation_rule="repairConvexHull"))
              .withColumn("sb", SF.st_from_wkt(
                  F.col("wkt"), validation_rule="repairBuffer0"))
              .withColumn("mo", SF.st_from_wkt(F.col("mo_wkt")))
              .withColumn("md", SF.st_from_wkt(F.col("md_wkt")))
              .withColumn("mh", SF.st_from_wkt(
                  F.col("md_wkt"), allow_multi_overlap=True)))
    s, sh, sb = F.col("s"), F.col("sh"), F.col("sb")
    mo, md, mh = F.col("mo"), F.col("md"), F.col("mh")
    five = F.col("o_orderkey") % 8 == 5
    return parsed.select(
        "o_orderkey",
        s["error"].isNull().alias("ok"),
        s["kind"].cast("int").alias("kind"),
        F.when(five, sh["kind"].cast("int")).alias("hull_kind"),
        F.when(five, F.size(sh["xs"])).alias("hull_nv"),
        F.when(five, sb["kind"].cast("int")).alias("b0_kind"),
        F.when(five, F.size(sb["xs"])).alias("b0_nv"),
        F.when(five, F.size(sb["ring_offsets"]) - 1).alias("b0_nrings"),
        F.when(five, mo["error"].isNull()).alias("mo_ok"),
        F.when(five, mo["kind"].cast("int")).alias("mo_kind"),
        F.when(five, F.size(mo["xs"])).alias("mo_nv"),
        F.when(five, F.round(mo["maxx"], 6)).alias("mo_maxx"),
        F.when(five, md["error"].isNull()).alias("md_ok"),
        F.when(five, mh["error"].isNull()).alias("mh_ok"),
        F.when(five, mh["kind"].cast("int")).alias("mh_kind"),
        F.when(five, F.size(mh["xs"])).alias("mh_nv"))


# constants for case 5 derive from the fixed bow-tie: hull = 5-vertex
# pentagon (+closure), buffer0 = 3 planarized lobes of 4 coords each;
# md/mh: the exact union of the square and the triangle is one ring of
# 10 vertices (+closure): the square's 4 corners, the triangle's apexes
# (14 5) and (5 14), and the 4 points where the triangle's edges cross
# the square, (10 25/7), (10 9), (9 10) and (25/7 10)
ORACLE_WKT_ERRORS = """
SELECT o_orderkey,
       CASE o_orderkey % 8 WHEN 1 THEN false WHEN 2 THEN false
            WHEN 3 THEN false WHEN 5 THEN false WHEN 7 THEN false
            ELSE true END AS ok,
       CASE o_orderkey % 8 WHEN 0 THEN 1 WHEN 4 THEN 2 WHEN 6 THEN 2
            ELSE 0 END AS kind,
       CASE WHEN o_orderkey % 8 = 5 THEN 7 END AS hull_kind,
       CASE WHEN o_orderkey % 8 = 5 THEN 6 END AS hull_nv,
       CASE WHEN o_orderkey % 8 = 5 THEN 8 END AS b0_kind,
       CASE WHEN o_orderkey % 8 = 5 THEN 12 END AS b0_nv,
       CASE WHEN o_orderkey % 8 = 5 THEN 3 END AS b0_nrings,
       CASE WHEN o_orderkey % 8 = 5 THEN true END AS mo_ok,
       CASE WHEN o_orderkey % 8 = 5 THEN 8 END AS mo_kind,
       CASE WHEN o_orderkey % 8 = 5 THEN 9 END AS mo_nv,
       CASE WHEN o_orderkey % 8 = 5 THEN CAST(15.0 AS DOUBLE) END AS mo_maxx,
       CASE WHEN o_orderkey % 8 = 5 THEN true END AS md_ok,
       CASE WHEN o_orderkey % 8 = 5 THEN true END AS mh_ok,
       CASE WHEN o_orderkey % 8 = 5 THEN 8 END AS mh_kind,
       CASE WHEN o_orderkey % 8 = 5 THEN 11 END AS mh_nv
FROM orders
"""


def q_pip_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial LEFTSEMI: points covered by at least one rect."""
    from .operators.joins import point_in_shape_join
    from .plans.strategy import plan_point_shape_join
    pts = customer_points(spark, sf_dir)
    rects = nation_rects(spark, sf_dir)
    plan = plan_point_shape_join(10_000_000, 25, 34.0, 18.0, shape_kinds=(2,))
    return point_in_shape_join(pts, rects, plan, how="leftsemi") \
        .select("c_custkey")


ORACLE_PIP_SEMI = f"""
WITH {_CTE_POINTS}, {_CTE_NRECTS}
SELECT c_custkey FROM pts p
WHERE EXISTS (SELECT 1 FROM nrects r WHERE
  {_rect_contains_point_sql('r.minx', 'r.maxx', 'r.miny', 'r.maxy', 'p.x', 'p.y')})
"""


def q_pip_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial LEFTANTI: points covered by no rect."""
    from .operators.joins import point_in_shape_join
    from .plans.strategy import plan_point_shape_join
    pts = customer_points(spark, sf_dir)
    rects = nation_rects(spark, sf_dir)
    plan = plan_point_shape_join(10_000_000, 25, 34.0, 18.0, shape_kinds=(2,))
    return point_in_shape_join(pts, rects, plan, how="leftanti") \
        .select("c_custkey")


ORACLE_PIP_ANTI = f"""
WITH {_CTE_POINTS}, {_CTE_NRECTS}
SELECT c_custkey FROM pts p
WHERE NOT EXISTS (SELECT 1 FROM nrects r WHERE
  {_rect_contains_point_sql('r.minx', 'r.maxx', 'r.miny', 'r.maxy', 'p.x', 'p.y')})
"""


# ---------------------------------------------------------------------------
# merged contract queries: the driver checks at most 50 queries() entries,
# so same-key scalar queries are joined into wide projections — every
# underlying operator keeps its own verified columns in the hash.
# ---------------------------------------------------------------------------

def q_normalize_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize + unit_conversions, wide on o_orderkey (both are pure
    per-row scalar surfaces over orders)."""
    a = q_normalize(spark, sf_dir)
    b = q_unit_conversions(spark, sf_dir)
    return a.join(b, "o_orderkey")


ORACLE_NORMALIZE_UNITS = f"""
SELECT a.o_orderkey, a.lon_n, a.lat_n, b.deg, b.km_rt, b.rad,
       b.mi, b.km_from_mi, b.vd0, b.vd1, b.vd2
FROM ({ORACLE_NORM}) a JOIN ({ORACLE_UNITS}) b USING (o_orderkey)
"""


def q_tile_assign_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tile_assign + cell_decode, wide on c_custkey: precision-5 cell +
    prefix rollup, and the precision-4 encode->decode bbox round-trip."""
    a = q_tile_assign(spark, sf_dir)
    b = (q_cell_decode(spark, sf_dir)
         .withColumnRenamed("cell", "cell4"))
    return a.join(b, "c_custkey")


ORACLE_TILE_DECODE = f"""
SELECT a.c_custkey, a.cell, a.cell2, b.cell AS cell4,
       b.minx, b.maxx, b.miny, b.maxy
FROM ({ORACLE_TILE}) a JOIN ({ORACLE_CELL_DECODE}) b USING (c_custkey)
"""


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_stats + text_quality, wide on doc_id."""
    a = q_token_stats(spark, sf_dir)
    b = q_text_quality(spark, sf_dir)
    return a.join(b, "doc_id")


ORACLE_TEXT_METRICS = f"""
SELECT a.doc_id, a.n_tokens, a.n_subtokens, b.q_len, b.q_words,
       b.q_mean_word_len, b.q_digit_ratio, b.q_stopword_ratio
FROM ({ORACLE_TOKEN_STATS}) a JOIN ({ORACLE_QUALITY}) b USING (doc_id)
"""


def q_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simhash + lang_guess + fingerprint, wide on doc_id — plus the
    banded SimHash near-dup JOIN family (round 5: driver-verifies
    operators/dedup.simhash_neardup_pairs against a brute-force
    oracle): per doc, the count of near-dup partners at hamming <= 3
    and the smallest partner id. The banding guarantee (pigeonhole:
    4 bands, max_hamming 3) makes the engine's banded join EXACT, so
    partner sets must equal the oracle's all-pairs scan."""
    from .operators.dedup import simhash_neardup_pairs
    a = q_simhash(spark, sf_dir)
    b = q_lang_guess(spark, sf_dir)
    c = q_fingerprint(spark, sf_dir)
    docs = _load(spark, sf_dir, "documents")
    nd = simhash_neardup_pairs(docs, bits=16, bands=4, max_hamming=3)
    sym = (nd.select(F.col("doc_a").alias("doc_id"),
                     F.col("doc_b").alias("p"))
             .unionAll(nd.select(F.col("doc_b").alias("doc_id"),
                                 F.col("doc_a").alias("p"))))
    stats = sym.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("nd_cnt"),
        F.min("p").alias("nd_min"))
    out = (a.join(b, "doc_id").join(c, "doc_id")
            .join(stats, "doc_id", "left"))
    return out.withColumn("nd_cnt",
                          F.coalesce(F.col("nd_cnt"), F.lit(0)))


ORACLE_DOC_SIGNATURES = f"""
WITH sig AS ({ORACLE_SIMHASH}),
nd AS (
  SELECT x.doc_id AS doc_id, y.doc_id AS p
  FROM sig x JOIN sig y
    ON x.doc_id <> y.doc_id
   AND bit_count(xor(x.simhash, y.simhash)) <= 3
),
nds AS (
  SELECT doc_id, CAST(count(*) AS INT) AS nd_cnt, min(p) AS nd_min
  FROM nd GROUP BY doc_id
)
SELECT a.doc_id, a.simhash, b.en_score, b.lang_guess, c.fingerprint,
       COALESCE(nds.nd_cnt, 0) AS nd_cnt, nds.nd_min
FROM sig a
JOIN ({ORACLE_LANG}) b USING (doc_id)
JOIN ({ORACLE_FINGERPRINT}) c USING (doc_id)
LEFT JOIN nds USING (doc_id)
"""


def q_wkt_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wkt_multipoint + wkt_multilinestring as one tagged union (both
    exercise the multi-geometry WKT grammar)."""
    mp = q_wkt_multipoint(spark, sf_dir).selectExpr(
        "'mp' AS src", "cast(s_suppkey as bigint) AS key",
        "idx", "px", "py",
        "cast(null as int) AS kind", "cast(null as int) AS n_parts",
        "cast(null as int) AS n_vertices",
        "cast(null as double) AS minx", "cast(null as double) AS maxx",
        "cast(null as double) AS miny", "cast(null as double) AS maxy")
    mls = q_wkt_multilinestring(spark, sf_dir).selectExpr(
        "'mls' AS src", "cast(n_nationkey as bigint) AS key",
        "cast(null as int) AS idx",
        "cast(null as double) AS px", "cast(null as double) AS py",
        "kind", "n_parts", "n_vertices", "minx", "maxx", "miny", "maxy")
    return mp.unionByName(mls)


ORACLE_WKT_MULTI = f"""
SELECT 'mp' AS src, CAST(s_suppkey AS BIGINT) AS key, idx, px, py,
       CAST(NULL AS INT) AS kind, CAST(NULL AS INT) AS n_parts,
       CAST(NULL AS INT) AS n_vertices,
       CAST(NULL AS DOUBLE) AS minx, CAST(NULL AS DOUBLE) AS maxx,
       CAST(NULL AS DOUBLE) AS miny, CAST(NULL AS DOUBLE) AS maxy
FROM ({ORACLE_WKT_MULTIPOINT})
UNION ALL
SELECT 'mls' AS src, CAST(n_nationkey AS BIGINT) AS key,
       CAST(NULL AS INT) AS idx,
       CAST(NULL AS DOUBLE) AS px, CAST(NULL AS DOUBLE) AS py,
       kind, n_parts, n_vertices, minx, maxx, miny, maxy
FROM ({ORACLE_WKT_MLS})
"""


def q_st_area_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_area + xy_range_relate, wide on the supplier key (areas and
    the 1-D interval relate predicates share the derived rect set)."""
    a = q_st_area(spark, sf_dir)
    b = q_xy_range_relate(spark, sf_dir).withColumnRenamed("srect_id", "s_suppkey")
    return a.join(b, "s_suppkey")


ORACLE_ST_AREA_RANGES = f"""
SELECT a.s_suppkey, a.rect_area, a.circle_area, a.ctr_x, a.ctr_y,
       b.xrel, b.yrel
FROM ({ORACLE_AREA}) a JOIN ({ORACLE_XY_RANGE}) b ON a.s_suppkey = b.srect_id
"""


# ---------------------------------------------------------------------------
# GetBuffered surface (RectangleImpl.cs:76-114, PointImpl.cs:67-70,
# CircleImpl.cs:78-81)
# ---------------------------------------------------------------------------

_BUFD = "(cast(0.37 as double) + (s_suppkey % 89) * cast(0.53 as double))"


def q_buffer_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GetBuffered over the five bufferable kinds: rect (pole-touch
    world wrap + lon-skew expansion), point (-> circle), circle (radius
    grows), buffered line (buf grows + lon-skew bbox expansion,
    BufferedLine.cs:160-182), and POLYGON (planar Minkowski buffer with
    round joins, NtsGeometry.cs:175-180 -> NTS Buffer semantics).
    Distances hit the pole-touch and plain branches.

    The polygon family is verified two ways: the ANALYTIC buffered bbox
    (vertex bbox +- d, world-clamped) and four PIP probes against the
    buffered ring — an edge probe at 0.5d/1.5d beyond the bottom edge
    and a vertex probe at 0.99d/1.01d along a direction inside vertex
    v2's normal cone (0.99 < cos(ARC_STEP/2) = 0.9952, so the inscribed
    arc discretization cannot flip the verdicts)."""
    from . import functions as SF
    sup = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        f"{RMINX} AS sminx", f"{RMAXX} AS smaxx",
        f"{RMINY} AS sminy", f"{RMAXY} AS smaxy",
        f"{SCX} AS cx", f"{SCY} AS cy", f"{SR} AS r",
        f"{_BUFD} AS d")
    env = F.expr("concat('ENVELOPE(', cast(sminx as string), ', ', cast(smaxx as string),"
                 " ', ', cast(smaxy as string), ', ', cast(sminy as string), ')')")
    pw = F.expr("concat('POINT(', cast(cx as string), ' ', cast(cy as string), ')')")
    cw = F.expr("concat('BUFFER(POINT(', cast(cx as string), ' ', cast(cy as string), '), ',"
                " cast(r as string), ')')")
    lw = F.expr("concat('BUFFER(LINESTRING(', cast(sminx as string), ' ', cast(sminy as string),"
                " ', ', cast(smaxx as string), ' ', cast(smaxy as string), '), ',"
                " cast((r / 7.0) as string), ')')")
    gw = F.expr(
        "concat('POLYGON((', cast(cx as string), ' ',"
        " cast((cy - 10.000357) as string), ', ',"
        " cast((cx + 24.000713) as string), ' ',"
        " cast((cy - 10.000357) as string), ', ',"
        " cast((cx + 12.000251) as string), ' ',"
        " cast((cy + 14.000509) as string), ', ',"
        " cast(cx as string), ' ', cast((cy - 10.000357) as string), '))')")
    sdf = (sup.withColumn("sr", SF.st_from_wkt(env))
              .withColumn("sp", SF.st_from_wkt(pw))
              .withColumn("sc", SF.st_from_wkt(cw))
              .withColumn("sl", SF.st_from_wkt(lw))
              .withColumn("sg", SF.st_from_wkt(gw)))

    def buf(col):
        return SF.st_buffer(F.col(col), F.col("d"))
    out = (sdf.withColumn("br", buf("sr"))
              .withColumn("bp", buf("sp"))
              .withColumn("bc", buf("sc"))
              .withColumn("bl", buf("sl"))
              .withColumn("bg", buf("sg")))
    # PIP probes against the buffered triangle (see docstring); the
    # bottom edge (v1->v2) has outward normal (0,-1) and v2's normal
    # cone spans angle -90deg..+26.6deg, so (1,-1)/sqrt(2) is inside it
    # for EVERY row (the triangle shape is fixed, only translated).
    s2 = 0.7071067811865476
    em_x, em_y = F.col("cx") + 12.0003565, F.col("cy") - 10.000357
    v2x, v2y = F.col("cx") + 24.000713, F.col("cy") - 10.000357
    d_ = F.col("d")

    # --- EXACT concave (L-shape) buffer and erosion, driver-checked.
    # The L varies only with (jv, dv) modulo translation, so the
    # strip-union kernel runs once per combo (<= 35 rows, local frame at
    # the origin) and broadcast-joins back — buffers commute with
    # translation exactly. cbf_* (buffer by d) verify: analytic bbox,
    # single output ring, notch coverage near the reflex corner (IN at
    # 0.35d diagonal), the DEEP notch staying uncovered (a hull superset
    # would cover it), and the convex-vertex arc at 0.99d/1.01d (inside
    # the 32-gon inscription margin cos(pi/32) = 0.99518). cer_*
    # (erosion by d, the L's two arms each shrunk by d) verify: the
    # eroded bbox, a single ring, the bottom wall probed at 1.01d (IN)
    # and 0.99d (OUT), and the reflex corner (5, 4) probed the same way
    # along the interior diagonal, where the eroded boundary is the
    # corner's disc arc (an inscribed 32-gon, so 0.99d is still OUT).
    combos = sup.selectExpr("s_suppkey % 5 AS jv", "s_suppkey % 7 AS dv") \
                .distinct()
    lwj = F.expr(
        "concat('POLYGON((0 0, ', cast((12.0 + jv * 0.26) as string),"
        " ' 0, ', cast((12.0 + jv * 0.26) as string), ' 4, 5 4, 5 10,"
        " 0 10, 0 0))')")
    combos = combos.withColumn("dl2", F.expr("0.4 + dv * 0.17")) \
                   .withColumn("sg2", SF.st_from_wkt(lwj))
    combos = (combos.withColumn("bg2", SF.st_buffer(F.col("sg2"),
                                                    F.col("dl2")))
                    .withColumn("eg2", SF.st_buffer(F.col("sg2"),
                                                    -F.col("dl2"))))
    dl2, sq2 = F.col("dl2"), 0.7071067811865476

    def probe2(px, py, col="bg2"):
        return SF.st_relate_shape_point(F.col(col), px, py) == 2
    wjc = F.expr("12.0 + jv * 0.26")
    combos = combos.select(
        "jv", "dv", "dl2",
        F.col("bg2.minx").alias("cbf_lminx"),
        F.col("bg2.maxx").alias("cbf_lmaxx"),
        F.col("bg2.miny").alias("cbf_lminy"),
        F.col("bg2.maxy").alias("cbf_lmaxy"),
        (F.size(F.col("bg2.ring_offsets")) - 1).cast("int")
         .alias("cbf_rings"),
        probe2(F.lit(5.0) + 0.35 * dl2, F.lit(4.0) + 0.35 * dl2)
        .alias("cbf_notch_in"),
        probe2(F.lit(8.5), F.lit(7.0)).alias("cbf_notch_out"),
        probe2(wjc + 0.99 * dl2 * sq2, -0.99 * dl2 * sq2)
        .alias("cbf_vtx_in"),
        probe2(wjc + 1.01 * dl2 * sq2, -1.01 * dl2 * sq2)
        .alias("cbf_vtx_out"),
        F.col("eg2.minx").alias("cer_lminx"),
        F.col("eg2.maxx").alias("cer_lmaxx"),
        F.col("eg2.miny").alias("cer_lminy"),
        F.col("eg2.maxy").alias("cer_lmaxy"),
        (F.size(F.col("eg2.ring_offsets")) - 1).cast("int")
         .alias("cer_rings"),
        probe2(F.lit(8.5), 1.01 * dl2, "eg2").alias("cer_wall_in"),
        probe2(F.lit(8.5), 0.99 * dl2, "eg2").alias("cer_wall_out"),
        probe2(F.lit(5.0) - 1.01 * dl2 * sq2, F.lit(4.0) - 1.01 * dl2 * sq2,
               "eg2").alias("cer_rfx_in"),
        probe2(F.lit(5.0) - 0.99 * dl2 * sq2, F.lit(4.0) - 0.99 * dl2 * sq2,
               "eg2").alias("cer_rfx_out"))
    out = (out.withColumn("jv", F.expr("s_suppkey % 5"))
              .withColumn("dv", F.expr("s_suppkey % 7"))
              .join(F.broadcast(combos), ["jv", "dv"]))

    def probe(px, py):
        return SF.st_relate_shape_point(F.col("bg"), px, py) == 2
    return out.select(
        "s_suppkey",
        F.round(F.col("br.minx"), 6).alias("rb_minx"),
        F.round(F.col("br.maxx"), 6).alias("rb_maxx"),
        F.col("br.miny").alias("rb_miny"),
        F.col("br.maxy").alias("rb_maxy"),
        F.col("bp.radius").alias("pb_r"),
        F.col("bc.radius").alias("cb_r"),
        F.col("bl.radius").alias("lb_r"),
        F.round(F.col("bl.minx"), 6).alias("lb_minx"),
        F.round(F.col("bl.maxx"), 6).alias("lb_maxx"),
        F.col("bl.miny").alias("lb_miny"),
        F.col("bl.maxy").alias("lb_maxy"),
        F.size(F.col("bl.xs")).cast("int").alias("lb_nv"),
        F.round(F.col("bg.minx"), 6).alias("gb_minx"),
        F.round(F.col("bg.maxx"), 6).alias("gb_maxx"),
        F.round(F.col("bg.miny"), 6).alias("gb_miny"),
        F.round(F.col("bg.maxy"), 6).alias("gb_maxy"),
        probe(em_x, em_y - 0.5 * d_).alias("gb_edge_in"),
        probe(em_x, em_y - 1.5 * d_).alias("gb_edge_out"),
        probe(v2x + 0.99 * d_ * s2, v2y - 0.99 * d_ * s2).alias("gb_vtx_in"),
        probe(v2x + 1.01 * d_ * s2, v2y - 1.01 * d_ * s2).alias("gb_vtx_out"),
        F.round(F.col("cx") + F.col("cbf_lminx"), 6).alias("cbf_minx"),
        F.round(F.col("cx") + F.col("cbf_lmaxx"), 6).alias("cbf_maxx"),
        F.round(F.col("cy") + F.col("cbf_lminy"), 6).alias("cbf_miny"),
        F.round(F.col("cy") + F.col("cbf_lmaxy"), 6).alias("cbf_maxy"),
        F.col("cbf_rings"), F.col("cbf_notch_in"), F.col("cbf_notch_out"),
        F.col("cbf_vtx_in"), F.col("cbf_vtx_out"),
        F.round(F.col("cx") + F.col("cer_lminx"), 6).alias("cer_minx"),
        F.round(F.col("cx") + F.col("cer_lmaxx"), 6).alias("cer_maxx"),
        F.round(F.col("cy") + F.col("cer_lminy"), 6).alias("cer_miny"),
        F.round(F.col("cy") + F.col("cer_lmaxy"), 6).alias("cer_maxy"),
        F.col("cer_rings"), F.col("cer_wall_in"), F.col("cer_wall_out"),
        F.col("cer_rfx_in"), F.col("cer_rfx_out"))


_BUF_DL = ("CASE WHEN d = 0 THEN 0.0 "
           "WHEN sin(radians(d)) > cos(radians(closest)) THEN 90.0 "
           "ELSE degrees(asin(sin(radians(d)) / cos(radians(closest)))) END")

ORACLE_BUFFER = f"""
WITH src AS (
  SELECT s_suppkey, {RMINX} AS sminx, {RMAXX} AS smaxx,
         {RMINY} AS sminy, {RMAXY} AS smaxy,
         {SCX} AS cx, {SCY} AS cy, {SR} AS r, {_BUFD} AS d
  FROM supplier
),
st AS (
  SELECT *, (smaxy + d >= 90.0) AS north, (sminy - d <= -90.0) AS south,
         CASE WHEN smaxy - sminy > 0 THEN smaxy ELSE sminy END AS closest,
         CASE WHEN smaxx - sminx < 0 THEN smaxx - sminx + 360.0
              ELSE smaxx - sminx END AS width
  FROM src
),
dd AS (
  SELECT *, ({_BUF_DL}) AS dl FROM st
),
br AS (
  SELECT *, (dl * 2.0 + width >= 360.0) AS wrap FROM dd
)
SELECT s_suppkey,
  round(CASE WHEN north OR south OR wrap THEN -180.0
             ELSE {_norm_lon_sql('sminx - dl')} END, 6) AS rb_minx,
  round(CASE WHEN north OR south OR wrap THEN 180.0
             ELSE {_norm_lon_sql('smaxx + dl')} END, 6) AS rb_maxx,
  CASE WHEN north THEN greatest(-90.0, sminy - d)
       WHEN south THEN -90.0 ELSE sminy - d END AS rb_miny,
  CASE WHEN north THEN 90.0
       WHEN south THEN least(90.0, smaxy + d) ELSE smaxy + d END AS rb_maxy,
  least(d, 180.0) AS pb_r,
  least(r + d, 180.0) AS cb_r,
  (r / 7.0 + d) AS lb_r,
  round(greatest(-180.0, least(sminx, smaxx) - degrees(atan2(
      sin(radians(r / 7.0 + d)) * cos(radians(greatest(abs(sminy), abs(smaxy)))),
      cos(radians(r / 7.0 + d)) *
        (1.0 - sin(radians(greatest(abs(sminy), abs(smaxy))))
             * sin(radians(greatest(abs(sminy), abs(smaxy)))))))), 6) AS lb_minx,
  round(least(180.0, greatest(sminx, smaxx) + degrees(atan2(
      sin(radians(r / 7.0 + d)) * cos(radians(greatest(abs(sminy), abs(smaxy)))),
      cos(radians(r / 7.0 + d)) *
        (1.0 - sin(radians(greatest(abs(sminy), abs(smaxy))))
             * sin(radians(greatest(abs(sminy), abs(smaxy)))))))), 6) AS lb_maxx,
  greatest(-90.0, least(sminy, smaxy) - (r / 7.0 + d)) AS lb_miny,
  least(90.0, greatest(sminy, smaxy) + (r / 7.0 + d)) AS lb_maxy,
  2 AS lb_nv,
  round(greatest(-180.0, cx - d), 6) AS gb_minx,
  round(least(180.0, cx + 24.000713 + d), 6) AS gb_maxx,
  round(greatest(-90.0, cy - 10.000357 - d), 6) AS gb_miny,
  round(least(90.0, cy + 14.000509 + d), 6) AS gb_maxy,
  true AS gb_edge_in,
  false AS gb_edge_out,
  true AS gb_vtx_in,
  false AS gb_vtx_out,
  round(cx + (0.0 - (0.4 + (s_suppkey % 7) * 0.17)), 6) AS cbf_minx,
  round(cx + ((12.0 + (s_suppkey % 5) * 0.26)
              + (0.4 + (s_suppkey % 7) * 0.17)), 6) AS cbf_maxx,
  round(cy + (0.0 - (0.4 + (s_suppkey % 7) * 0.17)), 6) AS cbf_miny,
  round(cy + (10.0 + (0.4 + (s_suppkey % 7) * 0.17)), 6) AS cbf_maxy,
  CAST(1 AS INT) AS cbf_rings,
  true AS cbf_notch_in,
  false AS cbf_notch_out,
  true AS cbf_vtx_in,
  false AS cbf_vtx_out,
  round(cx + (0.4 + (s_suppkey % 7) * 0.17), 6) AS cer_minx,
  round(cx + ((12.0 + (s_suppkey % 5) * 0.26)
              - (0.4 + (s_suppkey % 7) * 0.17)), 6) AS cer_maxx,
  round(cy + (0.4 + (s_suppkey % 7) * 0.17), 6) AS cer_miny,
  round(cy + (10.0 - (0.4 + (s_suppkey % 7) * 0.17)), 6) AS cer_maxy,
  CAST(1 AS INT) AS cer_rings,
  true AS cer_wall_in,
  false AS cer_wall_out,
  true AS cer_rfx_in,
  false AS cer_rfx_out
FROM br
"""


def q_embed_neardup_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded multi-table embedding near-dup (4 tables x 16 planes):
    the >=1e9-row scale path where single-table bucket sizes blow up."""
    from .operators.dedup import embedding_neardup_banded
    emb = _load(spark, sf_dir, "embeddings")
    return embedding_neardup_banded(emb, threshold=0.25,
                                    n_planes=16, n_tables=4)


_NEARDUP_BANDED_TABLES = "\nUNION ALL\n".join(
    f"SELECT vec_id, {t} AS tbl, ({_ddb_bucket(16, t * 16)}) AS bkt FROM embeddings"
    for t in range(4))

ORACLE_EMBED_NEARDUP_BANDED = f"""
WITH tagged AS (
{_NEARDUP_BANDED_TABLES}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, x.vec_id AS id_b
  FROM tagged a JOIN tagged x ON a.tbl = x.tbl AND a.bkt = x.bkt
                            AND a.vec_id < x.vec_id
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ref AS (
  SELECT id_a, id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
  FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
)
SELECT id_a, id_b, round(cosine, 6) AS cosine_r FROM ref WHERE cosine >= 0.25
"""


# concrete ngram-over-LSH oracle (template needs ORACLE_MINHASH_LSH defined)
ORACLE_NGRAM_LSH = ORACLE_NGRAM_LSH_TMPL.format(minhash=ORACLE_MINHASH_LSH)


def q_cell_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cover_cells + sub_cells as one tagged union (driver checks at
    most 50 queries; both emit (key, cell) string rows)."""
    a = q_cover_cells(spark, sf_dir).selectExpr(
        "'cover' AS src", "cast(rect_id as string) AS key", "cell")
    b = q_sub_cells(spark, sf_dir).selectExpr(
        "'sub' AS src", "cell1 AS key", "child AS cell")
    return a.unionByName(b)


ORACLE_CELL_SETS = f"""
SELECT 'cover' AS src, CAST(rect_id AS VARCHAR) AS key, cell
FROM ({ORACLE_COVER})
UNION ALL
SELECT 'sub' AS src, cell1 AS key, child AS cell
FROM ({ORACLE_SUB_CELLS})
"""


# --- distributed polygon x polygon JOIN (two layers, reference-point
# dedup — operators/joins.shape_shape_join) --------------------------------

_PPJ_BX = "(((n_nationkey * 9973) % 58000) / cast(200.0 as double) - 145.0)"
_PPJ_BY = "(((n_nationkey * 9967) % 24000) / cast(200.0 as double) - 60.0)"
_PPJ_B_OFF = [("0.0", "0.0"), ("31.000417", "0.500209"),
              ("15.500209", "21.000341")]


def q_polygon_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two polygon LAYERS joined distributed: supplier triangles x
    nation triangles through the cell-cover equi-join + exact
    polygon-polygon refine, duplicate pairs eliminated by the
    reference-point rule (no distinct). Returns non-disjoint pairs
    with their relation code."""
    from . import functions as SF
    from .operators.joins import shape_shape_join
    ta = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS lid",
        f"{TCX} AS x1t", f"({TCY} - 10.0) AS y1t",
        f"({TCX} + 24.0) AS x2t", f"({TCY} - 10.0) AS y2t",
        f"({TCX} + 12.0) AS x3t", f"({TCY} + 14.0) AS y3t")
    tb = _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS rid",
        *[f"({_PPJ_BX} + {dx}) AS u{i+1}" for i, (dx, _) in enumerate(_PPJ_B_OFF)],
        *[f"({_PPJ_BY} + {dy}) AS w{i+1}" for i, (_, dy) in enumerate(_PPJ_B_OFF)])

    def wkt3(xs, ys):
        parts = ", ".join(f"cast({x} as string), ' ', cast({y} as string)"
                          for x, y in zip(xs, ys))
        first = f"cast({xs[0]} as string), ' ', cast({ys[0]} as string)"
        inner = ", ', ', ".join([f"concat({p})" for p in
                                 [f"cast({x} as string), ' ', cast({y} as string)"
                                  for x, y in zip(xs, ys)] + [first]])
        return f"concat('POLYGON((', {inner}, '))')"

    la = ta.withColumn("lshape", SF.st_from_wkt(
        F.expr(wkt3(["x1t", "x2t", "x3t"], ["y1t", "y2t", "y3t"]))))
    rb = tb.withColumn("rshape", SF.st_from_wkt(
        F.expr(wkt3(["u1", "u2", "u3"], ["w1", "w2", "w3"]))))
    out = shape_shape_join(la.select("lid", "lshape"), rb.select("rid", "rshape"),
                           precision=2, predicate="all")
    pairs = (out.where(F.col("relation") != 3)
                .select("lid", "rid", F.col("relation").alias("rel")))
    return pairs.join(_dissolve_family(spark, sf_dir), "rid")


def _dissolve_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 5: driver-verifies operators/dissolve.dissolve. Three
    overlapping rects per nation (a chain r1-r2-r3; every 7th nation
    shifts r3 away so the union goes multipart), dissolved per nation;
    the exact union area has a closed inclusion-exclusion form over
    axis-aligned rects, which is the DuckDB oracle. Verifies the full
    path: rect members -> rings -> noded overlay union -> evenodd
    shoelace area, plus union bbox, part-kind (7 chain / 8 multipart),
    member count and the exact flag."""
    from . import functions as SF
    from .operators.dissolve import dissolve
    base = _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS rid",
        f"({_PPJ_BX} * 0.4) AS bx", f"({_PPJ_BY} * 0.5) AS by",
        "(0.1 + 0.3 * (n_nationkey % 5)) AS j",
        "(CASE WHEN n_nationkey % 7 = 0 THEN 40.0 ELSE 0.0 END) AS d")

    def rect_struct(x0, y0, x1, y1):
        return shape_col(kind=2, minx=F.expr(x0), maxx=F.expr(x1),
                         miny=F.expr(y0), maxy=F.expr(y1))

    rects = base.select("rid", F.explode(F.array(
        rect_struct("bx", "by", "bx + 10.0 + j", "by + 8.0"),
        rect_struct("bx + 6.0", "by + 4.0", "bx + 16.0 + j", "by + 12.0"),
        rect_struct("bx + 12.0 + d", "by + 2.0",
                    "bx + 20.0 + j + d", "by + 10.0 + j"),
    )).alias("shape"))
    dis = dissolve(rects, ["rid"], "shape")
    s = F.col("shape")
    return dis.select(
        "rid",
        F.round(SF.st_area(s, geo=False), 6).alias("d_area"),
        # union output is always a multipolygon record (kind 8, the
        # MULTIPOLYGON merge convention); the structural check is the
        # RING count: 1 for the connected chain, 2 for the multipart
        (F.size(s["ring_offsets"]) - 1).alias("d_parts"),
        F.round(s["minx"], 6).alias("d_minx"),
        F.round(s["maxx"], 6).alias("d_maxx"),
        F.round(s["miny"], 6).alias("d_miny"),
        F.round(s["maxy"], 6).alias("d_maxy"),
        F.col("n_members").cast("int").alias("d_n"),
        F.col("exact").alias("d_exact"))


_PPJ_TRI_B = [("u1", "w1"), ("u2", "w2"), ("u3", "w3")]


def _rect_ov_sql(p, q):
    """Overlap area of two axis-aligned rects (column-prefix naming
    px0..py1) — the inclusion-exclusion building block."""
    return (f"(greatest(0.0, least({p}x1, {q}x1) - greatest({p}x0, {q}x0))"
            f" * greatest(0.0, least({p}y1, {q}y1) - greatest({p}y0, {q}y0)))")


_OV3_SQL = ("(greatest(0.0, least(ax1, bx1, cx1) - greatest(ax0, bx0, cx0))"
            " * greatest(0.0, least(ay1, by1, cy1) - greatest(ay0, by0, cy0)))")

_DISSOLVE_FAMILY_SQL = f"""
dr AS (
  SELECT n_nationkey AS rid,
         ({_PPJ_BX} * 0.4) AS bx, ({_PPJ_BY} * 0.5) AS by,
         (0.1 + 0.3 * (n_nationkey % 5)) AS j,
         (CASE WHEN n_nationkey % 7 = 0 THEN 40.0 ELSE 0.0 END) AS d
  FROM nation
),
dre AS (
  SELECT rid,
    bx AS ax0, by AS ay0, bx + 10.0 + j AS ax1, by + 8.0 AS ay1,
    bx + 6.0 AS bx0, by + 4.0 AS by0, bx + 16.0 + j AS bx1, by + 12.0 AS by1,
    bx + 12.0 + d AS cx0, by + 2.0 AS cy0,
    bx + 20.0 + j + d AS cx1, by + 10.0 + j AS cy1
  FROM dr
),
dfam AS (
  SELECT rid,
    round((ax1-ax0)*(ay1-ay0) + (bx1-bx0)*(by1-by0) + (cx1-cx0)*(cy1-cy0)
          - {_rect_ov_sql('a', 'b')} - {_rect_ov_sql('a', 'c')}
          - {_rect_ov_sql('b', 'c')} + {_OV3_SQL}, 6) AS d_area,
    CAST(CASE WHEN rid % 7 = 0 THEN 2 ELSE 1 END AS INT) AS d_parts,
    round(least(ax0, bx0, cx0), 6) AS d_minx,
    round(greatest(ax1, bx1, cx1), 6) AS d_maxx,
    round(least(ay0, by0, cy0), 6) AS d_miny,
    round(greatest(ay1, by1, cy1), 6) AS d_maxy,
    CAST(3 AS INT) AS d_n, TRUE AS d_exact
  FROM dre
)
"""

ORACLE_POLYGON_POLYGON_JOIN = f"""
WITH ta AS (
  SELECT s_suppkey AS lid,
         {TCX} AS x1t, ({TCY} - 10.0) AS y1t,
         ({TCX} + 24.0) AS x2t, ({TCY} - 10.0) AS y2t,
         ({TCX} + 12.0) AS x3t, ({TCY} + 14.0) AS y3t
  FROM supplier
),
tb AS (
  SELECT n_nationkey AS rid,
         ({_PPJ_BX} + 0.0) AS u1, ({_PPJ_BY} + 0.0) AS w1,
         ({_PPJ_BX} + 31.000417) AS u2, ({_PPJ_BY} + 0.500209) AS w2,
         ({_PPJ_BX} + 15.500209) AS u3, ({_PPJ_BY} + 21.000341) AS w3
  FROM nation
),
pairs AS (SELECT * FROM ta CROSS JOIN tb),
{_DISSOLVE_FAMILY_SQL.strip()},
rels AS (
  SELECT lid, rid,
         CAST(CASE WHEN {_pp_covers(_PP_TRI_A, _PPJ_TRI_B)} THEN 2
                   WHEN {_pp_covers(_PPJ_TRI_B, _PP_TRI_A)} THEN 1
                   ELSE 4 END AS INT) AS rel
  FROM pairs
  WHERE NOT {_pp_sat_disjoint(_PP_TRI_A, _PPJ_TRI_B)}
)
SELECT rels.lid, rels.rid, rels.rel,
       dfam.d_area, dfam.d_parts, dfam.d_minx, dfam.d_maxx,
       dfam.d_miny, dfam.d_maxy, dfam.d_n, dfam.d_exact
FROM rels JOIN dfam ON rels.rid = dfam.rid
"""


# ---------------------------------------------------------------------------
# round 3: merged extent+collection (frees a slot under the 50-query
# driver cap) and the driver-verified multimodal pipeline
# ---------------------------------------------------------------------------

def q_extent_collection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extent_agg + collection_relate merged wide on the nation key —
    both are 25-row nation-keyed aggregates (50-query driver cap;
    every merged column family keeps its own oracle-verified values).

    Round 5: + the boolean GEOMETRY family (st_intersection /
    st_difference / st_union over a holed polygon x crossing rect-
    polygon, kernels/booleans noded overlay). All rings are
    axis-aligned with strictly transversal contact, so every output
    area has a closed inclusion-exclusion form the DuckDB oracle
    states directly; ring counts pin the member structure (C-cut
    core, single-ring difference, shell-plus-hole union)."""
    a = q_extent_agg(spark, sf_dir)
    b = q_collection_relate(spark, sf_dir) \
        .withColumnRenamed("nationkey", "c_nationkey")
    return a.join(b, "c_nationkey").join(
        _boolean_geometry_family(spark, sf_dir), "c_nationkey")


def _boolean_geometry_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import functions as SF
    base = _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS c_nationkey",
        f"({_BG_BX}) AS bx", f"({_BG_BY}) AS by",
        f"({_BG_J}) AS j")
    awkt = F.expr(
        "concat('POLYGON((',"
        " cast(bx as string), ' ', cast(by as string), ', ',"
        " cast((bx + 10.0 + j) as string), ' ', cast(by as string), ', ',"
        " cast((bx + 10.0 + j) as string), ' ', cast((by + 8.0) as string),"
        " ', ', cast(bx as string), ' ', cast((by + 8.0) as string), ', ',"
        " cast(bx as string), ' ', cast(by as string), '),"
        "(', cast((bx + 3.0) as string), ' ', cast((by + 3.1) as string),"
        " ', ', cast((bx + 5.3) as string), ' ', cast((by + 3.1) as string),"
        " ', ', cast((bx + 5.3) as string), ' ', cast((by + 5.2) as string),"
        " ', ', cast((bx + 3.0) as string), ' ', cast((by + 5.2) as string),"
        " ', ', cast((bx + 3.0) as string), ' ', cast((by + 3.1) as string),"
        " '))')")
    bwkt = F.expr(
        "concat('POLYGON((',"
        " cast((bx + 4.15) as string), ' ', cast((by + 1.05) as string),"
        " ', ', cast((bx + 13.7) as string), ' ',"
        " cast((by + 1.05) as string), ', ',"
        " cast((bx + 13.7) as string), ' ', cast((by + 6.45) as string),"
        " ', ', cast((bx + 4.15) as string), ' ',"
        " cast((by + 6.45) as string), ', ',"
        " cast((bx + 4.15) as string), ' ', cast((by + 1.05) as string),"
        " '))')")
    df = base.withColumn("ba", SF.st_from_wkt(awkt)) \
             .withColumn("bb", SF.st_from_wkt(bwkt))
    args = (F.col("ba"), F.col("bb"))
    # Each geometry is read twice below (area and ring count), so each
    # kernel is the once-copy. One projection for the three: chained
    # nondeterministic projections would each get their own copy of
    # the two parses.
    once = SF.evaluated_once
    df = df.select("c_nationkey",
                   once(SF.st_intersection)(*args).alias("gi"),
                   once(SF.st_difference)(*args).alias("gd"),
                   once(SF.st_union)(*args).alias("gu"))

    def fam(col, tag):
        s = F.col(col)
        return [F.round(SF.st_area(s, geo=False), 6).alias(f"{tag}_area"),
                (F.size(s["ring_offsets"]) - 1).cast("int")
                .alias(f"{tag}_rings")]
    return df.select("c_nationkey", *fam("gi", "ig"), *fam("gd", "dg"),
                     *fam("gu", "ug"))


_BG_BX = "(cast((n_nationkey * 13) % 40 as double) - 20.0 + 0.05)"
_BG_BY = "(cast((n_nationkey * 7) % 30 as double) - 15.0 + 0.05)"
_BG_J = "(cast(n_nationkey % 5 as double) * 0.3)"

ORACLE_EXTENT_COLLECTION = f"""
WITH ext AS ({ORACLE_EXTENT}),
col AS ({ORACLE_COLLECTION}),
bgb AS (
  SELECT n_nationkey AS c_nationkey, ({_BG_J}) AS j FROM nation
),
bgf AS (
  SELECT c_nationkey,
    -- |R1 n R2| - |H n R2|: core (4.15..10+j) x (1.05..6.45),
    -- hole bite (4.15..5.3) x (3.1..5.2)
    round((10.0 + j - 4.15) * (6.45 - 1.05)
          - (5.3 - 4.15) * (5.2 - 3.1), 6) AS ig_area,
    CAST(1 AS INT) AS ig_rings,
    -- |R1| - |H| - ig
    round((10.0 + j) * 8.0 - (5.3 - 3.0) * (5.2 - 3.1)
          - ((10.0 + j - 4.15) * (6.45 - 1.05)
             - (5.3 - 4.15) * (5.2 - 3.1)), 6) AS dg_area,
    CAST(1 AS INT) AS dg_rings,
    -- |R1| - |H| + |R2| - ig
    round((10.0 + j) * 8.0 - (5.3 - 3.0) * (5.2 - 3.1)
          + (13.7 - 4.15) * (6.45 - 1.05)
          - ((10.0 + j - 4.15) * (6.45 - 1.05)
             - (5.3 - 4.15) * (5.2 - 3.1)), 6) AS ug_area,
    CAST(2 AS INT) AS ug_rings
  FROM bgb
)
SELECT ext.c_nationkey, ext.minx, ext.maxx, ext.miny, ext.maxy,
       col.combined_rel,
       bgf.ig_area, bgf.ig_rings, bgf.dg_area, bgf.dg_rings,
       bgf.ug_area, bgf.ug_rings
FROM ext JOIN col ON ext.c_nationkey = col.nationkey
JOIN bgf ON ext.c_nationkey = bgf.c_nationkey
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal media pipeline, driver-verified END TO END: binary
    payload synthesis (pure function of media_ref) -> mapInPandas
    decode of the binary column -> JVM higher-order-function sample
    stats -> video frame sampling (slice/explode). The deterministic
    FAKE codec (operators/multimodal._fake_payload) makes every decode
    output oracle-reproducible in SQL, so the Spark-side plumbing —
    binary columns, typed meta, Arrow batch shapes, per-modality
    dims — is hash-checked, not just unit-tested."""
    from .operators.multimodal import (decode_media, generate_media,
                                       media_features, sample_frames)
    refs = _load(spark, sf_dir, "part").selectExpr(
        "concat('media://item/', cast(p_partkey as string)) AS media_ref")
    # spread the refs across cores BEFORE the Python decode: the tiny
    # part scan is a single file split, which would serialize the
    # mapInPandas stage (at scale the media table arrives in thousands
    # of splits and this repartition is unnecessary/free-riding on the
    # scan layout; here it shuffles only narrow ref strings)
    refs = refs.repartition(spark.sparkContext.defaultParallelism)
    # materialize the decode ONCE: three downstream branches (stats,
    # dims, frame sampling) would otherwise re-run the mapInPandas
    # decode per branch — spillable via spark.spatial4n.stageDir
    # (staging.stage), else an in-memory localCheckpoint
    from .staging import stage
    dec = stage(decode_media(generate_media(spark, refs, dedup_refs=False)),
                "mm_decode")
    feats = media_features(dec)
    dims = dec.select("media_ref", "width", "height", "channels")
    fr = (sample_frames(dec, every_n=2)
          .groupBy("media_ref").agg(F.count("*").cast("int").alias("frames")))
    out = feats.join(dims, "media_ref").join(fr, "media_ref", "left")
    return out.select(
        "media_ref", "modality",
        F.col("n_samples").cast("int").alias("n_samples"),
        "width", "height", "channels",
        F.round("sample_mean", 6).alias("mean6"),
        F.round("sample_std", 6).alias("std6"),
        F.round("sample_min", 6).alias("min6"),
        F.round("sample_max", 6).alias("max6"),
        "frames")


# The FAKE codec layout (multimodal._fake_payload / _decode_samples):
# seed = byte-sum(ref) % 9973; kind = seed % 3 (0 image, 1 audio,
# 2 video); samples[i] = (seed*31 + i*7) % 251 as uint8 -> float32/255.
# DuckDB's FLOAT division is bit-identical to NumPy float32 (verified),
# and both engines fold the f64 casts sequentially.
ORACLE_MULTIMODAL = """
WITH refs AS (
  SELECT concat('media://item/', CAST(p_partkey AS VARCHAR)) AS media_ref
  FROM part
),
sd AS (
  SELECT media_ref,
         CAST(list_aggregate(list_transform(range(1, length(media_ref) + 1),
             i -> ascii(substring(media_ref, CAST(i AS INT), 1))), 'sum')
           % 9973 AS BIGINT) AS seed
  FROM refs
),
d AS (
  SELECT media_ref, seed, seed % 3 AS kind,
         CASE seed % 3 WHEN 0 THEN 8 + seed % 8 WHEN 2 THEN 8 END AS w,
         CASE seed % 3 WHEN 0 THEN 8 + (seed // 8) % 8 WHEN 2 THEN 8 END AS h,
         CASE seed % 3 WHEN 0 THEN 3 WHEN 1 THEN 1
              ELSE 4 + seed % 4 END AS c
  FROM sd
),
nn AS (
  SELECT *, CASE kind WHEN 0 THEN w * h * 3 WHEN 1 THEN 64 + seed % 64
                 ELSE 64 * c END AS n
  FROM d
),
v AS (
  SELECT *, list_transform(range(0, n),
        i -> CAST(CAST((seed * 31 + i * 7) % 251 AS FLOAT)
                  / CAST(255 AS FLOAT) AS DOUBLE)) AS vals
  FROM nn
),
st AS (
  SELECT *, list_aggregate(vals, 'sum') AS s1,
         list_aggregate(list_transform(vals, x -> x * x), 'sum') AS s2,
         list_aggregate(vals, 'min') AS mn,
         list_aggregate(vals, 'max') AS mx
  FROM v
)
SELECT media_ref,
       CASE kind WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(n AS INT) AS n_samples,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(c AS INT) AS channels,
       round(s1 / n, 6) AS mean6,
       round(sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)), 6) AS std6,
       round(mn, 6) AS min6, round(mx, 6) AS max6,
       CASE WHEN kind = 2 THEN CAST((c + 1) // 2 AS INT) END AS frames
FROM st
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH candidate pairs -> distributed
    connected components (operators/components.py); every doc carries
    its cluster's canonical (min) doc id. Iterative algorithm — the
    oracle reproduces it with a recursive label-propagation CTE."""
    from .operators.dedup import dedup_clusters
    return dedup_clusters(_load(spark, sf_dir, "documents"),
                          n_hashes=16, bands=4, shingle_n=2)


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({ORACLE_MINHASH_LSH}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON r.node = e.a
)
SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# round 4: overlay-intersection join (bench-only entry — queries() sits
# at the driver's 50-slot cap; the overlay MEASURE is driver-verified
# through rect_rect_relate's ia_deg2 column, and the polygon path is
# pytest-verified against brute force in tests/test_overlay_op.py)
# ---------------------------------------------------------------------------

def q_overlay_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two polygon LAYERS overlaid distributed (supplier triangles x
    nation triangles, the polygon_polygon_join layers): every
    intersecting pair with its exact planar intersection area and both
    area fractions — the classic GIS overlay at engine scale."""
    from . import functions as SF
    from .operators.overlay import overlay_intersection_join
    ta = _load(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS lid",
        f"{TCX} AS x1t", f"({TCY} - 10.0) AS y1t",
        f"({TCX} + 24.0) AS x2t", f"({TCY} - 10.0) AS y2t",
        f"({TCX} + 12.0) AS x3t", f"({TCY} + 14.0) AS y3t")
    tb = _load(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS rid",
        *[f"({_PPJ_BX} + {dx}) AS u{i+1}" for i, (dx, _) in enumerate(_PPJ_B_OFF)],
        *[f"({_PPJ_BY} + {dy}) AS w{i+1}" for i, (_, dy) in enumerate(_PPJ_B_OFF)])

    def wkt3(xs, ys):
        first = f"cast({xs[0]} as string), ' ', cast({ys[0]} as string)"
        inner = ", ', ', ".join([f"concat({p})" for p in
                                 [f"cast({x} as string), ' ', cast({y} as string)"
                                  for x, y in zip(xs, ys)] + [first]])
        return f"concat('POLYGON((', {inner}, '))')"

    la = ta.withColumn("lshape", SF.st_from_wkt(
        F.expr(wkt3(["x1t", "x2t", "x3t"], ["y1t", "y2t", "y3t"]))))
    rb = tb.withColumn("rshape", SF.st_from_wkt(
        F.expr(wkt3(["u1", "u2", "u3"], ["w1", "w2", "w3"]))))
    out = overlay_intersection_join(
        la.select("lid", "lshape"), rb.select("rid", "rshape"),
        precision=2, with_fracs=True)
    return out.select("lid", "rid",
                      F.round("inter_area_deg2", 4).alias("ia_deg2"),
                      F.round("frac_left", 6).alias("fl"),
                      F.round("frac_right", 6).alias("fr"))
