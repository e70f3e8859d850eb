"""Distributed spatial joins: the coarse/refine cell-index skeleton.

Pattern (SURVEY.md section 2.6): shapes -> tile cover (explode) ->
equi-join on cell_id against point cells -> cheap vectorized bbox gate
-> exact relate kernel refine. A (point, shape) pair appears at most
once by construction: a point lives in exactly ONE cell at a level and
a shape's cover set has no duplicates — no post-join dedup shuffle.

Every cell key runs in whole-stage codegen, built from SQL fragments
by one builder in `functions`: a point's code is `st_cell_code_col`,
and every fixed-level cover (shapes, slim closure bboxes, circle
boxes, zones) is `with_cover_codes`, one `explode(sequence)` generate
plus the Morton spread. Python runs only in the exact refines.

Scale levers:
- broadcast(shape_cover) when the shape side is small (the common
  query-shapes-vs-planet case);
- salting for hot cells: point side gets cell_id+salt, shape side is
  replicated x salt (only when shuffling);
- AQE skew-join as the runtime backstop (session.py).
"""
from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import functions as SF
from ..kernels import relation as REL
from ..plans.strategy import JoinPlan


def with_point_cell(points: DataFrame, x: str = "x", y: str = "y",
                    precision: int = 6, cell_col: str = "cell_id",
                    codes: bool = True) -> DataFrame:
    """Assign each point its (single) cell, as a pure Column expression
    (Morton bit-spread, whole-stage codegen, no Python).

    codes=True (default) gives the int64 interleaved-bit cell code, the
    join key; codes=False spells it as the reference-compatible geohash
    string.
    """
    cell = SF.st_cell_code_col if codes else SF.st_cell
    return points.withColumn(cell_col, cell(f"`{y}`", f"`{x}`", precision))


def _bbox_sql(shape_col: str) -> tuple:
    """SQL fragments of a shape struct's materialized bbox fields."""
    return tuple(f"`{shape_col}`.`{f}`" for f in ("minx", "maxx", "miny", "maxy"))


_SLIM_BBOX = ("`__minx`", "`__maxx`", "`__miny`", "`__maxy`")


def with_shape_cover(shapes: DataFrame, shape_col: str = "shape",
                     precision: int = 6, cover_col: str = "cover_cell",
                     codes: bool = False) -> DataFrame:
    """Explode each shape to its covering cells (bbox cover).

    The bbox is the shape struct's materialized minx/maxx/miny/maxy
    (dateline-aware), so circles/polygons/rects all cover correctly.
    The cover is SF.with_cover_codes (whole-stage codegen, no Python);
    codes=True keeps the int64 codes, codes=False spells them as
    reference-compatible geohash strings.
    """
    out = SF.with_cover_codes(shapes, *_bbox_sql(shape_col), precision,
                              cover_col)
    if codes:
        return out
    return out.withColumn(cover_col, F.expr(
        SF._geohash_sql(f"`{cover_col}`", precision)))


def point_in_shape_join(points: DataFrame, shapes: DataFrame, plan: JoinPlan,
                        point_x: str = "x", point_y: str = "y",
                        shape_col: str = "shape",
                        how: str = "inner",
                        shape_id: str | None = None) -> DataFrame:
    """Spatial join: rows where shape covers point (relate == CONTAINS).

    `how`: inner (pairs), leftsemi (points hitting any shape),
    leftanti (points hitting none).

    `shape_id`: name of a unique shape-key column. When given (and the
    plan broadcasts), the join switches to the CLOSURE REFINE: the
    layer's vertex arrays are collected once into a table captured by
    the refine UDF, the broadcast side slims to (id, bbox, cover_cell),
    and the Arrow refine input shrinks to (id, x, y) — instead of
    shipping each shape's full vertex arrays once per candidate row
    (the dominant Arrow payload when big polygons meet many points).
    Output carries the point columns + shape_id + relation (no shape
    struct). Falls back to the struct path above 2M total vertices.
    """
    if (shape_id is not None
            and (plan.broadcast_shapes or getattr(plan, "auto_index", False))
            and not (plan.shape_kinds is not None
                     and set(plan.shape_kinds) <= {2})):
        out = _point_in_shape_join_closure(points, shapes, plan,
                                           point_x, point_y, shape_col,
                                           shape_id)
        if out is not None:
            return _project_how(out, points, how)
    pts = with_point_cell(points, point_x, point_y, plan.precision, codes=True)
    cover = with_shape_cover(shapes, shape_col, plan.precision, codes=True)

    if plan.broadcast_shapes:
        cover = F.broadcast(cover)
        join_cond = pts["cell_id"] == cover["cover_cell"]
    elif plan.salt:
        # replicate shape rows across salt buckets; point picks one bucket
        n = plan.salt
        cover = cover.withColumn("__salt", F.explode(F.array(*[F.lit(i) for i in range(n)])))
        pts = pts.withColumn("__salt", F.pmod(F.hash(F.col(point_x), F.col(point_y)), F.lit(n)))
        join_cond = (pts["cell_id"] == cover["cover_cell"]) & (pts["__salt"] == cover["__salt"])
    else:
        join_cond = pts["cell_id"] == cover["cover_cell"]

    # semi/anti also join inner first: the refine must run before the
    # semi/anti projection, then project distinct point keys below.
    joined = pts.join(cover, join_cond, "inner")
    refined = _gate_and_refine(joined, shape_col, point_x, point_y,
                               plan.shape_kinds)
    refined = refined.drop("cover_cell", "__salt")
    return _project_how(refined, points, how)


def _slim_bbox(shapes: DataFrame, shape_col: str, shape_id: str) -> DataFrame:
    """Project the shape layer down to (id, bbox) — the only columns
    the closure-path join carries; vertex arrays stay in the closure."""
    s = F.col(shape_col)
    return shapes.select(
        shape_id,
        s["minx"].alias("__minx"), s["maxx"].alias("__maxx"),
        s["miny"].alias("__miny"), s["maxy"].alias("__maxy"))


def _point_in_shape_join_closure(points: DataFrame, shapes: DataFrame,
                                 plan: JoinPlan, point_x: str, point_y: str,
                                 shape_col: str, shape_id: str) -> DataFrame | None:
    """Closure-refine variant (see point_in_shape_join's shape_id doc).
    Returns None when the layer is too big for a task closure — the
    caller then runs the struct path."""
    from .refine import (collect_shape_table, convex_halfplanes,
                         make_closure_refine)
    table = collect_shape_table(shapes, shape_id, shape_col)
    if table is None:
        return None

    hp = convex_halfplanes(table)
    if hp is not None:
        # CONVEX FAST PATH: containment is AND_k(a_k*x + b_k*y + c_k
        # >= 0) over <=8 unrolled half-planes — a pure Column predicate
        # like the rect gate, so the whole join is whole-stage codegen
        # with ZERO Python stages. The broadcast side is rebuilt from
        # the driver-side table: (id, bbox, edge coefficients), padded
        # with the always-true plane (0, 0, 1).
        spark = points.sparkSession
        k_max = max(len(v) for v in hp.values())
        rows = []
        for sid, rec in table.items():
            coeffs = hp[sid] + [(0.0, 0.0, 1.0)] * (k_max - len(hp[sid]))
            rows.append((sid, rec["minx"], rec["maxx"],
                         rec["miny"], rec["maxy"],
                         *[v for abc in coeffs for v in abc]))
        cnames = [shape_id, "__minx", "__maxx", "__miny", "__maxy"] + \
                 [f"__{t}{k}" for k in range(k_max) for t in ("a", "b", "c")]
        slim = spark.createDataFrame(rows, cnames)
        cover = SF.with_cover_codes(slim, *_SLIM_BBOX, plan.precision)
        pts = with_point_cell(points, point_x, point_y, plan.precision,
                              codes=True)
        joined = pts.join(F.broadcast(cover),
                          pts["cell_id"] == cover["cover_cell"], "inner")
        px, py = F.col(point_x), F.col(point_y)
        cond = ((py >= F.col("__miny")) & (py <= F.col("__maxy"))
                & (px >= F.col("__minx")) & (px <= F.col("__maxx")))
        for k in range(k_max):
            cond = cond & (F.col(f"__a{k}") * px + F.col(f"__b{k}") * py
                           + F.col(f"__c{k}") >= 0.0)
        out = (joined.where(cond)
                     .withColumn("relation", F.lit(REL.CONTAINS).cast("tinyint")))
        return out.drop("cover_cell", "__minx", "__maxx", "__miny", "__maxy",
                        *[f"__{t}{k}" for k in range(k_max)
                          for t in ("a", "b", "c")])

    refine_udf = make_closure_refine(table)
    slim = _slim_bbox(shapes, shape_col, shape_id)
    cover = SF.with_cover_codes(slim, *_SLIM_BBOX, plan.precision)
    pts = with_point_cell(points, point_x, point_y, plan.precision, codes=True)
    joined = pts.join(F.broadcast(cover),
                      pts["cell_id"] == cover["cover_cell"], "inner")
    # dateline-aware bbox gate over the slim __min/__max columns, then
    # the closure refine
    px, py = F.col(point_x), F.col(point_y)
    maxx_u = F.when(F.col("__maxx") < F.col("__minx"),
                    F.col("__maxx") + 360.0).otherwise(F.col("__maxx"))
    px_shift = F.when(px < F.col("__minx"), px + 360.0).otherwise(
        F.when(px > maxx_u, px - 360.0).otherwise(px))
    bbox_ok = ((py >= F.col("__miny")) & (py <= F.col("__maxy"))
               & (px_shift >= F.col("__minx")) & (px_shift <= maxx_u))
    refined = (joined.where(bbox_ok)
               .where(refine_udf(F.col(shape_id), px, py) == REL.CONTAINS)
               .withColumn("relation", F.lit(REL.CONTAINS).cast("tinyint")))
    return refined.drop("cover_cell", "__minx", "__maxx", "__miny", "__maxy")


def _gate_and_refine(joined: DataFrame, shape_col: str,
                     point_x: str, point_y: str,
                     shape_kinds: tuple | None) -> DataFrame:
    """Shared tail of the point-in-shape joins: cheap vectorized bbox
    gate before the exact kernel (JVM-side, whole-stage codegen;
    dateline-aware via the +-360 shift), then the exact relate refine.

    Rect-only build side: the bbox gate IS the exact dateline-aware
    closed-rect containment (RectangleImpl.cs:176-209) — same
    comparisons, boundaries-in — so the Python refine is a no-op filter
    and is skipped; the join is then 100% JVM codegen downstream of the
    WKT parse. Otherwise: single UDF instance in the Filter
    (withColumn+where would make Catalyst evaluate the kernel twice);
    relation is CONTAINS by construction.
    """
    s = F.col(shape_col)
    px, py = F.col(point_x), F.col(point_y)
    px_shift = F.when(px < s["minx"], px + 360.0).otherwise(
        F.when(px > F.when(s["maxx"] < s["minx"], s["maxx"] + 360.0).otherwise(s["maxx"]),
               px - 360.0).otherwise(px))
    maxx_u = F.when(s["maxx"] < s["minx"], s["maxx"] + 360.0).otherwise(s["maxx"])
    bbox_ok = (py >= s["miny"]) & (py <= s["maxy"]) & \
              (px_shift >= s["minx"]) & (px_shift <= maxx_u)
    gated = joined.where(bbox_ok)
    if shape_kinds is not None and set(shape_kinds) <= {2}:  # KIND_RECT only
        return gated.withColumn("relation", F.lit(REL.CONTAINS).cast("tinyint"))
    return (gated
            .where(SF.st_relate_shape_point(s, px, py) == REL.CONTAINS)
            .withColumn("relation", F.lit(REL.CONTAINS).cast("tinyint")))


def _project_how(refined: DataFrame, points: DataFrame, how: str) -> DataFrame:
    if how == "inner":
        return refined
    hits = refined.select(*[F.col(c) for c in points.columns]).distinct()
    if how == "leftsemi":
        return points.join(hits, on=points.columns, how="leftsemi")
    if how == "leftanti":
        return points.join(hits, on=points.columns, how="leftanti")
    raise ValueError(how)


def _circle_candidates(points: DataFrame, queries: DataFrame,
                       radius: Column, plan: JoinPlan,
                       point_x: str, point_y: str,
                       query_x: str, query_y: str,
                       prefilter: bool = True) -> DataFrame:
    """(point, query) candidate pairs of per-query circles: circle bbox
    (CalcBoxByDistFromPtDEG semantics, pole/dateline handled) -> cell
    cover -> equi-join. `radius` (degrees) is read on the query side.

    `prefilter`: drop pairs whose codegen haversine exceeds the radius
    plus slack, so the Arrow stage downstream sees only near-ring
    candidates. Java and NumPy libm may differ by ulps, so the exact
    distance filter stays with the caller (see SF.haversine_deg_jvm).
    """
    qx, qy = F.col(query_x), F.col(query_y)
    q = queries.withColumn("__box", SF.st_circle_bbox(qx, qy, radius))
    q = SF.with_cover_codes(q, *_bbox_sql("__box"), plan.precision).drop("__box")
    pts = with_point_cell(points, point_x, point_y, plan.precision, codes=True)
    if plan.broadcast_shapes:
        q = F.broadcast(q)
    joined = (pts.join(q, pts["cell_id"] == q["cover_cell"], "inner")
                 .drop("cover_cell", "cell_id"))
    if prefilter:
        pre = SF.haversine_deg_jvm(F.col(point_x), F.col(point_y), qx, qy)
        joined = joined.where(pre <= radius + F.lit(SF.JVM_PREFILTER_SLACK))
    return joined


def distance_join(points: DataFrame, queries: DataFrame, radius_deg: float | Column,
                  plan: JoinPlan,
                  point_x: str = "x", point_y: str = "y",
                  query_x: str = "qx", query_y: str = "qy",
                  calculator: str = "haversine") -> DataFrame:
    """All (point, query) pairs within radius (degrees), exact.

    Query circles expand to bboxes -> cell cover -> equi-join -> exact
    distance refine. Returns the point and query columns plus
    `dist_deg`.
    """
    rad = radius_deg if isinstance(radius_deg, Column) else F.lit(float(radius_deg))
    joined = _circle_candidates(points, queries, rad, plan, point_x, point_y,
                                query_x, query_y,
                                prefilter=calculator == "haversine")
    dist = SF.st_distance_deg(F.col(point_x), F.col(point_y),
                              F.col(query_x), F.col(query_y), calculator)
    out = joined.withColumn("dist_deg", dist)
    return out.where(F.col("dist_deg") <= rad)


# precision of the kNN count grid: 1024 x 1024 cells of 0.35 x 0.18
# degrees. On the sf0.1 contract tables (15,000 points, 1,000 queries,
# k = 5, precision-2 join) it gives 54k cover-join candidates, against
# 75k when counting at precision 3 and 179k at the join's own 2.
_COUNT_PRECISION = 4


def _window_rings(batches, k: int, lon_n: int, lat_n: int):
    """mapInArrow body: for each query cell, the smallest ring r whose
    window of cells — lon indices li-r..li+r (wrapping), lat indices
    ti-r..ti+r (clamped at the poles) — holds >= k points.

    Input rows are (__li, __ti, __n): a cell's point count, or a null
    count for a cell holding a query. Output rows are (__li, __ti, __r)
    per query cell. Window sums read a 2-D cumulative sum of the dense
    count grid; the count grows with r, so r is found by a binary
    search, all query cells at once. A cell whose window never reaches
    k points (fewer than k points in total) gets the r whose window is
    the whole grid.
    """
    import pyarrow as pa
    batches = list(batches)
    if not batches:
        return
    t = pa.Table.from_batches(batches)
    li = t.column("__li").to_numpy()
    ti = t.column("__ti").to_numpy()
    cnt = t.column("__n").fill_null(-1).to_numpy()
    is_q = cnt < 0
    # sat[i, j]: points in lat rows < i and lon columns < j
    grid = np.zeros((lat_n + 1, lon_n + 1), dtype=np.int64)
    grid[ti[~is_q] + 1, li[~is_q] + 1] = cnt[~is_q]
    sat = grid.cumsum(axis=0).cumsum(axis=1)
    qt, ql = ti[is_q], li[is_q]

    def rect(a, b, c0, c1):  # points in lat rows a..b, lon columns c0..c1
        return sat[b + 1, c1 + 1] - sat[a, c1 + 1] - sat[b + 1, c0] + sat[a, c0]

    def window(r):
        a = np.maximum(qt - r, 0)
        b = np.minimum(qt + r, lat_n - 1)
        full = 2 * r + 1 >= lon_n
        c0 = np.where(full, 0, np.mod(ql - r, lon_n))
        c1 = np.where(full, lon_n - 1, np.mod(ql + r, lon_n))
        wrap = c0 > c1
        return np.where(wrap,
                        rect(a, b, c0, np.full_like(c0, lon_n - 1))
                        + rect(a, b, np.zeros_like(c1), c1),
                        rect(a, b, c0, c1))

    lo = np.zeros(len(qt), dtype=np.int64)
    hi = np.full(len(qt), max(lon_n // 2, lat_n - 1), dtype=np.int64)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = window(mid) >= k
        hi = np.where(ok, mid, hi)
        lo = np.where(ok, lo, mid + 1)
    yield pa.RecordBatch.from_arrays(
        [pa.array(ql), pa.array(qt), pa.array(lo)],
        names=["__li", "__ti", "__r"])


def _certified_radius(qx: Column, qy: Column, li: Column, ti: Column,
                      r: Column, lon_n: int, lat_n: int) -> Column:
    """Great-circle distance (degrees) from q to the farthest point of
    its ring-r window's closed lat/lon box: every point counted in the
    window lies within it.

    For fixed latitude φ the distance grows with |Δλ| up to 180°, so the
    farthest points sit at the box's largest wrapped |Δλ| (180° when the
    box reaches q's antimeridian or wraps every longitude). Along that
    meridian cos d = A·sin φ + B·cos φ (A = sin φq, B = cos φq·cos Δλ)
    is one sinusoid; on the box's latitude interval its minimum lies at
    an end, or at the trough φ = atan2(-A, -B) when B < 0 and the trough
    falls inside, where cos d = -sqrt(A² + B²). Near the antipode acos
    loses digits, so there the bound is the whole sphere (180°); else a
    1e-9° margin covers the rounding of the bound itself.
    """
    w, h = 360.0 / lon_n, 180.0 / lat_n
    lam_a = (li - r).cast("double") * w - 180.0
    lam_b = (li + r + 1).cast("double") * w - 180.0
    dlon = F.least(F.lit(180.0), F.greatest(qx - lam_a, lam_b - qx))
    phi_a = F.radians(F.greatest(F.lit(-90.0),
                                 (ti - r).cast("double") * h - 90.0))
    phi_b = F.radians(F.least(F.lit(90.0),
                              (ti + r + 1).cast("double") * h - 90.0))
    a = F.sin(F.radians(qy))
    b = F.cos(F.radians(qy)) * F.cos(F.radians(dlon))
    trough = F.atan2(-a, -b)
    cos_min = F.least(
        a * F.sin(phi_a) + b * F.cos(phi_a),
        a * F.sin(phi_b) + b * F.cos(phi_b),
        F.when((b < 0) & (trough >= phi_a) & (trough <= phi_b),
               -F.sqrt(a * a + b * b)).otherwise(F.lit(1.0)))
    return (F.when(cos_min <= -0.999, F.lit(180.0))
             .otherwise(F.degrees(F.acos(F.least(F.lit(1.0), cos_min)))
                        + 1e-9))


def knn_join(points: DataFrame, queries: DataFrame, k: int, plan: JoinPlan,
             max_radius: float | None = None,
             point_x: str = "x", point_y: str = "y",
             query_x: str = "qx", query_y: str = "qy",
             query_id: str = "query_id",
             tie_break: str | None = None) -> DataFrame:
    """The k nearest points of each query, ranked by exact Vincenty
    distance (`dist_exact`, degrees) and then `tie_break`; `knn_rank`
    numbers them 1..k. Returns the point columns, the query columns,
    `dist_exact` and `knn_rank`.

    `max_radius=None` is exact for any data: every query gets its k
    nearest points (all of them when there are fewer than k).
    `max_radius` (degrees) keeps only points within that haversine
    distance, so a query with fewer than k of them gets fewer rows.

    One lazy plan; building it starts no Spark job.
    1. Points are counted per cell of a fixed 2^20-cell grid
       (geohash precision 4, `_COUNT_PRECISION`).
    2. Each query cell gets the smallest ring r whose (2r+1)² cell
       window holds >= k points (one `mapInArrow` over the counts,
       `_window_rings`), joined back to the queries by cell.
    3. Each query's certified radius R_q is the distance to the farthest
       point of that window's box (`_certified_radius`): the window
       holds k points within R_q, so the k nearest all lie within R_q.
    4. One cover join at radius min(R_q, max_radius), a codegen
       haversine prefilter, one Arrow pass for haversine and Vincenty,
       then row_number() <= k.
    """
    cp = _COUNT_PRECISION
    lon_n = 1 << ((cp * 5 + 1) // 2)
    lat_n = 1 << (cp * 5 // 2)
    li = SF.st_axis_idx_col(f"`{query_x}`", "lon", cp).alias("__li")
    ti = SF.st_axis_idx_col(f"`{query_y}`", "lat", cp).alias("__ti")
    counts = (points.select(
                  SF.st_axis_idx_col(f"`{point_x}`", "lon", cp).alias("__li"),
                  SF.st_axis_idx_col(f"`{point_y}`", "lat", cp).alias("__ti"))
                    .groupBy("__li", "__ti").agg(F.count("*").alias("__n")))
    query_cells = (queries.select(li, ti).distinct()
                          .withColumn("__n", F.lit(None).cast("long")))
    rings = (counts.unionByName(query_cells).coalesce(1)
                   .mapInArrow(partial(_window_rings, k=k, lon_n=lon_n,
                                       lat_n=lat_n),
                               "__li long, __ti long, __r long"))
    qx, qy = F.col(query_x), F.col(query_y)
    rad = _certified_radius(qx, qy, F.col("__li"), F.col("__ti"),
                            F.col("__r"), lon_n, lat_n)
    if max_radius is not None:
        rad = F.least(rad, F.lit(float(max_radius)))
    q = (queries.withColumn("__li", li).withColumn("__ti", ti)
                .join(F.broadcast(rings), ["__li", "__ti"])
                .select(*queries.columns, rad.alias("__rad")))
    cand = _circle_candidates(points, q, F.col("__rad"), plan,
                              point_x, point_y, query_x, query_y)
    d = SF.evaluated_once(SF.st_hav_vin)(F.col(point_x), F.col(point_y),
                                         qx, qy)
    cand = cand.withColumn("__d", d)
    if max_radius is not None:
        cand = cand.where(F.col("__d.hav") <= float(max_radius))
    cand = cand.withColumn("dist_exact", F.col("__d.vin")).drop("__d", "__rad")
    order = [F.col("dist_exact").asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(query_id).orderBy(*order)
    return (cand.withColumn("knn_rank", F.row_number().over(w))
                .where(F.col("knn_rank") <= k))


def shape_shape_join(left: DataFrame, right: DataFrame, precision: int,
                     left_shape: str = "lshape", right_shape: str = "rshape",
                     broadcast_right: bool = True,
                     predicate: str = "intersects",
                     salt: int | None = None,
                     shape_kinds: tuple | None = None) -> DataFrame:
    """Distributed polygon(shape) x polygon(shape) spatial join.

    The two-layer join (admin boundaries x land parcels) — both sides
    explode to their bbox cover cells, equi-join on the int64 cell
    code, then the exact polygon-polygon kernel refines
    (NtsGeometry.cs:283-314 semantics via st_relate_polygon_polygon).

    Duplicate elimination is the REFERENCE-POINT rule, not a distinct:
    a candidate pair meets once per shared cover cell, so the pair is
    kept only in the cell that contains the top-left corner of the two
    bboxes' intersection — a pure Column predicate, no post-join
    dedup shuffle (the standard spatial-join trick: the reference
    point lies in exactly one cell, and that cell is always a shared
    cover cell). Assumes page-split (non-dateline-crossing) bboxes,
    which is what the WKT parser produces for crossing polygons.

    `predicate`: "intersects" (not disjoint), "contains" (left covers
    right), "within" (left covered by right), "all" (keep the
    relation code column, no filter), or "bbox" (reference-point-
    deduped bbox-gated CANDIDATES, no exact refine — for consumers
    whose own measure subsumes the relate, e.g. the overlay join's
    area > 0 filter).

    `salt` (shuffle path only): hot-cell skew lever for two HUGE
    layers — the left side picks a salt bucket by row hash, the right
    side replicates across all buckets, and the equi-join key becomes
    (cell, salt), splitting a hot cell's probe rows across `salt`
    tasks. AQE skew-join (session.py) is the runtime backstop.

    `shape_kinds=(2, 2)`: declares both layers all-rect (page-split,
    like every bbox this join consumes). For predicate "intersects"
    the closed bbox gate below IS the exact rect-rect relate
    (RectangleImpl.Relate(rect) on planar rects), so the Python refine
    is skipped entirely and the whole join runs inside codegen — the
    two-layer twin of the rects-only gate in point_in_shape_join.
    """
    ls, rs = F.col(left_shape), F.col(right_shape)
    # Per-side min-corner axis indices are PRECOMPUTED in this projection
    # (whole-stage codegen + subexpression elimination apply here). The
    # post-join reference-cell filter then rebuilds the cell code from
    # these four plain int columns — keeping the filter condition small:
    # filters get no subexpression elimination, so each byte-table
    # lookup of the Morton spread would carry its own copy of a
    # greatest-of-struct-fields axis index tree (a copy per byte, per
    # axis). axis_idx is monotone in the coordinate, so
    # idx(greatest(lminx, rminx)) == greatest(lidx, ridx) and the
    # reference-point dedup semantics are unchanged.
    lbox, rbox = _bbox_sql(left_shape), _bbox_sql(right_shape)
    lc = SF.with_cover_codes(
        left.withColumn("__lli0", SF.st_axis_idx_col(lbox[0], "lon", precision))
            .withColumn("__lti0", SF.st_axis_idx_col(lbox[2], "lat", precision)),
        *lbox, precision, "__cell")
    rc = SF.with_cover_codes(
        right.withColumn("__rli0", SF.st_axis_idx_col(rbox[0], "lon", precision))
             .withColumn("__rti0", SF.st_axis_idx_col(rbox[2], "lat", precision)),
        *rbox, precision, "__cell")
    if broadcast_right:
        rc = F.broadcast(rc)
        j = lc.join(rc, "__cell", "inner")
    elif salt:
        lc = lc.withColumn("__salt", F.pmod(
            F.hash(*[lc[c] for c in left.columns if c != left_shape]),
            F.lit(salt)))
        rc = rc.withColumn("__salt", F.explode(
            F.array(*[F.lit(i) for i in range(salt)])))
        j = lc.join(rc, ["__cell", "__salt"], "inner").drop("__salt")
    else:
        j = lc.join(rc, "__cell", "inner")

    # bbox gate (cheap, codegen) — also defines the reference point:
    # the cell containing (greatest(minx), greatest(miny)) of the two
    # bboxes, rebuilt from the precomputed per-side axis indices.
    bbox_ok = ((ls["minx"] <= rs["maxx"]) & (ls["maxx"] >= rs["minx"])
               & (ls["miny"] <= rs["maxy"]) & (ls["maxy"] >= rs["miny"]))
    ref_cell = SF.st_morton_col("greatest(`__lli0`, `__rli0`)",
                                "greatest(`__lti0`, `__rti0`)",
                                precision)
    gated = (j.where(bbox_ok & (F.col("__cell") == ref_cell))
              .drop("__cell", "__lli0", "__lti0", "__rli0", "__rti0"))

    if predicate == "bbox" or (shape_kinds == (2, 2)
                               and predicate == "intersects"):
        return gated
    if predicate == "all":
        # callers filter on `relation`: the once-copy keeps that filter
        # from running the relate a second time
        rel = SF.evaluated_once(SF.st_relate_polygon_polygon)(ls, rs)
        return gated.withColumn("relation", rel.cast("int"))
    rel = SF.st_relate_polygon_polygon(ls, rs)
    if predicate == "intersects":
        cond = rel != REL.DISJOINT
    elif predicate == "contains":
        cond = rel == REL.CONTAINS
    elif predicate == "within":
        cond = rel == REL.WITHIN
    else:
        raise ValueError(predicate)
    return gated.where(cond)
