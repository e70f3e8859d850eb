"""Distributed spatial joins: the coarse/refine cell-index skeleton.

Pattern (SURVEY.md section 2.6): shapes -> tile cover (explode) ->
equi-join on cell_id against point cells -> cheap vectorized bbox gate
-> exact relate kernel refine. A (point, shape) pair appears at most
once by construction: a point lives in exactly ONE cell at a level and
a shape's cover set has no duplicates — no post-join dedup shuffle.

Scale levers:
- broadcast(shape_cover) when the shape side is small (the common
  query-shapes-vs-planet case);
- salting for hot cells: point side gets cell_id+salt, shape side is
  replicated x salt (only when shuffling);
- AQE skew-join as the runtime backstop (session.py).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import functions as SF
from ..kernels import relation as REL
from ..plans.strategy import JoinPlan


def with_point_cell(points: DataFrame, x: str = "x", y: str = "y",
                    precision: int = 6, cell_col: str = "cell_id",
                    codes: bool = True) -> DataFrame:
    """Assign each point its (single) cell.

    codes=True (default) uses the int64 interleaved-bit cell code
    computed as a PURE Column expression (Morton bit-spread, whole-stage
    codegen, zero Arrow exchange) — the join fast path. codes=False
    produces the reference-compatible geohash string via the kernel.
    """
    if codes:
        # string fragments: single-F.expr construction (the Column form
        # costs ~150 py4j roundtrips of driver time per call site)
        return points.withColumn(
            cell_col, SF.st_cell_code_col(f"`{y}`", f"`{x}`", precision))
    return points.withColumn(cell_col, SF.st_cell(F.col(y), F.col(x), precision))


def with_shape_cover(shapes: DataFrame, shape_col: str = "shape",
                     precision: int = 6, cover_col: str = "cover_cell",
                     codes: bool = False) -> DataFrame:
    """Explode each shape to its covering cells (bbox cover).

    The bbox is the shape struct's materialized minx/maxx/miny/maxy
    (dateline-aware), so circles/polygons/rects all cover correctly.
    codes=True builds int64 codes with the pure-JVM grid-range
    expression (no Python on the shape side); codes=False produces
    reference-compatible geohash strings via the kernel.
    """
    s = F.col(shape_col)
    if codes:
        cells = SF.st_cover_codes_col(
            f"`{shape_col}`.`minx`", f"`{shape_col}`.`maxx`",
            f"`{shape_col}`.`miny`", f"`{shape_col}`.`maxy`", precision)
    else:
        cells = SF.st_cover_cells(s["minx"], s["maxx"],
                                  s["miny"], s["maxy"], precision)
    # explode_outer + null-filter on the OUTPUT column, not explode:
    # plain explode triggers InferFiltersFromGenerate, whose
    # size(__cells)>0 pre-filter extracts a SECOND ArrowEvalPython node
    # evaluating the cover UDF twice per row (observed in the physical
    # plan). Outer generates are exempt from the rule; empty/null covers
    # drop in the null-filter instead — identical output, one UDF pass.
    return (shapes
            .withColumn("__cells", cells)
            .withColumn(cover_col, F.explode_outer("__cells"))
            .drop("__cells")
            .where(F.col(cover_col).isNotNull()))


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


def _closure_gate_refine(joined: DataFrame, shape_id: str,
                         point_x: str, point_y: str, refine_udf) -> DataFrame:
    """Dateline-aware bbox gate over the slim __min/__max columns, then
    the closure refine — the tail shared by the fixed-level and
    adaptive closure paths."""
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
        cover = (slim.withColumn("cover_cell", F.explode_outer(
                     SF.st_cover_codes_col("`__minx`", "`__maxx`",
                                           "`__miny`", "`__maxy`",
                                           plan.precision)))
                     .where(F.col("cover_cell").isNotNull()))
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
    cover = (slim.withColumn("cover_cell", F.explode_outer(
                 SF.st_cover_codes_col("`__minx`", "`__maxx`",
                                       "`__miny`", "`__maxy`",
                                       plan.precision)))
                 .where(F.col("cover_cell").isNotNull()))
    pts = with_point_cell(points, point_x, point_y, plan.precision, codes=True)
    joined = pts.join(F.broadcast(cover),
                      pts["cell_id"] == cover["cover_cell"], "inner")
    return _closure_gate_refine(joined, shape_id, point_x, point_y, refine_udf)


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


def point_in_shape_join_adaptive(points: DataFrame, shapes: DataFrame,
                                 min_level: int = 3, max_level: int = 7,
                                 cells_budget: int = 4,
                                 levels: list | None = None,
                                 point_x: str = "x", point_y: str = "y",
                                 shape_col: str = "shape",
                                 broadcast_shapes: bool = True,
                                 salt: int | None = None,
                                 shape_kinds: tuple | None = None,
                                 how: str = "inner",
                                 shape_id: str | None = None) -> DataFrame:
    """Multi-level (adaptive) point-in-shape join.

    The fixed-level join degrades when shape sizes span orders of
    magnitude (one admin layer holding Russia AND Monaco): a fine level
    explodes big shapes into thousands of cover cells; a coarse level
    drowns small shapes in false candidates. Here every shape is keyed
    at ITS OWN level — the finest level in [min_level, max_level] whose
    exact cover count fits `cells_budget` — so each cover set is
    bounded by the budget (oversized shapes fall back to a min_level
    grid range). The level is tagged into the int64 join key's low bits
    (kernels/geohash.tag_level), keeping keys from different levels
    disjoint in ONE equi-join.

    Point side: an array of level-tagged codes, one per ACTIVE level,
    built as a pure Column expression (whole-stage codegen) and
    exploded. `levels` prunes the band to the levels the shape side
    actually uses: pass it explicitly when known, else it is derived
    with one tiny aggregation over the shape side (the small side of
    the join — at 10^6 shapes that's a sub-second job; the 10^12-point
    side is never touched). A (point, shape) pair still meets at most
    once: the shape has ONE level and the point has ONE cell at that
    level.

    Scale story at 10^12 points x 10^6 mixed-size shapes: shape side
    stays <= cells_budget rows/shape (vs 4096-cell caps or skew salting
    at a forced fine level); the point side's xL fan-out happens inside
    the scan projection — no extra shuffle when broadcasting, and the
    shuffle key (tagged cell) spreads hot regions across the finer
    levels. `salt` handles residual hot cells on the shuffle path, same
    scheme as point_in_shape_join.

    `shape_id` (broadcast path only): switch to the closure refine —
    same contract as point_in_shape_join(shape_id=): the layer's vertex
    arrays ride the refine UDF's closure, the broadcast carries only
    (id, bbox, tagged cover), output has point columns + shape_id +
    relation. Falls back to the struct path above the vertex cap.
    """
    closure_refine = None
    if shape_id is not None and broadcast_shapes:
        from .refine import collect_shape_table, make_closure_refine
        table = collect_shape_table(shapes, shape_id, shape_col)
        if table is not None:
            closure_refine = make_closure_refine(table)
            slim = _slim_bbox(shapes, shape_col, shape_id)
            shapes = slim
            cover_src = (F.col("__minx"), F.col("__maxx"),
                         F.col("__miny"), F.col("__maxy"))
    if closure_refine is None:
        s = F.col(shape_col)
        cover_src = (s["minx"], s["maxx"], s["miny"], s["maxy"])
    cover = (shapes.withColumn("__cells", SF.st_cover_codes_adaptive(
                 *cover_src, min_level, max_level, cells_budget))
                   .withColumn("cover_cell", F.explode_outer("__cells"))
                   .drop("__cells")
                   .where(F.col("cover_cell").isNotNull()))
    if levels is None:
        # plan-time pruning: distinct levels present on the (small)
        # shape side — the level tag is the key's low 4 bits
        from ..kernels.geohash import LEVEL_TAG_BITS
        mask = (1 << LEVEL_TAG_BITS) - 1
        levels = sorted(
            r[0] for r in cover.select(
                F.col("cover_cell").bitwiseAND(F.lit(mask)).alias("lv"))
            .distinct().collect())
        if not levels:
            levels = [min_level]
    pts = (points.withColumn("__mlcells", SF.st_cell_codes_for_levels_col(
               f"`{point_y}`", f"`{point_x}`", levels))
                 .withColumn("cell_id", F.explode_outer("__mlcells"))
                 .drop("__mlcells"))
    if broadcast_shapes:
        cover = F.broadcast(cover)
        join_cond = pts["cell_id"] == cover["cover_cell"]
    elif salt:
        cover = cover.withColumn(
            "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
        pts = pts.withColumn(
            "__salt", F.pmod(F.hash(F.col(point_x), F.col(point_y)),
                             F.lit(salt)))
        join_cond = ((pts["cell_id"] == cover["cover_cell"])
                     & (pts["__salt"] == cover["__salt"]))
    else:
        join_cond = pts["cell_id"] == cover["cover_cell"]
    joined = pts.join(cover, join_cond, "inner")
    if closure_refine is not None:
        refined = _closure_gate_refine(joined, shape_id, point_x, point_y,
                                       closure_refine)
    else:
        refined = _gate_and_refine(joined, shape_col, point_x, point_y,
                                   shape_kinds)
    refined = refined.drop("cover_cell", "cell_id", "__salt")
    return _project_how(refined, points, how)


def distance_join(points: DataFrame, queries: DataFrame, radius_deg: float | Column,
                  plan: JoinPlan,
                  point_x: str = "x", point_y: str = "y",
                  query_x: str = "qx", query_y: str = "qy",
                  calculator: str = "haversine") -> DataFrame:
    """All (point, query) pairs within radius (degrees), exact.

    Query circles expand to bboxes (CalcBoxByDistFromPtDEG semantics,
    pole/dateline handled) -> cell cover -> equi-join -> exact distance
    refine. Adds a `dist_deg` column.
    """
    qx, qy = F.col(query_x), F.col(query_y)
    box = SF.st_circle_bbox(qx, qy, radius_deg if isinstance(radius_deg, Column)
                            else F.lit(float(radius_deg)))
    q = queries.withColumn("__box", box)
    # batch Arrow cover on the (small) query side — see shape_shape_join
    q = (q.withColumn("__cells", SF.st_cover_codes(
            F.col("__box.minx"), F.col("__box.maxx"),
            F.col("__box.miny"), F.col("__box.maxy"), plan.precision))
          .withColumn("cover_cell", F.explode_outer("__cells"))
          .drop("__cells", "__box")
          .where(F.col("cover_cell").isNotNull()))
    pts = with_point_cell(points, point_x, point_y, plan.precision, codes=True)
    if plan.broadcast_shapes:
        q = F.broadcast(q)
    joined = pts.join(q, pts["cell_id"] == q["cover_cell"], "inner").drop("cover_cell")
    rad = radius_deg if isinstance(radius_deg, Column) else F.lit(float(radius_deg))
    if calculator == "haversine":
        # codegen pre-filter with slack: kills far candidates before
        # the Arrow stage; the exact kernel filter below remains the
        # correctness surface (see SF.haversine_deg_jvm)
        pre = SF.haversine_deg_jvm(F.col(point_x), F.col(point_y), qx, qy)
        joined = joined.where(pre <= rad + F.lit(SF.JVM_PREFILTER_SLACK))
    dist = SF.st_distance_deg(F.col(point_x), F.col(point_y), qx, qy, calculator)
    out = joined.withColumn("dist_deg", dist)
    return out.where(F.col("dist_deg") <= rad)


def _knn_core(points: DataFrame, queries: DataFrame, k: int,
              radius_deg: float, plan: JoinPlan,
              point_x: str, point_y: str, query_x: str, query_y: str,
              query_id: str, tie_break: str | None) -> DataFrame:
    """One bounded-radius kNN pass: circle-bbox cover -> cell equi-join
    -> ONE Arrow pass computing haversine (filter) + Vincenty (exact
    re-rank) -> row_number <= k."""
    qx, qy = F.col(query_x), F.col(query_y)
    q = queries.withColumn("__box", SF.st_circle_bbox(qx, qy, F.lit(float(radius_deg))))
    # batch Arrow cover on the (small) query side — see shape_shape_join
    q = (q.withColumn("__cells", SF.st_cover_codes(
            F.col("__box.minx"), F.col("__box.maxx"),
            F.col("__box.miny"), F.col("__box.maxy"), plan.precision))
          .withColumn("cover_cell", F.explode_outer("__cells"))
          .drop("__cells", "__box")
          .where(F.col("cover_cell").isNotNull()))
    pts = with_point_cell(points, point_x, point_y, plan.precision, codes=True)
    if plan.broadcast_shapes:
        q = F.broadcast(q)
    joined = pts.join(q, pts["cell_id"] == q["cover_cell"], "inner").drop("cover_cell")
    # codegen haversine pre-filter (slack covers libm drift): the Arrow
    # stage below then sees only near-ring candidates; the kernel
    # haversine <= r remains the exact ring test
    pre = SF.haversine_deg_jvm(F.col(point_x), F.col(point_y), qx, qy)
    joined = joined.where(pre <= float(radius_deg) + SF.JVM_PREFILTER_SLACK)
    d = SF.st_hav_vin(F.col(point_x), F.col(point_y), qx, qy)
    cand = (joined.withColumn("__d", d)
                  .where(F.col("__d.hav") <= float(radius_deg))
                  .withColumn("dist_exact", F.col("__d.vin"))
                  .drop("__d"))
    order = [F.col("dist_exact").asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    w = Window.partitionBy(query_id).orderBy(*order)
    return (cand.withColumn("knn_rank", F.row_number().over(w))
                .where(F.col("knn_rank") <= k))


def knn_join(points: DataFrame, queries: DataFrame, k: int, radius_deg: float,
             plan: JoinPlan,
             point_x: str = "x", point_y: str = "y",
             query_x: str = "qx", query_y: str = "qy",
             query_id: str = "query_id",
             rerank_calculator: str = "vincentySphere",
             tie_break: str | None = None,
             prefilter_radius: float | None = None) -> DataFrame:
    """Bounded-radius kNN: candidates within `radius_deg` via the cell
    cover, haversine pre-rank, exact Vincenty re-rank (reference
    pattern: cheap pre-rank then exact, CartesianDistCalc.cs:36-49),
    row_number() <= k per query.

    `prefilter_radius`: adaptive escalation — a float or an ascending
    sequence of radii. Each rung runs the core join at that radius; a
    query whose k-th candidate lies within the rung is provably
    identical to its radius_deg answer (any closer point is also
    within the rung), so only unresolved queries climb to the next,
    wider cover. Typically >10x fewer candidate pairs than a single
    wide pass, and the final rung runs over a tiny straggler set.

    Exact when every query has >= k neighbors within radius (else the
    tail is truncated — callers size the radius; the radius-free exact
    variant is operators/knn_rings.knn_ring_join).
    """
    if prefilter_radius is None:
        return _knn_core(points, queries, k, radius_deg, plan,
                         point_x, point_y, query_x, query_y, query_id,
                         tie_break)
    rungs = ([prefilter_radius] if isinstance(prefilter_radius, (int, float))
             else list(prefilter_radius))
    rungs = sorted(r for r in rungs if r < radius_deg)
    parts = []
    live = queries
    from ..staging import stage
    for r in rungs:
        # eager materialization: run the rung once, truncate lineage.
        # In-memory this is localCheckpoint (blocks released by the
        # ContextCleaner when the plan is GC'd); with
        # spark.spatial4n.stageDir set it routes through parquet so a
        # huge query side never pins rung results in executor memory.
        near = stage(_knn_core(points, live, k, r, plan,
                               point_x, point_y, query_x, query_y,
                               query_id, tie_break), "knn_rung")
        solved = (near.groupBy(query_id).agg(F.count("*").alias("__cnt"))
                      .where(F.col("__cnt") >= k).select(query_id))
        parts.append(near.join(F.broadcast(solved), query_id, "leftsemi"))
        live = live.join(F.broadcast(solved), query_id, "leftanti")
        if live.isEmpty():
            live = None
            break
    if live is not None:
        parts.append(_knn_core(points, live, k, radius_deg, plan,
                               point_x, point_y, query_x, query_y, query_id,
                               tie_break))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def shape_shape_join(left: DataFrame, right: DataFrame, precision: int,
                     left_shape: str = "lshape", right_shape: str = "rshape",
                     broadcast_right: bool = True,
                     predicate: str = "intersects",
                     salt: int | None = None,
                     right_id: str | None = None,
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

    `right_id`: unique right-key column enabling the CLOSURE refine for
    the broadcast-small right side (the admin-boundaries x parcels
    asymmetry): the right layer's vertex arrays are collected once into
    the relate UDF's closure, the broadcast carries only (id, bbox),
    and per candidate pair only the LEFT shape's arrays cross Arrow.
    Output then carries left columns + right_id (+ relation), no right
    struct. Falls back to the struct path above the vertex cap.
    """
    from .. import functions as SF
    from ..kernels import relation as REL

    if right_id is not None and broadcast_right:
        out = _shape_shape_join_closure(left, right, precision, left_shape,
                                        right_shape, predicate, right_id)
        if out is not None:
            return out

    ls, rs = F.col(left_shape), F.col(right_shape)
    # Per-side min-corner axis indices are PRECOMPUTED in this projection
    # (whole-stage codegen + subexpression elimination apply here). The
    # post-join reference-cell filter then rebuilds the cell code from
    # these four plain int columns — keeping the filter condition small
    # enough to compile: filters get no subexpression elimination, and
    # the Morton spread's five self-referencing steps would otherwise
    # duplicate a greatest-of-struct-fields coord tree 2^5 times past
    # Janino's 64 KB method limit (observed as an interpreted-fallback
    # ERROR in BENCH_r02). axis_idx is monotone in the coordinate, so
    # idx(greatest(lminx, rminx)) == greatest(lidx, ridx) and the
    # reference-point dedup semantics are unchanged.
    # Cover arrays come from the BATCH Arrow kernel, not the pure-Column
    # sequence/transform expression: the HOF expression is
    # CodegenFallback (interpreted ~1ms/row) and its enclosing stage
    # cost seconds of Janino compile per plan; the vectorized kernel is
    # ~30x faster per shape and keeps the codegen stage small. Both
    # produce the same cell set from the same exact axis indexing.
    lc = (left.withColumn("__lli0", SF.st_axis_idx_col(f"`{left_shape}`.`minx`", "lon", precision))
              .withColumn("__lti0", SF.st_axis_idx_col(f"`{left_shape}`.`miny`", "lat", precision))
              .withColumn("__cells", SF.st_cover_codes(
                  ls["minx"], ls["maxx"], ls["miny"], ls["maxy"], precision))
              .withColumn("__cell", F.explode_outer("__cells")).drop("__cells")
              .where(F.col("__cell").isNotNull()))
    rc = (right.withColumn("__rli0", SF.st_axis_idx_col(f"`{right_shape}`.`minx`", "lon", precision))
               .withColumn("__rti0", SF.st_axis_idx_col(f"`{right_shape}`.`miny`", "lat", precision))
               .withColumn("__cells", SF.st_cover_codes(
                   rs["minx"], rs["maxx"], rs["miny"], rs["maxy"], precision))
               .withColumn("__cell", F.explode_outer("__cells")).drop("__cells")
              .where(F.col("__cell").isNotNull()))
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
    return _apply_shape_predicate(gated, ls, rs, predicate)


def _shape_shape_join_closure(left: DataFrame, right: DataFrame,
                              precision: int, left_shape: str,
                              right_shape: str, predicate: str,
                              right_id: str) -> DataFrame | None:
    """Closure-right variant of shape_shape_join (see right_id doc).
    Returns None when the right layer exceeds the vertex cap."""
    from .. import functions as SF
    from ..kernels import relation as REL
    from .refine import collect_shape_table, make_closure_shape_relate

    table = collect_shape_table(right, right_id, right_shape)
    if table is None:
        return None
    relate_udf = make_closure_shape_relate(table)

    ls, rs = F.col(left_shape), F.col(right_shape)
    lc = (left.withColumn("__lli0", SF.st_axis_idx_col(f"`{left_shape}`.`minx`", "lon", precision))
              .withColumn("__lti0", SF.st_axis_idx_col(f"`{left_shape}`.`miny`", "lat", precision))
              .withColumn("__cells", SF.st_cover_codes(
                  ls["minx"], ls["maxx"], ls["miny"], ls["maxy"], precision))
              .withColumn("__cell", F.explode_outer("__cells")).drop("__cells")
              .where(F.col("__cell").isNotNull()))
    slim = right.select(
        right_id,
        rs["minx"].alias("__rminx"), rs["maxx"].alias("__rmaxx"),
        rs["miny"].alias("__rminy"), rs["maxy"].alias("__rmaxy"))
    rc = (slim.withColumn("__rli0", SF.st_axis_idx_col("`__rminx`", "lon", precision))
              .withColumn("__rti0", SF.st_axis_idx_col("`__rminy`", "lat", precision))
              .withColumn("__cells", SF.st_cover_codes(
                  F.col("__rminx"), F.col("__rmaxx"),
                  F.col("__rminy"), F.col("__rmaxy"), precision))
              .withColumn("__cell", F.explode_outer("__cells")).drop("__cells")
              .where(F.col("__cell").isNotNull()))
    j = lc.join(F.broadcast(rc), "__cell", "inner")

    bbox_ok = ((ls["minx"] <= F.col("__rmaxx")) & (ls["maxx"] >= F.col("__rminx"))
               & (ls["miny"] <= F.col("__rmaxy")) & (ls["maxy"] >= F.col("__rminy")))
    ref_cell = SF.st_morton_col("greatest(`__lli0`, `__rli0`)",
                                "greatest(`__lti0`, `__rti0`)",
                                precision)
    gated = (j.where(bbox_ok & (F.col("__cell") == ref_cell))
              .drop("__cell", "__lli0", "__lti0", "__rli0", "__rti0",
                    "__rminx", "__rmaxx", "__rminy", "__rmaxy"))

    if predicate == "bbox":
        return gated
    rel = relate_udf(ls, F.col(right_id))
    if predicate == "all":
        return gated.withColumn("relation", rel.cast("int"))
    if predicate == "intersects":
        cond = rel != REL.DISJOINT
    elif predicate == "contains":
        cond = rel == REL.CONTAINS
    elif predicate == "within":
        cond = rel == REL.WITHIN
    else:
        raise ValueError(predicate)
    return gated.where(cond)


def _apply_shape_predicate(gated: DataFrame, ls, rs, predicate: str) -> DataFrame:
    """Exact polygon-polygon refine + predicate filter shared by the
    fixed-level and adaptive two-layer joins."""
    if predicate == "bbox":
        return gated
    rel = SF.st_relate_polygon_polygon(ls, rs)
    if predicate == "all":
        return gated.withColumn("relation", rel.cast("int"))
    if predicate == "intersects":
        cond = rel != REL.DISJOINT
    elif predicate == "contains":
        cond = rel == REL.CONTAINS
    elif predicate == "within":
        cond = rel == REL.WITHIN
    else:
        raise ValueError(predicate)
    return gated.where(cond)


def shape_shape_join_adaptive(left: DataFrame, right: DataFrame,
                              min_level: int = 2, max_level: int = 7,
                              cells_budget: int = 4,
                              left_shape: str = "lshape",
                              right_shape: str = "rshape",
                              broadcast_right: bool = True,
                              predicate: str = "intersects",
                              salt: int | None = None,
                              right_id: str | None = None) -> DataFrame:
    """Two-sided adaptive (multi-level) shape x shape join.

    Both layers can mix Monaco-size and Russia-size shapes: each shape
    is keyed at ITS OWN level (finest level whose exact cover count
    fits cells_budget) and emits its level-tagged cover PYRAMID — the
    own-level cover plus the exact cover at every coarser level down
    to min_level, derived for free from the geohash prefix property
    (ancestor code == code >> 5*dL). Emission per shape is bounded by
    cells_budget + 4 x (own_level - min_level) whatever the size
    distribution — the fixed-level join's 4096-cell blowup on big
    shapes cannot happen.

    A pair (L_l, L_r) meets at level m = min(L_l, L_r): both pyramids
    contain the full bbox cover at m (a pyramid level IS the exact
    cover at that level), so overlapping bboxes share >= 1 key there.
    Dedup is the reference-point rule evaluated AT m: the match is
    kept only in the level-m cell containing (greatest(minx),
    greatest(miny)) of the two bboxes. That cell holds the reference
    point, which lies in both bboxes' covers at m, and exactly one
    level-m cell contains it — uniqueness without any dedup shuffle.
    Matches at levels below m fail the reference filter (its tag is m).

    The reference cell is rebuilt per level from per-side axis indices
    precomputed ONCE at max_level: an index at level L is the
    max_level index right-shifted by the bit difference (the same
    prefix property), so the post-join filter is a small CASE over
    plain int columns — compiled codegen, no Janino blowup (VERDICT
    r02 item 2 pattern).

    Assumes page-split (non-dateline-crossing) bboxes, as produced by
    the WKT parser. `salt`/broadcast semantics match shape_shape_join.
    """
    from ..kernels.geohash import LEVEL_TAG_BITS

    closure_relate = None
    if right_id is not None and broadcast_right:
        # same contract as shape_shape_join(right_id=): right layer's
        # vertices ride the relate UDF's closure; the broadcast carries
        # only (id, bbox, tagged cover) and the output has no right
        # struct. Falls back to the struct path above the vertex cap
        # or on duplicate/null ids.
        from .refine import collect_shape_table, make_closure_shape_relate
        table = collect_shape_table(right, right_id, right_shape)
        if table is not None:
            closure_relate = make_closure_shape_relate(table)
            rs_src = F.col(right_shape)
            right = right.select(
                right_id,
                rs_src["minx"].alias("__rminx"), rs_src["maxx"].alias("__rmaxx"),
                rs_src["miny"].alias("__rminy"), rs_src["maxy"].alias("__rmaxy"))

    ls, rs = F.col(left_shape), F.col(right_shape)
    mask = (1 << LEVEL_TAG_BITS) - 1
    max_lon_bits = (max_level * 5 + 1) // 2
    max_lat_bits = (max_level * 5) // 2

    def side(df, bbox, li, ti, lvl):
        # bbox elements are SQL fragments: axis-idx trees build with one
        # F.expr parse; the pyramid UDF needs Columns, so wrap there
        mnx, mxx, mny, mxy = bbox
        return (df.withColumn(li, SF.st_axis_idx_col(mnx, "lon", max_level))
                  .withColumn(ti, SF.st_axis_idx_col(mny, "lat", max_level))
                  .withColumn("__cells", SF.st_cover_pyramid(
                      F.expr(mnx), F.expr(mxx), F.expr(mny), F.expr(mxy),
                      min_level, max_level, cells_budget))
                  .withColumn(lvl, F.element_at("__cells", 1)
                              .bitwiseAND(F.lit(mask)))
                  .withColumn("__cell", F.explode_outer("__cells"))
                  .drop("__cells")
                  .where(F.col("__cell").isNotNull()))

    lc = side(left, (f"`{left_shape}`.`minx`", f"`{left_shape}`.`maxx`",
                     f"`{left_shape}`.`miny`", f"`{left_shape}`.`maxy`"),
              "__lli0", "__lti0", "__llvl")
    if closure_relate is not None:
        r_bbox = ("`__rminx`", "`__rmaxx`", "`__rminy`", "`__rmaxy`")
    else:
        r_bbox = (f"`{right_shape}`.`minx`", f"`{right_shape}`.`maxx`",
                  f"`{right_shape}`.`miny`", f"`{right_shape}`.`maxy`")
    rc = side(right, r_bbox, "__rli0", "__rti0", "__rlvl")
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

    if closure_relate is not None:
        bbox_ok = ((ls["minx"] <= F.col("__rmaxx")) & (ls["maxx"] >= F.col("__rminx"))
                   & (ls["miny"] <= F.col("__rmaxy")) & (ls["maxy"] >= F.col("__rminy")))
    else:
        bbox_ok = ((ls["minx"] <= rs["maxx"]) & (ls["maxx"] >= rs["minx"])
                   & (ls["miny"] <= rs["maxy"]) & (ls["maxy"] >= rs["miny"]))
    m = F.least(F.col("__llvl"), F.col("__rlvl"))
    g_lon = F.greatest(F.col("__lli0"), F.col("__rli0"))
    g_lat = F.greatest(F.col("__lti0"), F.col("__rti0"))
    ref = None
    for lv in range(min_level, max_level + 1):
        lon_sh = max_lon_bits - ((lv * 5 + 1) // 2)
        lat_sh = max_lat_bits - ((lv * 5) // 2)
        code = SF.st_morton_col(F.shiftright(g_lon, lon_sh),
                                F.shiftright(g_lat, lat_sh), lv)
        tagged = (F.shiftleft(code, LEVEL_TAG_BITS)
                   .bitwiseOR(F.lit(lv)).cast("long"))
        ref = (F.when(m == lv, tagged) if ref is None
               else ref.when(m == lv, tagged))
    gated = (j.where(bbox_ok & (F.col("__cell") == ref))
              .drop("__cell", "__lli0", "__lti0", "__rli0", "__rti0",
                    "__llvl", "__rlvl"))
    if closure_relate is not None:
        from ..kernels import relation as REL
        gated = gated.drop("__rminx", "__rmaxx", "__rminy", "__rmaxy")
        rel = closure_relate(ls, F.col(right_id))
        if predicate == "all":
            return gated.withColumn("relation", rel.cast("int"))
        keep = {"intersects": rel != REL.DISJOINT,
                "contains": rel == REL.CONTAINS,
                "within": rel == REL.WITHIN}.get(predicate)
        if keep is None:
            raise ValueError(predicate)
        return gated.where(keep)
    return _apply_shape_predicate(gated, ls, rs, predicate)
