"""Distributed overlay-intersection join: the classic GIS overlay
("how much area does every admin x landuse pair share?") at Spark
scale.

Engine-added operator (no reference analog — Spatial4n stops at Relate
verdicts; reference relate semantics underpin the candidate stage via
shape_shape_join). Composition:

  1. candidates: the existing cell-cover equi-join + exact relate
     refine (`shape_shape_join`, predicate="intersects") — broadcast /
     shuffle / salted paths, reference-point dedup, all inherited;
  2. measure: one Arrow stage computes the exact planar intersection
     area per surviving pair (kernels/overlay.py over the noded overlay
     kernel, Green's theorem — holes, multiparts, shared edges,
     dateline-paged rects);
  3. rect x rect pairs short-circuit to a PURE Column arc-overlap
     formula — a two-rect-layer overlay runs with zero Python when
     `shape_kinds=(2, 2)` is declared.

Scale shape: identical to the two-layer join (one equi-join shuffle or
broadcast, no distinct, no driver data); the area stage is per-pair
O(E_A * E_B) vectorized NumPy on rows that already passed the relate
refine, so the Python stage sees only true intersecting pairs.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..shapes import shape_col, with_fields
from .joins import shape_shape_join


def overlay_intersection_join(left: DataFrame, right: DataFrame,
                              precision: int,
                              left_shape: str = "lshape",
                              right_shape: str = "rshape",
                              broadcast_right: bool = True,
                              salt: int | None = None,
                              shape_kinds: tuple | None = None,
                              with_fracs: bool = False,
                              keep_zero: bool = False,
                              area_col: str = "inter_area_deg2",
                              with_geometry: bool = False,
                              geometry_col: str = "inter_shape") -> DataFrame:
    """Overlay join of two shape layers with exact intersection areas.

    Output: every intersecting (left, right) pair with `area_col`
    (planar deg^2). `shape_kinds=(2, 2)` declares both layers all-rect
    and compiles the measure to a pure Column expression (no Python
    stage anywhere in the plan — candidates already run JVM-only for
    rect layers). `with_fracs` adds frac_left / frac_right (share of
    each shape's own area, null when a side has zero area).
    `keep_zero` keeps boundary-touch pairs (area 0); default drops
    them, which is what area-weighted aggregation wants.

    `with_geometry` (round 5) adds `geometry_col`: the intersection
    GEOMETRY per pair as a shape struct (the GIS clip/identity
    operator) — the noded overlay kernel (kernels/booleans) for
    polygon pairs, the same kernel that measures `area_col`, and a pure
    Column rect struct when `shape_kinds=(2, 2)`. Computed AFTER the
    area filter, so the geometry stage sees only true intersecting
    pairs (bounded by output size, not candidates). Under `keep_zero`,
    zero-area (touch) pairs get EMPTY (kind 0) geometry.

    salt / broadcast_right pass through to the candidate join.
    """
    from .. import functions as SF

    # Fail loudly on inputs the overlay cannot measure (code-review
    # r4): non-area kinds (circle/collection/point/line/empty) would
    # otherwise null out of the measure and be silently dropped by the
    # area > 0 filter — indistinguishable from disjoint — and a
    # dateline-crossing rect (minx > maxx) yields no cover cells in
    # the candidate stage, silently vanishing from the result. Both
    # now raise at run time, before the join (guard is fused into the
    # consumed kind field, so Catalyst cannot prune it).
    # The candidate join's exact refine is the polygon-polygon kernel:
    # unless both layers are declared all-rect, kind-2 rects also get
    # their 4-corner ring arrays (pure Column, stays in codegen) so
    # mixed rect/polygon layers flow through unchanged. Like every
    # two-layer join input, bboxes are assumed page-split
    # (non-dateline-crossing — enforced by the validation).
    rect_rings = shape_kinds != (2, 2)
    left = _prepare_overlay_shapes(left, left_shape, rect_rings)
    right = _prepare_overlay_shapes(right, right_shape, rect_rings)
    # keep_zero=False: the area > 0 filter below subsumes the exact
    # relate (touch pairs measure 0 and drop anyway), so take bbox
    # candidates and skip the relate refine — ONE Python stage over
    # candidates instead of relate-over-candidates + measure-over-
    # survivors. keep_zero=True needs the relate to keep touch pairs.
    predicate = "intersects" if keep_zero else "bbox"
    pairs = shape_shape_join(left, right, precision,
                             left_shape=left_shape, right_shape=right_shape,
                             broadcast_right=broadcast_right,
                             predicate=predicate, salt=salt,
                             shape_kinds=shape_kinds)
    ls, rs = F.col(left_shape), F.col(right_shape)

    rect_jvm = SF.rect_intersection_area_cols(
        ls["minx"], ls["maxx"], ls["miny"], ls["maxy"],
        rs["minx"], rs["maxx"], rs["miny"], rs["maxy"])
    both_rect = (ls["kind"] == 2) & (rs["kind"] == 2)

    if shape_kinds == (2, 2):
        out = pairs.withColumn(area_col, rect_jvm)
        if with_fracs:
            la, ra = _rect_area(ls), _rect_area(rs)
            out = (out.withColumn("frac_left",
                                  F.when(la > 0.0, F.col(area_col) / la))
                      .withColumn("frac_right",
                                  F.when(ra > 0.0, F.col(area_col) / ra)))
        if not keep_zero:
            out = out.where(F.col(area_col) > 0.0)
        if with_geometry:
            out = out.withColumn(
                geometry_col,
                F.when(F.col(area_col) == 0.0, shape_col(kind=0))
                 .otherwise(_rect_inter_struct(ls, rs)))
        return out

    if with_fracs:
        # ONE fused Arrow exchange for inter + both own areas; the
        # rect x rect rows still take the JVM formula for the area
        # (bit-identical to the paged kernel) and JVM own-areas.
        out = pairs.withColumn("__m", SF.st_overlay_measure(ls, rs))
        mm = F.col("__m")
        area = F.when(both_rect, rect_jvm).otherwise(mm["inter"])
        la = F.when(ls["kind"] == 2, _rect_area(ls)).otherwise(mm["a_area"])
        ra = F.when(rs["kind"] == 2, _rect_area(rs)).otherwise(mm["b_area"])
        out = (out.withColumn(area_col, area)
                  .withColumn("frac_left",
                              F.when(la > 0.0, F.col(area_col) / la))
                  .withColumn("frac_right",
                              F.when(ra > 0.0, F.col(area_col) / ra))
                  .drop("__m"))
    else:
        arrow = SF.st_shape_intersection_area(ls, rs)
        out = pairs.withColumn(
            area_col, F.when(both_rect, rect_jvm).otherwise(arrow))
    if not keep_zero:
        out = out.where(F.col(area_col) > 0.0)
    if with_geometry:
        # rect x rect rows take the pure-Column struct; note the CASE
        # does not spare them the Arrow pass (Python UDFs evaluate in
        # their own node) — it spares them the overlay kernel and keeps the
        # VALUES bit-identical to the JVM formula. Zero-area (touch)
        # rows keep_zero retains are EMPTY, whichever kinds met.
        out = out.withColumn(
            geometry_col,
            F.when(F.col(area_col) == 0.0, shape_col(kind=0))
             .when(both_rect, _rect_inter_struct(ls, rs))
             .otherwise(SF.st_intersection(ls, rs)))
    return out


def _rect_inter_struct(ls, rs):
    """Intersection of two page-split (non-crossing) rects as a pure
    Column shape struct — valid only where the area is > 0."""
    return shape_col(kind=2,
                     minx=F.greatest(ls["minx"], rs["minx"]),
                     maxx=F.least(ls["maxx"], rs["maxx"]),
                     miny=F.greatest(ls["miny"], rs["miny"]),
                     maxy=F.least(ls["maxy"], rs["maxy"]))


def area_interpolate(source: DataFrame, target: DataFrame,
                     value_cols: list, precision: int,
                     source_shape: str = "lshape",
                     target_shape: str = "rshape",
                     target_id: str = "r_id",
                     broadcast_target: bool = True,
                     salt: int | None = None,
                     shape_kinds: tuple | None = None) -> DataFrame:
    """Areal interpolation (dasymetric transfer): redistribute
    extensive variables (population, counts, emissions) from source
    zones onto an unrelated target zoning, weighting each source's
    contribution by the fraction of ITS area inside the target zone:

        target_value = Σ_sources value * area(source ∩ target)/area(source)

    The standard change-of-support operation every census x grid / old
    x new admin-boundary pipeline needs. One overlay join + one
    hash aggregate keyed by the target id — map-side partial combine
    applies, so the shuffle carries one row per (target, partial).
    Sources that miss every target zone drop out (their weight mass is
    simply not transferred — the usual extensive-variable convention).
    """
    pairs = overlay_intersection_join(
        source, target, precision,
        left_shape=source_shape, right_shape=target_shape,
        broadcast_right=broadcast_target, salt=salt,
        shape_kinds=shape_kinds, with_fracs=True)
    aggs = [F.round(F.sum(F.col(c) * F.col("frac_left")), 6).alias(c)
            for c in value_cols]
    return pairs.groupBy(target_id).agg(*aggs)


def _prepare_overlay_shapes(df: DataFrame, col: str,
                            rect_rings: bool) -> DataFrame:
    """Runtime input guard: raise on shape kinds the overlay measure
    cannot produce an area for (anything but rect/polygon/multipolygon)
    and on dateline-crossing rects (minx > maxx), which the cell-cover
    candidate stage would silently exclude. The guard is folded into
    the struct's `kind` field — a column every downstream stage
    consumes — so column pruning cannot elide it; rows that pass are
    bit-identical to the input. With `rect_rings`, kind-2 rects also
    get xs/ys/ring_offsets (their 4-corner ring) so the polygon
    relate/area kernels can consume them. Pure Column, no Python
    stage, one struct rebuild.

    Callers with crossing rects should page-split them into two
    ±180-bounded rows first (`kernels/wkt.py` page convention), which
    makes each page a first-class overlay participant."""
    s = F.col(col)
    bad_kind = ~s["kind"].isin(2, 7, 8)
    crossing = (s["kind"] == 2) & (s["minx"] > s["maxx"])
    changes = {"kind": (
        F.when(bad_kind, F.raise_error(F.concat(
            F.lit("overlay supports rect/polygon shapes, got kind "),
            s["kind"].cast("string"))))
         .when(crossing, F.raise_error(F.concat(
            F.lit("overlay requires page-split rects; got dateline-"
                  "crossing rect minx="), s["minx"].cast("string"),
            F.lit(" > maxx="), s["maxx"].cast("string"))))
         .otherwise(s["kind"]))}
    if rect_rings:
        is_rect = s["kind"] == 2
        rings = {"xs": F.array(s["minx"], s["maxx"], s["maxx"], s["minx"]),
                 "ys": F.array(s["miny"], s["miny"], s["maxy"], s["maxy"]),
                 "ring_offsets": F.array(F.lit(0).cast("int"),
                                         F.lit(4).cast("int"))}
        changes.update({k: F.when(is_rect, v).otherwise(s[k])
                        for k, v in rings.items()})
    return df.withColumn(col, with_fields(s, **changes))


def _rect_area(s):
    """Planar area of a rect struct, dateline width — pure Column."""
    return (s["maxy"] - s["miny"]) * (
        F.when(s["maxx"] >= s["minx"], s["maxx"] - s["minx"])
         .otherwise(s["maxx"] - s["minx"] + 360.0))
