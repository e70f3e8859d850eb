"""Dissolve: per-group geometry union (merge parcels by owner, tracts
by county — the classic GIS dissolve) as a distributed aggregate.

Engine-added operator. The geometry math is one call of the noded
overlay union per group (`kernels.booleans.union_members` over all of
the group's members): exact for every contact class, including the
degenerate ones (adjacent parcels sharing edges, vertex-on-edge
touches, duplicates), and canonical — shared seams between touching
members are dissolved away. When the union cannot stitch and
`allow_approx=True`, the group degrades to the convex hull of its
overlapping members (the WKT parser's allowMultiOverlap hull,
`kernels.wkt._resolve_multi_overlap`).

Scale shape: ONE shuffle on the dissolve keys (`applyInArrow`), each
group's members resolved inside its task — dissolve is inherently a
gather-per-key operation, so per-key vertex volume must fit a task
(the same contract every GIS engine's dissolve carries). Hot keys are
an AQE skew concern for the shuffle, not for memory: a group's rings
are small next to a task's budget until parcel counts reach ~1e6 per
key; beyond that, pre-dissolve per (key, cover-cell) and re-dissolve
the per-cell results (documented pattern; exactness unchanged because
union is associative — cell pieces of one key still meet in round 2).

Output per group: the dissolved shape struct (always kind 8,
MULTIPOLYGON, whichever path settled it), `n_members`, `exact`
(False when a degenerate overlap degraded to the hull), `error`
(non-null instead of a task failure when the group is not exactly
unionable and `allow_approx=False`).
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                               StructField, StructType)

from ..shapes import (SHAPE_SCHEMA, closed_rings_record, decode,
                      encode_records, rect_pages)
from ..shapes import shape_col as shape_struct


def _member_records(s, i) -> list:
    """Row i of a decoded shape batch -> parser-style polygon records.
    Rects become their 4-corner closed ring (dateline-crossing rects:
    two pages)."""
    kind = s.kind[i]
    if kind == 2:
        return [closed_rings_record([(page, [])]) for page in
                rect_pages(s.minx[i], s.maxx[i], s.miny[i], s.maxy[i])]
    if kind in (7, 8):
        xs, ys, ro = s.verts(i)
        return [dict(kind=int(kind), minx=s.minx[i], maxx=s.maxx[i],
                     miny=s.miny[i], maxy=s.maxy[i], xs=list(xs), ys=list(ys),
                     ring_offsets=(list(ro) if ro is not None
                                   else [0, len(xs)]))]
    raise ValueError(f"dissolve supports rect/polygon shapes, got kind "
                     f"{int(kind)}")


def _dissolve_group(members: list, allow_approx: bool) -> dict:
    if len(members) == 1:
        return {"rec": members[0], "exact": True, "error": None}
    rec = _union_record(members)
    if rec is not None:
        return {"rec": rec, "exact": True, "error": None}
    if not allow_approx:
        return {"rec": None, "exact": False,
                "error": "dissolve: union pieces did not stitch into rings"}
    from ..kernels.wkt import _resolve_multi_overlap
    merged = _resolve_multi_overlap(members, True, "width180",
                                    "error", True)
    return {"rec": merged, "exact": False, "error": None}


def _union_record(members: list):
    """Exact union of a member list in one call of the noded overlay
    union (kernels/booleans.union_members). Returns a merged polygon
    record or None when the stitch cannot be closed (the caller keeps
    the error/hull contract)."""
    from ..kernels.booleans import members_of_robust, union_members

    def rings_of(rec):
        xs = np.asarray(rec["xs"], dtype=np.float64)
        ys = np.asarray(rec["ys"], dtype=np.float64)
        ro = rec["ring_offsets"]
        return [(xs[a:b], ys[a:b]) for a, b in zip(ro[:-1], ro[1:])]
    rings = union_members([rings_of(m) for m in members])
    if not rings:
        return None  # empty union of area members: unclassifiable
    mem = members_of_robust(rings)
    return None if mem is None else closed_rings_record(mem)


def dissolve(df: DataFrame, keys: list, shape_col: str = "shape",
             allow_approx: bool = False) -> DataFrame:
    """GroupBy `keys` and union each group's rect/polygon shapes into
    one multipolygon (kind 8) shape struct. See module docstring."""
    schema = StructType([df.schema[k] for k in keys] + [
        StructField(shape_col, SHAPE_SCHEMA),
        StructField("n_members", IntegerType()),
        StructField("exact", BooleanType()),
        StructField("error", StringType())])
    return (df.select(*keys, F.col(shape_col).alias("__s"))
              .groupBy(*keys)
              .applyInArrow(lambda t: _dissolve_table(t, keys, shape_col,
                                                      allow_approx),
                            schema=schema))


def _dissolve_table(table: pa.Table, keys: list, shape_col: str,
                    allow_approx: bool) -> pa.Table:
    """One group's Arrow table -> its one-row dissolve result."""
    s = decode(table.column("__s"))
    members: list = []
    err = None
    for i in range(len(s)):
        try:
            members.extend(_member_records(s, i))
        except ValueError as e:
            err = str(e)
            break
    if err is None:
        res = _dissolve_group(members, allow_approx)
    else:
        res = {"rec": None, "exact": False, "error": err}
    rec = res["rec"]
    if rec is not None:
        # MULTIPOLYGON whichever path settled the group
        rec = {k: rec[k] for k in ("minx", "maxx", "miny", "maxy", "xs",
                                   "ys", "ring_offsets")} | {"kind": 8}
    cols = {k: table.column(k).slice(0, 1) for k in keys}
    cols[shape_col] = encode_records([rec], [res["error"]])
    cols["n_members"] = pa.array([table.num_rows], type=pa.int32())
    cols["exact"] = pa.array([res["exact"]], type=pa.bool_())
    cols["error"] = pa.array([res["error"]], type=pa.string())
    return pa.table(cols)


def dissolve_two_level(df: DataFrame, keys: list, shape_col: str = "shape",
                       precision: int = 3) -> DataFrame:
    """Dissolve for HOT keys (1e6+ members): pre-dissolve per
    (key, coarse cell) so no single task gathers a whole key's rings,
    then re-dissolve the per-cell partials per key. Exact because union
    is associative — pieces of one key that span cells still meet in
    round 2. Each shape is assigned ONE cell (its bbox min corner at
    `precision`), so partials partition the members; shuffle 1 is keyed
    (key, cell) — a hot key spreads over its spatial footprint — and
    shuffle 2 carries one already-merged row per touched cell.

    Strict mode only (`allow_approx=False`): the hull degrade is not
    associative, so approximate groups must go through single-level
    `dissolve(allow_approx=True)`. A group whose union does not stitch
    in either stage surfaces `error` rather than raising; stage-1
    partials (holed or multipart unions) go through the same noded
    overlay union as single members, so the stages settle the same
    contact classes."""
    from .. import functions as SF

    cell = SF.st_cell_code_col(f"`{shape_col}`.`miny`",
                               f"`{shape_col}`.`minx`", precision)
    stage1 = dissolve(df.withColumn("__cell", cell), keys + ["__cell"],
                      shape_col, allow_approx=False)
    bad1 = stage1.where(F.col("error").isNotNull())
    ok1 = stage1.where(F.col("error").isNull())
    stage2 = dissolve(ok1.select(*keys, shape_col), keys, shape_col,
                      allow_approx=False)
    # true ORIGINAL member count per key (stage2's own n_members would
    # count cell PARTIALS — a different contract than single-level)
    totals = stage1.groupBy(*keys).agg(
        F.sum("n_members").cast("int").alias("__total"))
    # a key with any failed cell partial is reported failed as a whole;
    # FULL join: a key whose EVERY cell failed has no stage2 row at all
    # and must still surface (a left join would silently drop it)
    failed = (bad1.groupBy(*keys)
                  .agg(F.first("error").alias("__err")))
    joined = (stage2.join(failed, keys, "full")
                    .join(totals, keys, "inner"))
    empty_shape = shape_struct(kind=0, error=F.col("__err"))
    has_err = F.col("__err").isNotNull()
    return (joined.select(
        *keys,
        F.when(has_err, empty_shape).otherwise(F.col(shape_col))
         .alias(shape_col),
        F.col("__total").alias("n_members"),
        (~has_err & F.coalesce(F.col("exact"), F.lit(False)))
        .alias("exact"),
        F.when(has_err, F.col("__err")).otherwise(F.col("error"))
         .alias("error")))
