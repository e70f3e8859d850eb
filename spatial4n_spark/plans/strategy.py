"""Spatial planning heuristics: cell level, join strategy, salting.

The spatial half of planning Catalyst can't do (SURVEY.md section 4):
pick the geohash level for the cell equi-join, decide broadcast vs
shuffle, and decide skew salting. All decisions are plan-time (driver),
never per row.
"""
from __future__ import annotations

from dataclasses import dataclass

from ..kernels.geohash import (HASH_LEN_TO_LAT_HEIGHT, HASH_LEN_TO_LON_WIDTH,
                               lookup_hash_len_for_width_height)


@dataclass
class JoinPlan:
    precision: int            # geohash level of the cell equi-join
    broadcast_shapes: bool    # broadcast the (exploded) shape-cover side
    salt: int | None          # point-side salt fanout for hot cells, or None
    # shape kinds present on the build side, if known at plan time
    # (e.g. (2,) = rects only). When all kinds are RECT, the JVM bbox
    # gate IS the exact dateline-aware closed-rect containment test
    # (RectangleImpl.cs:176-209), so the Python refine kernel is
    # skipped entirely — the whole join stays in whole-stage codegen.
    shape_kinds: tuple | None = None
    # autoIndex factory key (NtsSpatialContextFactory.cs:47-48,76):
    # force the closure-refine path — the PreparedGeometry analog —
    # even when the broadcast heuristic wouldn't pick it. The rect-only
    # JVM gate still wins when shape_kinds == (2,) (it is strictly
    # cheaper than any prepared index).
    auto_index: bool = False


def pick_cell_level(median_width_deg: float, median_height_deg: float,
                    min_level: int = 2, max_level: int = 9) -> int:
    """Cell level ~ the shape size: one level finer than the cell that
    fully contains the median shape (LookupHashLenForWidthHeight,
    GeohashUtils.cs:226-237), clamped.

    Finer level -> fewer false-positive candidates but bigger cover
    sets; one level below the shape size keeps cover <= ~4x8 cells while
    the point side stays selective.
    """
    lvl = lookup_hash_len_for_width_height(max(median_width_deg, 1e-12),
                                           max(median_height_deg, 1e-12))
    return max(min_level, min(max_level, lvl))


def expected_cover_cells(width_deg: float, height_deg: float, precision: int) -> float:
    w = HASH_LEN_TO_LON_WIDTH[precision]
    h = HASH_LEN_TO_LAT_HEIGHT[precision]
    return (width_deg / w + 2.0) * (height_deg / h + 2.0)


def plan_point_shape_join(n_points: int, n_shapes: int,
                          median_width_deg: float, median_height_deg: float,
                          shape_bytes_estimate: int = 1024,
                          broadcast_threshold: int = 64 * 1024 * 1024,
                          hot_cell_ratio: float | None = None,
                          shape_kinds: tuple | None = None,
                          auto_index: bool = False) -> JoinPlan:
    """Plan the coarse/refine spatial join.

    - level from median shape size;
    - broadcast the exploded shape-cover side when its estimated size
      fits the broadcast threshold (shapes x cover x bytes);
    - salt when a hot-cell ratio was observed (points heavily skewed
      into few cells) AND the join is a shuffle join (broadcast joins
      don't skew).
    """
    precision = pick_cell_level(median_width_deg, median_height_deg)
    cover = expected_cover_cells(median_width_deg, median_height_deg, precision)
    est_bytes = int(n_shapes * cover * shape_bytes_estimate)
    broadcast = est_bytes <= broadcast_threshold
    salt = None
    if not broadcast and hot_cell_ratio is not None and hot_cell_ratio > 0.05:
        salt = 16
    return JoinPlan(precision=precision, broadcast_shapes=broadcast,
                    salt=salt, shape_kinds=shape_kinds,
                    auto_index=auto_index)


def estimate_hot_cell_ratio(points, x: str = "x", y: str = "y",
                            precision: int = 6,
                            sample_fraction: float = 0.01,
                            seed: int = 42) -> float:
    """Sampled share of points landing in the single hottest cell — the
    skew signal feeding plan_point_shape_join(hot_cell_ratio=...).

    One sampled aggregation job (JVM cell codes, partial aggs); at
    100 TB a 1e-4 fraction of a 10^12-row table still samples 10^8
    rows — plenty for a max-share estimate of hot cells.
    """
    from pyspark.sql import functions as F

    from .. import functions as SF

    s = points.sample(fraction=sample_fraction, seed=seed)
    counts = (s.select(SF.st_cell_code_col(f"`{y}`", f"`{x}`", precision)
                       .alias("c"))
               .groupBy("c").count())
    row = counts.agg(F.max("count").alias("mx"),
                     F.sum("count").alias("tot")).collect()[0]
    if not row.tot:
        return 0.0
    return float(row.mx) / float(row.tot)
