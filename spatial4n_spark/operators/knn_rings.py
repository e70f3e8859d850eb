"""Exact kNN via iterative cell-window expansion (SURVEY 2.4).

The reference's grid contributes the expansion primitive (GetSubGeohashes
/ neighbor cells, GeohashUtils.cs:207-216); the search loop is engine
logic: each query starts at its own cell and grows a (2r+1)^2 cell
window (r doubles per round) until its k-th candidate is provably
closer than anything outside the window. No radius parameter needed —
unlike knn_join's bounded-radius variant, this one is exact for ANY
data distribution.

Safety bound (window of +-r cells at precision p, cell h deg lat x
w deg lon): a point outside the window differs by > r cells on some
axis, so its great-circle distance exceeds
    d_safe = r * min(h, w * cos(phi_max)),
phi_max = the window's max |latitude|. Latitude separation IS
great-circle separation (>= r*h); longitude separation Delta >= r*w
shrinks by cos(lat). When the window already wraps every longitude
column, only the latitude bound applies (d_safe = r*h) — this also
makes the loop provably terminate: once the window covers the whole
grid the candidate set is the whole table and the answer is exact by
construction.

Scale notes: each round is ONE cell equi-join (queries-side exploded to
(2r+1)^2 cells, points probe side untouched); resolved queries retire,
so late (expensive, wide-window) rounds run on the small tail. The
window explode is pure JVM (sequence x sequence -> Morton spread);
distance refine is the vectorized kernel. Rounds are O(log grid) —
at most ~5 for precision 2.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import functions as SF
from ..kernels.geohash import (HASH_LEN_TO_LAT_HEIGHT, HASH_LEN_TO_LON_WIDTH)


def _window_cells(queries: DataFrame, qx: str, qy: str, precision: int,
                  r: int) -> DataFrame:
    """Explode each query to its (2r+1)^2 cell-window codes (JVM only)."""
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_n, lat_n = 1 << lon_bits, 1 << lat_bits
    # SQL-fragment construction: the ring loop rebuilds this expression
    # every round, so the Column-tree form paid its ~0.3s of py4j
    # roundtrips per round (see functions.st_cell_code_col)
    li = SF.st_axis_idx_col(f"`{qx}`", "lon", precision)
    ti = SF.st_axis_idx_col(f"`{qy}`", "lat", precision)
    q = (queries.withColumn("__li", li).withColumn("__ti", ti)
         .withColumn("__dx", F.explode(F.sequence(F.lit(-r), F.lit(r))))
         .withColumn("__dy", F.explode(F.sequence(F.lit(-r), F.lit(r)))))
    wli = f"CAST(pmod(`__li` + `__dx`, {lon_n}L) AS BIGINT)"
    wti = (f"CAST(least({lat_n - 1}L,"
           f" greatest(0L, `__ti` + `__dy`)) AS BIGINT)")
    code = SF.st_morton_col(wli, wti, precision)
    # lat clamping collides rows at the poles -> dedupe per query
    return (q.withColumn("cell_id", code.cast("long"))
             .drop("__li", "__ti", "__dx", "__dy")
             .dropDuplicates([c for c in queries.columns] + ["cell_id"]))


def knn_ring_join(points: DataFrame, queries: DataFrame, k: int,
                  precision: int = 2,
                  point_x: str = "x", point_y: str = "y",
                  query_x: str = "qx", query_y: str = "qy",
                  query_id: str = "query_id",
                  rerank_calculator: str = "vincentySphere",
                  tie_break: str | None = None,
                  max_rounds: int = 12,
                  start_r: int = 1,
                  stage_dir: str | None = None) -> DataFrame:
    """Exact k nearest points per query; no radius parameter.

    Returns (query cols..., point cols..., dist_exact, knn_rank<=k).

    `start_r`: initial window radius in cells. Exactness never depends
    on it (the per-round safety bound does the proving); it only trades
    round-1 candidate volume against round COUNT. Measured A/B at
    sf0.1/precision 2: 1 beats 2 (the bigger first window costs more
    than the round it saves) — raise it when k is large relative to
    per-cell density.

    `stage_dir`: stage per-round accumulators (ranked results, live
    query set) through parquet instead of localCheckpoint — spill-safe
    when the query side is huge (pinned checkpoint blocks would hold
    every round's <= |live| x k rows in executor memory). Results are
    identical; None (default) defers to the session default
    `spark.spatial4n.stageDir`, else the in-memory path.
    """
    from ..staging import stage
    h = HASH_LEN_TO_LAT_HEIGHT[precision]
    w = HASH_LEN_TO_LON_WIDTH[precision]
    nbits = precision * 5
    lon_n = 1 << ((nbits + 1) // 2)
    lat_n = 1 << (nbits // 2)

    from .joins import with_point_cell
    pts = with_point_cell(points, point_x, point_y, precision, codes=True)

    order = [F.col("dist_exact").asc()]
    if tie_break:
        order.append(F.col(tie_break).asc())
    win = Window.partitionBy(query_id).orderBy(*order)

    live = queries
    done_parts: list[DataFrame] = []
    r = max(1, int(start_r))
    for _ in range(max_rounds):
        full_lon = (2 * r + 1) >= lon_n
        full_grid = full_lon and (2 * r + 1) >= lat_n

        cells = _window_cells(live, query_x, query_y, precision, r)
        cand = cells.join(pts, "cell_id", "inner")
        dist = SF.st_distance_deg(F.col(point_x), F.col(point_y),
                                  F.col(query_x), F.col(query_y),
                                  rerank_calculator)
        ranked = (cand.withColumn("dist_exact", dist)
                      .withColumn("knn_rank", F.row_number().over(win))
                      .where(F.col("knn_rank") <= k))
        if not full_grid:
            # materialize ONCE (<= live x k rows): stats, the
            # solved-ids semi-join, and the final union otherwise each
            # re-execute this round's cell join + window
            ranked = stage(ranked, f"knn_ranked_r{r}", stage_dir)

        if full_grid:
            done_parts.append(ranked.drop("cell_id"))
            live = None
            break

        # per-query safety bound: d_safe = r * min(h, w*cos(phi_max));
        # lat-only bound once the window wraps every lon column
        phi = F.least(F.lit(89.999999),
                      F.abs(F.col(query_y)) + F.lit((r + 1) * h))
        lon_term = F.lit(r * w) * F.cos(F.radians(phi))
        d_safe = (F.lit(float(r * h)) if full_lon
                  else F.least(F.lit(float(r * h)), lon_term))
        stats = (ranked.groupBy(query_id)
                 .agg(F.count("*").alias("__cnt"),
                      F.max("dist_exact").alias("__kth")))
        qstat = (live.join(stats, query_id, "left")
                     .withColumn("__ok", (F.coalesce(F.col("__cnt"), F.lit(0)) >= k)
                                 & (F.col("__kth") <= d_safe)))
        solved_ids = qstat.where("__ok").select(query_id)
        done_parts.append(
            ranked.join(F.broadcast(solved_ids), query_id, "leftsemi")
                  .drop("cell_id"))
        live = (qstat.where(~F.coalesce(F.col("__ok"), F.lit(False)))
                     .select(*[c for c in live.columns]))
        # eager materialization: truncates the per-round lineage AND
        # (in-memory path) releases the previous round's blocks via the
        # ContextCleaner once unreferenced (persist() would pin them
        # for the session).
        live = stage(live, f"knn_live_r{r}", stage_dir)
        if live.isEmpty():
            live = None
            break
        r *= 2

    if live is not None:
        # max_rounds exhausted without full coverage (shouldn't happen
        # with default settings) -> final full-grid pass for stragglers
        cells = _window_cells(live, query_x, query_y, precision,
                              max(lon_n, lat_n))
        dist = SF.st_distance_deg(F.col(point_x), F.col(point_y),
                                  F.col(query_x), F.col(query_y),
                                  rerank_calculator)
        done_parts.append(
            cells.join(pts, "cell_id", "inner")
                 .withColumn("dist_exact", dist)
                 .withColumn("knn_rank", F.row_number().over(win))
                 .where(F.col("knn_rank") <= k).drop("cell_id"))

    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def _phi_max_deg(qy: float, r: int, h: float) -> float:
    return min(89.999999, abs(qy) + (r + 1) * h)


def d_safe_value(qy: float, r: int, precision: int) -> float:
    """Python mirror of the per-round safety bound (for tests)."""
    h = HASH_LEN_TO_LAT_HEIGHT[precision]
    w = HASH_LEN_TO_LON_WIDTH[precision]
    lon_n = 1 << ((precision * 5 + 1) // 2)
    if (2 * r + 1) >= lon_n:
        return r * h
    return min(r * h, r * w * math.cos(math.radians(_phi_max_deg(qy, r, h))))
