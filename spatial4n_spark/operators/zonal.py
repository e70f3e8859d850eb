"""Raster <-> vector zonal extraction (graft-only operator, SURVEY 2.7).

Rasters are opaque media refs on document spans. The decode step is a
Pandas-UDF `mapInPandas` stage with REAL Spark plumbing (schema,
batching, partitioning) and a STUBBED codec: image/audio libraries are
not available in this container, so refs matching raster://tile/<id>
decode to a deterministic synthetic 16x16 grid; any other ref raises
NotImplementedError where a real GDAL/PIL decode would plug in.

Zonal pipeline: decode -> pixel rows with geo centers -> cell-index
join against zone covers -> containment refine -> groupBy(zone) agg.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)

TILE_W = 16
TILE_H = 16
# 16 x 4 tile grid covering the world
TILE_DX = 22.5 / TILE_W
TILE_DY = 45.0 / TILE_H

PIXEL_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("px_lon", DoubleType()),
    StructField("px_lat", DoubleType()),
    StructField("value", LongType()),
])


def _decode_batch(batch: pd.DataFrame) -> pd.DataFrame:
    refs = batch["media_ref"]
    out_ref, out_lon, out_lat, out_val = [], [], [], []
    i_idx, j_idx = np.meshgrid(np.arange(TILE_W), np.arange(TILE_H), indexing="ij")
    i_flat = i_idx.ravel()
    j_flat = j_idx.ravel()
    for ref in refs:
        if not ref.startswith("raster://tile/"):
            raise NotImplementedError(
                f"real raster decode not available in this container: {ref}")
        t = int(ref.rsplit("/", 1)[1])
        lon0 = (t % 16) * 22.5 - 180.0
        lat0 = (t // 16) * 45.0 - 90.0
        lon = lon0 + (i_flat + 0.5) * TILE_DX
        lat = lat0 + (j_flat + 0.5) * TILE_DY
        val = (t * 31 + i_flat * 7 + j_flat * 13) % 255
        out_ref.extend([ref] * TILE_W * TILE_H)
        out_lon.append(lon)
        out_lat.append(lat)
        out_val.append(val)
    if not out_ref:
        return pd.DataFrame({c.name: pd.Series(dtype=object) for c in PIXEL_SCHEMA})
    return pd.DataFrame({
        "media_ref": out_ref,
        "px_lon": np.concatenate(out_lon),
        "px_lat": np.concatenate(out_lat),
        "value": np.concatenate(out_val).astype(np.int64),
    })


def decode_raster_tiles(refs_df: DataFrame) -> DataFrame:
    """media_ref rows -> pixel rows (the decode stage).

    mapInPandas keeps decode streaming per Arrow batch; on a cluster the
    input should be repartitioned by media_ref bucketing beforehand so
    one tile never splits across tasks.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _decode_batch(b)
    return refs_df.select("media_ref").distinct().mapInPandas(gen, PIXEL_SCHEMA)


def zonal_stats_tagged(pixels: DataFrame, zones: DataFrame,
                       precision: int = 2) -> DataFrame:
    """ONE coarse/refine pass for a MIXED zone layer.

    `zones`: (zone_kind string, zone_id bigint, shape struct) — rect
    zones as kind=2 structs, polygon zones as parsed shapes, any other
    shape kind welcome. All families share a single cell-code
    equi-join + closure refine over the pixels instead of one
    join/aggregate branch per family (the r3 layout ran the 16k-pixel
    scan and its gate twice and paid a second Spark job for the second
    family — at 100 TB of pixels that's a doubled pixel scan).

    The closure key is zone_kind#zone_id (unique across families);
    splitting it back after the aggregate is two JVM string ops on
    |zones| rows.
    """
    from ..plans.strategy import JoinPlan
    from .joins import point_in_shape_join

    zkeyed = zones.select(
        F.concat_ws("#", "zone_kind",
                    F.col("zone_id").cast("string")).alias("__zkey"),
        "shape")
    plan = JoinPlan(precision=precision, broadcast_shapes=True, salt=None)
    j = point_in_shape_join(pixels, zkeyed, plan,
                            point_x="px_lon", point_y="px_lat",
                            shape_id="__zkey")
    agg = (j.groupBy("__zkey")
            .agg(F.count("*").alias("px_count"),
                 F.sum("value").alias("px_sum")))
    split = F.split(F.col("__zkey"), "#")
    return agg.select(split.getItem(0).alias("zone_kind"),
                      split.getItem(1).cast("bigint").alias("zone_id"),
                      "px_count", "px_sum")
