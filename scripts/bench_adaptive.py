"""Adaptive multi-level cell join vs fixed-level at bench scale.

The mixed-size admin-layer case (tiny parcels + continent polygons in
ONE layer) is where a single global cover level breaks: fine levels
explode big shapes into thousands of cover cells, coarse levels drown
small shapes in false candidates. This script measures, on a 2M-point x
2 058-shape mixed corpus (2 000 tiny / 50 medium / 8 continental, one
dateline-crossing):

  - fixed-level point_in_shape_join at L3..L6 (cover rows, candidate
    pairs, wall time)
  - point_in_shape_join_adaptive (per-shape level, cells_budget=4)

Result rows are asserted identical across all variants before timing
(same exact join). Output: one JSON line per variant; paste the table
into BENCH.md.

Usage: python scripts/bench_adaptive.py   [SPARK_GRAFT_CPUS=16]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def _rect_shape_col():
    return F.struct(
        F.lit(2).cast("tinyint").alias("kind"),
        F.lit(None).cast("double").alias("x"),
        F.lit(None).cast("double").alias("y"),
        F.lit(None).cast("double").alias("radius"),
        F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
        F.lit(None).cast("array<double>").alias("xs"),
        F.lit(None).cast("array<double>").alias("ys"),
        F.lit(None).cast("array<int>").alias("ring_offsets"),
        F.lit(None).cast("string").alias("error"),
    )


def main() -> None:
    from spatial4n_spark.operators.joins import (point_in_shape_join,
                                                 point_in_shape_join_adaptive)
    from spatial4n_spark.plans.strategy import JoinPlan
    from spatial4n_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    n_pts = int(os.environ.get("SPARK_GRAFT_ADAPTIVE_POINTS", "2000000"))
    spark = get_spark("bench-adaptive", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # --- corpus: deterministic LCG points, mixed-size rects ------------
    pts_path = f"/tmp/spark_graft_adaptive_pts_{n_pts}"
    if not os.path.exists(pts_path + "/_SUCCESS"):
        (spark.range(n_pts)
         .selectExpr("id AS point_id",
                     "((id * 48271) % 7200000) / 20000.0 - 180.0 AS x",
                     "((id * 16807) % 3600000) / 20000.0 - 90.0 AS y")
         .write.mode("overwrite").parquet(pts_path))
    pts = spark.read.parquet(pts_path)

    rng = np.random.RandomState(11)
    m_small, m_med, m_big = 2000, 50, 8
    cx = rng.uniform(-178, 178, m_small)
    w = rng.uniform(0.02, 0.2, m_small)
    y1 = rng.uniform(-85, 84, m_small)
    small = pd.DataFrame({"rect_id": np.arange(m_small),
                          "minx": cx - w / 2, "maxx": cx + w / 2,
                          "miny": y1, "maxy": y1 + rng.uniform(0.02, 0.2, m_small)})
    mx = rng.uniform(-170, 160, m_med)
    mw = rng.uniform(2, 8, m_med)
    my = rng.uniform(-80, 70, m_med)
    med = pd.DataFrame({"rect_id": np.arange(m_small, m_small + m_med),
                        "minx": mx, "maxx": mx + mw,
                        "miny": my, "maxy": my + rng.uniform(2, 8, m_med)})
    bx = rng.uniform(-170, 90, m_big)
    by = rng.uniform(-80, 40, m_big)
    big = pd.DataFrame({"rect_id": np.arange(m_small + m_med, m_small + m_med + m_big),
                        "minx": bx, "maxx": bx + rng.uniform(30, 80, m_big),
                        "miny": by, "maxy": by + rng.uniform(20, 40, m_big)})
    big.loc[big.index[-1], ["minx", "maxx"]] = [150.0, -160.0]
    rects = pd.concat([small, med, big], ignore_index=True)
    rdf = (spark.createDataFrame(rects)
           .withColumn("shape", _rect_shape_col())
           .localCheckpoint())

    def timed(tag, build):
        # warmup + min of 2 (steady-state; the corpus fits in page cache)
        counts = []
        secs = []
        for i in range(3):
            t0 = time.time()
            counts.append(build().count())
            secs.append(time.time() - t0)
        assert len(set(counts)) == 1, counts
        return counts[0], round(min(secs[1:]), 3)

    results = {}
    truth = None
    for lv in (2, 3, 4, 5):
        plan = JoinPlan(precision=lv, broadcast_shapes=True, salt=None, shape_kinds=(2,))
        n, sec = timed(f"fixed_L{lv}",
                       lambda p=plan: point_in_shape_join(pts, rdf, p))
        if truth is None:
            truth = n
        assert n == truth, (lv, n, truth)
        results[f"fixed_L{lv}"] = {"rows": n, "sec": sec}

    n, sec = timed("adaptive", lambda: point_in_shape_join_adaptive(
        pts, rdf, min_level=3, max_level=7, cells_budget=4,
        shape_kinds=(2,)))
    assert n == truth, (n, truth)
    results["adaptive"] = {"rows": n, "sec": sec}

    print(json.dumps({"points": n_pts, "shapes": len(rects),
                      "join_rows": truth, "cpus": cpus,
                      "variants": results}))
    spark.stop()


if __name__ == "__main__":
    main()
