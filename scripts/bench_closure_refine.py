"""Struct-refine vs closure-refine on corpus-scale polygons.

The struct path ships each shape's vertex arrays through Arrow once
per candidate row; the closure path ships them once per task and sends
only (id, x, y). With ~1000-vertex admin polygons (Russia corpus
fixture) the per-row payload is ~16 KB vs ~20 B — this script measures
what that means in wall clock at a few hundred thousand candidates.

Run: python scripts/bench_closure_refine.py [n_points] [cpus]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 16


def main() -> None:
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan
    from spatial4n_spark.session import get_spark

    spark = get_spark("bench-closure-refine", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    res = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tests", "resources")
    wkts = []
    for i, name in enumerate(["russia.wkt.txt", "fiji.wkt.txt"]):
        wkts.append((i, open(os.path.join(res, name)).read().strip()))
    shapes = (spark.createDataFrame(wkts, "sid int, wkt string")
              .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
              .select("sid", "shape"))

    # deterministic global point cloud; persist so both variants read
    # identical input without re-generation cost
    pts = (spark.range(N_POINTS)
           .select("id",
                   (F.pmod(F.col("id") * 7919, F.lit(360_000)) / 1000.0 - 180.0).alias("x"),
                   (F.pmod(F.col("id") * 104729, F.lit(170_000)) / 1000.0 - 85.0).alias("y"))
           .persist())
    pts.count()

    plan = JoinPlan(precision=3, broadcast_shapes=True, salt=None)

    def run(shape_id):
        t0 = time.time()
        n = point_in_shape_join(pts, shapes, plan, shape_id=shape_id).count()
        return n, time.time() - t0

    # warmup (python workers)
    point_in_shape_join(pts.limit(1000), shapes, plan).count()
    point_in_shape_join(pts.limit(1000), shapes, plan, shape_id="sid").count()

    rows = {}
    for label, sid in (("struct", None), ("closure", "sid")):
        best = None
        for _ in range(2):
            n, sec = run(sid)
            best = sec if best is None else min(best, sec)
        rows[label] = (n, best)
        print(f"{label:8s} rows={n}  best={best:.2f}s", flush=True)
    assert rows["struct"][0] == rows["closure"][0], rows
    print(f"speedup: {rows['struct'][1] / rows['closure'][1]:.2f}x")


if __name__ == "__main__":
    main()
