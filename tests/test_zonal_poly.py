"""Polygon-zone zonal stats vs a brute-force even-odd oracle.

`zonal_stats_tagged` runs pixels through the cell-join + PIP-refine
skeleton; here one `poly` family of polygon zones is checked against a
direct point-in-polygon evaluation over the same synthetic pixels.
"""
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def _pip(px, py, ring):
    """Even-odd crossing test (matches kernels/pip.py semantics)."""
    xs = [v[0] for v in ring]
    ys = [v[1] for v in ring]
    n = len(xs)
    inside = False
    j = n - 1
    for i in range(n):
        if (ys[i] > py) != (ys[j] > py):
            t = (py - ys[i]) / (ys[j] - ys[i])
            if px < xs[i] + t * (xs[j] - xs[i]):
                inside = not inside
        j = i
    return inside


POLYS = {
    1: [(-10.0, -10.0), (30.0, -10.0), (10.0, 25.0)],
    2: [(100.0, 10.0), (140.0, 10.0), (140.0, 50.0), (100.0, 50.0)],
    3: [(-120.0, -60.0), (-60.0, -60.0), (-90.0, 0.0)],
}


def test_polygon_zones_match_bruteforce(spark):
    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.zonal import zonal_stats_tagged

    rng = np.random.RandomState(7)
    lon = rng.uniform(-175, 175, 4000)
    lat = rng.uniform(-85, 85, 4000)
    val = rng.randint(0, 255, 4000)
    px = spark.createDataFrame(
        [(float(a), float(b), int(v)) for a, b, v in zip(lon, lat, val)],
        "px_lon double, px_lat double, value long")

    rows = []
    for pid, ring in POLYS.items():
        wkt = "POLYGON((" + ", ".join(f"{x} {y}" for x, y in ring + [ring[0]]) + "))"
        rows.append(("poly", pid, wkt))
    zones = (spark.createDataFrame(rows, "zone_kind string, zone_id bigint, wkt string")
             .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
             .select("zone_kind", "zone_id", "shape"))

    got = {(r["zone_kind"], r["zone_id"]): (r["px_count"], r["px_sum"])
           for r in zonal_stats_tagged(px, zones, precision=2).collect()}

    want = {}
    for pid, ring in POLYS.items():
        m = np.array([_pip(a, b, ring) for a, b in zip(lon, lat)])
        if m.any():
            want["poly", pid] = (int(m.sum()), int(val[m].sum()))
    assert got == want
