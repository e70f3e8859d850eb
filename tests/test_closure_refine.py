"""Closure-refine join path == struct-refine path (set equality).

The closure path collects the broadcast-small shape layer into a
task-closure table and refines on (shape_id, x, y) only — the join
must produce exactly the same (point, shape) pairs as the struct path
that ships vertex arrays per candidate row, across every shape kind
and the dateline.
"""
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


WKTS = [
    (1, "POLYGON((-10 -10, 30 -10, 10 25, -10 -10))"),
    (2, "POLYGON((170 -20, -170 -20, -175 20, 170 -20))"),     # dateline
    (3, "BUFFER(POINT(50 10), 8)"),                            # circle
    (4, "ENVELOPE(-60, -20, 40, 5)"),                          # rect
    (5, "BUFFER(LINESTRING(100 0, 120 10, 140 0), 3)"),        # buffered line
    (6, "POLYGON((0 50, 20 50, 20 70, 0 70, 0 50),"
        " (5 55, 15 55, 15 65, 5 65, 5 55))"),                 # hole
]


def test_closure_refine_matches_struct_path(spark):
    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    rng = np.random.RandomState(11)
    lon = rng.uniform(-179.9, 179.9, 5000)
    lat = rng.uniform(-80, 80, 5000)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lon, lat))],
        "pid int, x double, y double")
    shapes = (spark.createDataFrame(WKTS, "sid int, wkt string")
              .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
              .select("sid", "shape"))

    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    struct_pairs = {(r["pid"], r["sid"]) for r in
                    point_in_shape_join(pts, shapes, plan)
                    .select("pid", "sid").collect()}
    closure_pairs = {(r["pid"], r["sid"]) for r in
                     point_in_shape_join(pts, shapes, plan, shape_id="sid")
                     .select("pid", "sid").collect()}
    assert closure_pairs == struct_pairs
    assert len(struct_pairs) > 100  # non-trivial corpus


def test_closure_refine_falls_back_when_layer_too_big(spark, monkeypatch):
    """Above the vertex cap the join silently uses the struct path."""
    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators import refine
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    monkeypatch.setattr(refine, "MAX_CLOSURE_VERTICES", 3)
    pts = spark.createDataFrame([(0, 5.0, 5.0)], "pid int, x double, y double")
    shapes = (spark.createDataFrame(
        [(1, "POLYGON((-10 -10, 30 -10, 10 25, -10 -10))")], "sid int, wkt string")
        .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
        .select("sid", "shape"))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    out = point_in_shape_join(pts, shapes, plan, shape_id="sid")
    assert [(r["pid"], r["sid"]) for r in out.select("pid", "sid").collect()] \
        == [(0, 1)]


def test_closure_falls_back_on_duplicate_or_null_ids(spark):
    """A non-unique (or null) shape_id must not silently collapse two
    shapes onto one closure entry — the join falls back to the struct
    path and keeps both shapes' results."""
    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    pts = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 50.0, 5.0)], "pid int, x double, y double")
    shapes = (spark.createDataFrame(
        [(7, "POLYGON((-10 -10, 30 -10, 10 25, -10 -10))"),
         (7, "POLYGON((40 -10, 80 -10, 60 25, 40 -10))")],
        "sid int, wkt string")
        .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
        .select("sid", "shape"))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    out = point_in_shape_join(pts, shapes, plan, shape_id="sid")
    assert sorted((r["pid"], r["sid"]) for r in
                  out.select("pid", "sid").collect()) == [(0, 7), (1, 7)]


def test_closure_semi_anti_match_struct(spark):
    """how=leftsemi/leftanti flow through the closure path unchanged."""
    import numpy as np
    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    rng = np.random.RandomState(5)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(
            zip(rng.uniform(-60, 60, 800), rng.uniform(-50, 50, 800)))],
        "pid int, x double, y double")
    shapes = (spark.createDataFrame(
        [(1, "POLYGON((-10 -10, 30 -10, 10 25, -10 -10))"),
         (2, "BUFFER(POINT(40 10), 9)")], "sid int, wkt string")
        .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
        .select("sid", "shape"))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    for how in ("leftsemi", "leftanti"):
        a = {r["pid"] for r in point_in_shape_join(
            pts, shapes, plan, how=how).select("pid").collect()}
        b = {r["pid"] for r in point_in_shape_join(
            pts, shapes, plan, how=how, shape_id="sid").select("pid").collect()}
        assert a == b, how
    assert len(a) > 0


def test_convex_fast_path_no_python_and_correct(spark):
    """An all-convex polygon layer takes the unrolled half-plane JVM
    path: ZERO Python stages in the plan, results equal to the even-odd
    kernel struct path."""
    import numpy as np
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    rng = np.random.RandomState(13)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(
            zip(rng.uniform(-80, 80, 4000), rng.uniform(-60, 60, 4000)))],
        "pid int, x double, y double")
    # convex shapes: triangles, a quad, a CW pentagon
    wkts = [
        (1, "POLYGON((-10 -10, 30 -10, 10 25, -10 -10))"),
        (2, "POLYGON((40 0, 60 0, 60 20, 40 20, 40 0))"),
        (3, "POLYGON((-60 10, -64 24, -74 24, -78 10, -69 0, -60 10))"),  # CW
    ]
    from spatial4n_spark import functions as SF
    shapes = (spark.createDataFrame(wkts, "sid int, wkt string")
              .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
              .select("sid", "shape"))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    struct_pairs = {(r["pid"], r["sid"]) for r in
                    point_in_shape_join(pts, shapes, plan)
                    .select("pid", "sid").collect()}
    fast = point_in_shape_join(pts, shapes, plan, shape_id="sid")
    fast_pairs = {(r["pid"], r["sid"]) for r in
                  fast.select("pid", "sid").collect()}
    assert fast_pairs == struct_pairs and len(struct_pairs) > 50

    p = fast._jdf.queryExecution().executedPlan().toString()
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow"):
        assert bad not in p, p[:1500]


def test_nonconvex_layer_skips_fast_path(spark):
    """A layer containing a non-convex polygon must use the kernel
    refine (the half-plane AND would be wrong for it)."""
    import numpy as np
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan
    from spatial4n_spark import functions as SF

    rng = np.random.RandomState(29)
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(
            zip(rng.uniform(-20, 40, 3000), rng.uniform(-20, 40, 3000)))],
        "pid int, x double, y double")
    # L-shaped (non-convex): its convex hull would wrongly contain the
    # notch — set-equality with the struct path proves the fallback
    wkts = [(1, "POLYGON((0 0, 30 0, 30 10, 10 10, 10 30, 0 30, 0 0))")]
    shapes = (spark.createDataFrame(wkts, "sid int, wkt string")
              .withColumn("shape", SF.st_from_wkt(F.col("wkt")))
              .select("sid", "shape"))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    a = {r["pid"] for r in point_in_shape_join(pts, shapes, plan)
         .select("pid").collect()}
    b = {r["pid"] for r in point_in_shape_join(pts, shapes, plan,
                                               shape_id="sid")
         .select("pid").collect()}
    assert a == b and len(a) > 50
    # notch points must be excluded (hull would include them)
    notch = spark.createDataFrame([(0, 20.0, 20.0)],
                                  "pid int, x double, y double")
    assert point_in_shape_join(notch, shapes, plan,
                               shape_id="sid").count() == 0


def test_convex_halfplanes_agree_with_evenodd_kernel():
    """Kernel-level property sweep (no Spark): random convex hulls —
    the half-plane AND equals the even-odd PIP on random probes."""
    import numpy as np
    from spatial4n_spark.kernels.pip import points_in_polygon
    from spatial4n_spark.kernels.wkt import KIND_POLYGON, _convex_hull_ring
    from spatial4n_spark.operators.refine import convex_halfplanes

    rng = np.random.RandomState(41)
    for trial in range(60):
        pts = rng.uniform(-50, 50, (rng.randint(3, 12), 2))
        hull = _convex_hull_ring([[tuple(q) for q in pts]])
        xs = np.asarray(hull[0], dtype=np.float64)
        ys = np.asarray(hull[1], dtype=np.float64)
        if len(xs) < 3 or len(xs) > 8:
            continue
        ro = np.array([0, len(xs)], dtype=np.int64)
        table = {1: dict(kind=KIND_POLYGON, minx=xs.min(), maxx=xs.max(),
                         miny=ys.min(), maxy=ys.max(), xs=xs, ys=ys,
                         ring_offsets=ro)}
        hp = convex_halfplanes(table)
        assert hp is not None, (trial, len(xs))
        px = rng.uniform(-60, 60, 500)
        py = rng.uniform(-60, 60, 500)
        want = points_in_polygon(px, py, xs, ys, ro)
        got = np.ones(500, dtype=bool)
        for a, b, c in hp[1]:
            got &= (a * px + b * py + c) >= 0
        assert (got == want).all(), trial
