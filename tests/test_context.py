"""SpatialContextFactory-analog tests, mirroring
Spatial4n.Tests/context/SpatialContextFactoryTest.cs."""
import numpy as np
import pytest

from spatial4n_spark.context import GEO, SpatialEngineContext


def test_default_is_geo_haversine():
    assert GEO.geo and GEO.calculator == "haversine"
    assert GEO.world_bounds == (-180.0, 180.0, -90.0, 90.0)


def test_cartesian_factory_args():
    # mirrors: geo=false => CartesianDistCalc (:61-62)
    ctx = SpatialEngineContext.from_args({"geo": "false"})
    assert not ctx.geo and ctx.calculator == "cartesian"
    # cartesian^2 + custom worldBounds (:67-68)
    ctx = SpatialEngineContext.from_args({
        "geo": "false", "distCalculator": "cartesian^2",
        "worldBounds": "ENVELOPE(-100, 75, 200, 0)"})
    assert ctx.calculator == "cartesian^2"
    assert ctx.world_bounds == (-100.0, 75.0, 0.0, 200.0)
    assert ctx.distance(0.0, 0.0, 3.0, 4.0) == 25.0  # squared


def test_geo_calculators_case_insensitive():
    for name in ("lawOfCosines", "vincentySphere", "HAVERSINE"):
        ctx = SpatialEngineContext.from_args({"geo": "true",
                                              "distCalculator": name})
        assert ctx.geo
    with pytest.raises(ValueError, match="Unknown calculator"):
        SpatialEngineContext.from_args({"distCalculator": "bogus"})


def test_norm_wrap_longitude():
    ctx = SpatialEngineContext.from_args({"normWrapLongitude": "true"})
    assert ctx.norm_wrap_longitude
    assert ctx.norm_x(190.0) == -170.0
    assert GEO.norm_x(190.0) == 190.0  # default: no wrap


def test_verify_bounds():
    GEO.verify_x(np.array([-180.0, 0.0, 180.0]))
    with pytest.raises(ValueError, match="Bad X"):
        GEO.verify_x(np.array([181.0]))
    with pytest.raises(ValueError, match="Bad Y"):
        GEO.verify_y(np.array([-91.0]))


def test_read_shape_legacy_then_wkt():
    p = GEO.read_shape("10 20")              # legacy point
    assert (p["x"], p["y"]) == (10.0, 20.0)
    r = GEO.read_shape("-10 20 30 40")       # legacy rect
    assert (r["minx"], r["miny"], r["maxx"], r["maxy"]) == (-10.0, 20.0, 30.0, 40.0)
    w = GEO.read_shape("POINT (1.5 2.5)")    # falls through to WKT
    assert (w["x"], w["y"]) == (1.5, 2.5)


def test_distance_matches_kernel():
    from spatial4n_spark.kernels.distance import geo_distance_deg
    got = GEO.distance(10.0, 20.0, 30.0, 40.0)
    want = geo_distance_deg(10.0, 20.0, 30.0, 40.0, "haversine")
    assert got == want


# ---- precision model (NtsSpatialContext.cs:91-101, factory keys
# precisionModel/precisionScale :55-58,101-127) -----------------------------

def test_precision_model_fixed_snaps_coordinates():
    from spatial4n_spark.context import SpatialEngineContext
    ctx = SpatialEngineContext.from_args(
        {"precisionModel": "fixed", "precisionScale": "100"})
    r = ctx.parse_wkt("POINT (10.123456 -3.987654)")
    assert (r["x"], r["y"]) == (10.12, -3.99)
    # JTS makePrecise = Math.round semantics: floor(v*scale + 0.5)/scale
    assert ctx.parse_wkt("POINT (0.005 -0.005)")["x"] == 0.01
    # polygons snap every vertex (and the bbox follows)
    p = ctx.parse_wkt("POLYGON((0.004 0.004, 10.006 0.004, 5.001 5.009, 0.004 0.004))")
    assert p["xs"][:3] == [0.0, 10.01, 5.0]
    assert p["minx"] == 0.0 and p["maxy"] == 5.01


def test_precision_model_floating_single():
    import numpy as np

    from spatial4n_spark.context import SpatialEngineContext
    ctx = SpatialEngineContext.from_args({"precisionModel": "floating_single"})
    v = 10.123456789123456
    r = ctx.parse_wkt(f"POINT ({v} 0)")
    assert r["x"] == float(np.float32(v)) and r["x"] != v


def test_precision_model_default_is_noop_roundtrip():
    from spatial4n_spark.context import SpatialEngineContext
    ctx = SpatialEngineContext()
    v = 112.50000000000003
    assert ctx.parse_wkt(f"POINT ({v} 1)")["x"] == v


def test_precision_scale_requires_fixed_model():
    import pytest

    from spatial4n_spark.context import SpatialEngineContext
    with pytest.raises(ValueError, match="must be 'fixed'"):
        SpatialEngineContext.from_args({"precisionScale": "10"})
    with pytest.raises(ValueError, match="precisionScale"):
        SpatialEngineContext.from_args({"precisionModel": "fixed"})


def test_norm_xy_apply_snap():
    import numpy as np

    from spatial4n_spark.context import SpatialEngineContext
    ctx = SpatialEngineContext.from_args(
        {"precisionModel": "fixed", "precisionScale": "10",
         "normWrapLongitude": "true"})
    assert ctx.norm_x(np.array([190.04]))[0] == -170.0
    assert ctx.norm_y(np.array([3.26]))[0] == 3.3


def test_spark_st_from_wkt_precision(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    df = spark.createDataFrame(pd.DataFrame(
        {"w": ["POINT (10.123456 -3.987654)",
               "ENVELOPE (1.004, 2.006, 5.009, 3.001)"]}))
    got = df.select(SF.st_from_wkt(
        F.col("w"), precision_model="fixed", precision_scale=100.0
    ).alias("s")).select("s.*").collect()
    assert (got[0]["x"], got[0]["y"]) == (10.12, -3.99)
    assert (got[1]["minx"], got[1]["maxx"],
            got[1]["miny"], got[1]["maxy"]) == (1.0, 2.01, 3.0, 5.01)


def test_auto_index_factory_key(spark):
    """autoIndex (NtsSpatialContextFactory.cs:47-48,76,95): force the
    closure-refine join — the engine's PreparedGeometry analog
    (NtsGeometry.Index(), :124-134) — even when the broadcast
    heuristic would take the struct path."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    from spatial4n_spark import operators
    from spatial4n_spark.context import SpatialEngineContext
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan, plan_point_shape_join

    ctx = SpatialEngineContext.from_args({"autoIndex": "true"})
    assert ctx.auto_index
    assert not SpatialEngineContext().auto_index
    plan = plan_point_shape_join(1000, 10, 5.0, 5.0,
                                 auto_index=ctx.auto_index)
    assert plan.auto_index

    shapes = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 10 0, 5 9, 0 0))")], ["sid", "wkt"]) \
        .withColumn("shape", SF.st_from_wkt(F.col("wkt"))).select("sid", "shape")
    pts = spark.createDataFrame([(1, 5.0, 2.0), (2, 50.0, 2.0)],
                                ["pid", "x", "y"])
    import spatial4n_spark.operators.joins as J
    called = []
    orig = J._point_in_shape_join_closure

    def spy(*a, **kw):
        called.append(1)
        return orig(*a, **kw)
    J._point_in_shape_join_closure = spy
    try:
        # broadcast off + auto_index on -> closure path still taken
        plan2 = JoinPlan(precision=2, broadcast_shapes=False, salt=None,
                         auto_index=True)
        out = point_in_shape_join(pts, shapes, plan2, shape_id="sid")
        assert [r["pid"] for r in out.select("pid").collect()] == [1]
        assert called
        # broadcast off + auto_index off -> struct path
        called.clear()
        plan3 = JoinPlan(precision=2, broadcast_shapes=False, salt=None)
        out = point_in_shape_join(pts, shapes, plan3, shape_id="sid")
        assert [r["pid"] for r in out.select("pid").collect()] == [1]
        assert not called
    finally:
        J._point_in_shape_join_closure = orig
