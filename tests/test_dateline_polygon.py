"""Dateline polygon handling: unwrap + page-cut at +-180
(NtsGeometry.cs:379-527, NtsWktShapeParser Width180 rule), the
reference's dateline-shift replay invariant (NtsGeometryTest.cs:204-224),
and the distributed join over a dateline-crossing polygon."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.kernels import wkt
from spatial4n_spark.kernels.pip import points_in_polygon


def _pip(shape, px, py):
    return points_in_polygon(np.asarray(px, dtype=float),
                             np.asarray(py, dtype=float),
                             np.array(shape["xs"]), np.array(shape["ys"]),
                             np.array(shape["ring_offsets"]))


@pytest.mark.parametrize("w,inside,outside", [
    # explicit out-of-range lon (unambiguous crossing)
    ("POLYGON((170 0, 190 0, 190 10, 170 10, 170 0))",
     [(175, 5), (-175, 5), (179.9, 9)], [(0, 5), (169, 5), (-169, 5)]),
    # Width180 rule: >180-wide shell within bounds => crossing
    # (pentagon — a rectangular ring would demote to a rect instead,
    # NtsWktShapeParser.MakeRectFromPoly)
    ("POLYGON((170 -5, -178 -6, -170 -5, -170 5, 170 5, 170 -5))",
     [(175, 0), (-175, 0)], [(0, 0), (160, 0)]),
    # negative out-of-range
    ("POLYGON((-190 0, -170 0, -170 10, -190 10, -190 0))",
     [(-175, 5), (175, 5)], [(0, 5), (-169, 5)]),
])
def test_dateline_pages_pip_and_bbox(w, inside, outside):
    r = wkt.parse_shape(w)
    assert r["kind"] == wkt.KIND_MULTIPOLYGON  # page-cut
    assert r["minx"] > r["maxx"]               # dateline bbox
    got_in = _pip(r, [p[0] for p in inside], [p[1] for p in inside])
    got_out = _pip(r, [p[0] for p in outside], [p[1] for p in outside])
    assert got_in.all() and not got_out.any()


def test_shift_replay_invariant():
    """+180-degree longitude shift preserves containment verdicts
    (the reference's dateline-shifted replay)."""
    rng = np.random.default_rng(11)
    # not axis-parallel: a rectangular ring would demote to a rect
    base = [(10.0, -5.0), (40.0, -5.0), (41.3, 8.0), (10.0, 8.0), (10.0, -5.0)]
    px = rng.uniform(-180, 180, 500)
    py = rng.uniform(-20, 20, 500)

    def norm(x):
        return ((x + 180.0) % 360.0) - 180.0

    r0 = wkt.parse_shape(
        "POLYGON((" + ", ".join(f"{x} {y}" for x, y in base) + "))")
    v0 = _pip(r0, px, py)
    shifted = [(x + 180.0, y) for x, y in base]  # now crosses via >180
    r1 = wkt.parse_shape(
        "POLYGON((" + ", ".join(f"{x} {y}" for x, y in shifted) + "))")
    v1 = _pip(r1, norm(px + 180.0), py)
    assert np.array_equal(v0, v1)


def test_distributed_join_dateline_polygon(spark):
    """point_in_shape_join over a dateline-crossing polygon finds
    points on BOTH sides of +-180 (cover codes + bbox gate + PIP)."""
    import pandas as pd

    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    polys = (spark.createDataFrame(
                pd.DataFrame({"poly_id": [1], "w": [
                    "POLYGON((170 0, 190 0, 190 10, 170 10, 170 0))"]}))
             .withColumn("shape", SF.st_from_wkt(F.col("w")))
             .select("poly_id", "shape"))
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [1, 2, 3, 4, 5],
        "x": [175.0, -175.0, 0.0, 169.0, -169.0],
        "y": [5.0, 5.0, 5.0, 5.0, 5.0]}))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    got = {r.pid for r in point_in_shape_join(pts, polys, plan)
           .select("pid").collect()}
    assert got == {1, 2}
