"""Exact kNN (no radius bound) vs brute force + the salted shuffle-join path."""
import dataclasses

from pyspark.sql import functions as F

from spatial4n_spark import contract
from spatial4n_spark.operators.joins import knn_join, point_in_shape_join
from spatial4n_spark.plans.strategy import JoinPlan, plan_point_shape_join

SF_DIR = "/root/testdata/sf0.001"


def test_knn_rings_matches_brute_force(spark):
    pts = contract.customer_points(spark, SF_DIR) \
        .withColumnRenamed("c_custkey", "point_id")
    qs = contract.supplier_circles(spark, SF_DIR).selectExpr(
        "circle_id AS query_id", "cx AS qx", "cy AS qy")
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    got = knn_join(pts, qs, k=3, plan=plan,
                   query_id="query_id", tie_break="point_id")
    got_set = {(r.query_id, r.point_id, r.knn_rank) for r in got.collect()}

    from spatial4n_spark import functions as SFN
    from pyspark.sql import Window
    brute = pts.crossJoin(qs).withColumn(
        "d", SFN.st_distance_deg(F.col("x"), F.col("y"), F.col("qx"),
                                 F.col("qy"), "vincentySphere"))
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(),
                                               F.col("point_id").asc())
    want = {(r.query_id, r.point_id, r.rk) for r in
            brute.withColumn("rk", F.row_number().over(w))
                 .where("rk <= 3").collect()}
    assert got_set == want
    assert len(got_set) > 0


def test_salted_join_path_equals_broadcast(spark):
    """Force the salted shuffle join and compare with broadcast."""
    pts = contract.customer_points(spark, SF_DIR)
    rects = contract.nation_rects(spark, SF_DIR)
    base = plan_point_shape_join(1500, 25, 34.0, 18.0, shape_kinds=(2,))
    plan_b = dataclasses.replace(base, broadcast_shapes=True, salt=None)
    plan_s = dataclasses.replace(base, broadcast_shapes=False, salt=8)

    b = {(r.c_custkey, r.rect_id) for r in
         point_in_shape_join(pts, rects, plan_b)
         .select("c_custkey", "rect_id").collect()}
    s = {(r.c_custkey, r.rect_id) for r in
         point_in_shape_join(pts, rects, plan_s)
         .select("c_custkey", "rect_id").collect()}
    assert b == s and len(b) > 0


def test_hot_cell_ratio_drives_salting(spark):
    from spatial4n_spark.plans.strategy import (estimate_hot_cell_ratio,
                                                plan_point_shape_join)
    # uniform points: no single hot cell
    uni = spark.range(20000).selectExpr(
        "((id * 7919) % 71989) / 200.0 - 179.97 AS x",
        "((id * 104729) % 35993) / 200.0 - 89.97 AS y")
    r_uni = estimate_hot_cell_ratio(uni, precision=3, sample_fraction=0.5)
    assert r_uni < 0.05

    # 60% of points piled on one spot: hot cell dominates
    skew = spark.range(20000).selectExpr(
        "CASE WHEN id % 10 < 6 THEN 10.001 ELSE ((id * 7919) % 71989) / 200.0 - 179.97 END AS x",
        "CASE WHEN id % 10 < 6 THEN 45.001 ELSE ((id * 104729) % 35993) / 200.0 - 89.97 END AS y")
    r_skew = estimate_hot_cell_ratio(skew, precision=3, sample_fraction=0.5)
    assert r_skew > 0.5

    # the planner salts only for the skewed, non-broadcast case
    p = plan_point_shape_join(10**9, 10**6, 1.0, 1.0,
                              hot_cell_ratio=r_skew)
    assert not p.broadcast_shapes and p.salt
    p2 = plan_point_shape_join(10**9, 10**6, 1.0, 1.0,
                               hot_cell_ratio=r_uni)
    assert p2.salt is None
