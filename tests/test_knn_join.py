"""The one kNN operator (`joins.knn_join`) against a brute-force oracle:
every (point, query) pair ranked by Vincenty distance, then the
tie-break, truncated to k — and, with `max_radius`, to the points
within that haversine distance.

Inputs are read back from parquet under `strict_codegen`: over a
createDataFrame(pandas) input (a LocalTableScan) Spark evaluates
projections on the driver without whole-stage codegen, so a compile
failure of the certified-radius or prefilter expressions could not
show."""
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.kernels.distance import geo_distance_deg
from spatial4n_spark.operators.joins import _certified_radius, knn_join
from spatial4n_spark.plans.strategy import JoinPlan

PLAN = JoinPlan(precision=2, broadcast_shapes=True, salt=None)


def _from_parquet(spark, path, pdf):
    spark.createDataFrame(pdf).write.parquet(str(path))
    return spark.read.parquet(str(path))


def _points():
    rng = np.random.default_rng(8)
    # a tight cluster with empty cells all around it, a sparse uniform
    # background, points straddling the dateline and near both poles,
    # and 12 copies of one location (equal distances: ties)
    cluster = np.c_[rng.uniform(39.8, 40.2, 300), rng.uniform(29.8, 30.2, 300)]
    sparse = np.c_[rng.uniform(-180, 180, 60), rng.uniform(-90, 90, 60)]
    edges = np.array([[179.9, 10.0], [-179.95, 9.5], [180.0, 11.0],
                      [-180.0, -3.0], [0.0, 89.5], [120.0, 89.9],
                      [-60.0, 89.2], [10.0, -89.7], [-170.0, -89.95]])
    dup = np.tile([[-100.0, -20.0]], (12, 1))
    xy = np.concatenate([cluster, sparse, edges, dup])
    return pd.DataFrame({"point_id": np.arange(len(xy)),
                         "x": xy[:, 0], "y": xy[:, 1]})


def _queries():
    q = np.array([[40.0, 33.0],       # empty cells around, cluster nearby
                  [40.0, 30.0],       # inside the cluster
                  [-40.0, -50.0],     # far from everything dense
                  [179.95, 10.0],     # on the dateline
                  [-180.0, 0.0],
                  [180.0, -1.0],
                  [5.0, 89.3],        # within 1 degree of a pole
                  [-150.0, -89.9],
                  [0.0, 90.0],
                  [-100.0, -20.0]])   # on the tied copies
    return pd.DataFrame({"query_id": np.arange(len(q)),
                         "qx": q[:, 0], "qy": q[:, 1]})


def _brute(pts, qs, k, max_radius=None):
    out = set()
    px, py, pid = pts["x"].to_numpy(), pts["y"].to_numpy(), pts["point_id"].to_numpy()
    for q in qs.itertuples():
        d = geo_distance_deg(px, py, q.qx, q.qy, "vincentySphere")
        keep = np.ones(len(px), dtype=bool)
        if max_radius is not None:
            keep = geo_distance_deg(px, py, q.qx, q.qy, "haversine") <= max_radius
        idx = np.flatnonzero(keep)
        order = idx[np.lexsort((pid[idx], d[idx]))][:k]
        out |= {(q.query_id, int(pid[i]), rank + 1) for rank, i in enumerate(order)}
    return out


def _build(spark, *args, **kw):
    """knn_join's frame and the number of Spark jobs building it started."""
    sc = spark.sparkContext
    group = f"knn-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build")
    try:
        df = knn_join(*args, **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return {(r.query_id, r.point_id, r.knn_rank) for r in df.collect()}


@pytest.mark.parametrize("max_radius", [None, 60.0, 3.0])
def test_knn_join_matches_brute_force(strict_codegen, tmp_path, max_radius):
    spark = strict_codegen
    pts_pd, qs_pd = _points(), _queries()
    pts = _from_parquet(spark, tmp_path / "p", pts_pd)
    qs = _from_parquet(spark, tmp_path / "q", qs_pd)
    df, jobs = _build(spark, pts, qs, 5, PLAN, max_radius=max_radius,
                      query_id="query_id", tie_break="point_id")
    assert jobs == 0
    got = _rows(df)
    assert got == _brute(pts_pd, qs_pd, 5, max_radius)
    per_query = {q: sum(1 for g in got if g[0] == q) for q in qs_pd.query_id}
    if max_radius == 3.0:
        # some queries have fewer than k points within the radius
        assert min(per_query.values()) < 5 and max(per_query.values()) == 5
    else:
        assert set(per_query.values()) == {5}
    # the tied copies are settled by the tie-break: lowest ids first
    dup_ids = pts_pd.point_id[(pts_pd.x == -100.0) & (pts_pd.y == -20.0)]
    assert {g[1] for g in got if g[0] == 9} == set(sorted(dup_ids)[:5])


@pytest.mark.parametrize("max_radius", [None, 60.0])
def test_knn_join_k_above_point_count(strict_codegen, tmp_path, max_radius):
    spark = strict_codegen
    pts_pd = pd.DataFrame({"point_id": [0, 1, 2, 3],
                           "x": [10.0, 11.0, -170.0, 179.0],
                           "y": [0.0, 1.0, 45.0, -80.0]})
    qs_pd = pd.DataFrame({"query_id": [0, 1, 2], "qx": [10.5, -179.0, 0.0],
                          "qy": [0.5, 44.0, 89.9]})
    pts = _from_parquet(spark, tmp_path / "p", pts_pd)
    qs = _from_parquet(spark, tmp_path / "q", qs_pd)
    df, jobs = _build(spark, pts, qs, 6, PLAN, max_radius=max_radius,
                      query_id="query_id", tie_break="point_id")
    assert jobs == 0
    got = _rows(df)
    assert got == _brute(pts_pd, qs_pd, 6, max_radius)
    if max_radius is None:
        assert len(got) == 12  # every point, ranked, for every query


@pytest.mark.parametrize("max_radius", [None, 60.0])
def test_knn_join_output_schema(spark, max_radius):
    """One schema whichever radius case settled a row: the point
    columns, the query columns, dist_exact, knn_rank."""
    pts = spark.createDataFrame([(1, 0.0, 0.0, "a")],
                                "point_id long, x double, y double, tag string")
    qs = spark.createDataFrame([(7, 1.0, 1.0)],
                               "query_id long, qx double, qy double")
    df = knn_join(pts, qs, 3, PLAN, max_radius=max_radius)
    assert df.columns == ["point_id", "x", "y", "tag", "query_id", "qx",
                          "qy", "dist_exact", "knn_rank"]
    assert [tuple(r)[:6] for r in df.collect()] == [(1, 0.0, 0.0, "a", 7, 1.0)]


def test_certified_radius_bounds_the_window(strict_codegen, tmp_path):
    """The certified radius is at least the distance from the query to
    every point of its window's box, sampled densely (with the box's
    meridian at 180 degrees from the query and the latitude -qy, where
    the farthest point can lie off the corners)."""
    spark = strict_codegen
    rng = np.random.default_rng(4)
    n_side = 1024
    w, h = 360.0 / n_side, 180.0 / n_side
    n = 400
    li = rng.integers(0, n_side, n)
    ti = np.where(np.arange(n) % 4 == 0, rng.choice([0, 1, n_side - 2,
                                                      n_side - 1], n),
                  rng.integers(0, n_side, n))
    r = rng.choice([0, 1, 3, 40, 200, 400, 511, 512, 1023], n)
    qx = -180.0 + (li + rng.random(n)) * w
    qy = -90.0 + (ti + rng.random(n)) * h
    df = _from_parquet(spark, tmp_path / "c", pd.DataFrame(
        {"qx": qx, "qy": qy, "li": li, "ti": ti, "r": r}))
    rows = df.select("qx", "qy", "li", "ti", "r", _certified_radius(
        F.col("qx"), F.col("qy"), F.col("li"), F.col("ti"), F.col("r"),
        n_side, n_side).alias("rad")).collect()
    assert len(rows) == n
    for x, y, i, j, k, rad in rows:
        lam_a, lam_b = (i - k) * w - 180.0, (i + k + 1) * w - 180.0
        phi_a = max(-90.0, (j - k) * h - 90.0)
        phi_b = min(90.0, (j + k + 1) * h - 90.0)
        xs = np.r_[np.linspace(lam_a, min(lam_b, lam_a + 360.0), 121),
                   [v for v in (x - 180.0, x + 180.0) if lam_a <= v <= lam_b]]
        ys = np.r_[np.linspace(phi_a, phi_b, 121),
                   [-y] if phi_a <= -y <= phi_b else []]
        gx, gy = np.meshgrid(xs, ys)
        far = geo_distance_deg(gx.ravel(), gy.ravel(), x, y,
                               "vincentySphere").max()
        assert far <= rad <= 180.0, (x, y, i, j, k)
