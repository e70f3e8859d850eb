"""End-to-end distributed spatial join vs local kernel ground truth.

The RectIntersectionTest philosophy (RectIntersectionTestHelper.cs:46-170)
applied to the distributed path: verdicts from the Spark cell-join must
equal verdicts computed by the local kernels on the same pairs.
"""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels import relation as REL
from spatial4n_spark.kernels.pip import points_in_polygon
from spatial4n_spark.kernels.relate_rect import relate_rect_point
from spatial4n_spark.operators.joins import (distance_join, knn_join,
                                             point_in_shape_join,
                                             with_shape_cover)
from spatial4n_spark.plans.strategy import JoinPlan, plan_point_shape_join
from spatial4n_spark.shapes import shape_col
from spatial4n_spark.sources.docs import extract_geo_spans, generate_docs


def _from_parquet(spark, path, pdf):
    """`pdf` as a DataFrame read back from parquet."""
    spark.createDataFrame(pdf).write.parquet(str(path))
    return spark.read.parquet(str(path))


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.RandomState(11)
    n = 4000
    pdf = pd.DataFrame({
        "point_id": np.arange(n),
        "x": rng.uniform(-180, 180, n),
        "y": rng.uniform(-90, 90, n),
    })
    return spark.createDataFrame(pdf), pdf


@pytest.fixture(scope="module")
def rects_pdf():
    rng = np.random.RandomState(12)
    m = 40
    cx = rng.uniform(-180, 180, m)
    w = rng.uniform(1, 40, m)
    minx = ((cx - w / 2 + 180) % 360) - 180
    maxx = ((cx + w / 2 + 180) % 360) - 180
    y1 = rng.uniform(-85, 75, m)
    h = rng.uniform(1, 15, m)
    return pd.DataFrame({"rect_id": np.arange(m), "minx": minx, "maxx": maxx,
                         "miny": y1, "maxy": y1 + h})


def test_point_in_rect_join_matches_kernel(spark, points_df, rects_pdf):
    sdf, pdf = points_df
    rects = spark.createDataFrame(rects_pdf).withColumn(
        "shape", F.struct(
            F.lit(2).cast("tinyint").alias("kind"),
            F.lit(None).cast("double").alias("x"),
            F.lit(None).cast("double").alias("y"),
            F.lit(None).cast("double").alias("radius"),
            F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
            F.lit(None).cast("array<double>").alias("xs"),
            F.lit(None).cast("array<double>").alias("ys"),
            F.lit(None).cast("array<int>").alias("ring_offsets"),
            F.lit(None).cast("string").alias("error"),
        ))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    got = (point_in_shape_join(sdf, rects, plan)
           .select("point_id", "rect_id").toPandas()
           .sort_values(["point_id", "rect_id"]).reset_index(drop=True))

    # local ground truth: full cross product through the kernel
    px = np.repeat(pdf["x"].to_numpy(), len(rects_pdf))
    py = np.repeat(pdf["y"].to_numpy(), len(rects_pdf))
    rx1 = np.tile(rects_pdf["minx"].to_numpy(), len(pdf))
    rx2 = np.tile(rects_pdf["maxx"].to_numpy(), len(pdf))
    ry1 = np.tile(rects_pdf["miny"].to_numpy(), len(pdf))
    ry2 = np.tile(rects_pdf["maxy"].to_numpy(), len(pdf))
    rel = relate_rect_point(rx1, rx2, ry1, ry2, px, py, geo=True)
    hits = rel == REL.CONTAINS
    want = pd.DataFrame({
        "point_id": np.repeat(pdf["point_id"].to_numpy(), len(rects_pdf))[hits],
        "rect_id": np.tile(rects_pdf["rect_id"].to_numpy(), len(pdf))[hits],
    }).sort_values(["point_id", "rect_id"]).reset_index(drop=True)
    assert len(want) > 50, "test data should produce hits"
    pd.testing.assert_frame_equal(got, want)


def test_join_strategies_agree(spark, points_df, rects_pdf):
    """broadcast / shuffle / salted plans return identical pair sets,
    on a rect layer and on a non-convex polygon layer."""
    sdf, _ = points_df
    rects = spark.createDataFrame(rects_pdf).withColumn(
        "shape", F.struct(
            F.lit(2).cast("tinyint").alias("kind"),
            F.lit(None).cast("double").alias("x"),
            F.lit(None).cast("double").alias("y"),
            F.lit(None).cast("double").alias("radius"),
            F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
            F.lit(None).cast("array<double>").alias("xs"),
            F.lit(None).cast("array<double>").alias("ys"),
            F.lit(None).cast("array<int>").alias("ring_offsets"),
            F.lit(None).cast("string").alias("error"),
        ))
    plans = [
        JoinPlan(precision=3, broadcast_shapes=True, salt=None),
        JoinPlan(precision=3, broadcast_shapes=False, salt=None),
        JoinPlan(precision=3, broadcast_shapes=False, salt=8),
    ]
    results = [sorted(map(tuple, point_in_shape_join(sdf, rects, p)
                          .select("point_id", "rect_id").collect()))
               for p in plans]
    assert results[0] == results[1] == results[2]
    assert len(results[0]) > 50

    # non-convex polygons (12-point stars) go through the struct
    # polygon refine on every plan; each plan equals the kernel truth
    _, pdf = points_df
    rng = np.random.RandomState(13)
    t = np.linspace(0, 2 * np.pi, 12, endpoint=False)
    stars, want = [], []
    for sid in range(30):
        cx, cy = rng.uniform(-160, 160), rng.uniform(-70, 70)
        r = np.where(np.arange(12) % 2, 4.0, 12.0) * rng.uniform(0.5, 1.5)
        xs, ys = cx + r * np.cos(t), cy + r * np.sin(t)
        ring = ", ".join(f"{x!r} {y!r}" for x, y in
                         zip(np.r_[xs, xs[0]], np.r_[ys, ys[0]]))
        stars.append((sid, f"POLYGON(({ring}))"))
        hit = points_in_polygon(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                                xs, ys)
        want += [(int(p), sid) for p in pdf["point_id"].to_numpy()[hit]]
    polys = (spark.createDataFrame(stars, "poly_id int, wkt string")
             .select("poly_id", SF.st_from_wkt(F.col("wkt")).alias("shape")))
    for p in plans:
        got = sorted(map(tuple, point_in_shape_join(sdf, polys, p)
                         .select("point_id", "poly_id").collect()))
        assert got == sorted(want)
    assert len(want) > 50


def test_docs_pipeline_pip_join(spark):
    """Flagship slice: docs -> explode spans -> st_from_wkt -> PIP join."""
    docs = generate_docs(spark, 2000, 8)
    geo = extract_geo_spans(docs)
    n_geo = geo.count()
    assert n_geo == 2000  # every doc has exactly one WKT span
    pts = (geo.where(F.col("shape.kind") == 1)
              .select("doc_id", F.col("shape.x").alias("x"), F.col("shape.y").alias("y")))
    rects = spark.createDataFrame(pd.DataFrame({
        "rect_id": [0, 1, 2],
        "minx": [-180.0, 100.0, 170.0], "maxx": [0.0, 140.0, -170.0],
        "miny": [-90.0, -30.0, -20.0], "maxy": [90.0, 30.0, 20.0],
    })).withColumn("shape", F.struct(
        F.lit(2).cast("tinyint").alias("kind"),
        F.lit(None).cast("double").alias("x"),
        F.lit(None).cast("double").alias("y"),
        F.lit(None).cast("double").alias("radius"),
        F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
        F.lit(None).cast("array<double>").alias("xs"),
        F.lit(None).cast("array<double>").alias("ys"),
        F.lit(None).cast("array<int>").alias("ring_offsets"),
        F.lit(None).cast("string").alias("error")))
    plan = plan_point_shape_join(2000, 3, 40.0, 40.0)
    out = point_in_shape_join(pts, rects, plan).select("doc_id", "rect_id")
    counts = dict((r["rect_id"], r["cnt"]) for r in
                  out.groupBy("rect_id").agg(F.count("*").alias("cnt")).collect())
    # rect 0 is the western hemisphere: roughly half the docs
    assert counts.get(0, 0) > 600
    assert counts.get(1, 0) > 0


def test_distance_and_knn_join(strict_codegen, tmp_path, points_df):
    """Inputs read back from parquet: over a createDataFrame(pandas)
    input (a LocalTableScan) Spark evaluates the haversine prefilter on
    the driver without whole-stage codegen, so a compile failure of it
    could not show."""
    spark = strict_codegen
    _, pdf = points_df
    queries = pd.DataFrame({"query_id": [0, 1, 2],
                            "qx": [0.0, 100.0, -170.0],
                            "qy": [0.0, 45.0, -60.0]})
    sdf = _from_parquet(spark, tmp_path / "points", pdf)
    qdf = _from_parquet(spark, tmp_path / "queries", queries)
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    R = 25.0
    got = (distance_join(sdf, qdf, R, plan).select("query_id", "point_id", "dist_deg")
           .toPandas())
    # ground truth
    from spatial4n_spark.kernels.distance import geo_distance_deg
    for _, q in queries.iterrows():
        d = geo_distance_deg(pdf["x"].to_numpy(), pdf["y"].to_numpy(),
                             q["qx"], q["qy"], "haversine")
        want_ids = set(pdf["point_id"].to_numpy()[d <= R].tolist())
        got_ids = set(got[got["query_id"] == q["query_id"]]["point_id"].tolist())
        assert got_ids == want_ids, q["query_id"]

    k = 7
    knn = knn_join(sdf, qdf, k, plan, max_radius=40.0, query_id="query_id",
                   tie_break="point_id").toPandas()
    from spatial4n_spark.kernels.distance import geo_distance_deg as gd
    for _, q in queries.iterrows():
        d = gd(pdf["x"].to_numpy(), pdf["y"].to_numpy(), q["qx"], q["qy"],
               "vincentySphere")
        order = np.lexsort((pdf["point_id"].to_numpy(), d))
        want_top = set(pdf["point_id"].to_numpy()[order[:k]].tolist())
        got_top = set(knn[knn["query_id"] == q["query_id"]]["point_id"].tolist())
        assert got_top == want_top


def test_distance_join_keeps_antipodal_pairs(strict_codegen, tmp_path):
    """At radius 180 every pair is in range, exactly antipodal ones too
    (their haversine once read NaN and the pair was dropped)."""
    spark = strict_codegen
    pairs = [(-147.33, -14.89, 32.67, 14.89), (153.87, 8.81, -26.13, -8.81),
             (4.59, -19.9, -175.41, 19.9), (-91.03, 55.64, 88.97, -55.64)]
    x, y, qx, qy = (list(c) for c in zip(*pairs))
    pts = _from_parquet(spark, tmp_path / "points", pd.DataFrame(
        {"point_id": range(4), "x": x, "y": y}))
    qs = _from_parquet(spark, tmp_path / "queries", pd.DataFrame(
        {"query_id": range(4), "qx": qx, "qy": qy}))
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    got = distance_join(pts, qs, 180.0, plan).select(
        "point_id", "query_id", "dist_deg").collect()
    assert {(r.point_id, r.query_id) for r in got} == \
        {(i, j) for i in range(4) for j in range(4)}
    assert {r.dist_deg for r in got if r.point_id == r.query_id} == {180.0}


def test_knn_ladder_equals_single_pass(spark):
    """The one kNN plan with a radius must return EXACTLY the single
    wide pass: every pair within the radius, ranked by Vincenty and the
    tie-break."""
    from pyspark.sql import Window
    rng = np.random.default_rng(23)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-170, 170, 4000), rng.uniform(-80, 80, 4000)))],
        ["point_id", "x", "y"])
    qs = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-170, 170, 30), rng.uniform(-80, 80, 30)))],
        ["query_id", "qx", "qy"])
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None)
    one_plan = {(r.query_id, r.point_id, r.knn_rank) for r in
                knn_join(pts, qs, 3, plan, max_radius=60.0,
                         query_id="query_id", tie_break="point_id").collect()}
    w = Window.partitionBy("query_id").orderBy("dv", "point_id")
    wide = (distance_join(pts, qs, 60.0, plan)
            .withColumn("dv", SF.st_distance_deg(
                F.col("x"), F.col("y"), F.col("qx"), F.col("qy"),
                "vincentySphere"))
            .withColumn("rk", F.row_number().over(w)).where("rk <= 3"))
    single_pass = {(r.query_id, r.point_id, r.rk) for r in wide.collect()}
    assert one_plan == single_pass and len(one_plan) == 90


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    """A mixed-size layer no single cover level fits well: 200 tiny
    rects (0.02-0.2 deg) + 8 continent-scale rects (30-80 deg), one
    crossing the dateline; 6000 uniform points."""
    rng = np.random.RandomState(7)
    n = 6000
    pts = pd.DataFrame({
        "point_id": np.arange(n),
        "x": rng.uniform(-180, 180, n),
        "y": rng.uniform(-90, 90, n),
    })
    m_small, m_big = 200, 8
    cx = rng.uniform(-178, 178, m_small)
    w = rng.uniform(0.02, 0.2, m_small)
    y1 = rng.uniform(-85, 84, m_small)
    h = rng.uniform(0.02, 0.2, m_small)
    small = pd.DataFrame({"rect_id": np.arange(m_small),
                          "minx": cx - w / 2, "maxx": cx + w / 2,
                          "miny": y1, "maxy": y1 + h})
    bw = rng.uniform(30, 80, m_big)
    bx = rng.uniform(-170, 90, m_big)
    by = rng.uniform(-80, 40, m_big)
    bh = rng.uniform(20, 40, m_big)
    big = pd.DataFrame({"rect_id": np.arange(m_small, m_small + m_big),
                        "minx": bx, "maxx": bx + bw,
                        "miny": by, "maxy": by + bh})
    # one dateline-crossing big rect (minx > maxx)
    big.loc[big.index[-1], ["minx", "maxx"]] = [150.0, -160.0]
    rects = pd.concat([small, big], ignore_index=True)
    sdf = spark.createDataFrame(pts)
    rdf = spark.createDataFrame(rects).withColumn("shape", shape_col(
        kind=2, minx=F.col("minx"), maxx=F.col("maxx"),
        miny=F.col("miny"), maxy=F.col("maxy")))
    return sdf, pts, rdf, rects


def _truth_pairs(pts: pd.DataFrame, rects: pd.DataFrame) -> pd.DataFrame:
    px = np.repeat(pts["x"].to_numpy(), len(rects))
    py = np.repeat(pts["y"].to_numpy(), len(rects))
    rx1 = np.tile(rects["minx"].to_numpy(), len(pts))
    rx2 = np.tile(rects["maxx"].to_numpy(), len(pts))
    ry1 = np.tile(rects["miny"].to_numpy(), len(pts))
    ry2 = np.tile(rects["maxy"].to_numpy(), len(pts))
    rel = relate_rect_point(rx1, rx2, ry1, ry2, px, py, geo=True)
    hits = rel == REL.CONTAINS
    return (pd.DataFrame({
        "point_id": np.repeat(pts["point_id"].to_numpy(), len(rects))[hits],
        "rect_id": np.tile(rects["rect_id"].to_numpy(), len(pts))[hits]})
        .sort_values(["point_id", "rect_id"]).reset_index(drop=True))


_MIXED_PLANS = {"broadcast": JoinPlan(3, True, None, shape_kinds=(2,)),
                "salted": JoinPlan(3, False, 4, shape_kinds=(2,)),
                "shuffle": JoinPlan(3, False, None),
                "closure": JoinPlan(3, True, None)}


def _mixed_join(mixed_corpus, path, how):
    """The fixed-level join of the mixed-size layer under one plan. The
    broadcast and salted plans take the JVM rect gate, the shuffle plan
    the kernel refine, and `shape_id` the closure refine (the dateline
    rect keeps the layer off the convex fast path)."""
    sdf, _, rdf, _ = mixed_corpus
    shape_id = "rect_id" if path == "closure" else None
    return point_in_shape_join(sdf, rdf, _MIXED_PLANS[path], how=how,
                               shape_id=shape_id)


@pytest.mark.parametrize("path", list(_MIXED_PLANS))
def test_mixed_size_pip_join_matches_kernel(mixed_corpus, path):
    """Each plan of the fixed-level join on the mixed-size layer: the
    inner pairs equal the kernel truth."""
    _, pts, _, rects = mixed_corpus
    got = (_mixed_join(mixed_corpus, path, "inner")
           .select("point_id", "rect_id").toPandas()
           .sort_values(["point_id", "rect_id"]).reset_index(drop=True))
    truth = _truth_pairs(pts, rects)
    assert len(truth) > 100
    pd.testing.assert_frame_equal(got, truth)


def test_mixed_size_pip_pair_uniqueness(mixed_corpus):
    """A (point, rect) pair meets once: the point has one cell at the
    join level and a rect's cover holds that cell at most once, so no
    dedup shuffle is needed."""
    dup = (_mixed_join(mixed_corpus, "broadcast", "inner")
           .groupBy("point_id", "rect_id").count()
           .where(F.col("count") > 1).count())
    assert dup == 0


@pytest.mark.parametrize("path", list(_MIXED_PLANS))
def test_mixed_size_pip_semi_anti(mixed_corpus, path):
    """leftsemi keeps each point with a kernel-truth hit once and
    leftanti keeps the rest."""
    _, pts, _, rects = mixed_corpus
    hit_ids = set(_truth_pairs(pts, rects)["point_id"].tolist())
    semi = (_mixed_join(mixed_corpus, path, "leftsemi")
            .select("point_id").toPandas()["point_id"])
    assert sorted(semi.tolist()) == sorted(hit_ids)
    anti = (_mixed_join(mixed_corpus, path, "leftanti")
            .select("point_id").toPandas()["point_id"])
    assert set(anti.tolist()) == set(pts["point_id"].tolist()) - hit_ids
    assert len(anti) + len(semi) == len(pts)


def test_shape_cover_plans_no_python(mixed_corpus):
    """with_shape_cover plans no Python node: its cover and geohash
    spelling are codegen expressions."""
    _, _, rdf, _ = mixed_corpus
    cov = with_shape_cover(rdf, "shape", 4, codes=False)
    plan = cov._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0, plan
