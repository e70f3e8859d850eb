"""Adaptive multi-level cell join: correctness vs the fixed-level join
and the local kernel, pair uniqueness, and the candidate-count win on a
mixed-size shape corpus (the Russia-vs-Monaco case a single global
level can't index well).
"""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels import geohash as gh
from spatial4n_spark.kernels import relation as REL
from spatial4n_spark.kernels.relate_rect import relate_rect_point
from spatial4n_spark.operators.joins import (point_in_shape_join,
                                             point_in_shape_join_adaptive,
                                             with_point_cell,
                                             with_shape_cover)
from spatial4n_spark.plans.strategy import JoinPlan


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


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    """200 tiny rects (0.02-0.2 deg) + 8 continent-scale rects
    (30-80 deg), one crossing the dateline; 6000 uniform points."""
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
    rdf = spark.createDataFrame(rects).withColumn("shape", _rect_shape_col())
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


def test_adaptive_join_matches_kernel_truth(mixed_corpus):
    sdf, pts, rdf, rects = mixed_corpus
    got = (point_in_shape_join_adaptive(sdf, rdf, min_level=2, max_level=7,
                                        shape_kinds=(2,))
           .select("point_id", "rect_id").toPandas()
           .sort_values(["point_id", "rect_id"]).reset_index(drop=True))
    want = _truth_pairs(pts, rects)
    assert len(want) > 100
    pd.testing.assert_frame_equal(got, want)


def test_adaptive_pair_uniqueness(mixed_corpus):
    """A (point, shape) pair meets at most once: the shape has ONE
    level and the point ONE cell at that level — no dedup shuffle."""
    sdf, _, rdf, _ = mixed_corpus
    dup = (point_in_shape_join_adaptive(sdf, rdf, min_level=2, max_level=7,
                                        shape_kinds=(2,))
           .groupBy("point_id", "rect_id").count()
           .where(F.col("count") > 1).count())
    assert dup == 0


def test_adaptive_salted_shuffle_path_equal(mixed_corpus):
    sdf, pts, rdf, rects = mixed_corpus
    got = (point_in_shape_join_adaptive(sdf, rdf, min_level=2, max_level=7,
                                        broadcast_shapes=False, salt=4,
                                        shape_kinds=(2,))
           .select("point_id", "rect_id").toPandas()
           .sort_values(["point_id", "rect_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, _truth_pairs(pts, rects))


def test_adaptive_semi_anti(mixed_corpus):
    sdf, pts, rdf, rects = mixed_corpus
    truth = _truth_pairs(pts, rects)
    hit_ids = set(truth["point_id"].tolist())
    semi = (point_in_shape_join_adaptive(sdf, rdf, min_level=2, max_level=7,
                                         shape_kinds=(2,), how="leftsemi")
            .select("point_id").toPandas()["point_id"])
    assert set(semi.tolist()) == hit_ids
    anti = (point_in_shape_join_adaptive(sdf, rdf, min_level=2, max_level=7,
                                         shape_kinds=(2,), how="leftanti")
            .select("point_id").toPandas()["point_id"])
    assert set(anti.tolist()) == set(pts["point_id"].tolist()) - hit_ids


def test_adaptive_candidate_reduction(mixed_corpus):
    """The scale argument, measured (mixed-size corpus, band [2,7],
    budget 4). A fixed level must choose its poison — coarse drowns the
    small shapes in candidates, fine explodes the big shapes' covers
    (measured on this corpus: L2 cover=526/cand=3119, L3 8208/1494,
    L4 241 006/1346, L5 7 615 404/1334). The adaptive index takes
    neither: cover ~787 rows with ~1888 candidates. Asserted:

    - fewer candidates than the comparable-cover coarse level (L2);
    - >5x fewer cover rows than the next finer level (L3) while
      candidates stay within 1.5x of L3's;
    - per-shape fan-out <= budget for every shape above the floor
      level (the bound that holds at ANY size distribution);
    - the fine level's cover blowup is real (>20x adaptive's at L4).
    """
    sdf, pts, rdf, rects = mixed_corpus
    lo, hi = 2, 7

    cover_a = (rdf.withColumn("__cells", SF.st_cover_codes_adaptive(
                   F.col("shape.minx"), F.col("shape.maxx"),
                   F.col("shape.miny"), F.col("shape.maxy"), lo, hi))
                  .select("rect_id", F.explode("__cells").alias("cover_cell")))
    cover_a_rows = cover_a.count()
    pts_a = (sdf.select("point_id", SF.st_cell_codes_multilevel_col(
                 "`y`", "`x`", lo, hi).alias("__mlcells"))
                .select("point_id", F.explode("__mlcells").alias("cell_id")))
    cand_adaptive = pts_a.join(F.broadcast(cover_a),
                               pts_a["cell_id"] == cover_a["cover_cell"]).count()

    # shape-side fan-out is bounded: every shape above the floor level
    # covers <= budget cells; floor-level shapes use the grid range
    sizes = cover_a.groupBy("rect_id").count().toPandas()
    lvl = gh.adaptive_level_for_bbox(
        rects["minx"].to_numpy(), rects["maxx"].to_numpy(),
        rects["miny"].to_numpy(), rects["maxy"].to_numpy(), lo, hi)
    fine = set(rects["rect_id"].to_numpy()[lvl > lo].tolist())
    assert (sizes[sizes["rect_id"].isin(fine)]["count"] <= 4).all()

    def fixed_stats(level, join=True):
        cover_f = with_shape_cover(rdf, "shape", level, codes=True) \
            .select("rect_id", "cover_cell")
        rows = cover_f.count()
        if not join:
            return rows, None
        pts_f = with_point_cell(sdf, "x", "y", level, codes=True) \
            .select("point_id", "cell_id")
        cand = pts_f.join(F.broadcast(cover_f),
                          pts_f["cell_id"] == cover_f["cover_cell"]).count()
        return rows, cand

    rows2, cand2 = fixed_stats(lo)
    assert cand_adaptive < cand2, (cand_adaptive, cand2)
    rows3, cand3 = fixed_stats(lo + 1)
    assert cover_a_rows * 5 < rows3, (cover_a_rows, rows3)
    assert cand_adaptive <= cand3 * 1.5, (cand_adaptive, cand3)
    rows4, _ = fixed_stats(lo + 2, join=False)
    assert cover_a_rows * 20 < rows4, (cover_a_rows, rows4)


def test_adaptive_point_side_is_pure_codegen(mixed_corpus):
    """The big (point) side's multi-level cell array is a pure Column
    expression: no ArrowEvalPython/MapInPandas node may appear in the
    point-side stage of the plan (the only Python in the whole join is
    the small shape side's batch cover kernel)."""
    sdf, _, rdf, _ = mixed_corpus
    out = point_in_shape_join_adaptive(sdf, rdf, min_level=2, max_level=7,
                                       shape_kinds=(2,))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # exactly one Python stage: the broadcast shape-cover side
    assert plan.count("ArrowEvalPython") <= 1
    assert "MapInPandas" not in plan and "MapInArrow" not in plan


def test_tagged_codes_distinct_across_levels():
    """Same numeric cell code at two levels must produce two different
    join keys (the level tag) — the collision the tag exists to kill."""
    a = gh.tag_level([0, 1, 5], 4)
    b = gh.tag_level([0, 1, 5], 5)
    assert set(a.tolist()).isdisjoint(set(b.tolist()))
    # tag round-trips
    assert [c >> gh.LEVEL_TAG_BITS for c in a] == [0, 1, 5]
    assert all(c & 15 == 4 for c in a)


def test_shape_cover_single_udf_pass(mixed_corpus):
    """with_shape_cover plans no Python node: its cover and geohash
    spelling are codegen expressions. Regression for the adaptive
    cover: plain explode of a UDF-built cover array triggers
    InferFiltersFromGenerate, whose size()>0 pre-filter extracts a
    SECOND ArrowEvalPython node — the cover UDF then runs twice per
    shape row. It must plan exactly ONE ArrowEvalPython (explode_outer
    + null-filter on the output)."""
    _, _, rdf, _ = mixed_corpus
    cov = with_shape_cover(rdf, "shape", 4, codes=False)
    plan = cov._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0, plan
    cov_a = rdf.select("rect_id", F.explode_outer(SF.st_cover_codes_adaptive(
        F.col("shape.minx"), F.col("shape.maxx"),
        F.col("shape.miny"), F.col("shape.maxy"), 2, 7)).alias("c"))
    plan_a = cov_a._jdf.queryExecution().executedPlan().toString()
    assert plan_a.count("ArrowEvalPython") == 1, plan_a


def test_adaptive_closure_path_set_equal(spark, mixed_corpus):
    """shape_id closure path == struct path on the mixed-size corpus
    (incl. the dateline-crossing continental rect)."""
    from spatial4n_spark.operators.joins import point_in_shape_join_adaptive
    sdf, _, rdf, _ = mixed_corpus
    a = point_in_shape_join_adaptive(sdf, rdf, min_level=3, max_level=7,
                                     cells_budget=4)
    b = point_in_shape_join_adaptive(sdf, rdf, min_level=3, max_level=7,
                                     cells_budget=4, shape_id="rect_id")
    sa = {(r["point_id"], r["rect_id"])
          for r in a.select("point_id", "rect_id").collect()}
    sb = {(r["point_id"], r["rect_id"])
          for r in b.select("point_id", "rect_id").collect()}
    assert sa == sb and len(sa) > 100
