"""Bucketed co-located cell join: the shuffle must be GONE.

SURVEY §2.6's bucketing lever: both sides written bucketBy(cell_id)
with matching counts -> the recurring spatial equi-join plans with no
Exchange at all, and results equal the plain shuffled join.
"""
import numpy as np
import pytest

from spatial4n_spark import functions as SF
from spatial4n_spark.sources.bucketed import (cell_join_bucketed,
                                              prepare_points_bucketed,
                                              write_bucketed_by_cell)

N_BUCKETS = 8
PRECISION = 3


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # spark.sql.warehouse.dir is a static conf; the session default
    # (./spark-warehouse, gitignored) hosts the managed test tables
    rng = np.random.default_rng(41)
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
            zip(rng.uniform(-60, 60, 4000), rng.uniform(-40, 40, 4000)))],
        ["pid", "x", "y"])
    zones = spark.createDataFrame(
        [(int(j), float(x), float(y)) for j, (x, y) in enumerate(
            zip(rng.uniform(-60, 60, 500), rng.uniform(-40, 40, 500)))],
        ["zid", "zx", "zy"])
    zones = zones.withColumn(
        "cell_id", SF.st_cell_code_col("`zy`", "`zx`", PRECISION))
    prepare_points_bucketed(spark, pts, "pts_bucketed", PRECISION,
                            n_buckets=N_BUCKETS)
    write_bucketed_by_cell(zones, "zones_bucketed", N_BUCKETS)
    yield "pts_bucketed", "zones_bucketed", pts, zones
    spark.sql("DROP TABLE IF EXISTS pts_bucketed")
    spark.sql("DROP TABLE IF EXISTS zones_bucketed")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt, _, _ = bucketed_tables
    # default plan: no SHUFFLE exchange (a small side may broadcast —
    # also shuffle-free for the big side)
    j = cell_join_bucketed(spark, lt, rt)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    # the two-huge-layers shape: forced SortMergeJoin zips bucket i
    # with bucket i — NO Exchange of any kind, and the bucket sort
    # order even removes the per-task Sort
    smj = cell_join_bucketed(spark, lt, rt, force_sort_merge=True)
    plan2 = smj._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan2, plan2
    assert "Exchange" not in plan2, plan2
    assert smj.count() > 0


def test_bucketed_join_equals_shuffled_join(spark, bucketed_tables):
    lt, rt, pts, zones = bucketed_tables
    bucketed = {(r.pid, r.zid) for r in
                cell_join_bucketed(spark, lt, rt).select("pid", "zid")
                .collect()}
    plain_pts = pts.withColumn(
        "cell_id", SF.st_cell_code_col("`y`", "`x`", PRECISION))
    plain = {(r.pid, r.zid) for r in
             plain_pts.join(zones, "cell_id").select("pid", "zid").collect()}
    assert bucketed == plain and len(bucketed) > 0


def test_mismatched_bucket_counts_fall_back_to_shuffle(spark,
                                                       bucketed_tables):
    """Documents the constraint: bucket counts must match for the
    zip join — a mismatched right side reintroduces an Exchange."""
    lt, _, _, zones = bucketed_tables
    write_bucketed_by_cell(zones, "zones_mismatched", N_BUCKETS * 2)
    try:
        j = cell_join_bucketed(spark, lt, "zones_mismatched")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS zones_mismatched")
