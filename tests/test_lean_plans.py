"""Lean query plans: contract tables read with declared schemas (no
eager schema-inference job) and every Python UDF call of a pair
operator evaluated by exactly one Python node of the executed plan.

Catalyst copies deterministic UDF calls: a Filter on a UDF column is
pushed below its Project with the call substituted in, a column read
twice is inlined, and constraint propagation adds `isnotnull(<udf>...)`
filters below the projection. Each copy is a second Arrow pass over
the same rows. The checks walk the final (AQE) plan and count, per UDF
call, the Python nodes that evaluate it: every copy of one call keeps
the call's result id.
"""
import os
import uuid
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import contract
from spatial4n_spark import functions as SF
from spatial4n_spark.kernels import relation as REL
from spatial4n_spark.operators.joins import knn_join, shape_shape_join
from spatial4n_spark.operators.overlay import overlay_intersection_join
from spatial4n_spark.plans.strategy import JoinPlan
from test_plans import SF_DIR

TESTDATA = os.path.dirname(SF_DIR)  # holds sf0.001, sf0.01 and sf0.1
_EVAL = ("ArrowEvalPythonExec", "BatchEvalPythonExec")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _udf_calls(expr, out):
    if expr.getClass().getSimpleName() == "PythonUDF":
        out.append((expr.name(), expr.resultId().id()))
    for ch in _seq(expr.children()):
        _udf_calls(ch, out)
    return out


def _python_calls(node, out):
    """(UDF name, result id) of every UDF call of every Python eval node,
    nested calls included; a reused exchange is not entered."""
    cls = node.getClass().getSimpleName()
    if cls in _EVAL:
        for u in _seq(node.udfs()):
            _udf_calls(u, out)
    if cls in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return out
    kids = ([node.executedPlan()] if cls == "AdaptiveSparkPlanExec" else
            [node.plan()] if cls.endswith("QueryStageExec") else
            _seq(node.children()))
    for k in kids + _seq(node.subqueries()):
        _python_calls(k, out)
    return out


def _collect_once_each(df):
    """Collect `df`, then assert every UDF call of its final plan runs in
    exactly one place. Returns the rows and a Counter of calls per UDF
    name."""
    rows = df.collect()  # the AQE plan is final after an action
    calls = _python_calls(df._jdf.queryExecution().executedPlan(), [])
    twice = {c: n for c, n in Counter(calls).items() if n > 1}
    assert not twice, f"UDF calls evaluated more than once: {twice}"
    return rows, Counter(name for name, _ in calls)


# --- declared schemas --------------------------------------------------------

@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_declared_schema_matches_inferred_and_starts_no_job(spark, sf):
    sc = spark.sparkContext
    sf_dir = os.path.join(TESTDATA, sf)
    for name in contract.TABLE_SCHEMAS:
        groups = {k: f"load-{k}-{uuid.uuid4().hex}" for k in ("declared", "inferred")}
        try:
            sc.setJobGroup(groups["declared"], "build")
            declared = contract._load(spark, sf_dir, name)
            sc.setJobGroup(groups["inferred"], "build")
            inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = {k: len(sc.statusTracker().getJobIdsForGroup(g))
                for k, g in groups.items()}
        assert declared.schema == inferred.schema, name
        assert jobs["declared"] == 0, name
        # the counter does see the inference job the declaration saves
        assert jobs["inferred"] >= 1, name


# --- every pair UDF evaluated once ------------------------------------------

def _write(tmp_path, name, cols) -> str:
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def _triangles(rng, n, x0, y0, size):
    x = rng.uniform(x0, x0 + 40, n).round(2)
    y = rng.uniform(y0, y0 + 30, n).round(2)
    return [f"POLYGON (({a} {b}, {a + size} {b}, {a + size / 2} {b + size},"
            f" {a} {b}))" for a, b in zip(x, y)]


@pytest.fixture(scope="module")
def layers(spark, tmp_path_factory):
    """Two polygon layers read from parquet, each parsed by st_from_wkt:
    triangles (lid, lshape) and holed squares (rid, rshape)."""
    tmp = tmp_path_factory.mktemp("lean_layers")
    rng = np.random.default_rng(7)
    lpath = _write(tmp, "left", {"lid": np.arange(300, dtype=np.int64),
                                 "wkt": _triangles(rng, 300, 0.0, 0.0, 3.0)})
    sq = [(a, b) for a in range(0, 40, 8) for b in range(0, 30, 8)]
    rwkt = [f"POLYGON (({a} {b}, {a + 7} {b}, {a + 7} {b + 7}, {a} {b + 7},"
            f" {a} {b}), ({a + 2} {b + 2}, {a + 4} {b + 2}, {a + 4} {b + 4},"
            f" {a + 2} {b + 4}, {a + 2} {b + 2}))" for a, b in sq]
    rpath = _write(tmp, "right", {"rid": np.arange(len(sq), dtype=np.int64),
                                  "wkt": rwkt})
    left = spark.read.parquet(lpath).select(
        "lid", SF.st_from_wkt(F.col("wkt")).alias("lshape"))
    right = spark.read.parquet(rpath).select(
        "rid", SF.st_from_wkt(F.col("wkt")).alias("rshape"))
    return left, right


def test_shape_join_all_then_filter_relates_once(spark, layers):
    left, right = layers
    out = shape_shape_join(left, right, 2, predicate="all")
    rows, names = _collect_once_each(
        out.where(F.col("relation") != REL.DISJOINT).select("lid", "rid"))
    # one parse per side and one relate
    assert names["_st_from_wkt_default"] == 2
    assert names["st_relate_polygon_polygon"] == 1
    want = shape_shape_join(left, right, 2, predicate="intersects"
                            ).select("lid", "rid").collect()
    assert len(rows) > 20 and sorted(rows) == sorted(want)


def test_overlay_with_fracs_measures_once(spark, layers):
    left, right = layers
    out = overlay_intersection_join(left, right, 2, with_fracs=True)
    rows, names = _collect_once_each(
        out.select("lid", "rid", "inter_area_deg2", "frac_left", "frac_right"))
    assert names["_st_from_wkt_default"] == 2
    assert names["st_overlay_measure"] == 1
    assert len(rows) > 20
    assert all(r.inter_area_deg2 > 0 and 0 < r.frac_left <= 1 + 1e-12
               for r in rows)


def test_overlay_area_and_geometry_once(spark, layers):
    left, right = layers
    out = overlay_intersection_join(left, right, 2, with_geometry=True)
    rows, names = _collect_once_each(out.select(
        "lid", "rid", "inter_area_deg2",
        SF.st_area(F.col("inter_shape"), geo=False).alias("g_area")))
    assert names["st_shape_intersection_area"] == 1
    assert names["st_intersection"] == 1
    assert len(rows) > 20
    assert all(abs(r.g_area - r.inter_area_deg2) < 1e-9 for r in rows)


def test_knn_max_radius_hav_vin_once(spark, tmp_path):
    rng = np.random.default_rng(11)
    ppath = _write(tmp_path, "points", {
        "point_id": np.arange(2000, dtype=np.int64),
        "x": rng.uniform(-60, 60, 2000), "y": rng.uniform(-40, 40, 2000)})
    qpath = _write(tmp_path, "queries", {
        "query_id": np.arange(40, dtype=np.int64),
        "qx": rng.uniform(-60, 60, 40), "qy": rng.uniform(-40, 40, 40)})
    out = knn_join(spark.read.parquet(ppath), spark.read.parquet(qpath), 5,
                   JoinPlan(precision=2, broadcast_shapes=True, salt=None),
                   max_radius=6.0, tie_break="point_id")
    rows, names = _collect_once_each(out.select("query_id", "point_id",
                                                "dist_exact", "knn_rank"))
    assert names["st_hav_vin"] == 1
    assert rows and all(r.knn_rank <= 5 and r.dist_exact <= 6.0 + 1e-6
                        for r in rows)


def test_boolean_geometry_family_once(spark):
    rows, names = _collect_once_each(contract._boolean_geometry_family(
        spark, os.path.join(TESTDATA, "sf0.001")))
    assert names["_st_from_wkt_default"] == 2
    for udf in ("st_intersection", "st_difference", "st_union"):
        assert names[udf] == 1, udf
    assert len(rows) == 25
