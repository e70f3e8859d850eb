"""Session-default parquet staging (round 5): with
spark.spatial4n.stageDir set, every iterative/materialized stage
routes through parquet — results must be identical to the in-memory
localCheckpoint path, and stage files must actually appear."""
import os

import pytest

from spatial4n_spark.staging import (STAGE_CONF, resolve_stage_dir, stage,
                                     stage_path)


@pytest.fixture
def stage_conf(spark, tmp_path):
    d = str(tmp_path / "stage")
    spark.conf.set(STAGE_CONF, d)
    yield d
    spark.conf.unset(STAGE_CONF)


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def test_resolve_precedence(spark, stage_conf):
    assert resolve_stage_dir(spark, None) == stage_conf
    assert resolve_stage_dir(spark, "/explicit") == "/explicit"
    spark.conf.unset(STAGE_CONF)
    assert resolve_stage_dir(spark, None) is None
    spark.conf.set(STAGE_CONF, stage_conf)


def test_stage_roundtrip_writes_parquet(spark, stage_conf):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    out = stage(df, "unit")
    assert _rowset(out) == _rowset(df)
    stages = [p for p in os.listdir(stage_conf) if p.startswith("unit-")]
    assert len(stages) == 1


def test_stage_paths_namespaced_by_application():
    """Two applications sharing a staging directory, each at the same
    per-process counter value, stage to different paths."""
    a = stage_path("/shared/stage", "lsh_bands", "local-1700000000001", 0)
    b = stage_path("/shared/stage", "lsh_bands", "local-1700000000002", 0)
    assert a != b
    for p, app in ((a, "local-1700000000001"), (b, "local-1700000000002")):
        assert p.startswith("/shared/stage/lsh_bands-") and app in p


def test_stage_writes_under_this_application(spark, stage_conf):
    stage(spark.range(3), "appcheck")
    app = spark.sparkContext.applicationId
    assert any(p.startswith(f"appcheck-{app}-")
               for p in os.listdir(stage_conf))


def _docs(spark):
    rows = [(i, ("alpha beta gamma delta epsilon zeta eta theta "
                 * 3 + f"tail{i % 7}")) for i in range(80)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_pairs_identical_both_paths(spark, stage_conf, tmp_path):
    from spatial4n_spark.operators.dedup import minhash_lsh_pairs
    docs = _docs(spark)
    with_stage = _rowset(minhash_lsh_pairs(docs))
    spark.conf.unset(STAGE_CONF)
    try:
        in_memory = _rowset(minhash_lsh_pairs(docs))
    finally:
        spark.conf.set(STAGE_CONF, str(tmp_path / "stage"))
    assert with_stage == in_memory and len(with_stage) > 0
    assert any(p.startswith("lsh_bands-")
               for p in os.listdir(stage_conf))


def test_simhash_pairs_identical_both_paths(spark, stage_conf, tmp_path):
    from spatial4n_spark.operators.dedup import simhash_neardup_pairs
    docs = _docs(spark)
    with_stage = _rowset(simhash_neardup_pairs(docs, bits=16, bands=4,
                                               max_hamming=3))
    spark.conf.unset(STAGE_CONF)
    try:
        in_memory = _rowset(simhash_neardup_pairs(docs, bits=16, bands=4,
                                                  max_hamming=3))
    finally:
        spark.conf.set(STAGE_CONF, str(tmp_path / "stage"))
    assert with_stage == in_memory and len(with_stage) > 0


def test_knn_rungs_identical_both_paths(spark, stage_conf, tmp_path):
    from spatial4n_spark.operators.joins import knn_join
    from spatial4n_spark.plans.strategy import plan_point_shape_join
    pts = spark.createDataFrame(
        [(i, (i * 7) % 40 - 20.0, (i * 13) % 30 - 15.0) for i in range(200)],
        "pid long, x double, y double")
    qs = spark.createDataFrame(
        [(q, q * 3.0 - 10.0, q * 2.0 - 5.0) for q in range(8)],
        "query_id long, qx double, qy double")
    plan = plan_point_shape_join(200, 8, 34.0, 18.0)

    def run():
        return _rowset(knn_join(pts, qs, k=3, radius_deg=25.0, plan=plan,
                                query_x="qx", query_y="qy",
                                prefilter_radius=[2.0, 8.0]))
    with_stage = run()
    spark.conf.unset(STAGE_CONF)
    try:
        in_memory = run()
    finally:
        spark.conf.set(STAGE_CONF, str(tmp_path / "stage"))
    assert with_stage == in_memory and len(with_stage) > 0
    assert any(p.startswith("knn_rung-")
               for p in os.listdir(stage_conf))


def test_components_session_default(spark, stage_conf):
    from spatial4n_spark.operators.components import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long")
    out = _rowset(connected_components(edges))
    assert (1, 1) in out and (3, 1) in out and (11, 10) in out
    # session conf routed the rounds through parquet
    assert any(p.startswith("cc_") or "labels" in p
               for p in os.listdir(stage_conf))


def test_operator_rounds_distinct_per_run(spark, stage_conf):
    """Two runs of the round-staging operators in one application stage
    to distinct paths: the first run's result still reads its own
    rounds after the second run wrote its rounds."""
    from spatial4n_spark.operators.components import connected_components
    from spatial4n_spark.operators.knn_rings import knn_ring_join
    g1 = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    g2 = spark.createDataFrame([(7, 8), (8, 9), (9, 10)],
                               "src long, dst long")
    cc1 = connected_components(g1)
    before = set(os.listdir(stage_conf))
    cc2 = connected_components(g2)
    assert set(os.listdir(stage_conf)) - before
    assert _rowset(cc1) == [(1, 1), (2, 1), (3, 1)]
    assert _rowset(cc2) == [(7, 7), (8, 7), (9, 7), (10, 7)]

    pts = spark.createDataFrame(
        [(i, (i * 7) % 40 - 20.0, (i * 13) % 30 - 15.0) for i in range(200)],
        "pid long, x double, y double")

    def queries(offset):
        return spark.createDataFrame(
            [(q, q * 3.0 - 10.0 + offset, q * 2.0 - 5.0) for q in range(8)],
            "query_id long, qx double, qy double")

    def run(offset):
        return knn_ring_join(pts, queries(offset), k=3,
                             query_x="qx", query_y="qy")
    k1 = run(0.0)
    k1_rows = _rowset(k1)
    before = set(os.listdir(stage_conf))
    assert _rowset(run(5.0)) != k1_rows
    assert any(p.startswith("knn_") for p in set(os.listdir(stage_conf))
               - before)
    assert _rowset(k1) == k1_rows
