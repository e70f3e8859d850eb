"""Physical-plan properties: the plans we WANT, asserted.

Scale hygiene per SURVEY.md section 4: predicate pushdown and column
pruning reach the parquet scan, small sides broadcast, the flagship
join keeps exactly one Python stage (the WKT parse), and aggregations
are partial (map-side combine) before the shuffle.
"""
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import contract

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_flagship_join_single_python_stage_and_broadcast(spark):
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import plan_point_shape_join
    from spatial4n_spark.sources.docs import extract_geo_spans, generate_docs

    docs = generate_docs(spark, 1000)
    geo = extract_geo_spans(docs)
    pts = (geo.where(F.col("shape.kind") == 1)
              .select("doc_id", F.col("shape.x").alias("x"),
                      F.col("shape.y").alias("y")))
    rects = contract.nation_rects(spark, SF_DIR)
    plan = plan_point_shape_join(1000, 25, 34.0, 18.0, shape_kinds=(2,))
    out = point_in_shape_join(pts, rects, plan)
    p = _plan(out)
    # exactly one Python stage in the whole join: the WKT parse.
    # Cell assign, tile cover, bbox gate, and (rect-only) refine are all
    # pure Column expressions.
    n_python = (p.count("MapInArrow") + p.count("MapInPandas")
                + p.count("FlatMapsInPandas"))
    assert n_python == 1, f"want 1 python stage, plan has {n_python}"
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # shape side broadcasts; no shuffle of the big point side
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_point_scan_column_pruning(spark):
    """Deriving 2 columns from customer must not read all 8."""
    pts = contract.customer_points(spark, SF_DIR)
    p = _plan(pts)
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan, p
    assert "c_custkey" in scan[0]
    for unused in ("c_name", "c_address", "c_acctbal", "c_comment"):
        assert unused not in scan[0], f"{unused} not pruned: {scan[0]}"


def test_bbox_filter_pushdown_to_parquet(spark, tmp_path):
    """bbox min/max columns materialized at ingest => scan-level
    pushdown of spatial pre-filters (the Iceberg-stats analog)."""
    path = str(tmp_path / "shapes")
    contract.nation_rects(spark, SF_DIR).drop("shape").write.parquet(path)
    df = spark.read.parquet(path).where((F.col("maxx") > 100.0)
                                        & (F.col("miny") < 0.0))
    p = _plan(df)
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed, p
    assert "GreaterThan(maxx,100.0)" in pushed[0]
    assert "LessThan(miny,0.0)" in pushed[0]


def test_rollup_aggregation_is_partial(spark):
    """groupBy count rollup: HashAggregate appears as partial+final
    (map-side combine before the exchange)."""
    out = contract.q_cell_rollup(spark, SF_DIR)
    p = _plan(out)
    assert p.count("HashAggregate") >= 2, p
    idx_exchange = p.find("Exchange")
    assert idx_exchange != -1
    # a partial aggregate exists below the exchange
    assert "HashAggregate" in p[idx_exchange:], p


def test_dwithin_broadcast_no_shuffle_of_points(spark):
    out = contract.q_dwithin_join(spark, SF_DIR)
    p = _plan(out)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_whole_stage_codegen_on_tpch(spark):
    out = contract.q_tpch_pricing_summary(spark, SF_DIR)
    out.collect()  # AQE: codegen spans appear in the FINAL plan
    p = _plan(out)
    # "*(n)" prefixes mark WholeStageCodegen spans in toString()
    assert "*(1)" in p, p
    # scan-level predicate pushdown + partial aggregation before shuffle
    # (the query's own shipdate bound; session.py turns off constraint
    # propagation, so no inferred IsNotNull joins it)
    assert "PushedFilters: [LessThanOrEqual(l_shipdate,1998-09-02T00:00)]" in p
    assert "partial_sum" in p


def test_zonal_stats_is_equi_join_not_nested_loop(spark):
    """zonal_stats must key a broadcast-HASH join on the int64 cell
    code — never a BroadcastNestedLoopJoin comparing every pixel
    against every zone (the 100 TB scale-killer)."""
    out = contract.q_zonal_stats(spark, SF_DIR)
    p = _plan(out)
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_rect_center_twin_stays_jvm(spark):
    """The representative-point projection (rect_center_cols) over a
    rect layer compiles to pure codegen — no Python node, no shuffle."""
    from spatial4n_spark import functions as SF
    rects = contract.supplier_rects(spark, SF_DIR)
    cx, cy = SF.rect_center_cols(F.col("sminx"), F.col("smaxx"),
                                 F.col("sminy"), F.col("smaxy"))
    df = rects.select("srect_id", cx.alias("cx"), cy.alias("cy"))
    p = _plan(df)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "Exchange"):
        assert bad not in p, p
    assert "*(1) Project" in p  # the * marks a WholeStageCodegen span
