"""Stream-static spatial join equals the batch join, incrementally."""
import os

import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.plans.strategy import JoinPlan
from spatial4n_spark.sources.docs import generate_docs
from spatial4n_spark.streaming import tile_stream as ts
from spatial4n_spark.streaming.spatial_join_stream import spatial_join_stream


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("sjstream")
    d = {k: str(root / k) for k in ("in", "out", "ckpt")}
    os.makedirs(d["in"], exist_ok=True)
    return d


def _land(spark, dirs, lo, hi):
    (generate_docs(spark, hi).where(
        F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long") >= lo)
     .coalesce(1).write.mode("append").parquet(dirs["in"]))


def _shapes(spark):
    rows = [(i, f"ENVELOPE({-160 + 13 * i}, {-140 + 13 * i}, "
                f"{10 + (i % 5)}, {-20 + (i % 7)})") for i in range(20)]
    return (spark.createDataFrame(rows, ["zone_id", "w"])
            .withColumn("shape", SF.st_from_wkt(F.col("w")))
            .select("zone_id", "shape"))


def test_stream_static_join_equals_batch(spark, dirs):
    shapes = _shapes(spark)
    plan = JoinPlan(precision=3, broadcast_shapes=True, salt=None)

    _land(spark, dirs, 0, 500)
    out = spatial_join_stream(
        ts.read_docs_stream(spark, dirs["in"]), shapes, plan)
    assert out.isStreaming
    (out.select("doc_id", "pos", "x", "y", "zone_id")
        .writeStream.format("parquet")
        .option("path", dirs["out"]).option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True).start().awaitTermination(120))
    n1 = spark.read.parquet(dirs["out"]).count()
    assert n1 > 0

    # incremental landing; only new files processed
    _land(spark, dirs, 500, 900)
    out = spatial_join_stream(
        ts.read_docs_stream(spark, dirs["in"]), shapes, plan)
    (out.select("doc_id", "pos", "x", "y", "zone_id")
        .writeStream.format("parquet")
        .option("path", dirs["out"]).option("checkpointLocation", dirs["ckpt"])
        .trigger(availableNow=True).start().awaitTermination(120))
    got = {(r.doc_id, r.pos, r.zone_id) for r in
           spark.read.parquet(dirs["out"]).collect()}

    # batch oracle over the full landed input through the SAME operator
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.sources.docs import extract_point_spans
    batch_pts = extract_point_spans(
        spark.read.schema(ts.DOCS_SCHEMA).parquet(dirs["in"]))
    want_rows = point_in_shape_join(batch_pts, shapes, plan) \
        .select("doc_id", "pos", "zone_id").collect()
    want = {(r.doc_id, r.pos, r.zone_id) for r in want_rows}
    assert len(got) == len(want_rows)  # exactly-once: no dup pairs
    assert got == want
    assert len(got) > 0
