"""JVM point-span fast path == pandas-UDF parser, bitwise."""
from pyspark.sql import functions as F

from spatial4n_spark.sources.docs import (extract_geo_spans,
                                          extract_point_spans,
                                          generate_docs)


def test_point_fastpath_bitwise_parity(spark):
    docs = generate_docs(spark, 20_000)
    slow = (extract_geo_spans(docs)
            .where(F.col("shape.kind") == 1)
            .select("doc_id", "pos", F.col("shape.x").alias("x"),
                    F.col("shape.y").alias("y")))
    fast = extract_point_spans(docs)
    a = {(r.doc_id, r.pos): (r.x, r.y) for r in slow.collect()}
    b = {(r.doc_id, r.pos): (r.x, r.y) for r in fast.collect()}
    assert set(a) == set(b)
    mism = [(k, a[k], b[k]) for k in a if a[k] != b[k]]
    assert not mism, mism[:5]  # exact double equality, not approx


def test_point_fastpath_plan_has_no_python(spark):
    docs = generate_docs(spark, 1000)
    plan = extract_point_spans(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan \
        and "MapInPandas" not in plan and "MapInArrow" not in plan, plan


def test_point_fastpath_drops_malformed(strict_codegen, tmp_path):
    """Docs read back from parquet: over a createDataFrame input (a
    LocalTableScan) Spark evaluates the JVM parse on the driver without
    whole-stage codegen, so a compile failure of it could not show."""
    spark = strict_codegen
    rows = [("d1", [{"kind": "text", "text": "POINT (10.5 20.5)",
                     "media_ref": None, "offset": 0}]),
            ("d2", [{"kind": "text", "text": "POINT (bogus 20.5)",
                     "media_ref": None, "offset": 0}]),
            ("d3", [{"kind": "text", "text": "POINT (1 2 3)",
                     "media_ref": None, "offset": 0}]),
            # ADVICE r02: inputs the WKT parser rejects must not leak
            # through the substring_index reduction
            ("d4", [{"kind": "text", "text": "POINTX (1 2)",
                     "media_ref": None, "offset": 0}]),
            ("d5", [{"kind": "text", "text": "POINT ((1 2))",
                     "media_ref": None, "offset": 0}]),
            ("d6", [{"kind": "text", "text": "POINT (1 2) junk (3 4)",
                     "media_ref": None, "offset": 0}])]
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>").write.parquet(path)
    got = extract_point_spans(spark.read.parquet(path)).collect()
    assert len(got) == 1 and got[0].doc_id == "d1"
    assert (got[0].x, got[0].y) == (10.5, 20.5)
