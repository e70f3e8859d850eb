"""Structured Streaming ingest: docs stream -> tile assignment -> rollup.

The reference is batch-only (SURVEY 2.6: no streaming), so this is
engine-added surface: the same WKT-parse -> cell-assign kernels run
unchanged on a streaming DataFrame (mapInArrow and the JVM-side cell
functions are both streaming-capable), giving incremental tile
assignment over a landing directory with Structured Streaming's own
checkpoint/WAL for exactly-once file processing — the streaming
complement of the batch per-bucket manifests in `checkpoint.py`.

Scale notes: the stateless assign path has no shuffle at all (source ->
project -> sink); the windowed rollup shuffles once on (window, cell)
with watermark-bounded state. `maxFilesPerTrigger` bounds micro-batch
size on a 100 TB backfill.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, IntegerType, StringType,
                               StructField, StructType)

DOCS_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("spans", ArrayType(StructType([
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]))),
])


def read_docs_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def tile_assign_stream(docs: DataFrame, precision: int = 6) -> DataFrame:
    """Stateless streaming tile assignment: doc -> (doc_id, pos, cell).

    Reuses the batch parse/assign stages verbatim; event time is a
    deterministic function of doc_id so replays are bit-identical.
    """
    from ..operators.joins import with_point_cell
    from ..sources.docs import extract_geo_spans

    geo = extract_geo_spans(docs)
    pts = (geo.where(F.col("kind") == 1)
              .select("doc_id", "pos", "x", "y"))
    pts = with_point_cell(pts, "x", "y", precision, codes=False)
    seq = F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long")
    return pts.withColumn(
        "event_ts",
        F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_interval(
            secs=(seq % 3600).cast("double")))


def cell_counts_stream(assigned: DataFrame, window: str = "10 minutes",
                       watermark: str = "30 minutes") -> DataFrame:
    """Watermarked windowed rollup: points-per-cell per event-time window.

    Late rows beyond the watermark are dropped; state is bounded by
    (windows in watermark) x (active cells)."""
    return (assigned
            .withWatermark("event_ts", watermark)
            .groupBy(F.window("event_ts", window).alias("w"),
                     F.col("cell_id"))
            .agg(F.count("*").alias("n_points"))
            .select(F.col("w.start").alias("window_start"), "cell_id",
                    "n_points"))


def run_assign_available_now(stream_df: DataFrame, out_path: str,
                             checkpoint_path: str) -> None:
    """Drain everything currently in the source dir into the parquet
    sink, exactly-once via the streaming checkpoint, then stop."""
    q = (stream_df.writeStream
         .format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", checkpoint_path)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def run_counts_to_memory(counts_df: DataFrame, table: str,
                         checkpoint_path: str) -> None:
    """Drain the windowed rollup into an in-memory table (tests/demo)."""
    q = (counts_df.writeStream
         .format("memory")
         .queryName(table)
         .option("checkpointLocation", checkpoint_path)
         .outputMode("complete")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
