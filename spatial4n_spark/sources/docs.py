"""Deterministic synthetic interleaved-document table (the graft input).

Schema per BASELINE.json input_hint:
  docs(doc_id: string,
       spans: array<struct<kind:string, text:string, media_ref:string,
                           offset:int>>)

Text spans carry WKT geo payloads (points, envelopes, buffered points,
polygons — grammar the engine's parser accepts) or prose; media spans
carry a raster tile ref. Generation is pure column arithmetic on
spark.range(n) — fully distributed, seedless-deterministic (a pure
function of doc_id), so any two cluster sizes produce identical data.

The derivation formulas are intentionally simple integer arithmetic so
an external oracle (DuckDB SQL) can re-derive the same values exactly.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# point derivations (doubles exact in IEEE: integer ops then /200.0 - const)
PX_EXPR = "((id * 7919) % 71989) / 200.0 - 179.97"
PY_EXPR = "((id * 104729) % 35993) / 200.0 - 89.97"


def _wkt_expr() -> str:
    """WKT payload per doc: mostly POINT, some ENVELOPE / BUFFER / POLYGON."""
    return f"""
    CASE
      WHEN id % 13 = 0 THEN
        concat('POLYGON((',
          cast({PX_EXPR} as string), ' ', cast(greatest(-89.0, {PY_EXPR} - 2.0) as string), ', ',
          cast(least(179.97, {PX_EXPR} + 3.0) as string), ' ', cast(greatest(-89.0, {PY_EXPR} - 2.0) as string), ', ',
          cast(least(179.97, {PX_EXPR} + 1.5) as string), ' ', cast(least(89.0, {PY_EXPR} + 2.5) as string), ', ',
          cast({PX_EXPR} as string), ' ', cast(greatest(-89.0, {PY_EXPR} - 2.0) as string), '))')
      WHEN id % 7 = 0 THEN
        concat('ENVELOPE (', cast({PX_EXPR} as string), ', ',
               cast(least(179.98, {PX_EXPR} + 2.0) as string), ', ',
               cast(least(89.9, {PY_EXPR} + 1.0) as string), ', ',
               cast({PY_EXPR} as string), ')')
      WHEN id % 5 = 0 THEN
        concat('BUFFER(POINT(', cast({PX_EXPR} as string), ' ',
               cast({PY_EXPR} as string), '), ',
               cast(0.5 + (id % 40) / 10.0 as string), ')')
      ELSE concat('POINT (', cast({PX_EXPR} as string), ' ',
                  cast({PY_EXPR} as string), ')')
    END
    """


def generate_docs(spark: SparkSession, n_docs: int, n_partitions: int | None = None) -> DataFrame:
    """Build the interleaved docs DataFrame (not yet written)."""
    if n_partitions is None:
        n_partitions = max(8, min(1024, n_docs // 50_000 or 8))
    base = spark.range(0, n_docs, 1, n_partitions)
    prose = F.expr("concat('synthetic document ', cast(id as string), "
                   "' about tiles and joins lorem ipsum ', "
                   "cast(id % 97 as string))")
    wkt = F.expr(_wkt_expr())
    media_ref = F.expr("concat('raster://tile/', cast(id % 1024 as string))")
    spans = F.array(
        F.struct(F.lit("text").alias("kind"), prose.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(0).alias("offset")),
        F.struct(F.lit("text").alias("kind"), wkt.alias("text"),
                 F.lit(None).cast("string").alias("media_ref"),
                 F.lit(1).alias("offset")),
        F.struct(F.lit("media").alias("kind"), F.lit(None).cast("string").alias("text"),
                 media_ref.alias("media_ref"), F.lit(2).alias("offset")),
    )
    return base.select(
        F.format_string("doc-%012d", F.col("id")).alias("doc_id"),
        spans.alias("spans"),
    )


GEO_WKT_RE = ("^ *(POINT|ENVELOPE|BUFFER|POLYGON|MULTIPOLYGON|"
              "LINESTRING|MULTILINESTRING|MULTIPOINT|GEOMETRYCOLLECTION)")


def extract_geo_spans(docs: DataFrame) -> DataFrame:
    """docs -> one row per WKT-bearing text span, with the parsed shape.

    posexplode preserves span order (span-sequence invariant). The WKT
    parse runs as ONE mapInArrow pass emitting flat columns — a single
    Arrow exchange, no re-evaluation when downstream reads several shape
    fields (Catalyst duplicates Python-UDF expressions across collapsed
    projections), and bbox fields land as real columns for min/max scan
    pruning. `doc_id` and `pos` pass through as the batch's own Arrow
    columns, the parse result is built by `shapes.encode`, and error
    rows are dropped with one `RecordBatch.filter`. A `shape` struct is
    re-assembled JVM-side for the join API.
    """
    from typing import Iterator

    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ..kernels.wkt import parse_wkt_columns
    from ..shapes import FIELD_NAMES, SHAPE_FIELDS, encode, shape_col

    span = (docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
                .where((F.col("span.kind") == "text")
                       & F.col("span.text").rlike(GEO_WKT_RE))
                .select("doc_id", "pos", F.col("span.text").alias("wkt")))

    out_schema = StructType([
        StructField("doc_id", span.schema["doc_id"].dataType),
        StructField("pos", IntegerType()),
        *SHAPE_FIELDS])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            cols = parse_wkt_columns(b.column("wkt"))
            shape = encode(b.num_rows, **cols)
            out = pa.RecordBatch.from_arrays(
                [b.column("doc_id"), b.column("pos"), *shape.flatten()],
                names=["doc_id", "pos", *FIELD_NAMES])
            yield out.filter(pc.is_null(out.column("error")))

    flat = span.mapInArrow(gen, out_schema)
    return flat.withColumn("shape",
                           shape_col(**{c: F.col(c) for c in FIELD_NAMES}))


def extract_point_spans(docs: DataFrame) -> DataFrame:
    """POINT-bearing text spans -> (doc_id, pos, x, y), parsed entirely
    JVM-side — ZERO Python in the plan and no Arrow exchange.

    This is the flagship ingest fast path: the pipeline only consumes
    point payloads, so parsing the other WKT kinds (and shipping the
    12-column shape struct through Arrow) is pure memory-bandwidth
    waste — the measured scaling bottleneck on the single-box proxy
    (BENCH.md). Substring ops (substring_index + split of the short
    paren body) beat two anchored java-regex passes ~25% on wall and
    measurably on GC pressure. Values are bit-identical to the
    pandas-UDF parser: Java's Double.parseDouble and Python's float()
    are both correctly-rounded (asserted in tests/test_point_fastpath).
    Malformed spans are dropped like the parser's error rows: Z/M
    points split into 3 parts (rejected by the size guard), non-numeric
    coords yield null try_casts, and the gate requires the exact
    'POINT' keyword (next char is space or '(') plus exactly one paren
    pair — so 'POINTX (1 2)' and 'POINT ((1 2))', which the parser
    rejects, never leak through substring_index (ADVICE r02). The
    gate stays regex-free: translate/length/substring are plain
    codegen string ops.
    2-D points only (the telemetry shape of this table); Z/M corpora
    use extract_geo_spans.
    """
    w = F.col("span.text")
    one_pair = (
        (F.length(w) - F.length(F.translate(w, "(", "")) == 1)
        & (F.length(w) - F.length(F.translate(w, ")", "")) == 1))
    keyword_ok = F.substring(w, 6, 1).isin(" ", "(")
    span = (docs.select("doc_id", F.posexplode("spans").alias("pos", "span"))
                .where(w.startswith("POINT") & w.endswith(")")
                       & keyword_ok & one_pair)
                .select("doc_id", "pos", F.col("span.text").alias("wkt")))
    body = F.substring_index(F.substring_index("wkt", "(", -1), ")", 1)
    parts = F.split(F.trim(body), r"\s+")
    x = F.element_at(parts, 1).try_cast("double")
    y = F.element_at(parts, 2).try_cast("double")
    return (span.select("doc_id", F.col("pos").cast("int").alias("pos"),
                        F.when(F.size(parts) == 2, x).alias("x"),
                        F.when(F.size(parts) == 2, y).alias("y"))
                .where(F.col("x").isNotNull() & F.col("y").isNotNull()))
