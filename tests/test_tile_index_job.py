"""End-to-end resumable tile-index job (the north-rule flow), plus a
real `spark-submit --py-files` invocation of the CLI entry."""
import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from spatial4n_spark import checkpoint as cp
from spatial4n_spark.jobs.tile_index import (make_tile_index_transform,
                                             read_tile_index,
                                             run_tile_index_job)

N_DOCS = 2000
N_BUCKETS = 8


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    from spatial4n_spark.sources.docs import generate_docs
    p = str(tmp_path_factory.mktemp("job") / "docs")
    cp.write_docs_bucketed(generate_docs(spark, N_DOCS), p, N_BUCKETS)
    return p


def test_job_output_matches_direct_run(spark, docs_path, tmp_path):
    out = str(tmp_path / "out")
    summary = run_tile_index_job(spark, docs_path, out, N_BUCKETS,
                                 precision=6, buckets_per_job=3)
    assert summary["buckets_run"] == N_BUCKETS
    assert summary["input_rows"] == N_DOCS

    idx = read_tile_index(spark, out)
    # every doc contributed exactly one geo span
    assert idx.count() == N_DOCS
    # point rows carry a cell; every cell matches the direct engine path
    direct = make_tile_index_transform(N_BUCKETS, 6)(
        spark.read.parquet(docs_path))
    got = {(r.doc_id, r.cell_id) for r in idx.select("doc_id", "cell_id").collect()}
    want = {(r.doc_id, r.cell_id) for r in direct.select("doc_id", "cell_id").collect()}
    assert got == want

    # resume: nothing left
    summary2 = run_tile_index_job(spark, docs_path, out, N_BUCKETS)
    assert summary2["buckets_run"] == 0
    assert summary2["buckets_skipped"] == N_BUCKETS


def test_transform_compiles_without_codegen_fallback(strict_codegen):
    """The tile-index projection (the cell code under a `kind = 1`
    guard, which gets no subexpression elimination) must compile in
    whole-stage codegen: with fallback off a Janino error raises."""
    from spatial4n_spark.sources.docs import generate_docs
    docs = cp.with_bucket(generate_docs(strict_codegen, N_DOCS), N_BUCKETS)
    rows = make_tile_index_transform(N_BUCKETS, 6)(docs).collect()
    assert len(rows) == N_DOCS
    assert all((r.cell_id is not None) == (r.kind == 1) for r in rows)


def test_spark_submit_cli_end_to_end(tmp_path):
    """The real deployment path: spark-submit --py-files <pkg.zip>."""
    from spatial4n_spark.session import package_zip
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    in_p, out_p = str(tmp_path / "d"), str(tmp_path / "o")
    cmd = ["spark-submit", "--master", "local[4]",
           "--conf", "spark.driver.memory=4g",
           "--conf", "spark.ui.enabled=false",
           "--py-files", package_zip(),
           os.path.join(repo, "scripts", "tile_index_submit.py"),
           "--generate", "500", "--in", in_p, "--out", out_p,
           "--buckets", "4"]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    assert lines, res.stderr[-2000:]
    summary = json.loads(lines[-1])
    assert summary["buckets_run"] == 4
    assert summary["input_rows"] == 500
    assert os.path.exists(os.path.join(out_p, "_manifests", "bucket=0.json"))


def test_dedup_job_globally_exact_and_resumable(spark, tmp_path):
    """Content-hash bucketing makes per-bucket dedup globally exact;
    the job resumes from manifests like any checkpointed flow."""
    import pandas as pd
    from pyspark.sql import functions as F

    from spatial4n_spark.jobs import dedup_index as dj

    # docs with deliberate cross-partition duplicates
    rows = [(f"d{i:04d}", f"text-{i % 37}") for i in range(600)]
    docs = (spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
            .select("doc_id", F.array(F.struct(
                F.lit("text").alias("kind"), F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"))).alias("spans")))
    in_p, out_p = str(tmp_path / "in"), str(tmp_path / "out")
    dj.write_docs_by_content_hash(docs, in_p, n_buckets=6)

    summary = dj.run_dedup_job(spark, in_p, out_p, n_buckets=6,
                               buckets_per_job=2)
    assert summary["buckets_run"] == 6
    idx = dj.read_dedup_index(spark, out_p)
    got = {(r.text_hash, r.canonical_id, r.dup_count) for r in idx.collect()}
    # exactly 37 distinct texts, each with the global min doc_id
    assert len(got) == 37
    assert idx.agg(F.sum("dup_count")).collect()[0][0] == 600
    by_hash = {r.text_hash: (r.canonical_id, r.dup_count) for r in idx.collect()}
    # canonical is the global minimum (duplicates span buckets by doc,
    # but share a bucket by content): text-0 appears for i=0,37,74...
    import hashlib
    h0 = hashlib.md5(b"text-0").hexdigest()
    assert by_hash[h0][0] == "d0000"

    # resume: all buckets skipped
    summary2 = dj.run_dedup_job(spark, in_p, out_p, n_buckets=6)
    assert summary2["buckets_run"] == 0 and summary2["buckets_skipped"] == 6
