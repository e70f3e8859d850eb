"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/tests -q
"""
import json
import os
import subprocess
import sys
import zipfile

from perfbench import inputs, layers, metrics
from perfbench.env import build_zip, source_hash, zip_hash

from conftest import ROOT


def test_metric_names_are_well_formed():
    for name in [*metrics.END_TO_END, *metrics.PER_LAYER]:
        assert metrics.NAME_RE.match(name), name


def test_benchmark_json_lists_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_emit_refuses_an_unmeasured_metric():
    try:
        metrics.emit({}, {"x": "s"})
    except KeyError:
        return
    raise AssertionError("emit accepted a missing metric")


def test_result_hash_ignores_row_and_column_order():
    a = inputs.result_hash([(1, 2.0), (3, None)], ["a", "b"])
    b = inputs.result_hash([(None, 3), (2.0, 1)], ["b", "a"])
    assert a == b
    # an int and a float of equal value are different answers
    assert a != inputs.result_hash([(1, 2), (3, None)], ["a", "b"])


def test_shipped_zip_hashes_like_the_checkout(tmp_path):
    z = build_zip(ROOT, str(tmp_path / "pkg.zip"))
    assert zip_hash(z) == source_hash(ROOT)
    with zipfile.ZipFile(z) as src, \
            zipfile.ZipFile(tmp_path / "edited.zip", "w") as dst:
        for n in src.namelist():
            data = src.read(n)
            dst.writestr(n, data + b"#" if n.endswith("__init__.py") else data)
    assert zip_hash(str(tmp_path / "edited.zip")) != source_hash(ROOT)


def test_worker_check_hashes_the_zip_it_imports(tmp_path):
    """With the zip ahead of the checkout on the path, the worker-side
    check reads the package out of the zip and still matches."""
    z = build_zip(ROOT, str(tmp_path / "pkg.zip"))
    code = ("import sys; sys.path[:0] = sys.argv[1:]; "
            "import spatial4n_spark, perfbench.env as e; "
            "assert spatial4n_spark.__file__.startswith(sys.argv[1]); "
            "print(e._worker_source_hash(0))")
    out = subprocess.run([sys.executable, "-c", code, z, ROOT], cwd=tmp_path,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == source_hash(ROOT)


def test_worker_imports_this_checkout(run_env):
    from perfbench.env import _worker_source_hash
    got = (run_env.spark.sparkContext.parallelize([0], 1)
           .map(_worker_source_hash).collect()[0])
    assert got == source_hash(ROOT)


def test_plan_walker_reads_python_metrics_of_map_in_pandas(run_env):
    from spatial4n_spark.sources.docs import extract_geo_spans
    spark = run_env.spark
    d, meta = inputs.docs_table(spark, run_env.cache, seed=7, n_docs=3000)
    agg = extract_geo_spans(spark.read.parquet(os.path.join(d, "docs"))).groupBy().count()
    assert agg.collect()[0][0] == meta["geo_spans"]
    nodes = layers.walk_plan(spark._jvm, agg._jdf.queryExecution().executedPlan())
    assert any(n["cls"] == "MapInPandasExec" for n in nodes)
    t = layers.layer_totals(nodes)
    assert t["python.total_ms"] > 0
    assert t["arrow.bytes_sent"] > 0
    assert t["arrow.udf_nodes"] >= 1
    assert t["sources.scan_rows"] == 3000


def test_listener_sees_actions_the_engine_starts(run_env):
    spark = run_env.spark
    listener = layers.PlanListener(spark)
    spark.range(0, 1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    with listener:
        spark.range(0, 1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.range(0, 1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert listener.actions == 1
    assert listener.totals["shuffle.bytes_written"] > 0
    assert not listener.errors


def test_docs_expectations_match_the_written_table(run_env):
    import duckdb
    d, meta = inputs.docs_table(run_env.spark, run_env.cache, seed=11, n_docs=5000,
                                n_buckets=4)
    geo, pts = duckdb.sql(
        "SELECT count(*) FILTER (WHERE NOT s.text LIKE '%n/a%'),"
        " count(*) FILTER (WHERE s.text LIKE 'POINT (%' AND NOT s.text LIKE '%n/a%')"
        f" FROM (SELECT unnest(spans) AS s FROM read_parquet('{d}/docs/**/*.parquet'))"
        " WHERE s.kind = 'text' AND regexp_matches(s.text, '^(POINT|ENVELOPE|BUFFER|POLYGON)')"
    ).fetchone()
    assert meta == {"geo_spans": geo, "point_spans": pts}
    assert 0 < pts < geo < 5000
