"""JVM-side cell code (Morton column expression) vs the NumPy kernel,
and the rect-only join fast path vs the kernel-refine path."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.geohash import cell_code


def _from_parquet(spark, tmp_path, **cols):
    """The columns as a DataFrame read back from parquet, in row order.
    Over a small createDataFrame(pandas) input (a LocalTableScan) Spark
    evaluates a projection on the driver, without whole-stage codegen,
    so a compile failure could not show."""
    path = str(tmp_path / "in")
    n = len(next(iter(cols.values())))
    spark.createDataFrame(pd.DataFrame({"i": np.arange(n), **cols})) \
        .write.parquet(path)
    return spark.read.parquet(path).orderBy("i").drop("i")


@pytest.mark.parametrize("mode", ["column", "sqlstr"])
@pytest.mark.parametrize("precision", [1, 2, 4, 5, 6, 7, 9, 12])
def test_cell_code_col_bit_identical(strict_codegen, tmp_path, precision,
                                    mode):
    """Both construction modes — Column-API tree and the single-parse
    SQL-string fast path — must be bit-identical to the kernel."""
    rng = np.random.default_rng(42)
    lon = np.concatenate([rng.uniform(-180, 180, 5000),
                          [-180.0, 180.0, 0.0, 11.25, -11.25, 90.0, -90.0,
                           179.999999, -179.999999]])
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          [-90.0, 90.0, 0.0, 45.0, -45.0, 22.5, -22.5,
                           89.999999, -89.999999]])
    df = _from_parquet(strict_codegen, tmp_path, lon=lon, lat=lat)
    args = (("`lat`", "`lon`") if mode == "sqlstr"
            else (F.col("lat"), F.col("lon")))
    got = np.array(
        df.select(SF.st_cell_code_col(*args, precision).alias("c"))
          .toPandas()["c"], dtype=np.int64)
    want = cell_code(lat, lon, precision)
    assert np.array_equal(got, want)


@pytest.mark.parametrize("mode", ["column", "sqlstr"])
def test_guarded_cell_code_bit_identical(strict_codegen, tmp_path, mode):
    """The `when(kind == 1, cell code)` form the tile-index job uses
    (no subexpression elimination inside a CASE branch) compiles at
    every precision and equals the kernel on the guarded rows, null on
    the others — random points plus grid-boundary inputs, read back
    from parquet."""
    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.uniform(-180, 180, 3000),
                          [112.50000000000003, 112.5, -180.0, 180.0, 0.0,
                           float(np.nextafter(11.25, 1e9)), -11.25]])
    lat = np.concatenate([rng.uniform(-90, 90, 3000),
                          [45.0, 22.5, -90.0, 90.0, 0.0, 5.625,
                           float(np.nextafter(-45.0, -1e9))]])
    kind = np.where(np.arange(lon.size) % 3 == 0, 2, 1).astype(np.int8)
    df = _from_parquet(strict_codegen, tmp_path, lon=lon, lat=lat,
                       kind=kind)
    args = (("`lat`", "`lon`") if mode == "sqlstr"
            else (F.col("lat"), F.col("lon")))
    for p in range(1, 13):
        got = [r.c for r in df.select(F.when(
            F.col("kind") == 1, SF.st_cell_code_col(*args, p)).alias("c"))
            .collect()]  # collect, not toPandas: no float64 detour
        want = [int(c) if k == 1 else None
                for k, c in zip(kind, cell_code(lat, lon, p))]
        assert got == want, p


@pytest.mark.parametrize("precision", [1, 2, 4, 6, 7])
def test_cover_codes_col_sqlstr_identical(strict_codegen, tmp_path,
                                         precision):
    """String-fragment cover builder == Column-API cover builder on
    random and dateline-crossing bboxes (same cell set, same order)."""
    rng = np.random.default_rng(7)
    m = 500
    span = min(30.0, 4000.0 / (1 << ((precision * 5 + 1) // 2)))
    minx = rng.uniform(-180, 180, m)
    maxx = minx + rng.uniform(0, span, m)
    maxx = np.where(maxx > 180, maxx - 360, maxx)   # ~some cross +-180
    miny = rng.uniform(-90, 89, m)
    maxy = np.minimum(90, miny + rng.uniform(0, span, m))
    df = _from_parquet(strict_codegen, tmp_path, minx=minx, maxx=maxx,
                       miny=miny, maxy=maxy)
    a = df.select(SF.st_cover_codes_col(
        F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
        precision).alias("c")).toPandas()["c"]
    b = df.select(SF.st_cover_codes_col(
        "`minx`", "`maxx`", "`miny`", "`maxy`",
        precision).alias("c")).toPandas()["c"]
    assert all(list(x) == list(y) for x, y in zip(a, b))


def test_cover_codes_sqlstr_lambda_shadowing(strict_codegen, tmp_path):
    """Columns literally named li/ti must not be captured by the cover
    HOF lambda variables (regression for the string-path lambda names)."""
    df = _from_parquet(strict_codegen, tmp_path, li=[10.0], ti=[20.0],
                       maxx=[11.0], maxy=[21.0])
    a = df.select(SF.st_cover_codes_col(
        F.col("li"), F.col("maxx"), F.col("ti"), F.col("maxy"), 3).alias("c")
    ).toPandas()["c"]
    b = df.select(SF.st_cover_codes_col(
        "`li`", "`maxx`", "`ti`", "`maxy`", 3).alias("c")).toPandas()["c"]
    assert list(a[0]) == list(b[0])


def test_cell_code_col_no_python_in_plan(spark):
    df = spark.range(10).selectExpr("cast(id as double) as x",
                                    "cast(id as double) as y")
    out = df.select(SF.st_cell_code_col(F.col("y"), F.col("x"), 6))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_rect_fast_path_equals_kernel_refine(spark):
    """shape_kinds=(2,) skips the Python refine; the result row set must
    equal the kernel-refined join on dateline-crossing rects."""
    import dataclasses

    from spatial4n_spark import contract
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import plan_point_shape_join

    sf = "/root/testdata/sf0.001"
    pts = contract.customer_points(spark, sf)
    rects = contract.nation_rects(spark, sf)
    plan_fast = plan_point_shape_join(1500, 25, 34.0, 18.0, shape_kinds=(2,))
    plan_kern = dataclasses.replace(plan_fast, shape_kinds=None)

    fast = {(r.c_custkey, r.rect_id) for r in
            point_in_shape_join(pts, rects, plan_fast)
            .select("c_custkey", "rect_id").collect()}
    kern = {(r.c_custkey, r.rect_id) for r in
            point_in_shape_join(pts, rects, plan_kern)
            .select("c_custkey", "rect_id").collect()}
    assert fast == kern
    assert len(fast) > 0


@pytest.mark.parametrize("precision", [2, 5, 6, 12])
def test_cell_code_exact_at_boundaries(strict_codegen, tmp_path, precision):
    """Adversarial boundary battery: exact grid boundaries and +-3e-14 /
    +-1ulp neighbors must match the kernel bisection exactly (the
    closed form alone loses sub-ulp excesses — real data hit this at
    x=112.50000000000003)."""
    bounds = []
    for bits, lo, span in ((13, -180.0, 360.0), (12, -90.0, 180.0)):
        step = span / (1 << bits)
        for i in (1, 7, 100, 2048, (1 << bits) - 1):
            b = lo + i * step
            bounds += [b, b + 3e-14, b - 3e-14,
                       float(np.nextafter(b, 1e9)), float(np.nextafter(b, -1e9))]
    lon = np.array([v for v in bounds if -180 <= v <= 180]
                   + [1e-300, -1e-300, 112.50000000000003])
    lat = np.clip(lon / 2.0, -90, 90)
    df = _from_parquet(strict_codegen, tmp_path, lon=lon, lat=lat)
    got = np.array(
        df.select(SF.st_cell_code_col(F.col("lat"), F.col("lon"),
                                      precision).alias("c"))
          .toPandas()["c"], dtype=np.int64)
    assert np.array_equal(got, cell_code(lat, lon, precision))


def test_sqlstr_path_plan_stays_codegen_no_decimal(spark):
    """The string-built expression must stay in whole-stage codegen with
    BIGINT/DOUBLE types throughout — a bare `1.5` literal in the SQL
    template would parse as DECIMAL and silently change arithmetic
    (the D-suffix in _dbl_lit is the guard)."""
    df = spark.range(100).selectExpr("cast(id as double) / 7 as x",
                                     "cast(id as double) / 11 as y")
    out = df.select(SF.st_cell_code_col("`y`", "`x`", 6).alias("c"))
    assert out.schema["c"].dataType.simpleString() == "bigint"
    plan = out._jdf.queryExecution().executedPlan().toString()
    # "*(N)" prefixes mark whole-stage-codegen stages in the compact form
    assert "*(" in plan or "WholeStageCodegen" in plan
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow"):
        assert bad not in plan
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "decimal" not in analyzed.lower()

    cov = df.selectExpr("x as minx", "x + 0.1 as maxx",
                        "y as miny", "y + 0.1 as maxy").select(
        SF.st_cover_codes_col("`minx`", "`maxx`", "`miny`", "`maxy`",
                              4).alias("c"))
    assert cov.schema["c"].dataType.simpleString() == "array<bigint>"
    analyzed = cov._jdf.queryExecution().analyzed().toString()
    assert "decimal" not in analyzed.lower()
