"""JVM-side cell keys (SQL-fragment Morton expressions) vs the NumPy
kernels: cell codes, bbox covers and their geohash spelling, and the
rect-only join fast path vs the kernel-refine path."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels import geohash as gh
from spatial4n_spark.kernels.geohash import cell_code
from spatial4n_spark.operators.joins import with_shape_cover


def _from_parquet(spark, tmp_path, **cols):
    """The columns as a DataFrame read back from parquet, in row order.
    Over a small createDataFrame(pandas) input (a LocalTableScan) Spark
    evaluates a projection on the driver, without whole-stage codegen,
    so a compile failure could not show. Written with pyarrow, so a NaN
    stays NaN (createDataFrame(pandas) reads it as null); a value may
    be an Arrow array (a struct column, say)."""
    path = tmp_path / "in"
    path.mkdir()
    n = len(next(iter(cols.values())))
    table = pa.table({"i": np.arange(n),
                      **{k: v if isinstance(v, pa.Array) else pa.array(v)
                         for k, v in cols.items()}})
    pq.write_table(table, str(path / "part-0.parquet"))
    return spark.read.parquet(str(path)).orderBy("i").drop("i")


_NAN = float("nan")


@pytest.mark.parametrize("precision", [1, 2, 4, 5, 6, 7, 9, 12])
def test_cell_code_col_bit_identical(strict_codegen, tmp_path, precision):
    """The SQL-fragment cell code is bit-identical to the kernel, NaN
    coordinates included (Spark orders NaN above every double; the
    kernel reads it as index 0), and so are coordinates beyond the
    axis range (a huge negative one once overflowed the index)."""
    rng = np.random.default_rng(42)
    inf = float("inf")
    lon = np.concatenate([rng.uniform(-180, 180, 5000),
                          [-180.0, 180.0, 0.0, 11.25, -11.25, 90.0, -90.0,
                           179.999999, -179.999999, 1.0, _NAN, _NAN,
                           -inf, inf, -1e300, 1e300, -200.0, 200.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 5000),
                          [-90.0, 90.0, 0.0, 45.0, -45.0, 22.5, -22.5,
                           89.999999, -89.999999, _NAN, 1.0, _NAN,
                           -inf, inf, 1e300, -1e300, -100.0, 100.0]])
    df = _from_parquet(strict_codegen, tmp_path, lon=lon, lat=lat)
    got = np.array(
        df.select(SF.st_cell_code_col("`lat`", "`lon`", precision).alias("c"))
          .toPandas()["c"], dtype=np.int64)
    want = cell_code(lat, lon, precision)
    assert np.array_equal(got, want)


def test_guarded_cell_code_bit_identical(strict_codegen, tmp_path):
    """The `when(kind == 1, cell code)` form the tile-index job uses
    (no subexpression elimination inside a CASE branch) compiles at
    every precision and equals the kernel on the guarded rows, null on
    the others — random points plus grid-boundary and NaN inputs, read
    back from parquet."""
    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.uniform(-180, 180, 3000),
                          [112.50000000000003, 112.5, -180.0, 180.0, 0.0,
                           float(np.nextafter(11.25, 1e9)), -11.25,
                           1.0, _NAN, _NAN]])
    lat = np.concatenate([rng.uniform(-90, 90, 3000),
                          [45.0, 22.5, -90.0, 90.0, 0.0, 5.625,
                           float(np.nextafter(-45.0, -1e9)),
                           _NAN, 1.0, _NAN]])
    kind = np.where(np.arange(lon.size) % 3 == 0, 2, 1).astype(np.int8)
    kind[-3:] = 1
    df = _from_parquet(strict_codegen, tmp_path, lon=lon, lat=lat,
                       kind=kind)
    for p in range(1, 13):
        got = [r.c for r in df.select(F.when(
            F.col("kind") == 1, SF.st_cell_code_col("`lat`", "`lon`", p))
            .alias("c")).collect()]  # collect, not toPandas: no float64 detour
        want = [int(c) if k == 1 else None
                for k, c in zip(kind, cell_code(lat, lon, p))]
        assert got == want, p


def _cover_battery(precision: int) -> list:
    """(minx, maxx, miny, maxy) rows, None for a null struct: random and
    dateline-wrapping boxes a few cells wide at `precision`, the +-180
    and +-90 edges, exact grid boundaries and their ulp neighbours, NaN
    in each one field and in all four, miny > maxy, wraps whose ends
    share a cell, bounds beyond the axis range, and the whole world. A
    NaN bound reads as index 0, so those rows sit at the south-west
    corner, where the range it opens stays small at every precision."""
    lon_bits = (precision * 5 + 1) // 2
    lat_bits = precision * 5 // 2
    dx, dy = 360.0 / (1 << lon_bits), 180.0 / (1 << lat_bits)
    rng = np.random.default_rng(7 + precision)
    rows = []
    for _ in range(300):
        minx = rng.uniform(-180, 180)
        maxx = minx + rng.uniform(0, 6 * dx)
        maxx = maxx - 360 if maxx > 180 else maxx      # some cross +-180
        miny = rng.uniform(-90, 90)
        rows.append((minx, maxx, miny, min(90.0, miny + rng.uniform(0, 6 * dy))))
    up, down = (lambda v: float(np.nextafter(v, 1e9))), \
               (lambda v: float(np.nextafter(v, -1e9)))
    bx, by = -180.0 + 7 * dx, -90.0 + 5 * dy          # exact grid boundaries
    rows += [
        (-180.0, -180.0 + dx, -90.0, -90.0 + dy), (180.0 - dx, 180.0, 90.0 - dy, 90.0),
        (-180.0, -180.0, -90.0, -90.0), (180.0, 180.0, 90.0, 90.0),
        (180.0, -180.0, 0.0, dy), (180.0 - dx / 2, -180.0 + dx / 2, -dy, dy),
        (bx, bx + 2 * dx, by, by + 2 * dy), (up(bx), down(bx + 2 * dx), up(by), by + dy),
        (down(bx), up(bx + dx), down(by), up(by + dy)),
        (5.0, 5.0 + dx, 10.0 + 3 * dy, 10.0),          # miny > maxy
        (5.0, 5.0 + dx, 10.0 + dy / 4, 10.0),           # ... in one cell
        (10.0 + dx / 4, 10.0, 0.0, dy),                 # wrap within one cell
        (10.0 + 3 * dx, 10.0, 0.0, dy),                 # minx > maxx: near-world
        (_NAN, _NAN, _NAN, _NAN), None,
        (-float("inf"), -180.0 + dx, -1e300, -90.0 + dy),  # beyond the range
    ]
    for corner in ((-180.0, -180.0 + dx, -90.0, -90.0 + dy),
                   (-180.0 + 2.5 * dx, -180.0 + 4 * dx, -90.0 + 2.5 * dy, -90.0 + 4 * dy)):
        for f in range(4):
            rows.append(tuple(_NAN if k == f else v for k, v in enumerate(corner)))
    if precision <= 4:    # 2^(5p) cells: 1M at precision 4
        rows.append((-180.0, 180.0, -90.0, 90.0))
    return rows


@pytest.mark.parametrize("precision", [1, 2, 3, 4, 5, 6, 7])
def test_cover_codes_match_kernel(strict_codegen, tmp_path, precision):
    """with_cover_codes == kernels.geohash.cover_codes_bbox_batch on every
    row, as sets, and never a duplicate cell; compiled under
    strict_codegen over parquet."""
    rows = _cover_battery(precision)
    vals = {f: pa.array([_NAN if r is None else r[k] for r in rows])
            for k, f in enumerate(("minx", "maxx", "miny", "maxy"))}
    box = pa.StructArray.from_arrays(
        list(vals.values()), names=list(vals),
        mask=pa.array([r is None for r in rows]))
    df = _from_parquet(strict_codegen, tmp_path, id=np.arange(len(rows)),
                       b=box)
    cov = SF.with_cover_codes(df, "`b`.`minx`", "`b`.`maxx`", "`b`.`miny`",
                              "`b`.`maxy`", precision, "c")
    got = {r.id: r.cs for r in cov.groupBy("id")
           .agg(F.collect_list("c").alias("cs")).collect()}
    want = gh.cover_codes_bbox_batch(*(v.to_numpy(zero_copy_only=False)
                                       for v in vals.values()), precision)
    for i, w in enumerate(want):
        g = got.get(i, [])
        assert len(g) == len(set(g)), (rows[i], "duplicates")
        assert set(g) == set(w), (rows[i], len(g), len(set(w)))


@pytest.mark.parametrize("precision", [1, 2, 3, 5, 12])
def test_geohash_spelling(strict_codegen, tmp_path, precision):
    """st_cell equals kernels.geohash.encode (NaN rows included), and
    with_shape_cover(codes=False) equals cover_cells_bbox per shape."""
    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-180, 180, 500),
                          [-180.0, 180.0, 112.50000000000003, 1.0, _NAN]])
    lat = np.concatenate([rng.uniform(-90, 90, 500),
                          [-90.0, 90.0, 45.0, _NAN, 1.0]])
    df = _from_parquet(strict_codegen, tmp_path, lon=lon, lat=lat)
    got = [r.c for r in df.select(
        SF.st_cell("`lat`", "`lon`", precision).alias("c")).collect()]
    assert got == gh.encode(lat, lon, precision).tolist()
    if precision > 3:     # a box cover grows 32x per level
        return
    boxes = [(10.0, 14.0, -3.0, 1.0), (170.0, -170.0, 40.0, 47.0),
             (-180.0, -160.0, 80.0, 90.0)]
    shapes = strict_codegen.createDataFrame(
        [(i, b) for i, b in enumerate(boxes)],
        "id int, shape struct<minx double, maxx double, miny double, maxy double>")
    got = {}
    for r in with_shape_cover(shapes, "shape", precision, "cell").collect():
        got.setdefault(r.id, []).append(r.cell)
    for i, b in enumerate(boxes):
        assert sorted(got[i]) == sorted(gh.cover_cells_bbox(*b, precision)), b


def test_cell_code_col_no_python_in_plan(spark):
    df = spark.range(10).selectExpr("cast(id as double) as x",
                                    "cast(id as double) as y")
    out = df.select(SF.st_cell_code_col("`y`", "`x`", 6))
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
        df.select(SF.st_cell_code_col("`lat`", "`lon`", precision).alias("c"))
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

    cov = SF.with_cover_codes(
        df.selectExpr("x as minx", "x + 0.1 as maxx", "y as miny",
                      "y + 0.1 as maxy"),
        "`minx`", "`maxx`", "`miny`", "`maxy`", 4, "c")
    assert cov.schema["c"].dataType.simpleString() == "bigint"
    analyzed = cov._jdf.queryExecution().analyzed().toString()
    assert "decimal" not in analyzed.lower()
