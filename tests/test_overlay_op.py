"""operators/overlay.overlay_intersection_join: distributed overlay
with exact intersection areas, vs a driver-side brute force built on
the independently-tested kernel."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.overlay import intersection_area
from spatial4n_spark.operators.overlay import overlay_intersection_join
from spatial4n_spark.shapes import shape_col


def _rect_wkt(minx, miny, maxx, maxy):
    return f"ENVELOPE({minx}, {maxx}, {maxy}, {miny})"


def _poly_wkt(xs, ys):
    pts = ", ".join(f"{x} {y}" for x, y in zip(xs, ys))
    return f"POLYGON(({pts}, {xs[0]} {ys[0]}))"


def _layer(spark, rows, col):
    df = spark.createDataFrame(rows, f"{col}_id int, wkt string")
    return (df.withColumn(col + "shape", SF.st_from_wkt(F.col("wkt")))
              .select(col + "_id", col + "shape"))


@pytest.fixture(scope="module")
def layers(spark):
    rng = np.random.default_rng(42)
    lrows, lshapes = [], {}
    for i in range(120):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        w, h = rng.uniform(2, 14), rng.uniform(2, 12)
        if i % 3 == 0:  # rect
            wkt = _rect_wkt(cx, cy, min(cx + w, 180), min(cy + h, 85))
        else:  # star-ish polygon
            n = int(rng.integers(3, 8))
            ang = rng.uniform(0, 6) + np.linspace(0, 2 * np.pi, n,
                                                  endpoint=False)
            xs = np.clip(cx + w / 2 * np.cos(ang), -180, 180)
            ys = np.clip(cy + h / 2 * np.sin(ang), -85, 85)
            wkt = _poly_wkt(xs, ys)
        lrows.append((i, wkt))
    rrows = []
    for j in range(40):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        w, h = rng.uniform(4, 20), rng.uniform(4, 16)
        if j % 2 == 0:
            wkt = _rect_wkt(cx, cy, min(cx + w, 180), min(cy + h, 85))
        else:
            xs = np.asarray([cx, cx + w, cx + w / 2])
            ys = np.asarray([cy, cy, min(cy + h, 85)])
            wkt = _poly_wkt(np.clip(xs, -180, 180), ys)
        rrows.append((j, wkt))
    return lrows, rrows


def _brute(spark, lrows, rrows):
    """Driver-side expected pair -> area map via the kernel."""
    from spatial4n_spark.kernels.wkt import parse_wkt_batch

    def shapes_of(rows):
        recs, errs = parse_wkt_batch([w for _, w in rows])
        assert not any(errs), errs
        return {rid: rec for (rid, _), rec in zip(rows, recs)}

    def pages(rec):
        if rec["kind"] == 2:
            spans = ([(rec["minx"], 180.0), (-180.0, rec["maxx"])]
                     if rec["minx"] > rec["maxx"]
                     else [(rec["minx"], rec["maxx"])])
            return [(np.asarray([x0, x1, x1, x0]),
                     np.asarray([rec["miny"], rec["miny"],
                                 rec["maxy"], rec["maxy"]]), None)
                    for x0, x1 in spans]
        return [(np.asarray(rec["xs"]), np.asarray(rec["ys"]),
                 rec["ring_offsets"])]

    ls, rs = shapes_of(lrows), shapes_of(rrows)
    exp = {}
    for lid, a in ls.items():
        for rid, b in rs.items():
            area = sum(intersection_area(p[0], p[1], p[2], q[0], q[1], q[2])
                       for p in pages(a) for q in pages(b))
            if area > 0.0:
                exp[(lid, rid)] = area
    return exp


def test_overlay_vs_brute_force(spark, layers):
    lrows, rrows = layers
    left = _layer(spark, lrows, "l")
    right = _layer(spark, rrows, "r")
    out = overlay_intersection_join(left, right, precision=2,
                                    with_fracs=True)
    got = {(r["l_id"], r["r_id"]): (r["inter_area_deg2"],
                                    r["frac_left"], r["frac_right"])
           for r in out.collect()}
    exp = _brute(spark, lrows, rrows)
    assert set(got) == set(exp)
    assert len(exp) >= 25
    for k, (a, fl, fr) in got.items():
        assert a == pytest.approx(exp[k], abs=1e-9)
        assert fl is None or 0.0 < fl <= 1.0 + 1e-12
        assert fr is None or 0.0 < fr <= 1.0 + 1e-12


def test_overlay_shuffle_path_equal(spark, layers):
    lrows, rrows = layers
    left = _layer(spark, lrows, "l")
    right = _layer(spark, rrows, "r")
    b = {(r["l_id"], r["r_id"]): r["inter_area_deg2"]
         for r in overlay_intersection_join(
             left, right, precision=2).collect()}
    s = {(r["l_id"], r["r_id"]): r["inter_area_deg2"]
         for r in overlay_intersection_join(
             left, right, precision=2, broadcast_right=False,
             salt=4).collect()}
    assert b.keys() == s.keys()
    for k in b:
        assert b[k] == pytest.approx(s[k], abs=1e-12)


def test_rect_rect_declared_layer_is_jvm_only(spark):
    """shape_kinds=(2,2): the whole overlay plan compiles to JVM — no
    Arrow/Python stage — and matches the kernel per pair. Rect layers
    are page-split (planar), like every two-layer join input."""
    lrects = [(0, 10.0, 30.0, 10.0, 25.0),
              (1, -179.0, -150.0, -8.0, 25.0),
              (2, -50.0, -20.0, -40.0, -15.0)]
    rrects = [(0, 20.0, 40.0, 15.0, 35.0),
              (1, -179.0, -165.0, -5.0, 18.0),
              (2, 100.0, 120.0, 0.0, 10.0)]
    lrows = [(i, _rect_wkt(x0, y0, x1, y1)) for i, x0, x1, y0, y1 in lrects]
    rrows = [(i, _rect_wkt(x0, y0, x1, y1)) for i, x0, x1, y0, y1 in rrects]

    def rect_layer(rows, col):
        # struct built in pure Columns — no parser, no Python anywhere
        df = spark.createDataFrame(
            rows, f"{col}_id int, minx double, maxx double,"
                  " miny double, maxy double")
        nul = lambda t: F.lit(None).cast(t)  # noqa: E731
        return df.select(f"{col}_id", F.struct(
            F.lit(2).cast("byte").alias("kind"),
            nul("double").alias("x"), nul("double").alias("y"),
            nul("double").alias("radius"),
            F.col("minx").alias("minx"), F.col("maxx").alias("maxx"),
            F.col("miny").alias("miny"), F.col("maxy").alias("maxy"),
            nul("array<double>").alias("xs"), nul("array<double>").alias("ys"),
            nul("array<int>").alias("ring_offsets"),
            nul("string").alias("error")).alias(col + "shape"))

    left = rect_layer(lrects, "l")
    right = rect_layer(rrects, "r")
    out = overlay_intersection_join(left, right, precision=2,
                                    shape_kinds=(2, 2))
    got = {(r["l_id"], r["r_id"]): r["inter_area_deg2"]
           for r in out.collect()}
    exp = _brute(spark, lrows, rrows)
    assert set(got) == set(exp) and len(exp) >= 2
    for k in got:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)
    p = out._jdf.queryExecution().executedPlan().toString()
    # no per-PAIR Python anywhere: neither the polygon relate refine
    # nor the Arrow measure survive the (2,2) declaration; the measure
    # is a plain Project. (The per-SHAPE cover-code kernel is Arrow by
    # design — joins.py chooses it over the CodegenFallback HOF
    # expression — and is bounded by layer size, not pair count.)
    for bad in ("st_relate_polygon_polygon", "st_shape_intersection_area",
                "MapInPandas", "BatchEvalPython"):
        assert bad not in p, p[:1500]
    arrow_nodes = [ln for ln in p.splitlines() if "ArrowEvalPython" in ln]
    assert all("cover_codes" in ln for ln in arrow_nodes), arrow_nodes


def test_mixed_pairs_rect_branch_matches_arrow(spark):
    """Without the declaration, rect x rect rows take the JVM branch of
    the per-row dispatch — equal to forcing every row through Arrow."""
    lrows = [(0, _rect_wkt(0, 0, 20, 20)),
             (1, _poly_wkt([0, 30, 15], [0, 0, 25]))]
    rrows = [(0, _rect_wkt(10, 5, 40, 30)),
             (1, _poly_wkt([5, 35, 20], [-5, -5, 22]))]
    left = _layer(spark, lrows, "l")
    right = _layer(spark, rrows, "r")
    out = overlay_intersection_join(left, right, precision=2)
    got = {(r["l_id"], r["r_id"]): r["inter_area_deg2"]
           for r in out.collect()}
    exp = _brute(spark, lrows, rrows)
    assert set(got) == set(exp) and len(exp) == 4
    for k in got:
        assert got[k] == pytest.approx(exp[k], abs=1e-9)


def test_area_interpolate(spark):
    """Census-to-grid transfer vs hand-computed fractions."""
    from spatial4n_spark.operators.overlay import area_interpolate
    # two source squares with population, one 10x10 at origin, one
    # 10x10 shifted so it straddles two grid cells
    src = _layer(spark, [(0, _rect_wkt(0, 0, 10, 10)),
                         (1, _rect_wkt(5, 10, 15, 20))], "l")
    src = src.withColumn("pop", F.when(F.col("l_id") == 0, 100.0)
                                 .otherwise(40.0))
    # target grid: two 10x20 columns [0,10] and [10,20]
    tgt = _layer(spark, [(0, _rect_wkt(0, 0, 10, 20)),
                         (1, _rect_wkt(10, 0, 20, 20))], "r")
    out = {r["r_id"]: r["pop"]
           for r in area_interpolate(src, tgt, ["pop"], precision=2,
                                     shape_kinds=(2, 2)).collect()}
    # source 0 entirely in column 0; source 1 half in each column
    assert out[0] == pytest.approx(100.0 + 20.0)
    assert out[1] == pytest.approx(20.0)
    # extensive mass conserved when sources are fully covered
    assert sum(out.values()) == pytest.approx(140.0)


def test_crossing_rect_area_functions(spark):
    """Function-level dateline coverage: the paged Arrow kernel and the
    pure-Column arc formula agree on crossing x planar and crossing x
    crossing rect pairs."""
    rows = [  # (aminx, amaxx, aminy, amaxy, bminx, bmaxx, bminy, bmaxy)
        (170.0, -160.0, -10.0, 20.0, -179.0, -165.0, -5.0, 18.0),
        (170.0, -160.0, -10.0, 20.0, 100.0, 175.0, 0.0, 10.0),
        (170.0, -160.0, -10.0, 20.0, 165.0, -170.0, -5.0, 5.0),
        (-30.0, 40.0, 0.0, 30.0, 10.0, 50.0, 10.0, 50.0),
        (170.0, -160.0, -10.0, 20.0, -150.0, -140.0, 0.0, 5.0),  # disjoint
    ]
    df = spark.createDataFrame(
        rows, "aminx double, amaxx double, aminy double, amaxy double,"
              "bminx double, bmaxx double, bminy double, bmaxy double")
    a = lambda c: F.col(c)  # noqa: E731
    out = df.select(
        SF.rect_intersection_area_cols(
            a("aminx"), a("amaxx"), a("aminy"), a("amaxy"),
            a("bminx"), a("bmaxx"), a("bminy"), a("bmaxy")).alias("jvm"),
        SF.st_shape_intersection_area(
            shape_col(kind=2, minx=a("aminx"), maxx=a("amaxx"),
                      miny=a("aminy"), maxy=a("amaxy")),
            shape_col(kind=2, minx=a("bminx"), maxx=a("bmaxx"),
                      miny=a("bminy"), maxy=a("bmaxy"))).alias("arrow")
    ).collect()
    def arc_overlap(a0, a1raw, b0, b1raw):
        aw = a1raw - a0 + (360 if a1raw < a0 else 0)
        bw = b1raw - b0 + (360 if b1raw < b0 else 0)
        a1, b1 = a0 + aw, b0 + bw
        return sum(max(0.0, min(a1, b1 + s) - max(a0, b0 + s))
                   for s in (-360.0, 0.0, 360.0))
    for r, row in zip(out, rows):
        exp = (arc_overlap(row[0], row[1], row[4], row[5])
               * max(0.0, min(row[3], row[7]) - max(row[2], row[6])))
        assert r["jvm"] == pytest.approx(exp, abs=1e-9)
        assert r["arrow"] == pytest.approx(exp, abs=1e-9)


def test_st_intersection_geometry(spark):
    """Intersection geometry output: WKT roundtrip, component count,
    area match, geometry (not error rows) for degenerate/holed inputs."""
    cases = [
        # overlapping squares -> one quad of area 1
        ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))", 7, 1.0, None),
        # U-shape x bar -> two components
        ("POLYGON((0 0, 1 0, 1 2, 2 2, 2 0, 3 0, 3 3, 0 3, 0 0))",
         "POLYGON((-1 0.5, 4 0.5, 4 1.5, -1 1.5, -1 0.5))", 8, 2.0, None),
        # disjoint -> EMPTY
        ("POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))",
         "POLYGON((5 5, 6 5, 6 6, 5 6, 5 5))", 0, None, None),
        # shared edge -> measure-zero intersection = EMPTY, no error
        ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON((2 0, 4 0, 4 2, 2 2, 2 0))", 0, None, None),
        # partial shared edge with real overlap -> exact geometry
        ("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))",
         "POLYGON((2 0, 6 0, 6 4, 2 4, 2 0))", 7, 8.0, None),
        # holed input (r5: geometry, no longer an error row): B swallows
        # the hole -> one member, shell + hole, area 49 - 1
        ("POLYGON((0 0, 9 0, 9 9, 0 9, 0 0),(4 4, 5 4, 5 5, 4 5, 4 4))",
         "POLYGON((1 1, 8 1, 8 8, 1 8, 1 1))", 7, 48.0, None),
        # hole crossing the partner boundary: the cut carves the shell
        ("POLYGON((0 0, 9 0, 9 9, 0 9, 0 0),(3 3, 6 3, 6 6, 3 6, 3 3))",
         "POLYGON((-1 4, 10 4, 10 5, -1 5, -1 4))", 8, 9.0 - 3.0, None),
        # MULTIPOLYGON x rect-polygon -> two components
        ("MULTIPOLYGON(((0 0, 3 0, 3 3, 0 3, 0 0)),"
         "((5 0, 8 0, 8 3, 5 3, 5 0)))",
         "POLYGON((-1 1, 9 1, 9 2, -1 2, -1 1))", 8, 6.0, None),
        # concave (L) x holed square: exact concave+holed composition
        ("POLYGON((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))",
         "POLYGON((-1 -1, 7 -1, 7 7, -1 7, -1 -1),"
         "(0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))",
         7, 20.0 - 1.0, None),
    ]
    df = spark.createDataFrame(cases, "awkt string, bwkt string,"
                               " ekind int, earea double, eerr string")
    a = SF.st_from_wkt(F.col("awkt"))
    b = SF.st_from_wkt(F.col("bwkt"))
    df = df.select("ekind", "earea", "eerr",
                   a.alias("a"), b.alias("b"))
    inter = SF.st_intersection(F.col("a"), F.col("b"))
    rows = df.withColumn("i", inter).select("ekind", "earea", "eerr", "i") \
             .collect()
    from spatial4n_spark.kernels.overlay import polygon_area_evenodd
    for r in rows:
        i = r["i"]
        assert i["kind"] == r["ekind"], r
        if r["eerr"] is not None:
            assert i["error"] and r["eerr"] in i["error"], i["error"]
        elif r["ekind"] == 0:
            assert i["error"] is None
        else:
            got = polygon_area_evenodd(np.asarray(i["xs"]),
                                       np.asarray(i["ys"]),
                                       i["ring_offsets"])
            assert got == pytest.approx(r["earea"], abs=1e-9)


def test_keep_zero_touch_pairs(spark):
    lrows = [(0, _rect_wkt(0, 0, 10, 10))]
    rrows = [(0, _rect_wkt(10, 0, 20, 10))]  # shares the x=10 edge
    left = _layer(spark, lrows, "l")
    right = _layer(spark, rrows, "r")
    drop = overlay_intersection_join(left, right, precision=2)
    keep = overlay_intersection_join(left, right, precision=2,
                                     keep_zero=True)
    assert drop.count() == 0
    rows = keep.collect()
    assert len(rows) == 1 and rows[0]["inter_area_deg2"] == 0.0
    # with_geometry: a zero-area pair's geometry is EMPTY (kind 0, no
    # error) on the declared all-rect path, the mixed path and for
    # polygons sharing an edge
    tri_l = _layer(spark, [(0, "POLYGON((0 0, 10 0, 0 10, 0 0))")], "l")
    tri_r = _layer(spark, [(0, "POLYGON((10 0, 10 10, 0 10, 10 0))")], "r")
    for lay_l, lay_r, kinds in ((left, right, (2, 2)), (left, right, None),
                                (tri_l, tri_r, None)):
        got = overlay_intersection_join(lay_l, lay_r, precision=2,
                                        keep_zero=True, with_geometry=True,
                                        shape_kinds=kinds).collect()
        assert len(got) == 1 and got[0]["inter_area_deg2"] == 0.0, kinds
        g = got[0]["inter_shape"]
        assert g["kind"] == 0 and g["error"] is None, (kinds, g)


def test_st_difference_area(spark):
    rows = [("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
             "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))", 3.0),
            ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
             "POLYGON((10 0, 12 0, 12 2, 10 2, 10 0))", 4.0),
            ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
             "POLYGON((-1 -1, 5 -1, 5 5, -1 5, -1 -1))", 0.0)]
    df = spark.createDataFrame(rows, "awkt string, bwkt string, exp double")
    df = df.select("exp", SF.st_from_wkt(F.col("awkt")).alias("a"),
                   SF.st_from_wkt(F.col("bwkt")).alias("b"))
    out = df.withColumn("d", SF.st_difference_area(
        F.col("a"), F.col("b"))).collect()
    for r in out:
        assert r["d"] == pytest.approx(r["exp"], abs=1e-9)


def test_shared_slanted_edge_areas(spark):
    """Triangles sharing the slanted edge (-2 5)-(-1 3) on an integer
    grid scaled by 0.1 and 0.01 (decimals that are not binary-exact):
    the float midpoints of the shared edge must not read as interior.
    T1 ∩ T2 is the triangle (-2.8 3, -1 3, -2 5), 1.8 grid units; T1
    and T3 only touch along the shared edge. area(T1) is 4.5."""
    t1 = [(-2, 5), (-1, 3), (-4, 0)]
    t2 = [(-2, 5), (-1, 3), (-3, 3)]
    t3 = [(-2, 5), (-1, 3), (2, 6)]

    def wkt(pts, s):
        return _poly_wkt([round(x * s, 6) for x, _ in pts],
                         [round(y * s, 6) for _, y in pts])
    rows = [(wkt(t1, s), wkt(t, s), inter * s * s, (4.5 - inter) * s * s)
            for s in (0.1, 0.01) for t, inter in ((t2, 1.8), (t3, 0.0))]
    df = spark.createDataFrame(
        rows, "awkt string, bwkt string, inter double, diff double")
    df = df.select("inter", "diff",
                   SF.st_from_wkt(F.col("awkt")).alias("a"),
                   SF.st_from_wkt(F.col("bwkt")).alias("b"))
    a, b = F.col("a"), F.col("b")
    out = df.select(
        "inter", "diff",
        SF.st_shape_intersection_area(a, b).alias("got_inter"),
        SF.st_difference_area(a, b).alias("got_diff"),
        SF.st_overlay_measure(a, b)["inter"].alias("m_inter")).collect()
    assert len(out) == 4
    for r in out:
        assert r["got_inter"] == pytest.approx(r["inter"], abs=1e-12), r
        assert r["got_diff"] == pytest.approx(r["diff"], abs=1e-12), r
        assert r["m_inter"] == r["got_inter"], r


def test_unsupported_and_crossing_inputs_raise(spark):
    """code-review r4: non-area kinds (circle etc.) used to null out of
    the measure and drop under the area>0 filter — indistinguishable
    from disjoint — and dateline-crossing rects got no cover cells and
    vanished from the candidate join. Both now raise up front."""
    right = _layer(spark, [(0, _rect_wkt(0, 0, 20, 20))], "r")

    left_circle = _layer(spark, [(0, "BUFFER(POINT(5 5), 3)")], "l")
    with pytest.raises(Exception, match="got kind 3"):
        overlay_intersection_join(left_circle, right,
                                  precision=2).collect()

    # ENVELOPE(170, -160, ...) parses to a crossing rect (minx > maxx)
    left_cross = _layer(spark, [(0, _rect_wkt(170, 0, -160, 20))], "l")
    with pytest.raises(Exception, match="page-split"):
        overlay_intersection_join(left_cross, right,
                                  precision=2).collect()

    # the declared all-rect fast path guards crossing rects too
    with pytest.raises(Exception, match="page-split"):
        overlay_intersection_join(left_cross, right, precision=2,
                                  shape_kinds=(2, 2)).collect()

    # keep_zero=True (relate-refine path) is guarded the same way
    with pytest.raises(Exception, match="got kind 3"):
        overlay_intersection_join(left_circle, right, precision=2,
                                  keep_zero=True).collect()


def test_st_difference_geometry(spark):
    """st_difference (round 5): geometry output matches the scalar
    st_difference_area measure and even-odd expectations."""
    cases = [
        # corner overlap -> L-shaped remainder, area 3
        ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))", 7, 3.0),
        # B strictly inside A -> A with a hole
        ("POLYGON((0 0, 9 0, 9 9, 0 9, 0 0))",
         "POLYGON((4 4, 5 4, 5 5, 4 5, 4 4))", 7, 80.0),
        # bar through the middle -> split in two
        ("POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))",
         "POLYGON((-1 4, 11 4, 11 6, -1 6, -1 4))", 8, 80.0),
        # disjoint -> A unchanged
        ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON((5 5, 6 5, 6 6, 5 6, 5 5))", 7, 4.0),
        # B covers A -> EMPTY
        ("POLYGON((1 1, 2 1, 2 2, 1 2, 1 1))",
         "POLYGON((0 0, 3 0, 3 3, 0 3, 0 0))", 0, None),
    ]
    df = spark.createDataFrame(cases, "awkt string, bwkt string,"
                               " ekind int, earea double")
    df = df.select("ekind", "earea",
                   SF.st_from_wkt(F.col("awkt")).alias("a"),
                   SF.st_from_wkt(F.col("bwkt")).alias("b"))
    rows = df.withColumn("d", SF.st_difference(F.col("a"), F.col("b"))) \
             .select("ekind", "earea", "d").collect()
    from spatial4n_spark.kernels.overlay import polygon_area_evenodd
    for r in rows:
        d = r["d"]
        assert d["kind"] == r["ekind"], r
        if r["ekind"] != 0:
            got = polygon_area_evenodd(np.asarray(d["xs"]),
                                       np.asarray(d["ys"]),
                                       d["ring_offsets"])
            assert got == pytest.approx(r["earea"], abs=1e-9)


def test_st_union_geometry(spark):
    """st_union (round 5): region-exact union geometry — st_area over
    the output equals inclusion-exclusion of the inputs."""
    cases = [
        # overlapping squares: 4 + 4 - 1
        ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))", 7.0),
        # disjoint: two members
        ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
         "POLYGON((5 5, 7 5, 7 7, 5 7, 5 5))", 8.0),
        # B fills A's hole: 81 - 1 + 1
        ("POLYGON((0 0, 9 0, 9 9, 0 9, 0 0),(4 4, 5 4, 5 5, 4 5, 4 4))",
         "POLYGON((3 3, 6 3, 6 6, 3 6, 3 3))", 81.0),
        # B inside A: union is just A
        ("POLYGON((0 0, 9 0, 9 9, 0 9, 0 0))",
         "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))", 81.0),
    ]
    df = spark.createDataFrame(cases, "awkt string, bwkt string, earea double")
    df = df.select("earea",
                   SF.st_from_wkt(F.col("awkt")).alias("a"),
                   SF.st_from_wkt(F.col("bwkt")).alias("b"))
    u = SF.st_union(F.col("a"), F.col("b"))
    rows = df.withColumn("u", u).select("earea", "u").collect()
    from spatial4n_spark.kernels.area import polygon_area_euclid
    for r in rows:
        assert r["u"]["kind"] in (7, 8) and r["u"]["error"] is None
        got = polygon_area_euclid(np.asarray(r["u"]["xs"]),
                                  np.asarray(r["u"]["ys"]),
                                  r["u"]["ring_offsets"])
        assert got == pytest.approx(r["earea"], abs=1e-9), r


def test_overlay_with_geometry(spark, layers):
    """with_geometry (round 5): each intersecting pair carries its clip
    geometry, and area(geometry) matches the exact area column — both
    come from the same noded overlay kernel, so no pair is an error
    row."""
    from spatial4n_spark.kernels.overlay import polygon_area_evenodd
    lrows, rrows = layers
    left = _layer(spark, lrows, "l")
    right = _layer(spark, rrows, "r")
    out = overlay_intersection_join(left, right, precision=2,
                                    with_geometry=True).collect()
    assert len(out) >= 25
    checked = errs = 0
    for r in out:
        g = r["inter_shape"]
        if g["error"] is not None:
            errs += 1
            continue
        if g["kind"] == 2:
            area = ((g["maxx"] - g["minx"]) * (g["maxy"] - g["miny"]))
        else:
            area = polygon_area_evenodd(np.asarray(g["xs"]),
                                        np.asarray(g["ys"]),
                                        g["ring_offsets"])
        assert area == pytest.approx(r["inter_area_deg2"],
                                     rel=1e-9, abs=1e-9), (r["l_id"], r["r_id"])
        checked += 1
    assert errs == 0 and checked == len(out)


def test_overlay_with_geometry_rect_declared_jvm(spark):
    """(2,2)-declared layers: the geometry column is a pure Column rect
    struct — still no per-pair Python in the plan."""
    lrects = [(0, 10.0, 30.0, 10.0, 25.0), (1, -50.0, -20.0, -40.0, -15.0)]
    rrects = [(0, 20.0, 40.0, 15.0, 35.0), (1, -45.0, -30.0, -35.0, -20.0)]

    def rect_layer(rows, col):
        df = spark.createDataFrame(
            rows, f"{col}_id int, minx double, maxx double,"
                  " miny double, maxy double")
        nul = lambda t: F.lit(None).cast(t)  # noqa: E731
        return df.select(f"{col}_id", F.struct(
            F.lit(2).cast("byte").alias("kind"),
            nul("double").alias("x"), nul("double").alias("y"),
            nul("double").alias("radius"),
            F.col("minx"), F.col("maxx"), F.col("miny"), F.col("maxy"),
            nul("array<double>").alias("xs"), nul("array<double>").alias("ys"),
            nul("array<int>").alias("ring_offsets"),
            nul("string").alias("error")).alias(col + "shape"))
    out = overlay_intersection_join(rect_layer(lrects, "l"),
                                    rect_layer(rrects, "r"),
                                    precision=2, shape_kinds=(2, 2),
                                    with_geometry=True)
    rows = out.collect()
    assert len(rows) == 2
    for r in rows:
        g = r["inter_shape"]
        assert g["kind"] == 2 and g["error"] is None
        assert ((g["maxx"] - g["minx"]) * (g["maxy"] - g["miny"])
                == pytest.approx(r["inter_area_deg2"], abs=1e-12))
    p = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("MapInPandas", "BatchEvalPython"):
        assert bad not in p
    arrow_nodes = [ln for ln in p.splitlines() if "ArrowEvalPython" in ln]
    assert all("cover_codes" in ln for ln in arrow_nodes), arrow_nodes
