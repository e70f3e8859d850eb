"""Polygon GetBuffered kernel (NtsGeometry.cs:175-180 NTS-Buffer analog,
planar degree space): convex exactness within the documented arc
inscription bound, hole erosion/collapse, hull fallbacks, and the
st_buffer UDF surface for kinds 7/8."""
import numpy as np
import pytest

from spatial4n_spark.kernels.buffer import (ARC_STEP, buffer_polygon)
from spatial4n_spark.kernels.pip import points_in_polygon


def _dist_to_segments(px, py, xs, ys):
    """Min distance from one point to a closed ring's segments."""
    best = np.inf
    n = len(xs)
    for i in range(n):
        ax, ay = xs[i], ys[i]
        bx, by = xs[(i + 1) % n], ys[(i + 1) % n]
        dx, dy = bx - ax, by - ay
        L2 = dx * dx + dy * dy
        t = 0.0 if L2 == 0 else max(0.0, min(1.0, ((px - ax) * dx + (py - ay) * dy) / L2))
        best = min(best, float(np.hypot(px - (ax + t * dx), py - (ay + t * dy))))
    return best


SQUARE = (np.array([0.0, 10.0, 10.0, 0.0]), np.array([0.0, 0.0, 10.0, 10.0]))


def test_convex_buffer_is_inscribed_minkowski():
    """Randomized: every probe strictly inside by more than the arc
    sagitta is CONTAINED; every probe outside the true buffer is NOT."""
    xs, ys = SQUARE
    d = 3.0
    ox, oy, off, approx = buffer_polygon(xs, ys, [0, 4], d)
    assert not approx
    sagitta = d * (1.0 - np.cos(ARC_STEP / 2.0))
    rng = np.random.default_rng(7)
    px = rng.uniform(-6, 16, 400)
    py = rng.uniform(-6, 16, 400)
    got = points_in_polygon(px, py, ox, oy, off)
    for x, y, g in zip(px, py, got):
        inside_orig = points_in_polygon(
            np.array([x]), np.array([y]), xs, ys, [0, 4])[0]
        dist = 0.0 if inside_orig else _dist_to_segments(x, y, xs, ys)
        if dist < d - sagitta - 1e-9:
            assert g, (x, y, dist)
        elif dist > d + 1e-9:
            assert not g, (x, y, dist)


def test_convex_buffer_cw_input_same_result():
    xs, ys = SQUARE
    a = buffer_polygon(xs, ys, [0, 4], 2.0)
    b = buffer_polygon(xs[::-1].copy(), ys[::-1].copy(), [0, 4], 2.0)
    # same POINT SET (orientation-normalized internally)
    assert sorted(zip(np.round(a[0], 12), np.round(a[1], 12))) == \
        sorted(zip(np.round(b[0], 12), np.round(b[1], 12)))


def _assert_exact_buffer(xs, ys, offs, d, lo, hi, n=600, seed=3):
    """Brute-force Minkowski check: every probe deeper inside the true
    buffer than the arc sagitta is contained; every probe outside the
    true buffer is not (exact strip-union path, no hull superset)."""
    ox, oy, off, approx = buffer_polygon(xs, ys, offs, d)
    assert not approx
    sagitta = d * (1.0 - np.cos(ARC_STEP / 2.0))
    rng = np.random.default_rng(seed)
    px = rng.uniform(lo, hi, n)
    py = rng.uniform(lo, hi, n)
    got = points_in_polygon(px, py, ox, oy, off)
    for x, y, g in zip(px, py, got):
        dist = min(_dist_to_segments(x, y, xs[offs[k]:offs[k + 1]],
                                     ys[offs[k]:offs[k + 1]])
                   for k in range(len(offs) - 1))
        if points_in_polygon(np.array([x]), np.array([y]),
                             xs, ys, offs)[0]:
            assert g, (x, y)  # region points are always in the buffer
        elif dist < d - sagitta - 1e-9:
            assert g, (x, y, dist)
        elif dist > d + 1e-9:
            assert not g, (x, y, dist)
    return ox, oy, off


def test_concave_l_shape_exact():
    """L-shape (one reflex vertex): the strip-union path is EXACT —
    no approx flag, both containment directions hold."""
    xs = np.array([0.0, 10.0, 10.0, 6.0, 6.0, 0.0])
    ys = np.array([0.0, 0.0, 4.0, 4.0, 10.0, 10.0])
    _assert_exact_buffer(xs, ys, [0, 6], 1.0, -3.0, 13.0)


def test_concave_star_exact():
    """5-point star: five reflex vertices, buffered exactly."""
    th = np.arange(10) * np.pi / 5.0
    r = np.where(np.arange(10) % 2 == 0, 5.0, 2.0)
    xs = 5.0 + r * np.cos(th)
    ys = 5.0 + r * np.sin(th)
    _assert_exact_buffer(xs, ys, [0, 10], 0.8, -2.0, 12.0)


def test_concave_holed_exact():
    """Concave shell (L) with a hole: shell offsets and hole erosion
    both come out of the one strip union, exactly."""
    xs = np.concatenate([np.array([0.0, 10.0, 10.0, 6.0, 6.0, 0.0]),
                         np.array([1.5, 4.0, 4.0, 1.5])])
    ys = np.concatenate([np.array([0.0, 0.0, 4.0, 4.0, 10.0, 10.0]),
                         np.array([5.5, 5.5, 8.5, 8.5])])
    ox, oy, off = _assert_exact_buffer(
        xs, ys, [0, 6, 10], 0.5, -2.0, 12.0)
    assert len(off) - 1 == 2  # shell ring + eroded hole survive
    # eroded hole: old-hole center still out, near-old-edge point in
    assert not points_in_polygon(np.array([2.75]), np.array([7.0]),
                                 ox, oy, off)[0]
    assert points_in_polygon(np.array([1.9]), np.array([7.0]),
                             ox, oy, off)[0]


def test_sealed_neck_creates_buffer_hole():
    """Chamber connected to the outside by a neck narrower than 2d:
    the buffer seals the neck and the chamber interior beyond d of any
    wall becomes a genuine HOLE of the buffer (JTS parity — the r4
    hull path could not represent this at all)."""
    xs = np.array([0.0, 20, 20, 15, 15, 5, 5, 15, 15, 20, 20, 0])
    ys = np.array([0.0, 0, 9, 9, 5, 5, 15, 15, 11, 11, 20, 20])
    ox, oy, off, approx = buffer_polygon(xs, ys, [0, 12], 1.5)
    assert not approx and len(off) - 1 == 2
    inp = points_in_polygon(
        np.array([10.0, 5.5, 21.0, 25.0]), np.array([10.0, 5.5, 10.0, 25.0]),
        ox, oy, off)
    assert not inp[0]     # chamber center: inside the hole
    assert inp[1]         # within d of a chamber wall: covered
    assert inp[2]         # outside the sealed neck: strip covers it
    assert not inp[3]     # far away


def test_hole_erodes_and_collapses():
    """Square with a square hole: buffer(d) erodes the hole by d;
    a hole narrower than 2d vanishes entirely."""
    xs = np.concatenate([SQUARE[0], np.array([4.0, 6.0, 6.0, 4.0])])
    ys = np.concatenate([SQUARE[1], np.array([4.0, 4.0, 6.0, 6.0])])
    offs = [0, 4, 8]
    ox, oy, off, approx = buffer_polygon(xs, ys, offs, 0.5)
    assert not approx and len(off) - 1 == 2  # shell + eroded hole
    # hole center still out; a point 0.6 inside the old hole edge is in
    assert not points_in_polygon(np.array([5.0]), np.array([5.0]),
                                 ox, oy, off)[0]
    assert points_in_polygon(np.array([4.4]), np.array([5.0]),
                             ox, oy, off)[0]
    # d >= half the hole width -> hole collapses, single ring remains
    ox2, oy2, off2, _ = buffer_polygon(xs, ys, offs, 1.0)
    assert len(off2) - 1 == 1
    assert points_in_polygon(np.array([5.0]), np.array([5.0]),
                             ox2, oy2, off2)[0]


def test_disjoint_shells_buffer_independently():
    xs = np.concatenate([SQUARE[0], SQUARE[0] + 100.0])
    ys = np.concatenate([SQUARE[1], SQUARE[1]])
    ox, oy, off, approx = buffer_polygon(xs, ys, [0, 4, 8], 2.0)
    assert not approx and len(off) - 1 == 2
    assert points_in_polygon(np.array([-1.0, 99.0]), np.array([5.0, 5.0]),
                             ox, oy, off).all()
    assert not points_in_polygon(np.array([50.0]), np.array([5.0]),
                                 ox, oy, off)[0]


def test_overlapping_buffered_shells_merge_exactly():
    """Shells whose buffers overlap merge through the strip union into
    ONE exact ring (r4 degraded this to a hull superset)."""
    xs = np.concatenate([SQUARE[0], SQUARE[0] + 11.0])
    ys = np.concatenate([SQUARE[1], SQUARE[1]])
    ox, oy, off = _assert_exact_buffer(
        xs, ys, [0, 4, 8], 2.0, -4.0, 25.0)
    assert len(off) - 1 == 1
    # the seam point between the squares is covered (XOR would drop it)
    assert points_in_polygon(np.array([10.5]), np.array([5.0]),
                             ox, oy, off)[0]
    # a hull superset would cover the outer corner region between the
    # two buffers — the exact union must NOT (dist to either square
    # from (10.5, 14.5) is > 2 + sagitta)
    assert not points_in_polygon(np.array([10.5]), np.array([14.5]),
                                 ox, oy, off)[0]


def test_zero_distance_and_degenerate_ring():
    xs, ys = SQUARE
    ox, oy, off, approx = buffer_polygon(xs, ys, [0, 4], 0.0)
    assert np.array_equal(ox, xs) and np.array_equal(oy, ys)
    # d < 0 is EROSION since r5 (see test_negative_buffer_erosion)
    with pytest.raises(ValueError):
        buffer_polygon(np.array([0.0, 1.0]), np.array([0.0, 1.0]),
                       [0, 2], 1.0)


def test_st_buffer_polygon_udf(spark):
    """UDF surface: kind 7 in -> kind 7 out with analytic bbox; a
    MULTIPOLYGON keeps kind 8; unsupported kinds still error."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF

    # triangles, not axis-aligned quads: the parser demotes rectangle-
    # shaped POLYGONs to kind=2 rects (MakeRectFromPoly), which buffer
    # through the GEO rect branch instead
    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 10 0, 5 10, 0 0))", 2.0),
         (2, "MULTIPOLYGON (((0 0, 10 0, 5 10, 0 0)),"
             " ((100 0, 110 0, 105 10, 100 0)))", 2.0),
         (3, "MULTIPOINT (0 0, 1 1)", 2.0)],
        ["rid", "wkt", "d"])
    s = SF.st_from_wkt(F.col("wkt"))
    df = df.withColumn("s", s)
    b = SF.st_buffer(F.col("s"), F.col("d"))
    rows = {r["rid"]: r for r in df.select("rid", b.alias("b")).collect()}
    assert rows[1]["b"]["kind"] == 7
    assert rows[1]["b"]["minx"] == -2.0 and rows[1]["b"]["maxy"] == 12.0
    assert rows[2]["b"]["kind"] == 8
    assert len(rows[2]["b"]["ring_offsets"]) == 3
    assert rows[3]["b"]["error"] is not None


def test_erode_exact_half_width_collapses():
    """A hole exactly 2d wide erodes to zero area -> dropped, not kept
    as a degenerate collinear ring."""
    from spatial4n_spark.kernels.buffer import _erode_convex_ring
    assert _erode_convex_ring(np.array([4.0, 6.0, 6.0, 4.0]),
                              np.array([4.0, 4.0, 6.0, 6.0]), 1.0) is None


def test_buffered_polygon_join_end_to_end(spark):
    """The use case that motivated polygon GetBuffered (r3 verdict):
    'points within d of this polygon' = buffer the layer, then the
    ordinary point-in-shape join — no circle/bbox approximation."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    from spatial4n_spark.operators.joins import point_in_shape_join
    from spatial4n_spark.plans.strategy import JoinPlan

    shapes = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 20 0, 10 16, 0 0))", 2.0)],
        ["sid", "wkt", "d"]).withColumn("s", SF.st_from_wkt(F.col("wkt")))
    buffered = shapes.select(
        "sid", SF.st_buffer(F.col("s"), F.col("d")).alias("shape"))
    # probes: inside original; within the 2-deg band (below the bottom
    # edge); outside the band; near a vertex inside 0.99d
    pts = spark.createDataFrame(
        [(1, 10.0, 5.0), (2, 10.0, -1.9), (3, 10.0, -2.1),
         (4, 21.40, -1.40)],  # ~1.98 from vertex (20,0), in its cone
        ["pid", "x", "y"])
    plan = JoinPlan(precision=2, broadcast_shapes=True, salt=None,
                    max_cover_cells=4096)
    got = sorted(r["pid"] for r in point_in_shape_join(
        pts, buffered, plan, shape_id="sid").select("pid").collect())
    assert got == [1, 2, 4], got


def test_jagged_400_vertex_ring_exact_and_fast():
    """Corpus-scale stress: a 400-vertex jagged concave ring buffers
    through the strip union EXACTLY (no hull fallback) in well under a
    second: its ~15k strip edges go through the overlay kernel's culled
    blocks instead of dense (edges x edges) grids."""
    import time
    rng = np.random.default_rng(9)
    n = 400
    th = 2 * np.pi * np.arange(n) / n + rng.uniform(0, 0.7 * 2 * np.pi / n, n)
    r = 20.0 + rng.uniform(-6, 6, n)
    xs, ys = r * np.cos(th), r * np.sin(th)
    t0 = time.time()
    ox, oy, off, approx = buffer_polygon(xs, ys, [0, n], 1.0)
    assert not approx
    assert time.time() - t0 < 15.0  # generous CI bound; ~0.6 s measured
    sag = 1.0 - np.cos(ARC_STEP / 2.0)
    for _ in range(60):
        px, py = rng.uniform(-30, 30), rng.uniform(-30, 30)
        inp = points_in_polygon(np.array([px]), np.array([py]),
                                xs, ys, [0, n])[0]
        d = 0.0 if inp else _dist_to_segments(px, py, xs, ys)
        got = points_in_polygon(np.array([px]), np.array([py]),
                                ox, oy, off)[0]
        if d < 1.0 - sag - 1e-9:
            assert got, (px, py, d)
        elif d > 1.0 + 1e-9:
            assert not got, (px, py, d)


def _erosion_probe_battery(xs, ys, offs, d, lo, hi, n=500, seed=5):
    """Negative-buffer (erosion) brute force: kept points are those of
    P deeper than d from its boundary; inscribed strip arcs can only
    over-keep by the sagitta."""
    ox, oy, off, approx = buffer_polygon(xs, ys, offs, -d)
    assert not approx
    sag = d * (1.0 - np.cos(ARC_STEP / 2.0))
    rng = np.random.default_rng(seed)
    for _ in range(n):
        px, py = rng.uniform(lo, hi), rng.uniform(lo, hi)
        inp = points_in_polygon(np.array([px]), np.array([py]),
                                xs, ys, offs)[0]
        dist = min(_dist_to_segments(px, py, xs[offs[k]:offs[k + 1]],
                                     ys[offs[k]:offs[k + 1]])
                   for k in range(len(offs) - 1))
        got = len(ox) > 0 and points_in_polygon(
            np.array([px]), np.array([py]), ox, oy, off)[0]
        if inp and dist > d + 1e-9:
            assert got, (px, py, dist)
        if (not inp) or dist < d - sag - 1e-9:
            assert not got, (px, py, dist)
    return ox, oy, off


def test_negative_buffer_erosion():
    """d < 0 is EROSION (NTS geom.Buffer(negative) parity): shells
    shrink, holes GROW, thin necks sever, small shapes vanish."""
    sq = (np.array([0.0, 10, 10, 0]), np.array([0.0, 0, 10, 10]))
    ox, oy, off = _erosion_probe_battery(sq[0], sq[1], [0, 4], 2.0,
                                         -2.0, 12.0)
    assert len(off) - 1 == 1
    # fully eroded -> EMPTY (zero rings)
    ox2, oy2, off2, approx2 = buffer_polygon(sq[0], sq[1], [0, 4], -6.0)
    assert len(off2) - 1 == 0 and not approx2
    # concave L
    L = (np.array([0.0, 10, 10, 6, 6, 0]), np.array([0.0, 0, 4, 4, 10, 10]))
    _erosion_probe_battery(L[0], L[1], [0, 6], 1.0, -2.0, 12.0)
    # holed square: shell shrinks AND the hole grows -> 2 rings
    xs = np.concatenate([sq[0], np.array([4.0, 6, 6, 4])])
    ys = np.concatenate([sq[1], np.array([4.0, 4, 6, 6])])
    _, _, offh = _erosion_probe_battery(xs, ys, [0, 4, 8], 1.0, -2.0, 12.0)
    assert len(offh) - 1 == 2
    # dumbbell: 1.2-halfwidth neck severs at d=1 -> two components
    xs3 = np.array([0.0, 8, 8, 12, 12, 20, 20, 12, 12, 8, 8, 0])
    ys3 = np.array([0.0, 0, 4.4, 4.4, 0, 0, 10, 10, 5.6, 5.6, 10, 10])
    _, _, offd = _erosion_probe_battery(xs3, ys3, [0, 12], 1.0, -2.0, 22.0)
    assert len(offd) - 1 == 2


def test_st_buffer_negative_distances(spark):
    """UDF surface for d < 0: polygon erosion (exact bbox from the
    output ring), fully-eroded -> EMPTY kind 0, and reference
    InvalidShapeException parity as error rows for point/circle
    negative radius and rect y-collapse."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    rows = [("POLYGON((0 0, 10 0, 10 4, 6 4, 6 10, 0 10, 0 0))", -1.0),
            ("POLYGON((0 0, 10 0, 10 4, 6 4, 6 10, 0 10, 0 0))", -6.0),
            ("POINT(10 20)", -1.0),
            ("BUFFER(POINT(10 20), 3)", -5.0),
            ("ENVELOPE(0, 10, 4, 0)", -3.0)]
    df = spark.createDataFrame(rows, "wkt string, d double")
    s = SF.st_from_wkt(F.col("wkt"))
    df = df.select("d", s.alias("s"))
    b = SF.st_buffer(F.col("s"), F.col("d"))
    got = df.withColumn("b", b).select("b").collect()
    poly, gone, pt_neg, ci_neg, rc_neg = [r["b"] for r in got]
    assert poly["kind"] == 7 and poly["error"] is None
    assert (poly["minx"], poly["maxx"], poly["miny"], poly["maxy"]) == \
        pytest.approx((1.0, 9.0, 1.0, 9.0), abs=1e-12)
    assert gone["kind"] == 0 and gone["error"] is None  # fully eroded
    assert pt_neg["error"] and "negative circle radius" in pt_neg["error"]
    assert ci_neg["error"] and "negative circle radius" in ci_neg["error"]
    assert rc_neg["error"] and "maxY" in rc_neg["error"]


def test_st_buffer_rect_x_collapse_is_error_row(spark):
    """A plain rect shrunk past its width (minx=10, maxx=11, d=-2) is
    an error row like the y-collapse, not a near-world dateline rect;
    a shrink that keeps some width, and a dateline-crossing rect's
    legal shrink, still buffer."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    rows = [("ENVELOPE(10, 11, 20, -20)", -2.0),
            ("ENVELOPE(10, 20, 20, -20)", -2.0),
            ("ENVELOPE(170, -170, 20, -20)", -2.0)]
    df = spark.createDataFrame(rows, "wkt string, d double")
    got = [r["b"] for r in df.select(SF.st_buffer(
        SF.st_from_wkt(F.col("wkt")), F.col("d")).alias("b")).collect()]
    gone, kept, crossing = got
    assert gone["kind"] == 0 and "width collapsed" in gone["error"]
    assert kept["kind"] == 2 and kept["error"] is None
    assert 10.0 < kept["minx"] < kept["maxx"] < 20.0
    assert crossing["kind"] == 2 and crossing["error"] is None
    assert crossing["minx"] > crossing["maxx"]  # still crosses, narrower
