"""Polygon<->polygon relate: randomized harness + Fiji/Russia corpus.

Ports the spirit of RectIntersectionTestHelper.TestRelateWithRectangle
(Spatial4n.Tests/shape/RectIntersectionTestHelper.cs:46-170) to
polygon x rect / polygon x polygon — every verdict class must occur
>= MIN_PER_CLASS times and each verdict is verified by point sampling;
plus the corpus tests of NtsGeometryTest.cs:227-271 (fiji.wkt.txt /
russia.wkt.txt, public test resources copied verbatim).
"""
import numpy as np
import pytest

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.pip import (points_in_polygon,
                                         relate_polygon_polygon)
from spatial4n_spark.kernels.relation import (CONTAINS, DISJOINT, INTERSECTS,
                                              WITHIN, transpose)
from spatial4n_spark.shapes import encode

MIN_PER_CLASS = 20
N_SAMPLE = 40


def _star_polygon(rng, cx, cy, r_mean, n_verts=8):
    """Random simple (possibly concave) polygon: radii jittered around
    r_mean at sorted angles."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n_verts))
    # keep angles distinct
    ang = ang + np.arange(n_verts) * 1e-6
    rad = rng.uniform(0.35, 1.0, n_verts) * r_mean
    return cx + rad * np.cos(ang), cy + rad * np.sin(ang)


def _rect_as_polygon(minx, maxx, miny, maxy):
    return (np.array([minx, maxx, maxx, minx]),
            np.array([miny, miny, maxy, maxy]))


def _sample_in_polygon(rng, xs, ys, k):
    """Rejection-sample k interior points of a simple polygon."""
    minx, maxx, miny, maxy = xs.min(), xs.max(), ys.min(), ys.max()
    out_x, out_y = [], []
    while len(out_x) < k:
        px = rng.uniform(minx, maxx, 4 * k)
        py = rng.uniform(miny, maxy, 4 * k)
        m = points_in_polygon(px, py, xs, ys, None)
        out_x.extend(px[m].tolist())
        out_y.extend(py[m].tolist())
    return np.array(out_x[:k]), np.array(out_y[:k])


def test_polygon_rect_randomized_with_point_sampling():
    rng = np.random.default_rng(1234)
    counts = {CONTAINS: 0, WITHIN: 0, DISJOINT: 0, INTERSECTS: 0}
    bbox_disjoint_hits = 0
    cases = []
    i = 0
    while min(counts.values()) < MIN_PER_CLASS or bbox_disjoint_hits < MIN_PER_CLASS:
        i += 1
        assert i < 3000, (counts, bbox_disjoint_hits)
        cx, cy = rng.uniform(-60, 60), rng.uniform(-50, 50)
        xs, ys = _star_polygon(rng, cx, cy, rng.uniform(3, 15))
        mode = i % 4
        if mode == 0:      # small rect near centroid -> often CONTAINS
            w, h = rng.uniform(0.2, 1.5), rng.uniform(0.2, 1.5)
            rminx, rminy = cx - w / 2, cy - h / 2
        elif mode == 1:    # huge rect -> often WITHIN
            w, h = rng.uniform(40, 80), rng.uniform(40, 80)
            rminx, rminy = cx - w / 2, cy - h / 2
        elif mode == 2:    # distant rect -> DISJOINT
            w, h = rng.uniform(1, 10), rng.uniform(1, 10)
            rminx = cx + rng.choice([-1, 1]) * rng.uniform(25, 60)
            rminy = cy + rng.choice([-1, 1]) * rng.uniform(25, 39)
        else:              # offset overlap -> INTERSECTS
            w, h = rng.uniform(5, 20), rng.uniform(5, 20)
            rminx = cx + rng.uniform(-10, 10) - w / 2
            rminy = cy + rng.uniform(-10, 10) - h / 2
        rmaxx, rmaxy = rminx + w, rminy + h
        rminy, rmaxy = max(rminy, -89.9), min(rmaxy, 89.9)
        if rminy >= rmaxy:
            continue

        qx, qy = _rect_as_polygon(rminx, rmaxx, rminy, rmaxy)
        v = relate_polygon_polygon(xs, ys, None, qx, qy, None)
        counts[v] = counts.get(v, 0) + 1
        cases.append((xs, ys, (rminx, rmaxx, rminy, rmaxy), v))
        bbox_dis = (xs.min() > rmaxx or xs.max() < rminx
                    or ys.min() > rmaxy or ys.max() < rminy)
        if bbox_dis:
            bbox_disjoint_hits += 1
            assert v == DISJOINT

        # point-sampling verification
        rpx = rng.uniform(rminx, rmaxx, N_SAMPLE)
        rpy = rng.uniform(rminy, rmaxy, N_SAMPLE)
        in_poly = points_in_polygon(rpx, rpy, xs, ys, None)
        if v == CONTAINS:
            assert in_poly.all(), i
        elif v == DISJOINT:
            assert not in_poly.any(), i
        elif v == WITHIN:
            inside_rect = ((xs >= rminx) & (xs <= rmaxx)
                           & (ys >= rminy) & (ys <= rmaxy))
            assert inside_rect.all(), i
    assert min(counts.values()) >= MIN_PER_CLASS, counts
    assert bbox_disjoint_hits >= MIN_PER_CLASS

    # the rect UDF relates the whole batch in one pass, each row as the
    # per-pair kernel does with the rect ring
    polys = encode(len(cases), kind=np.full(len(cases), 7, np.int8),
                   xs=[np.r_[x, x[:1]] for x, _, _, _ in cases],
                   ys=[np.r_[y, y[:1]] for _, y, _, _ in cases],
                   ring_offsets=[[0, len(x) + 1] for x, _, _, _ in cases])
    rects = encode(len(cases), kind=np.full(len(cases), 2, np.int8),
                   **{f: np.array([b[k] for _, _, b, _ in cases])
                      for k, f in enumerate(("minx", "maxx", "miny", "maxy"))})
    got = SF.st_relate_polygon_rect.func(polys, rects).to_pylist()
    assert got == [v for _, _, _, v in cases]


def test_polygon_polygon_randomized_with_point_sampling():
    rng = np.random.default_rng(99)
    counts = {CONTAINS: 0, WITHIN: 0, DISJOINT: 0, INTERSECTS: 0}
    i = 0
    while min(counts.values()) < MIN_PER_CLASS:
        i += 1
        assert i < 3000, counts
        cx, cy = rng.uniform(-60, 60), rng.uniform(-50, 50)
        axs, ays = _star_polygon(rng, cx, cy, rng.uniform(5, 15))
        mode = i % 4
        if mode == 0:
            bxs, bys = _star_polygon(rng, cx, cy, rng.uniform(0.3, 1.2))
        elif mode == 1:
            bxs, bys = _star_polygon(rng, cx, cy, rng.uniform(30, 60))
        elif mode == 2:
            bxs, bys = _star_polygon(rng, cx + rng.choice([-1, 1]) * 50,
                                     np.clip(cy + rng.choice([-1, 1]) * 30,
                                             -70, 70), rng.uniform(2, 10))
        else:
            bxs, bys = _star_polygon(rng, cx + rng.uniform(-8, 8),
                                     cy + rng.uniform(-8, 8),
                                     rng.uniform(5, 15))
        v = relate_polygon_polygon(axs, ays, None, bxs, bys, None)
        vt = relate_polygon_polygon(bxs, bys, None, axs, ays, None)
        assert int(transpose(np.int8(v))) == vt, (i, v, vt)
        counts[v] = counts.get(v, 0) + 1

        spx, spy = _sample_in_polygon(rng, bxs, bys, N_SAMPLE)
        in_a = points_in_polygon(spx, spy, axs, ays, None)
        if v == CONTAINS:
            assert in_a.all(), i
        elif v == DISJOINT:
            assert not in_a.any(), i
        elif v == WITHIN:
            apx, apy = _sample_in_polygon(rng, axs, ays, N_SAMPLE)
            assert points_in_polygon(apx, apy, bxs, bys, None).all(), i
    assert min(counts.values()) >= MIN_PER_CLASS, counts


def test_polygon_polygon_translate_invariance():
    """Relation is invariant under a common translation (the kernel-level
    analog of the dateline-shift replay, NtsGeometryTest.cs:204-224)."""
    rng = np.random.default_rng(7)
    for i in range(120):
        cx, cy = rng.uniform(-40, 40), rng.uniform(-30, 30)
        axs, ays = _star_polygon(rng, cx, cy, rng.uniform(5, 12))
        bxs, bys = _star_polygon(rng, cx + rng.uniform(-8, 8),
                                 cy + rng.uniform(-8, 8), rng.uniform(2, 12))
        v0 = relate_polygon_polygon(axs, ays, None, bxs, bys, None)
        dx, dy = rng.uniform(-30, 30), rng.uniform(-20, 20)
        v1 = relate_polygon_polygon(axs + dx, ays + dy, None,
                                    bxs + dx, bys + dy, None)
        assert v0 == v1, i


def test_polygon_with_hole_vs_polygon():
    outer_x = np.array([0.0, 20, 20, 0])
    outer_y = np.array([0.0, 0, 20, 20])
    hole_x = np.array([6.0, 14, 14, 6])
    hole_y = np.array([6.0, 6, 14, 14])
    xs = np.concatenate([outer_x, hole_x])
    ys = np.concatenate([outer_y, hole_y])
    ro = [0, 4, 8]
    # B inside the hole -> DISJOINT
    bx, by = _rect_as_polygon(8, 12, 8, 12)
    assert relate_polygon_polygon(xs, ys, ro, bx, by, None) == DISJOINT
    # B spanning hole and solid ring -> INTERSECTS
    bx, by = _rect_as_polygon(2, 12, 8, 12)
    assert relate_polygon_polygon(xs, ys, ro, bx, by, None) == INTERSECTS
    # B = whole outer -> WITHIN (A covered by B)
    bx, by = _rect_as_polygon(0, 20, 0, 20)
    assert relate_polygon_polygon(xs, ys, ro, bx, by, None) == WITHIN
    # B inside solid ring -> CONTAINS
    bx, by = _rect_as_polygon(1, 4, 1, 4)
    assert relate_polygon_polygon(xs, ys, ro, bx, by, None) == CONTAINS


def test_zero_area_rings_decided_by_contact():
    """A zero-area ring (out along a line and back, accepted by the WKT
    parser) has no area-bearing side: it is the set of its segments."""
    zx, zy = np.array([-1.0, -1, -1]), np.array([0.0, -3, -6])
    sub_x, sub_y = np.array([-1.0, -1, -1]), np.array([-1.0, -2, -3])
    assert relate_polygon_polygon(zx, zy, None, zx, zy, None) == CONTAINS
    assert relate_polygon_polygon(zx, zy, None, sub_x, sub_y, None) == CONTAINS
    assert relate_polygon_polygon(sub_x, sub_y, None, zx, zy, None) == WITHIN
    tx, ty = np.array([-3.0, 1, -1]), np.array([-8.0, -8, 2])  # around z
    assert relate_polygon_polygon(zx, zy, None, tx, ty, None) == WITHIN
    assert relate_polygon_polygon(tx, ty, None, zx, zy, None) == CONTAINS
    bx, by = _rect_as_polygon(-2, 0, -2, -1)               # z crosses it
    assert relate_polygon_polygon(zx, zy, None, bx, by, None) == INTERSECTS
    bx, by = _rect_as_polygon(-1, 2, 0, 1)                 # z ends on it
    assert relate_polygon_polygon(zx, zy, None, bx, by, None) == INTERSECTS
    bx, by = _rect_as_polygon(0, 2, -4, -2)                # apart
    assert relate_polygon_polygon(zx, zy, None, bx, by, None) == DISJOINT
    # z inside B's interior, touching no edge, plus a square far off:
    # no node is shared and no area side is in both, yet z meets B
    fx, fy = _rect_as_polygon(10, 11, 10, 11)
    ax, ay = np.concatenate((zx, fx)), np.concatenate((zy, fy))
    aro = np.array([0, 3, 3 + len(fx)])
    bx, by = _rect_as_polygon(-2, 0, -7, 1)
    assert relate_polygon_polygon(ax, ay, aro, bx, by, None) == INTERSECTS
    assert relate_polygon_polygon(bx, by, None, ax, ay, aro) == INTERSECTS


def test_contact_within_snap_tolerance():
    """Contacts closer than the noder's snap tolerance (1e-9 of the
    pair's extent) are contacts; farther gaps are not."""
    ax, ay = _rect_as_polygon(0, 1, 0, 1)
    for gap, want in ((1e-12, INTERSECTS), (1e-6, DISJOINT)):
        # an L around A's top-right corner, `gap` away from two of its
        # edges (the bboxes overlap, so the bbox gate does not decide)
        g = 1.0 + gap
        bx = np.array([g, 3, 3, 0.5, 0.5, g])
        by = np.array([0.5, 0.5, 3, 3, g, g])
        assert relate_polygon_polygon(ax, ay, None, bx, by, None) == want
        assert relate_polygon_polygon(bx, by, None, ax, ay, None) == want


def test_many_ring_operand_with_apart_boundaries():
    """1,600 island rings against a square, a frame and a small square
    whose bboxes overlap A's but whose boundaries run in the gaps: the
    (edges x edges) and (pieces x pieces) grids exceed one dense block,
    so the noder and the ray cast run blocked."""
    xs, ys, ro = [], [], [0]
    for i in range(40):
        for j in range(40):
            xs += [i, i + 0.4, i + 0.4, i]
            ys += [j, j, j + 0.4, j + 0.4]
            ro.append(len(xs))
    ax, ay, aro = np.array(xs, float), np.array(ys, float), np.array(ro)

    def square(a, b):
        return [a, b, b, a], [a, a, b, b]

    ox, oy = square(0.7, 38.7)   # holds islands 1..38 x 1..38
    hx, hy = square(0.8, 38.6)   # hole: the frame between holds none
    sx, sy = square(20.1, 20.3)  # inside island (20, 20)
    cases = [(ox, oy, None, INTERSECTS),
             (ox + hx[::-1], oy + hy[::-1], np.array([0, 4, 8]), DISJOINT),
             (sx, sy, None, CONTAINS)]
    for bx, by, bro, want in cases:
        bx, by = np.array(bx, float), np.array(by, float)
        assert relate_polygon_polygon(ax, ay, aro, bx, by, bro) == want
        assert relate_polygon_polygon(bx, by, bro, ax, ay, aro) == \
            transpose(want)


# --------------------------------------------------------------------------
# Fiji / Russia corpus (NtsGeometryTest.cs:227-271)
# --------------------------------------------------------------------------

def _read_corpus(name):
    import os
    path = os.path.join(os.path.dirname(__file__), "resources", name)
    return open(path).read().strip()


def test_fiji_kernel_contains_and_smart_bbox():
    from spatial4n_spark.kernels import wkt as W
    cols = W.parse_wkt_columns([_read_corpus("fiji.wkt.txt")])
    assert cols["error"][0] is None
    r = {f: v[0] for f, v in cols.items()}
    width = r["maxx"] - r["minx"]
    if width < 0:
        width += 360.0
    assert width < 5.0, width  # smart bbox despite dateline crossing
    xs, ys = np.asarray(r["xs"]), np.asarray(r["ys"])
    ro = r["ring_offsets"]
    from spatial4n_spark.kernels.pip import relate_polygon_points
    rel = relate_polygon_points(np.array([-179.99, 179.99]),
                                np.array([-16.9, -16.9]), xs, ys, ro)
    assert (rel == CONTAINS).all(), rel


def test_russia_parses_with_dateline_normalization():
    from spatial4n_spark.kernels import wkt as W
    cols = W.parse_wkt_columns([_read_corpus("russia.wkt.txt")])
    assert cols["error"][0] is None
    r = {f: v[0] for f, v in cols.items()}
    assert r["kind"] == 8  # MULTIPOLYGON
    assert len(r["ring_offsets"]) > 100  # many parts survive the page cut
    # dateline-crossing bbox (minx > maxx in wrapped form)
    assert r["minx"] > 0 and r["maxx"] < 0


def test_fiji_distributed_path(spark):
    """Fiji through st_from_wkt + the polygon PIP join refine — the
    distributed (Arrow/pandas-UDF) path, not just the local kernel."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    fiji = _read_corpus("fiji.wkt.txt")
    df = spark.createDataFrame([(fiji,)], ["wkt"])
    parsed = df.withColumn("shape", SF.st_from_wkt(F.col("wkt")))
    row = parsed.select("shape.minx", "shape.maxx", "shape.kind",
                        "shape.error").first()
    assert row["error"] is None and row["kind"] == 8
    width = row["maxx"] - row["minx"]
    if width < 0:
        width += 360.0
    assert width < 5.0
    pts = spark.createDataFrame(
        [(1, -179.99, -16.9), (2, 179.99, -16.9), (3, 0.0, 0.0)],
        ["pid", "x", "y"])
    j = pts.crossJoin(parsed.select("shape"))
    s = F.col("shape")
    hit = j.where(SF.st_relate_shape_point(s, F.col("x"), F.col("y"))
                  == CONTAINS).select("pid")
    got = sorted(r[0] for r in hit.collect())
    assert got == [1, 2], got


def test_batch_group_key_no_collision(spark):
    """Regression: the per-shape batching inside st_relate_shape_point
    must key on the FULL geometry, not a (len, x0, x-1, y0) heuristic.
    Two 2-vertex segments from one hub — (0,0)->(10,0) and (0,0)->(10,10)
    — share every heuristic field; so do two closed 5-vertex rings with
    the same first edge. Under the old key the second shape's points were
    related against the FIRST shape's geometry."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF

    wkts = [
        (1, "LINESTRING (0 0, 10 0)", 10.0, 10.0),    # off line 1
        (2, "LINESTRING (0 0, 10 10)", 10.0, 10.0),   # ON line 2
        (3, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", 5.0, 8.0),  # in 3
        (4, "POLYGON ((0 0, 10 0, 10 5, 0 5, 0 0))", 5.0, 8.0),    # out 4
    ]
    df = spark.createDataFrame(wkts, ["sid", "wkt", "px", "py"]) \
        .repartition(1)  # one Arrow batch => all rows share one UDF call
    rel = SF.st_relate_shape_point(
        SF.st_from_wkt(F.col("wkt")), F.col("px"), F.col("py"))
    got = {r["sid"]: r["rel"]
           for r in df.select("sid", rel.alias("rel")).collect()}
    assert got[1] == DISJOINT, got
    assert got[2] == CONTAINS, got
    assert got[3] == CONTAINS, got
    assert got[4] == DISJOINT, got
