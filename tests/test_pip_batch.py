"""The batched point-in-polygon kernel (`pip.points_in_polygons`): every
point against its own polygon in one pass, checked against the per-ring
edge loop it replaced, kept here as the oracle.

The inputs sit on an integer grid and the probes on a half-integer
grid, so many probes land exactly on vertices, on horizontal and
vertical edges and on ray-through-vertex cases, where a float slip
would show.
"""
import numpy as np
import pyarrow as pa
import pytest

from spatial4n_spark.kernels import relation as R
from spatial4n_spark.kernels.pip import (points_in_polygon,
                                         points_in_polygons, polygon_edges)
from spatial4n_spark.shapes import VertexLists, decode, encode


def _oracle_ring(px, py, xs, ys):
    """(crossing parity, on-boundary) of points vs one ring: one NumPy
    pass per edge."""
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    boundary = np.zeros(px.shape, dtype=bool)
    x2 = np.roll(xs, -1)
    y2 = np.roll(ys, -1)
    for i in range(len(xs)):
        ax, ay, bx, by = xs[i], ys[i], x2[i], y2[i]
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        boundary |= ((cross == 0.0)
                     & (px >= min(ax, bx)) & (px <= max(ax, bx))
                     & (py >= min(ay, by)) & (py <= max(ay, by)))
        cond = (ay > py) != (by > py)
        if ay != by:
            x_at = ax + (py - ay) * (bx - ax) / (by - ay)
            inside ^= cond & (px < x_at)
    return inside, boundary


def _oracle(px, py, xs, ys, ring_offsets):
    """Even-odd over all rings, boundary counts as inside."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if ring_offsets is None or len(ring_offsets) < 2:
        inside, boundary = _oracle_ring(px, py, xs, ys)
        return inside | boundary
    inside = np.zeros(px.shape, dtype=bool)
    boundary = np.zeros(px.shape, dtype=bool)
    for k in range(len(ring_offsets) - 1):
        s, e = ring_offsets[k], ring_offsets[k + 1]
        pin, pb = _oracle_ring(px, py, xs[s:e], ys[s:e])
        inside ^= pin
        boundary |= pb
    return inside | boundary


def _ring(rng):
    """An open integer-grid ring: an axis-aligned box (horizontal and
    vertical edges) or a random, possibly self-touching, polygon."""
    x0, y0 = rng.integers(-8, 8, 2).astype(float)
    if rng.random() < 0.5:
        w, h = rng.integers(1, 7, 2).astype(float)
        return ([x0, x0 + w, x0 + w, x0], [y0, y0, y0 + h, y0 + h])
    k = int(rng.integers(3, 9))
    pts = rng.integers(-8, 8, (k, 2)).astype(float)
    return list(pts[:, 0]), list(pts[:, 1])


def _polygon(rng):
    """(xs, ys, ring_offsets): 1-3 parts, some with a hole; each ring
    closed or open at random; a one-ring polygon may carry no
    ring_offsets at all."""
    rings = []
    for _ in range(int(rng.integers(1, 4))):
        rx, ry = _ring(rng)
        rings.append((rx, ry))
        if rng.random() < 0.4:
            hx, hy = min(rx) + 1.0, min(ry) + 1.0
            rings.append(([hx, hx + 1, hx + 1], [hy, hy, hy + 2]))
    xs, ys, ro = [], [], [0]
    for rx, ry in rings:
        if rng.random() < 0.5:
            rx, ry = rx + [rx[0]], ry + [ry[0]]
        xs += rx
        ys += ry
        ro.append(len(xs))
    if len(rings) == 1 and rng.random() < 0.5:
        ro = None
    return np.array(xs), np.array(ys), ro


def _lists(polys):
    return tuple(VertexLists.from_list([p[i] for p in polys], dtype)
                 for i, dtype in ((0, np.float64), (1, np.float64),
                                  (2, np.int64)))


@pytest.mark.parametrize("seed", range(4))
def test_batched_kernel_matches_per_ring_oracle(seed):
    rng = np.random.default_rng(seed)
    polys = [_polygon(rng) for _ in range(150)]
    polys += [polys[0]] * 30              # one polygon shared by many rows
    th = np.linspace(0.0, 2 * np.pi, 2400, endpoint=False)
    polys.append((np.round(9 * np.cos(th), 2), np.round(9 * np.sin(th), 2),
                  [0, 2400]))             # 2400 vertices beside triangles
    polys += [(np.array([0., 2, 0]), np.array([0., 0, 2]), None)] * 5
    edges = polygon_edges(*_lists(polys))
    n = 6000
    poly = rng.integers(0, len(polys), n)
    px = rng.integers(-20, 20, n) * 0.5
    py = rng.integers(-20, 20, n) * 0.5
    # every vertex of its own polygon, probed exactly
    for k in range(0, n, 7):
        xs, ys, _ = polys[poly[k]]
        v = rng.integers(len(xs))
        px[k], py[k] = xs[v], ys[v]
    got = points_in_polygons(px, py, poly, edges)
    want = np.array([_oracle(px[k:k + 1], py[k:k + 1], *polys[poly[k]])[0]
                     for k in range(n)])
    assert (got == want).all(), np.flatnonzero(got != want)[:10]
    assert 0 < want.sum() < n


@pytest.mark.parametrize("seed", range(4))
def test_one_polygon_kernel_matches_per_ring_oracle(seed):
    rng = np.random.default_rng(100 + seed)
    px = rng.integers(-20, 20, 800) * 0.5
    py = rng.integers(-20, 20, 800) * 0.5
    for _ in range(60):
        xs, ys, ro = _polygon(rng)
        want = _oracle(px, py, xs, ys, ro)
        assert (points_in_polygon(px, py, xs, ys, ro) == want).all()
        poly = np.zeros(len(px), dtype=np.int64)
        edges = polygon_edges(*_lists([(xs, ys, ro)]))
        assert (points_in_polygons(px, py, poly, edges) == want).all()


def test_row_polygons_share_repeated_polygons_exactly(monkeypatch):
    """`points_in_row_polygons` shares one edge-table entry between
    rows holding the same polygon, never between rows that differ
    (here: pairs with equal length and equal first, middle and last
    vertex), and cuts a batch into several edge tables when its rows
    hold more vertices than one table may; no cut changes an answer."""
    from spatial4n_spark.kernels import pip
    rng = np.random.default_rng(11)
    polys = [_polygon(rng) for _ in range(200)]
    polys += polys[:100]                  # the same polygons, new rows
    sq = [0., 4, 4, 2, 0], [0., 0, 4, 4, 4]
    for dx in (-1.0, 1.0, 3.0):           # differ in the 4th vertex only
        polys.append((np.array(sq[0]) + [0, 0, 0, dx, 0],
                      np.array(sq[1]), [0, 5]))
    cols = _lists(polys)
    rows = np.r_[rng.integers(0, len(polys), 400),
                 np.repeat(np.arange(len(polys) - 3, len(polys)), 40)]
    px = np.r_[rng.integers(-20, 20, 400) * 0.5,
               rng.integers(0, 10, 120) * 0.5]
    py = np.r_[rng.integers(-20, 20, 400) * 0.5,
               rng.integers(0, 10, 120) * 0.5]
    want = np.array([_oracle(px[k:k + 1], py[k:k + 1], *polys[r])[0]
                     for k, r in enumerate(rows)])
    reps, inv = pip._distinct_rows(cols, rows)
    content = [(polys[r][0].tobytes(), polys[r][1].tobytes(),
                None if polys[r][2] is None else tuple(polys[r][2]))
               for r in rows]
    first = {r: k for k, r in reversed(list(enumerate(rows.tolist())))}
    assert all(content[k] == content[first[reps[inv[k]]]]
               for k in range(len(rows)))
    assert len(set(inv[:400])) == len(set(content[:400]))
    for limit in (1 << 20, 64, 1):
        monkeypatch.setattr(pip, "_VERTICES_PER_TABLE", limit)
        got = pip.points_in_row_polygons(px, py, *cols, rows)
        assert (got == want).all(), limit


def test_null_and_degenerate_rows_cover_nothing():
    from spatial4n_spark.kernels import pip
    polys = [(None, None, None), (np.zeros(0), np.zeros(0), [0, 0]),
             (np.array([0., 4, 4, 0]), np.array([0., 0, 4, 4]), None)]
    edges = polygon_edges(*_lists(polys))
    assert list(np.diff(edges.offsets)) == [0, 0, 4]
    got = points_in_polygons([1.0, 1.0, 1.0], [1.0, 1.0, 1.0], [0, 1, 2],
                             edges)
    assert got.tolist() == [False, False, True]
    assert points_in_polygons([], [], [], edges).shape == (0,)
    assert pip.points_in_row_polygons([], [], *_lists(polys), []).shape \
        == (0,)


def _null_vertex_batch():
    # rows 0 and 2: polygon kinds with null / empty vertex arrays
    return encode(3, kind=np.array([7, 7, 8], dtype=np.int8),
                  xs=[None, [0., 2, 2, 0, 0], []],
                  ys=[None, [0., 0, 2, 2, 0], []],
                  ring_offsets=[[0, 5], None, None])


def test_null_vertex_polygon_reads_disjoint_on_struct_path():
    from spatial4n_spark.functions import st_relate_shape_point
    one = pa.array([1.0, 1.0, 1.0])
    got = st_relate_shape_point.func(_null_vertex_batch(), one, one)
    assert got.to_pylist() == [R.DISJOINT, R.CONTAINS, R.DISJOINT]


def test_null_vertex_polygon_reads_disjoint_on_closure_path():
    from spatial4n_spark.operators.refine import make_closure_refine
    s = decode(_null_vertex_batch())
    refine = make_closure_refine({i: s.record(i) for i in range(3)})
    one = pa.array([1.0] * 4)
    got = refine.func(pa.array([0, 1, 2, 9]), one, one)
    assert got.to_pylist() == [R.DISJOINT, R.CONTAINS, R.DISJOINT,
                               R.DISJOINT]


def _ring_wkt(xs, ys):
    return "(" + ", ".join(f"{float(x)!r} {float(y)!r}"
                           for x, y in zip(xs, ys)) + ")"


def test_relate_shape_point_on_distinct_polygons_from_parquet(spark,
                                                              tmp_path):
    """1200 distinct polygons, a third of them holed, each probed at
    an inside point, an outside point, a vertex, an edge point and its
    center, read back from parquet so the UDF runs in executor tasks,
    not over a local relation."""
    from pyspark.sql import functions as F

    from spatial4n_spark import functions as SF
    from spatial4n_spark.kernels import wkt as W

    rng = np.random.default_rng(7)
    rows = []
    for i in range(1200):
        # a star-shaped ring around (cx, cy); a holed one has k >= 8
        # vertices, so its edges clear the hole
        k = int(rng.integers(8 if i % 3 == 0 else 3, 37))
        th = (np.arange(k) + rng.uniform(0.1, 0.9, k)) * (2 * np.pi / k)
        r = rng.uniform(0.5, 2.0)
        cx, cy = float(i % 40) * 5, float(i // 40) * 5
        xs = np.round(cx + r * np.cos(th), 3)
        ys = np.round(cy + r * np.sin(th), 3)
        ring = _ring_wkt(np.r_[xs, xs[0]], np.r_[ys, ys[0]])
        if i % 3 == 0:
            hole = _ring_wkt([cx - .1, cx + .1, cx + .1, cx - .1, cx - .1],
                             [cy - .1, cy - .1, cy + .1, cy + .1, cy - .1])
            wkt = f"POLYGON ({ring}, {hole})"
        else:
            wkt = f"POLYGON ({ring})"
        probes = [(cx + 0.3, cy), (cx + 3.0, cy), (xs[0], ys[0]),
                  ((xs[0] + xs[1]) / 2, (ys[0] + ys[1]) / 2), (cx, cy)]
        rows += [(i, wkt, float(x), float(y)) for x, y in probes]
    path = str(tmp_path / "probes")
    spark.createDataFrame(rows, "id int, wkt string, px double, py double") \
        .write.parquet(path)
    got = (spark.read.parquet(path)
           .select("id", "px", "py", SF.st_relate_shape_point(
               SF.st_from_wkt(F.col("wkt")), F.col("px"), F.col("py"))
               .alias("rel"))
           .collect())
    assert len(got) == len(rows)
    cols = W.parse_wkt_columns([w for _, w, _, _ in rows[::5]])
    assert not any(cols["error"])
    for row in got:
        want = _oracle([row.px], [row.py], cols["xs"][row.id],
                       cols["ys"][row.id], cols["ring_offsets"][row.id])[0]
        assert row.rel == (R.CONTAINS if want else R.DISJOINT), row
    assert {row.rel for row in got} == {R.CONTAINS, R.DISJOINT}


# --- ring nesting -----------------------------------------------------------
#
# `pip.ring_nesting` against the pairwise containment probe it replaced
# (one Python call per ordered ring pair), kept here as the oracle.


def _oracle_contained_in(rx, ry, ox, oy) -> bool:
    """Ring (rx, ry) lies inside ring (ox, oy): the area gate, then the
    first probe beside one of R's 12 longest edges that lies strictly
    inside R and clears O's edges by half its offset, else R's first
    vertex."""
    roll = lambda a: np.roll(a, -1)  # noqa: E731
    a_r = abs(float(np.sum(rx * roll(ry) - roll(rx) * ry)))
    a_o = abs(float(np.sum(ox * roll(oy) - roll(ox) * oy)))
    if a_r >= a_o:
        return False
    ex, ey = roll(rx) - rx, roll(ry) - ry
    elen = np.hypot(ex, ey)
    dx, dy = roll(ox) - ox, roll(oy) - oy
    L2 = dx * dx + dy * dy
    L2s = np.where(L2 == 0.0, 1.0, L2)
    for k in np.argsort(-elen)[:min(12, len(rx))]:
        if elen[k] == 0.0:
            continue
        mx, my = rx[k] + ex[k] / 2.0, ry[k] + ey[k] / 2.0
        nx, ny = ey[k] / elen[k], -ex[k] / elen[k]
        for eps in (elen[k] * 1e-6, elen[k] * 1e-3):
            for s in (1.0, -1.0):
                qx, qy = mx + s * eps * nx, my + s * eps * ny
                par, bnd = _oracle_ring(np.array([qx]), np.array([qy]),
                                        rx, ry)
                if not par[0] or bnd[0]:
                    continue
                t = np.clip(((qx - ox) * dx + (qy - oy) * dy) / L2s,
                            0.0, 1.0)
                d2 = (qx - (ox + t * dx)) ** 2 + (qy - (oy + t * dy)) ** 2
                if float(d2.min()) <= (eps * 0.5) ** 2:
                    continue
                return bool(_oracle_ring(np.array([qx]), np.array([qy]),
                                         ox, oy)[0][0])
    return bool(_oracle_ring(rx[:1], ry[:1], ox, oy)[0][0])


def _oracle_nesting(rings):
    n = len(rings)
    inside = [[i != j and _oracle_contained_in(*rings[i], *rings[j])
               for j in range(n)] for i in range(n)]
    depth = [sum(row) for row in inside]
    parent = [next((j for j in range(n)
                    if inside[i][j] and depth[j] == depth[i] - 1), -1)
              for i in range(n)]
    return depth, parent


def _square(x0, y0, w, closed=False):
    xs, ys = [x0, x0 + w, x0 + w, x0], [y0, y0, y0 + w, y0 + w]
    if closed:
        xs, ys = xs + xs[:1], ys + ys[:1]
    return np.array(xs, dtype=float), np.array(ys, dtype=float)


def _nesting_cases():
    """Ring lists of every class the kernel must read like the oracle."""
    sq = _square
    tri = lambda pts: tuple(np.array(c, dtype=float)  # noqa: E731
                            for c in zip(*pts))
    return {
        # nested three deep, beside a sibling island and its hole
        "three_deep": [sq(0, 0, 20), sq(2, 2, 14), sq(4, 4, 10),
                       sq(6, 6, 6), sq(8, 8, 2), sq(30, 0, 5), sq(31, 1, 2)],
        # figure-eights: rings touching at one node
        "figure_eight": [sq(0, 0, 2), sq(2, 2, 2)],
        "holes_touching": [sq(0, 0, 10), sq(2, 2, 3), sq(5, 5, 3)],
        "hole_touches_shell": [sq(0, 0, 10),
                               tri([(10, 5), (5, 3), (5, 7)])],
        "hole_touches_at_second": [sq(0, 0, 10),
                                   tri([(5, 3), (10, 5), (5, 7)])],
        # seam-hugging siblings: holes and islands sharing edges
        "seam_holes": [sq(0, 0, 10), sq(2, 2, 3), sq(5, 2, 3)],
        "seam_shells": [sq(0, 0, 3), sq(3, 0, 3), sq(0, 3, 6)],
        "hole_on_shell_edge": [sq(0, 0, 10), sq(0, 2, 3)],
        "island_in_hole_seam": [sq(0, 0, 10), sq(2, 2, 6), sq(2, 2, 3)],
        # duplicate rings: as is, rotated, reversed, closed
        "duplicate": [sq(0, 0, 4), sq(0, 0, 4)],
        "duplicate_rotated": [sq(0, 0, 4), tuple(np.roll(c, 1)
                                                 for c in sq(0, 0, 4))],
        "duplicate_reversed": [sq(0, 0, 4), tuple(c[::-1]
                                                  for c in sq(0, 0, 4))],
        "closed_rings": [sq(0, 0, 10, True), sq(1, 1, 2, True),
                         sq(4, 4, 2, True)],
        "zero_area": [sq(0, 0, 10), tri([(1, 1), (3, 3), (5, 5)])],
        "one_ring": [sq(0, 0, 1)],
        "empty": [],
    }


def _multipolygon_cases():
    from spatial4n_spark.kernels.centroid import record_rings
    from spatial4n_spark.kernels.wkt import parse_shape
    texts = [
        "MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),(10 5,5 3,5 7,10 5)),"
        "((20 20,21 20,21 21,20 21,20 20)))",
        "MULTIPOLYGON(((0 0,10 0,10 10,0 10,0 0),(2 2,8 2,8 8,2 8,2 2)),"
        "((4 4,6 4,6 6,4 6,4 4)),((20 0,30 0,30 10,20 10,20 0)))",
        "MULTIPOLYGON(((0 0,4 0,4 4,0 4,0 0),(1 1,1 3,3 3,3 1,1 1)),"
        "((4 4,8 4,8 8,4 8,4 4)))",
    ]
    return [record_rings(r["xs"], r["ys"], r["ring_offsets"])
            for r in map(parse_shape, texts)]


def _overlay_outputs():
    """Boolean and union outputs of the overlay fuzz (a slice of its
    star pairs and union cases at each scale) and the dissolve groups of
    test_dissolve, as the overlay kernel hands them to the nesting."""
    from test_overlay_fuzz import _pairs, _union_cases

    from spatial4n_spark.kernels.booleans import robust_boolean, union_members
    out = []
    for scale in (1.0, 0.1, 1e-3):
        for a, b in _pairs(int(scale * 1000) + 5, scale)[:40]:
            out += [robust_boolean([a], [b], op)
                    for op in ("and", "or", "sub", "xor")]
        out += [union_members(m)
                for m in _union_cases(int(scale * 1000) + 11, scale)[:25]]
    sq = _square
    rng = np.random.default_rng(9)
    groups = [
        [sq(0, 0, 2), sq(1, 1, 2)], [sq(10, 10, 4), sq(11, 11, 1)],
        [sq(20, 0, 1), sq(25, 0, 2)],
        [sq(0, 0, 4), sq(3, 1, 4), sq(2, 3, 3), sq(9, 9, 2)],
        [sq(0, 0, 2), sq(1, 0, 2)], [sq(0, 0, 2), sq(2, 0, 2)],
        [sq(i, j, 1) for i in range(3) for j in range(3)],
        [sq(i, j, 1) for i in range(3) for j in range(3) if (i, j) != (1, 1)],
        [sq(*np.round(rng.uniform(-20, 20, 2), 3),
            round(rng.uniform(1, 10), 3)) for _ in range(12)],
    ]
    out += [union_members([[r] for r in g]) for g in groups]
    assert all(r is not None for r in out)
    return [r for r in out if len(r) > 1]


def _ring_corpus():
    return (list(_nesting_cases().values()) + _multipolygon_cases()
            + _overlay_outputs())


def test_ring_nesting_matches_pairwise_oracle():
    from spatial4n_spark.kernels.booleans import list_rings
    from spatial4n_spark.kernels.pip import ring_nesting
    corpus = _ring_corpus()
    depth, parent = ring_nesting(list_rings(corpus))
    base = 0
    deep = 0
    for rings in corpus:
        want_d, want_p = _oracle_nesting(rings)
        got_d = depth[base:base + len(rings)].tolist()
        got_p = [p - base if p >= 0 else -1
                 for p in parent[base:base + len(rings)].tolist()]
        assert (got_d, got_p) == (want_d, want_p), rings
        # each list alone reads as inside the batch
        one_d, one_p = ring_nesting(list_rings([rings]))
        assert (one_d.tolist(), one_p.tolist()) == (want_d, want_p)
        deep = max([deep] + want_d)
        base += len(rings)
    assert deep >= 4
    assert sum(len(r) > 2 for r in corpus) > 20


def test_ring_nesting_reads_named_cases():
    from spatial4n_spark.kernels.booleans import list_rings
    from spatial4n_spark.kernels.pip import ring_nesting
    cases = _nesting_cases()
    want = {"three_deep": ([0, 1, 2, 3, 4, 0, 1], [-1, 0, 1, 2, 3, -1, 5]),
            "figure_eight": ([0, 0], [-1, -1]),
            "holes_touching": ([0, 1, 1], [-1, 0, 0]),
            "hole_touches_shell": ([0, 1], [-1, 0]),
            "seam_holes": ([0, 1, 1], [-1, 0, 0]),
            "duplicate": ([0, 0], [-1, -1]),
            "one_ring": ([0], [-1])}
    for name, (d, p) in want.items():
        got = ring_nesting(list_rings([cases[name]]))
        assert (got[0].tolist(), got[1].tolist()) == (d, p), name


def _bits(a):
    return np.asarray(a, dtype=np.float64).tobytes()


def test_evenodd_measures_match_oracle_signs_bit_for_bit():
    """The own area of the overlay measure, the planar area and the
    centroid of every corpus row equal, bit for bit, the per-row
    arithmetic with the signs of the pairwise oracle."""
    from spatial4n_spark.kernels.area import polygon_area_euclid
    from spatial4n_spark.kernels.centroid import _centroid, polygon_centroids
    from spatial4n_spark.kernels.overlay import (polygon_area_evenodd,
                                                 polygon_areas_evenodd)
    roll = lambda a: np.roll(a, -1)  # noqa: E731
    corpus = [r for r in _ring_corpus() if r]
    recs = []
    for rings in corpus:
        closed = [(np.r_[x, x[:1]], np.r_[y, y[:1]]) for x, y in rings]
        for form in (rings, closed):
            xs = np.concatenate([x for x, _ in form])
            ys = np.concatenate([y for _, y in form])
            recs.append((xs, ys, np.cumsum([0] + [len(x) for x, _ in form])))
    areas = polygon_areas_evenodd(*_lists(recs))
    centroids = polygon_centroids(*zip(*recs))
    for (xs, ys, ro), area, centroid in zip(recs, areas, centroids):
        stored = [(xs[a:b], ys[a:b]) for a, b in zip(ro[:-1], ro[1:])]
        opened = [(x[:-1], y[:-1]) if x[0] == x[-1] and y[0] == y[-1]
                  else (x, y) for x, y in stored]
        # own area: open rings, stored orientation times depth sign
        total = 0.0
        for (rx, ry), d in zip(opened, _oracle_nesting(opened)[0]):
            s = np.sum(rx * roll(ry) - roll(rx) * ry)
            sgn = (1.0 if d % 2 == 0 else -1.0) * (1.0 if s >= 0.0 else -1.0)
            total += sgn * 0.5 * float(s)
        assert _bits(area) == _bits(total)
        assert _bits(polygon_area_evenodd(xs, ys, ro)) == _bits(total)
        # planar area and centroid: rings as stored, |area| times sign
        signs = np.where(np.array(_oracle_nesting(stored)[0]) % 2 == 1,
                         -1.0, 1.0)
        euclid = 0.0
        for (rx, ry), sg in zip(stored, signs):
            euclid += sg * abs(0.5 * (rx * roll(ry) - roll(rx) * ry).sum())
        assert _bits(polygon_area_euclid(xs, ys, ro)) == _bits(euclid)
        assert _bits(centroid) == _bits(_centroid(xs, ys, stored, signs))
