"""operators/dissolve: per-group geometry union vs area/PIP oracles."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.overlay import polygon_area_evenodd
from spatial4n_spark.kernels.pip import points_in_polygon
from spatial4n_spark.operators.dissolve import dissolve


def _df(spark, rows):
    df = spark.createDataFrame(rows, "owner string, wkt string")
    return (df.withColumn("shape", SF.st_from_wkt(F.col("wkt")))
              .select("owner", "shape"))


def _sq(x0, y0, w):
    return (f"POLYGON(({x0} {y0}, {x0+w} {y0}, {x0+w} {y0+w},"
            f" {x0} {y0+w}, {x0} {y0}))")


def test_dissolve_union_and_groups(spark):
    rows = [
        ("a", _sq(0, 0, 2)), ("a", _sq(1, 1, 2)),     # cross: union area 7
        ("b", _sq(10, 10, 4)), ("b", _sq(11, 11, 1)),  # contained: area 16
        ("c", _sq(20, 0, 1)), ("c", _sq(25, 0, 2)),    # disjoint: area 5
        ("d", _sq(30, 0, 3)),                          # single member
    ]
    out = {r["owner"]: r for r in dissolve(_df(spark, rows),
                                           ["owner"]).collect()}
    assert set(out) == {"a", "b", "c", "d"}
    expected_area = {"a": 7.0, "b": 16.0, "c": 5.0, "d": 9.0}
    for k, r in out.items():
        assert r["error"] is None and r["exact"] is True
        s = r["shape"]
        got = polygon_area_evenodd(np.asarray(s["xs"]), np.asarray(s["ys"]),
                                   s["ring_offsets"])
        assert got == pytest.approx(expected_area[k], abs=1e-9), k
    # disjoint group keeps two shells
    assert len(out["c"]["shape"]["ring_offsets"]) == 3
    assert out["a"]["n_members"] == 2 and out["d"]["n_members"] == 1


def test_dissolve_pip_equivalence(spark):
    """PIP(dissolved) == OR over members, Monte-Carlo (away from
    boundaries)."""
    rng = np.random.default_rng(5)
    rows = [("z", _sq(0, 0, 4)), ("z", _sq(3, 1, 4)), ("z", _sq(2, 3, 3)),
            ("z", _sq(9, 9, 2))]
    out = dissolve(_df(spark, rows), ["owner"]).collect()[0]
    s = out["shape"]
    assert out["exact"] and out["error"] is None
    px = rng.uniform(-1, 12, 4000)
    py = rng.uniform(-1, 12, 4000)
    got = points_in_polygon(px, py, np.asarray(s["xs"]),
                            np.asarray(s["ys"]), s["ring_offsets"])
    # members are axis-parallel squares (parser demotes them to rects):
    # brute-force OR via bbox containment, excluding boundary-adjacent
    # sample points (shared edges stay even-odd in touch merges)
    exp = np.zeros(len(px), dtype=bool)
    near = np.zeros(len(px), dtype=bool)
    from spatial4n_spark.kernels.wkt import parse_wkt_batch
    recs, errs = parse_wkt_batch([w for _, w in rows])
    for rec in recs:
        assert rec["kind"] == 2
        exp |= ((px >= rec["minx"]) & (px <= rec["maxx"])
                & (py >= rec["miny"]) & (py <= rec["maxy"]))
        for v in (rec["minx"], rec["maxx"]):
            near |= np.abs(px - v) < 1e-6
        for v in (rec["miny"], rec["maxy"]):
            near |= np.abs(py - v) < 1e-6
    ok = ~near
    assert (got[ok] == exp[ok]).all()


def test_dissolve_duplicates_and_rects(spark):
    rows = [("r", "ENVELOPE(0, 10, 5, 0)"), ("r", "ENVELOPE(0, 10, 5, 0)")]
    out = dissolve(_df(spark, rows), ["owner"]).collect()[0]
    s = out["shape"]
    assert out["exact"]
    got = polygon_area_evenodd(np.asarray(s["xs"]), np.asarray(s["ys"]),
                               s["ring_offsets"])
    assert got == pytest.approx(50.0)


def test_dissolve_degenerate_contact_now_exact(spark):
    # squares overlapping WITH collinear shared edge segments: the
    # noded overlay union settles them EXACTLY (adjacent-parcel
    # dissolve) - no error, no hull, no approx flag
    rows = [("g", _sq(0, 0, 2)),
            ("g", "POLYGON((1 0, 3 0, 3 2, 1 2, 1 0))")]  # shares edge seg
    out = dissolve(_df(spark, rows), ["owner"]).collect()[0]
    assert out["error"] is None and out["exact"] is True
    s = out["shape"]
    got = polygon_area_evenodd(np.asarray(s["xs"]), np.asarray(s["ys"]),
                               s["ring_offsets"])
    assert got == pytest.approx(6.0)  # exact union = [0,3]x[0,2]
    assert len(s["ring_offsets"]) - 1 == 1


def test_dissolve_pure_edge_adjacency_exact(spark):
    # THE dissolve use case: interior-disjoint parcels sharing a full
    # edge merge into one clean ring with the shared edge dissolved
    rows = [("g", _sq(0, 0, 2)),
            ("g", "POLYGON((2 0, 4 0, 4 2, 2 2, 2 0))")]
    out = dissolve(_df(spark, rows), ["owner"]).collect()[0]
    assert out["error"] is None and out["exact"] is True
    s = out["shape"]
    got = polygon_area_evenodd(np.asarray(s["xs"]), np.asarray(s["ys"]),
                               s["ring_offsets"])
    assert got == pytest.approx(8.0)
    # the shared seam is dissolved away into one canonical ring
    assert len(s["ring_offsets"]) - 1 == 1


def test_dissolve_unsupported_kind(spark):
    rows = [("p", "POINT(1 2)")]
    out = dissolve(_df(spark, rows), ["owner"]).collect()[0]
    assert out["error"] is not None and "kind" in out["error"]


def test_two_level_equals_single_level(spark):
    """dissolve_two_level == dissolve on a multi-key layer whose groups
    span many coarse cells (exactness via union associativity)."""
    from spatial4n_spark.operators.dissolve import dissolve_two_level
    rng = np.random.default_rng(9)
    rows = []
    for i in range(60):
        owner = f"o{i % 5}"
        x0 = float(rng.uniform(-160, 150))
        y0 = float(rng.uniform(-70, 60))
        w = float(rng.uniform(1, 10))
        rows.append((owner, _sq(round(x0, 3), round(y0, 3), round(w, 3))))
    df = _df(spark, rows)
    one = {r["owner"]: r for r in dissolve(df, ["owner"]).collect()}
    two = {r["owner"]: r for r in
           dissolve_two_level(df, ["owner"], precision=2).collect()}
    assert set(one) == set(two)
    for k in one:
        assert one[k]["error"] is None and two[k]["error"] is None
        a1 = polygon_area_evenodd(np.asarray(one[k]["shape"]["xs"]),
                                  np.asarray(one[k]["shape"]["ys"]),
                                  one[k]["shape"]["ring_offsets"])
        a2 = polygon_area_evenodd(np.asarray(two[k]["shape"]["xs"]),
                                  np.asarray(two[k]["shape"]["ys"]),
                                  two[k]["shape"]["ring_offsets"])
        assert a1 == pytest.approx(a2, abs=1e-9), k


def test_two_level_degenerate_keys_now_exact(spark):
    """r5: collinear-contact members dissolve EXACTLY through the
    two-level path too (the overlay union inside stage-1 partials)."""
    from spatial4n_spark.operators.dissolve import dissolve_two_level
    rows = [("g", _sq(0, 0, 2)),
            ("g", "POLYGON((1 0, 3 0, 3 2, 1 2, 1 0))"),
            ("h", _sq(50, 0, 2))]
    out = {r["owner"]: r for r in
           dissolve_two_level(_df(spark, rows), ["owner"],
                              precision=2).collect()}
    assert out["g"]["error"] is None and out["g"]["exact"] is True
    sg = out["g"]["shape"]
    got = polygon_area_evenodd(np.asarray(sg["xs"]), np.asarray(sg["ys"]),
                               sg["ring_offsets"])
    assert got == pytest.approx(6.0)
    assert out["h"]["error"] is None and out["h"]["exact"]


def test_two_level_all_failed_cells_key_not_dropped(spark):
    """Formerly the zero-ok-partials guard test (r4: a left join
    silently dropped keys whose every stage-1 partial errored). The
    overlay union now settles that fixture EXACTLY, so this checks
    the degenerate-contact key comes through the two-level path with
    the same exact result single-level gives (the join-guard code
    remains as defense in depth for probe/stitch bailouts)."""
    from spatial4n_spark.operators.dissolve import dissolve_two_level
    rows = [("g", _sq(0.5, 0.5, 2)),
            ("g", "POLYGON((1.5 0.5, 3.5 0.5, 3.5 2.5, 1.5 2.5, 1.5 0.5))"),
            ("h", _sq(50, 0, 2))]
    out = {r["owner"]: r for r in
           dissolve_two_level(_df(spark, rows), ["owner"],
                              precision=2).collect()}
    assert set(out) == {"g", "h"}
    assert out["g"]["error"] is None and out["g"]["exact"] is True
    sg = out["g"]["shape"]
    got = polygon_area_evenodd(np.asarray(sg["xs"]), np.asarray(sg["ys"]),
                               sg["ring_offsets"])
    assert got == pytest.approx(6.0)
    assert out["h"]["error"] is None


def test_two_level_n_members_counts_original_rows(spark):
    """n_members keeps the single-level contract (input rows per key),
    not the number of cell partials."""
    from spatial4n_spark.operators.dissolve import dissolve_two_level
    rng = np.random.default_rng(3)
    rows = [("k", _sq(round(float(rng.uniform(-150, 140)), 2),
                      round(float(rng.uniform(-60, 50)), 2), 2.0))
            for _ in range(12)]
    one = dissolve(_df(spark, rows), ["owner"]).collect()[0]
    two = dissolve_two_level(_df(spark, rows), ["owner"],
                             precision=2).collect()[0]
    assert one["n_members"] == 12 and two["n_members"] == 12


def test_dissolve_parcel_grid_exact(spark):
    """THE adjacent-parcel case at small scale: a 3x3 grid of unit
    squares sharing edges dissolves into ONE exact square; the same
    grid missing its center dissolves into a square WITH A HOLE —
    both through the overlay union (every pairwise contact is
    degenerate collinear sharing)."""
    def cell(i, j):
        return (f"POLYGON(({i} {j}, {i+1} {j}, {i+1} {j+1}, "
                f"{i} {j+1}, {i} {j}))")
    full = [("full", cell(i, j)) for i in range(3) for j in range(3)]
    ring = [("ring", cell(i, j)) for i in range(3) for j in range(3)
            if not (i == 1 and j == 1)]
    out = {r["owner"]: r for r in
           dissolve(_df(spark, full + ring), ["owner"]).collect()}
    f = out["full"]
    assert f["error"] is None and f["exact"] is True
    sf = f["shape"]
    a = polygon_area_evenodd(np.asarray(sf["xs"]), np.asarray(sf["ys"]),
                             sf["ring_offsets"])
    assert a == pytest.approx(9.0)
    assert len(sf["ring_offsets"]) - 1 == 1  # one clean ring, no seams
    r = out["ring"]
    assert r["error"] is None and r["exact"] is True
    sr = r["shape"]
    a = polygon_area_evenodd(np.asarray(sr["xs"]), np.asarray(sr["ys"]),
                             sr["ring_offsets"])
    assert a == pytest.approx(8.0)
    assert len(sr["ring_offsets"]) - 1 == 2  # shell + the missing-cell hole
    from spatial4n_spark.kernels.pip import points_in_polygon
    inp = points_in_polygon(np.array([1.5, 0.5]), np.array([1.5, 0.5]),
                            np.asarray(sr["xs"]), np.asarray(sr["ys"]),
                            sr["ring_offsets"])
    assert not inp[0] and inp[1]  # center hole out, corner in


def test_dissolve_kind_is_multipolygon_on_every_path(spark, monkeypatch):
    """Every path emits kind 8: the overlay union (several members), a
    single member, and the allow_approx hull degrade of a union that
    cannot stitch."""
    rows = [("fold", _sq(0, 0, 2)), ("fold", _sq(1, 1, 2)),
            ("single", _sq(10, 10, 3))]
    out = {r["owner"]: r["shape"] for r in dissolve(_df(spark, rows),
                                                   ["owner"]).collect()}
    assert out["fold"]["kind"] == 8 and len(out["fold"]["ring_offsets"]) == 2
    assert out["single"]["kind"] == 8

    # the hull degrade for a multi-member group, driven directly
    import pyarrow as pa

    from spatial4n_spark import shapes
    from spatial4n_spark.kernels import wkt as W
    from spatial4n_spark.operators import dissolve as D
    recs = [W.parse_shape("POLYGON((0 0, 2 0, 1 2, 0 0))"),
            W.parse_shape("POLYGON((5 0, 7 0, 6 2, 5 0))")]
    table = pa.table({"owner": ["x", "x"],
                      "__s": shapes.encode_records(recs)})
    for union, approx in ((D._union_record, False),
                          (lambda members: None, True)):
        monkeypatch.setattr(D, "_union_record", union)
        res = D._dissolve_table(table, ["owner"], "shape", approx)
        s = res.column("shape").to_pylist()[0]
        assert s["kind"] == 8 and len(s["ring_offsets"]) == 3
        assert res.column("n_members").to_pylist() == [2]
        assert res.column("exact").to_pylist() == [not approx]
