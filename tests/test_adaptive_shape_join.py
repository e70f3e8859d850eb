"""Two-sided adaptive shape x shape join vs brute-force kernel oracle.

Both layers mix tiny (~0.05 deg) and continent (~40 deg) shapes — the
regime where any single fixed level either explodes the big shapes'
covers (fine level) or destroys selectivity (coarse level). The
adaptive join keys each shape at its OWN level and matches pairs at
min(L_left, L_right) via the cover pyramid; correctness is set
equality with the all-pairs kernel oracle, scale-safety is the
per-shape emission bound checked below.
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.geohash import (
    LEVEL_TAG_BITS, cover_codes_bbox_batch, cover_pyramid_batch)
from spatial4n_spark.kernels.pip import relate_polygon_polygon
from spatial4n_spark.kernels.relation import CONTAINS, DISJOINT, WITHIN
from spatial4n_spark.operators.joins import shape_shape_join_adaptive


def _tri_wkt(cx, cy, s):
    p = [(cx, cy), (cx + 2.0 * s, cy + 0.3 * s), (cx + 0.9 * s, cy + 1.7 * s)]
    pts = ", ".join(f"{x} {y}" for x, y in p + [p[0]])
    return f"POLYGON(({pts}))"


@pytest.fixture(scope="module")
def layers(spark):
    rng = np.random.default_rng(7)
    # 3 of 4 tiny, 1 of 4 continent-scale, on BOTH sides
    lrows = [(i, _tri_wkt(rng.uniform(-60, 40), rng.uniform(-40, 30),
                          rng.uniform(0.01, 0.1) if i % 4
                          else rng.uniform(20, 60))) for i in range(50)]
    rrows = [(j, _tri_wkt(rng.uniform(-60, 40), rng.uniform(-40, 30),
                          rng.uniform(0.02, 0.2) if j % 5
                          else rng.uniform(15, 40))) for j in range(70)]
    left = (spark.createDataFrame(lrows, ["lid", "lwkt"])
            .withColumn("lshape", SF.st_from_wkt(F.col("lwkt"))))
    right = (spark.createDataFrame(rrows, ["rid", "rwkt"])
             .withColumn("rshape", SF.st_from_wkt(F.col("rwkt"))))
    return left, right, lrows, rrows


def _local_pairs(lrows, rrows, keep):
    from spatial4n_spark.kernels.wkt import parse_shape
    lrecs = [parse_shape(w) for _, w in lrows]
    rrecs = [parse_shape(w) for _, w in rrows]
    out = set()
    for (lid, _), lr in zip(lrows, lrecs):
        for (rid, _), rr in zip(rrows, rrecs):
            rel = relate_polygon_polygon(
                np.asarray(lr["xs"]), np.asarray(lr["ys"]), lr["ring_offsets"],
                np.asarray(rr["xs"]), np.asarray(rr["ys"]), rr["ring_offsets"])
            if keep(rel):
                out.add((lid, rid))
    return out


@pytest.mark.parametrize("predicate,keep", [
    ("intersects", lambda r: r != DISJOINT),
    ("contains", lambda r: r == CONTAINS),
    ("within", lambda r: r == WITHIN),
])
def test_adaptive_matches_bruteforce(spark, layers, predicate, keep):
    left, right, lrows, rrows = layers
    got = {(r.lid, r.rid) for r in
           shape_shape_join_adaptive(left, right, min_level=1, max_level=7,
                                     predicate=predicate)
           .select("lid", "rid").collect()}
    want = _local_pairs(lrows, rrows, keep)
    assert got == want, (len(got), len(want),
                         sorted(got - want)[:5], sorted(want - got)[:5])


def test_adaptive_salted_and_shuffle_paths_agree(spark, layers):
    left, right, _, _ = layers
    base = {(r.lid, r.rid, r.relation) for r in
            shape_shape_join_adaptive(left, right, min_level=1, max_level=7,
                                      predicate="all").collect()}
    salted = {(r.lid, r.rid, r.relation) for r in
              shape_shape_join_adaptive(left, right, min_level=1, max_level=7,
                                        predicate="all",
                                        broadcast_right=False,
                                        salt=4).collect()}
    shuffle = {(r.lid, r.rid, r.relation) for r in
               shape_shape_join_adaptive(left, right, min_level=1, max_level=7,
                                         predicate="all",
                                         broadcast_right=False).collect()}
    assert salted == base
    assert shuffle == base
    # reference-cell dedup: pairs unique without any distinct operator
    assert len(base) == len({(lid, rid) for lid, rid, _ in base})


def test_pyramid_emission_bounded_and_exact():
    """Per-shape emission is cells_budget + 4x(own-min) regardless of
    shape size, and each pyramid level IS the exact cover there."""
    rng = np.random.default_rng(3)
    n = 200
    cx = rng.uniform(-170, 150, n)
    cy = rng.uniform(-80, 60, n)
    w = np.where(rng.random(n) < 0.5,
                 rng.uniform(0.001, 0.1, n), rng.uniform(10, 80, n))
    minx, maxx = cx, np.minimum(cx + w, 180.0)
    miny, maxy = cy, np.minimum(cy + 0.7 * w, 90.0)
    min_level, max_level, budget = 1, 7, 4
    pyr = cover_pyramid_batch(minx, maxx, miny, maxy,
                              min_level, max_level, budget)
    mask = (1 << LEVEL_TAG_BITS) - 1
    for i, codes in enumerate(pyr):
        own = codes[0] & mask
        if own > min_level:
            # finest level fitting the budget + <=4 ancestors per
            # coarser level (a <=2x2 range has <=2 ancestors per axis)
            assert len(codes) <= budget + 4 * (own - min_level), (i, len(codes))
        else:
            # clamped at min_level: the pyramid degenerates to the
            # exact min_level cover (bounded by the min_level grid)
            n_min = len(cover_codes_bbox_batch(
                minx[i:i+1], maxx[i:i+1], miny[i:i+1], maxy[i:i+1],
                min_level)[0])
            assert len(codes) == n_min, (i, len(codes), n_min)
        by_level = {}
        for c in codes:
            by_level.setdefault(c & mask, set()).add(c >> LEVEL_TAG_BITS)
        assert sorted(by_level) == list(range(min_level, own + 1))
        for lv, got in by_level.items():
            want = set(cover_codes_bbox_batch(
                minx[i:i+1], maxx[i:i+1], miny[i:i+1], maxy[i:i+1], lv)[0])
            assert got == want, (i, lv)


def test_adaptive_no_codegen_compile_fallback(strict_codegen, layers):
    """The per-level reference-cell CASE must compile — with codegen
    fallback off, as in the fixed-level join's regression test."""
    left, right, _, _ = layers
    out = shape_shape_join_adaptive(left, right, min_level=1, max_level=7,
                                    predicate="all")
    assert out.count() > 0


def test_adaptive_two_layer_closure_right_set_equal(spark, layers):
    """right_id closure path == struct path on the adaptive two-layer
    join for every predicate."""
    from spatial4n_spark.operators.joins import shape_shape_join_adaptive
    left, right = layers[0], layers[1]
    for predicate in ("intersects", "contains", "within", "all"):
        a = shape_shape_join_adaptive(left, right, predicate=predicate)
        b = shape_shape_join_adaptive(left, right, predicate=predicate,
                                      right_id="rid")
        cols = ["lid", "rid"] + (["relation"] if predicate == "all" else [])
        sa = {tuple(r) for r in a.select(*cols).collect()}
        sb = {tuple(r) for r in b.select(*cols).collect()}
        assert sa == sb, predicate
