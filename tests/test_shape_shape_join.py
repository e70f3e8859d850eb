"""Distributed polygon x polygon join vs brute-force kernel oracle,
plus the no-dedup-shuffle plan property, on two pairs of layers: even
sizes, and a mixed-size pair (tiny and continent-scale triangles on
both sides) where one shape meets others in many shared cells."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark import functions as SF
from spatial4n_spark.kernels.pip import relate_polygon_polygon
from spatial4n_spark.kernels.relation import CONTAINS, DISJOINT, WITHIN
from spatial4n_spark.operators.joins import shape_shape_join


def _tri_wkt(cx, cy, s):
    p = [(cx, cy), (cx + 2.0 * s, cy + 0.3 * s), (cx + 0.9 * s, cy + 1.7 * s)]
    pts = ", ".join(f"{x} {y}" for x, y in p + [p[0]])
    return f"POLYGON(({pts}))"


@pytest.fixture(scope="module")
def layers(spark):
    rng = np.random.default_rng(17)
    lrows = [(i, _tri_wkt(rng.uniform(-60, 40), rng.uniform(-40, 30),
                          rng.uniform(4, 14))) for i in range(40)]
    rrows = [(j, _tri_wkt(rng.uniform(-60, 40), rng.uniform(-40, 30),
                          rng.uniform(1, 8))) for j in range(60)]
    left = (spark.createDataFrame(lrows, ["lid", "lwkt"])
            .withColumn("lshape", SF.st_from_wkt(F.col("lwkt"))))
    right = (spark.createDataFrame(rrows, ["rid", "rwkt"])
             .withColumn("rshape", SF.st_from_wkt(F.col("rwkt"))))
    return left, right, lrows, rrows


@pytest.fixture(scope="module")
def mixed_layers(spark):
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


PREDICATES = pytest.mark.parametrize("predicate,keep", [
    ("intersects", lambda r: r != DISJOINT),
    ("contains", lambda r: r == CONTAINS),
    ("within", lambda r: r == WITHIN),
])


def _check_bruteforce(layers, predicate, keep):
    left, right, lrows, rrows = layers
    got = {(r.lid, r.rid) for r in
           shape_shape_join(left, right, precision=2, predicate=predicate)
           .select("lid", "rid").collect()}
    want = _local_pairs(lrows, rrows, keep)
    assert got == want, (len(got), len(want),
                         sorted(got - want)[:5], sorted(want - got)[:5])


@PREDICATES
def test_join_matches_bruteforce(spark, layers, predicate, keep):
    _check_bruteforce(layers, predicate, keep)


@PREDICATES
def test_mixed_size_join_matches_bruteforce(spark, mixed_layers, predicate,
                                            keep):
    _check_bruteforce(mixed_layers, predicate, keep)


def test_reference_point_dedup_no_distinct(spark, layers):
    left, right, _, _ = layers
    out = shape_shape_join(left, right, precision=2, predicate="all")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # dedup is the reference-point predicate: no aggregate/distinct and
    # no shuffle exchange anywhere in the joined plan
    assert "HashAggregate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # and each surviving pair is unique without any dedup operator
    rows = out.select("lid", "rid").collect()
    assert len(rows) == len({(r.lid, r.rid) for r in rows})


def _check_plans_agree(layers):
    """Salted and shuffle plans give the broadcast plan's rows, and the
    reference-cell rule leaves each pair once in every plan."""
    left, right, _, _ = layers
    runs = [[(r.lid, r.rid, r.relation) for r in
             shape_shape_join(left, right, precision=2, predicate="all",
                              **kw).collect()]
            for kw in ({}, dict(broadcast_right=False, salt=4),
                       dict(broadcast_right=False))]
    base, salted, plain_shuffle = (set(rows) for rows in runs)
    assert salted == base
    assert plain_shuffle == base
    for rows in runs:
        assert len(rows) == len({(lid, rid) for lid, rid, _ in rows})


def test_salted_shuffle_path_set_equal_to_broadcast(spark, layers):
    _check_plans_agree(layers)


def test_mixed_size_plans_agree(spark, mixed_layers):
    _check_plans_agree(mixed_layers)


def test_no_codegen_compile_fallback(strict_codegen, layers):
    """VERDICT r02 item 2: the two-layer join must stay in compiled
    whole-stage codegen — no Janino 64 KB interpreted fallback.

    The filter-context reference-cell expression is the one at risk
    (filters get no subexpression elimination). With codegen fallback
    off, a compile failure raises here instead of only being logged.
    """
    left, right, _, _ = layers
    out = shape_shape_join(left, right, precision=2, predicate="all")
    assert out.count() > 0
