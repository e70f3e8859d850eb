"""Dateline-aware extent union + Combine-fold equivalence.

Covers what the relational oracles can't: the smart longitude-range
union picking a dateline-crossing arc (Impl/Range.cs:182-202), and the
flags-aggregation used by q_collection_relate being equal to the
reference's sequential Combine fold for every verdict multiset."""
from itertools import product

import numpy as np
import pytest

from spatial4n_spark.kernels.extent import lon_range_expand, union_bboxes
from spatial4n_spark.kernels.relation import (CONTAINS, DISJOINT, INTERSECTS,
                                              WITHIN, combine_reduce)


def test_lon_union_prefers_dateline_crossing_arc():
    # boxes near +179 and -179: the smart union is the 4-degree arc
    # crossing the dateline, not the 356-degree naive [min,max]
    lo, hi = lon_range_expand(170.0, 179.0, -179.0, -172.0)
    assert lo == 170.0 and hi == -172.0  # crosses dateline (lo > hi)


def test_lon_union_non_crossing_stays_plain():
    lo, hi = lon_range_expand(-60.0, -20.0, 10.0, 55.0)
    assert (lo, hi) == (-60.0, 55.0)


def test_lon_union_world_when_ranges_oppose():
    # two arcs that together wrap more than the whole circle -> world
    lo, hi = lon_range_expand(-170.0, 170.0, 160.0, -160.0)
    assert (lo, hi) == (-180.0, 180.0)


def test_union_bboxes_dateline():
    boxes = [(175.0, 179.0, -10.0, 5.0), (-178.0, -170.0, 0.0, 20.0)]
    lo, hi, miny, maxy = union_bboxes(boxes)
    assert lo == 175.0 and hi == -170.0       # dateline-crossing union
    assert miny == -10.0 and maxy == 20.0


def test_union_bboxes_order_invariant_when_narrow():
    # dateline-free points spanning < 180 deg: any fold order gives
    # [min,max] — the invariant q_extent_agg's oracle relies on
    rng = np.random.default_rng(7)
    xs = rng.uniform(-55.0, 55.0, 40)
    ys = rng.uniform(-40.0, 40.0, 40)
    boxes = [(x, x, y, y) for x, y in zip(xs, ys)]
    want = (xs.min(), xs.max(), ys.min(), ys.max())
    for perm in range(5):
        order = rng.permutation(len(boxes))
        got = union_bboxes([boxes[i] for i in order])
        assert got == want


def _flags_combined(rels):
    """The JVM aggregation in q_collection_relate, in python."""
    mn, mx = min(rels), max(rels)
    if mn == mx:
        return mn
    if not any(r in (WITHIN, INTERSECTS) for r in rels):
        return CONTAINS
    return INTERSECTS


@pytest.mark.parametrize("n", [1, 2, 3, 4])
def test_flags_agg_equals_sequential_combine_fold(n):
    verdicts = (WITHIN, CONTAINS, DISJOINT, INTERSECTS)
    for combo in product(verdicts, repeat=n):
        seq = combine_reduce(np.array(combo, dtype=np.int8))
        assert seq == _flags_combined(combo), combo


def test_polygon_circle_relate_all_verdicts():
    """Vertex-counting Polygon.Relate(circle) (NtsGeometry.cs:248-275):
    unit coverage of all four verdicts incl. the WITHIN branch the
    contract data doesn't reach, every case one row of one
    st_relate_polygon_circle batch."""
    from spatial4n_spark import functions as SF
    from spatial4n_spark.shapes import encode
    cases = [((100.0, 50.0, 5.0), DISJOINT), ((12.0, 5.0, 60.0), WITHIN),
             ((12.0, 5.0, 0.5), CONTAINS), ((0.0, 0.0, 8.0), INTERSECTS)]
    n = len(cases)
    tri = encode(n, kind=np.full(n, 7, np.int8),
                 xs=[[0.0, 24.0, 12.0, 0.0]] * n, ys=[[0.0, 0.0, 14.0, 0.0]] * n,
                 ring_offsets=[[0, 4]] * n, minx=np.zeros(n),
                 maxx=np.full(n, 24.0), miny=np.zeros(n), maxy=np.full(n, 14.0))
    cx, cy, r = (np.array(v) for v in zip(*[c for c, _ in cases]))
    circle = encode(n, kind=np.full(n, 3, np.int8), x=cx, y=cy, radius=r)
    got = SF.st_relate_polygon_circle.func(tri, circle).to_pylist()
    assert got == [want for _, want in cases]


def test_polygon_rect_relate_all_verdicts():
    """Polygon.Relate(rect) COVERS semantics — all verdicts + touch,
    every case one row of one st_relate_polygon_rect batch."""
    import numpy as np

    from spatial4n_spark import functions as SF
    from spatial4n_spark.shapes import encode
    cases = [
        ((50, 60, 50, 60), DISJOINT),    # rect far away
        ((10, 13, 2, 4), CONTAINS),      # rect fully inside triangle
        ((-5, 30, -5, 20), WITHIN),      # triangle fully inside big rect
        ((-5, 5, -5, 5), INTERSECTS),    # partial overlap
        # boundary touch only (rect's right edge passes through vertex 0)
        ((-5, 0, -2, 2), INTERSECTS),
        ((-4, 1, 8, 13), DISJOINT),      # bbox overlaps, corner region empty
    ]
    n = len(cases)
    tri = encode(n, kind=np.full(n, 7, np.int8),
                 minx=np.zeros(n), maxx=np.full(n, 24.0),
                 miny=np.zeros(n), maxy=np.full(n, 14.0),
                 xs=[[0.0, 24.0, 12.0, 0.0]] * n,
                 ys=[[0.0, 0.0, 14.0, 0.0]] * n, ring_offsets=[[0, 4]] * n)
    rects = encode(n, kind=np.full(n, 2, np.int8),
                   **{f: np.array([b[k] for b, _ in cases], dtype=float)
                      for k, f in enumerate(("minx", "maxx", "miny", "maxy"))})
    got = SF.st_relate_polygon_rect.func(tri, rects).to_pylist()
    assert got == [want for _, want in cases]
