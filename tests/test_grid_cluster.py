"""operators/cluster.grid_cluster vs a NumPy brute-force (cell counts
+ BFS over the 8-neighbor dense-cell graph)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from spatial4n_spark.kernels.geohash import cell_indices
from spatial4n_spark.operators.cluster import grid_cluster

PREC = 3
NBITS = PREC * 5
LON_N = 1 << ((NBITS + 1) // 2)
LAT_N = 1 << (NBITS // 2)


def _brute(xs, ys, min_count):
    """point index -> frozenset cluster membership (None = noise)."""
    ix, iy = cell_indices(np.asarray(ys), np.asarray(xs), PREC)
    from collections import Counter, deque
    counts = Counter(zip(ix.tolist(), iy.tolist()))
    dense = {c for c, n in counts.items() if n >= min_count}
    comp = {}
    for start in dense:
        if start in comp:
            continue
        comp[start] = start
        q = deque([start])
        group = [start]
        while q:
            cx, cy = q.popleft()
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if (dx, dy) == (0, 0):
                        continue
                    nb = ((cx + dx) % LON_N, cy + dy)
                    if 0 <= nb[1] < LAT_N and nb in dense and nb not in comp:
                        comp[nb] = start
                        q.append(nb)
                        group.append(nb)
        for g in group:
            comp[g] = min(group)  # any canonical rep; use min for det.
    # map each point to its component representative (or None)
    out = []
    for a, b in zip(ix.tolist(), iy.tolist()):
        out.append(comp.get((a, b)))
    return out


def _run(spark, xs, ys, min_count):
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "pid int, x double, y double")
    got = grid_cluster(df, "x", "y", PREC, min_count).collect()
    return {r["pid"]: r["cluster_id"] for r in got}


def _assert_same_partition(got, exp_reps, n):
    """Cluster ids differ (cell codes vs (ix,iy) reps) but the induced
    PARTITION of the point set must be identical, noise included."""
    from collections import defaultdict
    g_groups = defaultdict(set)
    e_groups = defaultdict(set)
    for i in range(n):
        if (got[i] is None) != (exp_reps[i] is None):
            raise AssertionError(f"noise mismatch at {i}")
        if got[i] is not None:
            g_groups[got[i]].add(i)
            e_groups[exp_reps[i]].add(i)
    assert sorted(map(frozenset, g_groups.values())) == \
        sorted(map(frozenset, e_groups.values()))


def test_blobs_and_noise(spark):
    rng = np.random.default_rng(17)
    blob1 = rng.normal([10, 20], 0.8, (300, 2))
    blob2 = rng.normal([14, 20], 0.8, (300, 2))   # may bridge to blob1
    blob3 = rng.normal([-60, -30], 0.5, (200, 2))
    noise = np.column_stack([rng.uniform(-170, 170, 120),
                             rng.uniform(-80, 80, 120)])
    pts = np.vstack([blob1, blob2, blob3, noise])
    xs, ys = pts[:, 0], pts[:, 1]
    got = _run(spark, xs, ys, min_count=5)
    exp = _brute(xs, ys, min_count=5)
    _assert_same_partition(got, exp, len(xs))
    labeled = sum(1 for v in got.values() if v is not None)
    assert labeled > 700  # the blobs really did cluster


def test_dateline_wrap_connects(spark):
    """A blob straddling ±180 forms ONE cluster through the lon wrap."""
    rng = np.random.default_rng(23)
    east = np.column_stack([rng.uniform(176, 180, 150),
                            rng.uniform(0, 4, 150)])
    west = np.column_stack([rng.uniform(-180, -176, 150),
                            rng.uniform(0, 4, 150)])
    pts = np.vstack([east, west])
    xs, ys = pts[:, 0], pts[:, 1]
    got = _run(spark, xs, ys, min_count=4)
    exp = _brute(xs, ys, min_count=4)
    _assert_same_partition(got, exp, len(xs))
    ids = {v for v in got.values() if v is not None}
    assert len(ids) == 1  # one cluster across the dateline
    assert sum(1 for v in got.values() if v is not None) == len(xs)


def test_min_count_thresholds(spark):
    # 6 points in one cell, 2 in another far away
    xs = [10.01] * 6 + [50.0, 50.0]
    ys = [10.01] * 6 + [0.0, 0.0]
    got = _run(spark, xs, ys, min_count=5)
    assert all(got[i] is not None for i in range(6))
    assert got[6] is None and got[7] is None
    # lowering the threshold makes the far pair its own cluster
    got2 = _run(spark, xs, ys, min_count=2)
    assert got2[6] is not None and got2[6] == got2[7]
    assert got2[0] != got2[6]


def test_no_python_stage(spark):
    """The whole clustering pipeline is JVM: Column cell math + hash
    aggregate + small self-join + CC rounds — no Arrow/Python node."""
    rng = np.random.default_rng(1)
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(
        zip(rng.uniform(-20, 20, 500), rng.uniform(-20, 20, 500)))]
    df = spark.createDataFrame(rows, "pid int, x double, y double")
    out = grid_cluster(df, "x", "y", PREC, 3)
    out.collect()
    p = out._jdf.queryExecution().executedPlan().toString()
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow"):
        assert bad not in p, p[:1200]


def test_corridor_paths_agree_and_converge(spark):
    """Code-review r4 repro: a 40-cell contiguous corridor. The local
    union-find path handles any diameter in one pass; the distributed
    path must converge too (max_iter >= diameter) and agree."""
    # one point per lon cell along a strip: cell width at PREC 3 is
    # 360/LON_N deg
    w = 360.0 / LON_N
    xs = [-170.0 + i * w for i in range(40)]
    ys = [10.0] * 40
    local = _run(spark, xs, ys, min_count=1)
    exp = _brute(xs, ys, min_count=1)
    _assert_same_partition(local, exp, len(xs))
    assert len({v for v in local.values()}) == 1  # single corridor
    # distributed CC path (cap 0 forces it)
    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "pid int, x double, y double")
    dist = {r["pid"]: r["cluster_id"]
            for r in grid_cluster(df, "x", "y", PREC, 1,
                                  local_cc_cap=0, max_iter=64).collect()}
    assert dist == local


def test_out_col_collision_raises(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0, 7)],
                               "pid int, x double, y double, cluster_id int")
    with pytest.raises(ValueError):
        grid_cluster(df, "x", "y", PREC, 1)
