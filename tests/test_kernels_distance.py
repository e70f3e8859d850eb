"""Golden distance/normalize fixtures from the reference test suite.

Sources: Spatial4n.Tests/distance/TestDistances.cs (:47-57 distances,
:236-295 norm tables, :297-320 conversions, :327-366 areas).
"""
import numpy as np
import pytest

from spatial4n_spark.kernels import normalize as nz
from spatial4n_spark.kernels import distance as dist
from spatial4n_spark.kernels import area
from spatial4n_spark.kernels.bearing import geo_point_on_bearing_deg

KM = nz.DEGREES_TO_KILOMETERS
EPS = 1e-4  # reference EPS 10e-4 (TestDistances.cs:39)


def d_km(x1, y1, x2, y2, calc="haversine"):
    return float(dist.geo_distance_deg(x1, y1, x2, y2, calc)) * KM


@pytest.mark.parametrize("calc", ["haversine", "lawOfCosines", "vincentySphere"])
def test_distance_fixtures(calc):
    # TestDistances.cs:47-57 — lat/lon order in the C# is (lat, lon)
    assert d_km(100, 0, 0, 10, calc) == pytest.approx(11100, abs=3)
    assert d_km(100, 0, -160, 10, calc) == pytest.approx(11100, abs=3)
    assert d_km(2, 1, 4, 3, calc) == pytest.approx(314.40338, abs=EPS * 1000)


def test_degrees_km_roundtrip():
    assert float(nz.degrees_to_dist(1.0)) == pytest.approx(111.1951, abs=1e-3)
    assert float(nz.dist_to_degrees(nz.degrees_to_dist(33.0))) == pytest.approx(33.0, abs=1e-9)


def test_norm_lat():
    # TestDistances.cs:236-264
    cases = [(1.23, 1.23), (-90, -90), (90, 90), (-100, -80), (-179, -1),
             (-181, 1), (-190, 10), (190, -10), (-270, 90), (270, -90),
             (91, 89), (181, -1)]
    for inp, expect in cases:
        assert float(nz.norm_lat_deg(inp)) == pytest.approx(expect, abs=1e-12), inp
    # array form
    arr_in = np.array([c[0] for c in cases], dtype=float)
    arr_out = nz.norm_lat_deg(arr_in)
    np.testing.assert_allclose(arr_out, [c[1] for c in cases], atol=1e-12)


def test_norm_lon():
    # TestDistances.cs:266-295
    cases = [(1.23, 1.23), (-180, -180), (180, 180), (-190, 170), (181, -179),
             (-345, 15), (345, -15), (-360, 0), (360, 0), (-721, -1), (721, 1),
             (-540, -180), (540, 180)]
    for inp, expect in cases:
        assert float(nz.norm_lon_deg(inp)) == pytest.approx(expect, abs=1e-12), inp
    arr_in = np.array([c[0] for c in cases], dtype=float)
    np.testing.assert_allclose(nz.norm_lon_deg(arr_in), [c[1] for c in cases], atol=1e-12)


def test_whole_earth_area():
    # TestDistances.TestArea (:327-366): globe area = 4*pi*r^2, r in degrees
    r_deg = nz.RADIANS_TO_DEGREES
    expected = 4 * np.pi * r_deg * r_deg
    got = float(area.geo_rect_area(-180, 180, -90, 90))
    assert got == pytest.approx(expected, rel=1e-9)
    # whole-globe circle (radius 180)
    got_c = float(area.geo_circle_area(180.0))
    assert got_c == pytest.approx(expected, rel=1e-9)


def test_point_on_bearing_roundtrip():
    # TestDistances.cs:184-226 analog: travel d then distance back == d
    rng = np.random.RandomState(42)
    n = 500
    x = rng.uniform(-180, 180, n)
    y = rng.uniform(-90, 90, n)
    d = rng.uniform(0, 170, n)
    b = rng.uniform(0, 360, n)
    x2, y2 = geo_point_on_bearing_deg(x, y, d, b)
    back = dist.geo_distance_deg(x, y, x2, y2, "haversine")
    ratio = np.abs(back - d) / np.maximum(d, 1e-9)
    near_antipode = d > 178
    assert (ratio[~near_antipode] < 1e-6).all()
    assert (ratio[near_antipode] < 1e-3).all()


def test_cartesian_distance():
    assert float(dist.cartesian_distance(0, 0, 3, 4)) == 5.0
    assert float(dist.cartesian_distance(0, 0, 3, 4, squared=True)) == 25.0


# ---- VectorDistance / VectorBoxCorner (DistanceUtils.cs:123-211) ----

def test_vector_distance_ladder():
    import numpy as np
    from spatial4n_spark.kernels.distance import vector_distance
    a, b = [1.0, 2.0, 3.0], [1.0, 4.0, 0.0]
    assert vector_distance(a, b, 0) == 2.0          # differing components
    assert vector_distance(a, b, 1) == 5.0          # manhattan
    assert vector_distance(a, b, 2) == pytest.approx(np.sqrt(13.0))
    # generic p-norm with the 1/p root
    assert vector_distance(a, b, 3) == pytest.approx((2**3 + 3**3) ** (1/3))
    # batch shape
    out = vector_distance([[1.0, 2, 3], [0, 0, 0]], [[1.0, 4, 0], [1, 1, 1]], 1)
    assert list(out) == [5.0, 3.0]


def test_vector_box_corner():
    import numpy as np
    from spatial4n_spark.kernels.distance import (SIN_45_AS_RADS,
                                                  vector_box_corner)
    ur = vector_box_corner([10.0, 20.0], 2.0, True)
    ll = vector_box_corner([10.0, 20.0], 2.0, False)
    d = SIN_45_AS_RADS * 2.0
    assert np.allclose(ur, [10.0 + d, 20.0 + d])
    assert np.allclose(ll, [10.0 - d, 20.0 - d])


def test_mile_constants_exact():
    from spatial4n_spark.kernels import normalize as N
    assert N.KM_TO_MILES == 0.621371192
    assert N.MILES_TO_KM == 1.0 / 0.621371192
    assert N.EARTH_MEAN_RADIUS_MI == N.EARTH_MEAN_RADIUS_KM * N.KM_TO_MILES
    assert (N.EARTH_EQUATORIAL_RADIUS_MI
            == N.EARTH_EQUATORIAL_RADIUS_KM * N.KM_TO_MILES)


def test_haversine_jvm_antipodal_no_nan(spark):
    """Regression (ADVICE r03): near-antipodal pairs must not go NaN in
    the JVM prefilter (h marginally > 1 -> sqrt(1-h) NaN -> candidate
    silently dropped)."""
    from pyspark.sql import functions as F

    from spatial4n_spark.functions import haversine_deg_jvm

    df = spark.createDataFrame(
        [(0.0, 0.0, 180.0, 0.0),
         (10.0, 20.0, -170.0, -20.0),
         (45.0, 45.0, -135.0, -45.0)],
        ["x1", "y1", "x2", "y2"])
    d = df.select(haversine_deg_jvm(
        F.col("x1"), F.col("y1"), F.col("x2"), F.col("y2")).alias("d"))
    vals = [r["d"] for r in d.collect()]
    assert all(v == v for v in vals), vals       # no NaN
    assert all(179.0 <= v <= 180.0 + 1e-9 for v in vals), vals


# exactly antipodal pairs whose haversine `h` rounds above 1
ANTIPODAL = [(-147.33, -14.89, 32.67, 14.89), (153.87, 8.81, -26.13, -8.81),
             (4.59, -19.9, -175.41, 19.9), (-91.03, 55.64, 88.97, -55.64)]


def test_haversine_no_nan_near_antipode():
    rng = np.random.default_rng(0)
    x = rng.uniform(-180, 180, 100_000)
    y = rng.uniform(-89, 89, 100_000)
    ax, ay = np.where(x > 0, x - 180, x + 180), -y
    d = dist.geo_distance_deg(x, y, ax, ay, "haversine")
    assert not np.isnan(d).any()
    assert np.allclose(d, 180.0, atol=1e-6)
    x1, y1, x2, y2 = np.array(ANTIPODAL).T
    assert (dist.geo_distance_deg(x1, y1, x2, y2, "haversine") == 180.0).all()


def test_haversine_clamp_keeps_values_bit_identical():
    """Away from the antipode the clamp changes no bit: the fixture
    pairs and random pairs equal the unclamped formula exactly."""
    rng = np.random.default_rng(1)
    x1 = np.r_[100, 100, 2, rng.uniform(-180, 180, 10_000)]
    y1 = np.r_[0, 0, 1, rng.uniform(-90, 90, 10_000)]
    x2 = np.r_[0, -160, 4, rng.uniform(-180, 180, 10_000)]
    y2 = np.r_[10, 10, 3, rng.uniform(-90, 90, 10_000)]
    lat1, lon1, lat2, lon2 = (nz.to_radians(a) for a in (y1, x1, y2, x2))
    hx, hy = np.sin((lon1 - lon2) * 0.5), np.sin((lat1 - lat2) * 0.5)
    h = hy * hy + np.cos(lat1) * np.cos(lat2) * hx * hx
    ok = h < 1.0
    want = nz.to_degrees(2.0 * np.arctan2(np.sqrt(h[ok]), np.sqrt(1.0 - h[ok])))
    got = dist.geo_distance_deg(x1, y1, x2, y2, "haversine")[ok]
    assert ok[:3].all() and ok.sum() > 9_990
    assert np.array_equal(got, want)


def test_st_dwithin_is_reference_within(spark):
    """AbstractDistanceCalculator.Within (AbstractDistanceCalculator.cs
    :30-33): Distance(from, to) <= distance, the bound inclusive. A row
    whose bound is its own distance is within; the bound times 1 - 1e-9
    is not; every row agrees with the NumPy kernel's distance."""
    from pyspark.sql import functions as F

    from spatial4n_spark.functions import st_distance_deg, st_dwithin

    rows = [(0.0, 0.0, 3.0, 4.0, 5.0), (10.0, 20.0, -170.0, -20.0, 90.0),
            (-179.5, 10.0, 179.5, 10.0, 1.0), (5.0, 5.0, 5.0, 5.0, 0.0),
            (30.0, 60.0, 31.0, 60.5, 0.3)]
    df = spark.createDataFrame(rows, ["x1", "y1", "x2", "y2", "d"])
    pts = [F.col(c) for c in ("x1", "y1", "x2", "y2")]
    own = st_distance_deg(*pts)
    got = df.select(st_dwithin(*pts, F.col("d")).alias("w"),
                    st_dwithin(*pts, own).alias("at"),
                    st_dwithin(*pts, own * (1 - 1e-9)).alias("below"),
                    own.alias("dist")).collect()
    x1, y1, x2, y2, d = (np.array(c) for c in zip(*rows))
    want = dist.geo_distance_deg(x1, y1, x2, y2) <= d
    assert [r["w"] for r in got] == want.tolist()
    assert all(r["at"] for r in got)
    assert [r["below"] for r in got] == [r["dist"] == 0.0 for r in got]
