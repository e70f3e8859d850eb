"""Great-circle and cartesian distance kernels, vectorized.

Semantics: Spatial4n.Core/Distance/DistanceUtils.cs:502-583 and
CartesianDistCalc.cs:51-68. Exact formulas reproduced (not Spark
built-ins) so results match the reference's TestDistances fixtures
bit-for-bit — NumPy and .NET both use IEEE-754 doubles.

All *_rad functions take/return radians; *_deg wrappers take/return
degrees (matching GeodesicSphereDistCalc.Distance, which converts both
ways: GeodesicSphereDistCalc.cs:86-90).
"""
from __future__ import annotations

import numpy as np

from .normalize import to_degrees, to_radians


def haversine_rad(lat1, lon1, lat2, lon2):
    """DistanceUtils.DistHaversineRAD (DistanceUtils.cs:502-514)."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    hx = np.sin((lon1 - lon2) * 0.5)
    hy = np.sin((lat1 - lat2) * 0.5)
    h = hy * hy + np.cos(lat1) * np.cos(lat2) * hx * hx
    # near the antipode h rounds a hair above 1 and sqrt(1 - h) would be
    # NaN; clamp as haversine_deg_jvm does (values in [0, 1] unchanged)
    h = np.clip(h, 0.0, 1.0)
    d = 2.0 * np.arctan2(np.sqrt(h), np.sqrt(1.0 - h))
    same = (lat1 == lat2) & (lon1 == lon2)
    return np.where(same, 0.0, d)


def law_of_cosines_rad(lat1, lon1, lat2, lon2):
    """DistanceUtils.DistLawOfCosinesRAD (DistanceUtils.cs:527-554)."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    half_pi = np.pi / 2.0
    a = half_pi - lat1
    c = half_pi - lat2
    cos_b = np.cos(a) * np.cos(c) + np.sin(a) * np.sin(c) * np.cos(lon2 - lon1)
    d = np.arccos(np.clip(cos_b, -1.0, 1.0))
    d = np.where(cos_b < -1.0, np.pi, d)
    d = np.where(cos_b >= 1.0, 0.0, d)
    same = (lat1 == lat2) & (lon1 == lon2)
    return np.where(same, 0.0, d)


def vincenty_rad(lat1, lon1, lat2, lon2):
    """DistanceUtils.DistVincentyRAD (DistanceUtils.cs:564-583), spherical."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    cos1, cos2 = np.cos(lat1), np.cos(lat2)
    sin1, sin2 = np.sin(lat1), np.sin(lat2)
    dlon = lon2 - lon1
    cosd, sind = np.cos(dlon), np.sin(dlon)
    a = cos2 * sind
    b = cos1 * sin2 - sin1 * cos2 * cosd
    c = sin1 * sin2 + cos1 * cos2 * cosd
    d = np.arctan2(np.sqrt(a * a + b * b), c)
    same = (lat1 == lat2) & (lon1 == lon2)
    return np.where(same, 0.0, d)


_CALCULATORS_RAD = {
    "haversine": haversine_rad,
    "lawOfCosines": law_of_cosines_rad,
    "vincentySphere": vincenty_rad,
}


def geo_distance_deg(x1, y1, x2, y2, calculator: str = "haversine"):
    """Distance in degrees between (lon,lat) pairs in degrees.

    Mirrors GeodesicSphereDistCalc.Distance (GeodesicSphereDistCalc.cs:86-90):
    degrees->radians, spherical formula, radians->degrees.
    """
    fn = _CALCULATORS_RAD[calculator]
    return to_degrees(fn(to_radians(y1), to_radians(x1), to_radians(y2), to_radians(x2)))


def cartesian_distance(x1, y1, x2, y2, squared: bool = False):
    """CartesianDistCalc.Distance (CartesianDistCalc.cs:51-61)."""
    dx = np.asarray(x1, dtype=np.float64) - np.asarray(x2, dtype=np.float64)
    dy = np.asarray(y1, dtype=np.float64) - np.asarray(y2, dtype=np.float64)
    s = dx * dx + dy * dy
    return s if squared else np.sqrt(s)


def vector_distance(vec1, vec2, power: float):
    """p-norm length between two vectors (DistanceUtils.cs:123-189).

    power=0 counts differing components (no root), power=1 Manhattan
    (no root), power=2 Euclidean (sqrt), else generic p-norm with the
    1/power root — exactly the reference's special-case ladder.
    Vectorized over a BATCH: vec1/vec2 are (n, dim) arrays -> (n,)
    distances (the reference signature is one pair; the batch shape is
    the engine's unit of work).
    """
    a = np.atleast_2d(np.asarray(vec1, dtype=np.float64))
    b = np.atleast_2d(np.asarray(vec2, dtype=np.float64))
    d = a - b
    if power == 0:
        out = (d != 0).sum(axis=1).astype(np.float64)
    elif power == 1.0:
        out = np.abs(d).sum(axis=1)
    elif power == 2.0:
        out = np.sqrt((d * d).sum(axis=1))
    else:
        out = np.power(np.power(np.abs(d), power).sum(axis=1), 1.0 / power)
    return out if np.ndim(vec1) > 1 else float(out[0])


SIN_45_AS_RADS = np.sin(np.pi / 4)


def vector_box_corner(center, distance: float, upper_right: bool):
    """Box corner at `distance` from `center` in a rectangular space
    (DistanceUtils.cs:191-211): each coordinate moves by
    sin(45deg) * distance (negated for the lower-left corner); norm-
    independent by the sine definition, any dimensionality."""
    c = np.asarray(center, dtype=np.float64)
    d = SIN_45_AS_RADS * (distance if upper_right else -distance)
    return c + d
