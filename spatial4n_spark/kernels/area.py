"""Area kernels (degrees^2 units, matching the reference).

Semantics: GeodesicSphereDistCalc.Area(rect) (GeodesicSphereDistCalc
.cs:58-66, proportional to |sin(lat1)-sin(lat2)| * width), Area(circle)
spherical cap (:68-73), Euclidean variants (RectangleImpl.cs:118-128,
CircleImpl.cs:66-76). Whole-earth area == 4*pi*r^2 with r in degrees
(TestDistances.TestArea fixture).
"""
from __future__ import annotations

import numpy as np

from .booleans import _roll1
from .normalize import RADIANS_TO_DEGREES, to_radians
from .relate_rect import rect_width

_RADIUS_DEG = RADIANS_TO_DEGREES  # sphere radius expressed in degrees


def geo_rect_area(minx, maxx, miny, maxy):
    """Spherical rect (lat-lon band patch) area in deg^2."""
    lat1 = to_radians(miny)
    lat2 = to_radians(maxy)
    return (np.pi / 180.0) * _RADIUS_DEG * _RADIUS_DEG * \
        np.abs(np.sin(lat1) - np.sin(lat2)) * rect_width(minx, maxx)


def geo_circle_area(radius_deg):
    """Spherical cap area in deg^2."""
    lat = to_radians(90.0 - np.asarray(radius_deg, dtype=np.float64))
    return 2.0 * np.pi * _RADIUS_DEG * _RADIUS_DEG * (1.0 - np.sin(lat))


def euclidean_rect_area(minx, maxx, miny, maxy):
    return (np.asarray(maxx, dtype=np.float64) - minx) * (np.asarray(maxy, dtype=np.float64) - miny)


def euclidean_circle_area(radius):
    r = np.asarray(radius, dtype=np.float64)
    return np.pi * r * r


def polygon_area_euclid(xs, ys, ring_offsets) -> float:
    """Euclidean (multi)polygon area with even-odd holes: the one-row
    call of `polygon_areas_euclid`."""
    return polygon_areas_euclid([xs], [ys], [ring_offsets])[0]


def polygon_areas_euclid(xs_list, ys_list, ro_list) -> list:
    """Euclidean area of each (multi)polygon record with even-odd holes
    — geom.Area in NtsGeometry.GetArea (NtsGeometry.cs:184-196). Per
    ring the shoelace |0.5 * sum(cross)|, signed by even-odd nesting
    depth (`centroid.evenodd_signs`, one call for every record) so
    holes subtract regardless of winding (same rule as centroid/PIP)."""
    from .centroid import evenodd_signs, record_rings
    rings = [record_rings(*rec) for rec in zip(xs_list, ys_list, ro_list)]
    out = []
    for rs, signs in zip(rings, evenodd_signs(rings)):
        total = 0.0
        for (rx, ry), sg in zip(rs, signs):
            cross = rx * _roll1(ry) - _roll1(rx) * ry
            total += sg * abs(0.5 * cross.sum())
        out.append(total)
    return out


def buffered_line_area(xs, ys, buf: float) -> tuple[float, bool]:
    """Sum of per-segment BufferedLine areas (BufferedLine.cs:227-230:
    buf * linePerp.Buf * 4, linePerp.Buf = length/2 + buf from the
    ctor :118-157) — BufferedLineString.GetArea delegates to the
    segment ShapeCollection sum (BufferedLineString.cs:105-108).
    Returns (sum, capped?) where capped means the collection rule hit
    its bbox-area ceiling (ShapeCollection.cs:206-218) — the CALLER
    owns the bbox area (geo vs euclid ctx)."""
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    if len(xs) == 0:
        return 0.0, False
    if len(xs) == 1:
        return buf * buf * 4.0, False
    dx = np.diff(xs)
    dy = np.diff(ys)
    seg = np.sqrt(dx * dx + dy * dy)
    return float((buf * (seg / 2.0 + buf) * 4.0).sum()), False


def shape_area_batch(kind, radius, minx, maxx, miny, maxy,
                     xs_list, ys_list, ro_list, geo: bool) -> np.ndarray:
    """GetArea(ctx) over flat shape-record arrays (ctx = geo or None).

    point/multipoint -> 0 (PointImpl.cs:83-86); rect ->
    RectangleImpl.cs:118-128; circle -> CircleImpl.cs:66-76; buffered
    line(string) -> per-segment sum capped at the bbox area
    (ShapeCollection rule); (multi)polygon -> euclid shoelace, scaled
    by filledRatio * geo bbox area when geo (NtsGeometry.cs:184-196);
    collection/empty -> NaN (the flat record drops member structure
    needed for the reference's member-sum — callers keep members to
    sum member areas, mirroring ShapeCollection.cs:206-218)."""
    kind = np.asarray(kind, dtype=np.int8)
    n = len(kind)
    out = np.full(n, np.nan)
    r = np.asarray(radius, dtype=np.float64)
    mnx = np.asarray(minx, dtype=np.float64)
    mxx = np.asarray(maxx, dtype=np.float64)
    mny = np.asarray(miny, dtype=np.float64)
    mxy = np.asarray(maxy, dtype=np.float64)

    pt = (kind == 1) | (kind == 5)
    out[pt] = 0.0
    rc = kind == 2
    if rc.any():
        out[rc] = (geo_rect_area(mnx[rc], mxx[rc], mny[rc], mxy[rc]) if geo
                   else euclidean_rect_area(mnx[rc], mxx[rc], mny[rc], mxy[rc]))
    ci = kind == 3
    if ci.any():
        out[ci] = (geo_circle_area(r[ci]) if geo
                   else euclidean_circle_area(r[ci]))
    for i in np.nonzero((kind == 4) | (kind == 6))[0]:
        if xs_list[i] is None:
            continue
        buf = 0.0 if np.isnan(r[i]) else float(r[i])
        s, _ = buffered_line_area(xs_list[i], ys_list[i], buf)
        cap = (geo_rect_area(mnx[i], mxx[i], mny[i], mxy[i]) if geo
               else euclidean_rect_area(mnx[i], mxx[i], mny[i], mxy[i]))
        out[i] = min(s, float(cap))
    rows = [i for i in np.flatnonzero((kind == 7) | (kind == 8)).tolist()
            if xs_list[i] is not None]
    for i, ea in zip(rows, polygon_areas_euclid(
            [xs_list[i] for i in rows], [ys_list[i] for i in rows],
            [ro_list[i] for i in rows])):
        if not geo or ea == 0.0:
            out[i] = ea
            continue
        bb_e = float(euclidean_rect_area(mnx[i], mxx[i], mny[i], mxy[i]))
        bb_g = float(geo_rect_area(mnx[i], mxx[i], mny[i], mxy[i]))
        out[i] = bb_g * (ea / bb_e) if bb_e > 0 else 0.0
    return out
