"""Rectangle relate kernels (dateline-aware), vectorized.

Semantics: Spatial4n.Core/Shapes/Impl/RectangleImpl.cs —
Relate(point) :176-209, Relate(rect) :211-231, Relate_Range :234-252,
RelateXRange :259-297, RelateYRange :254-257. A geo rectangle with
minX > maxX crosses the dateline; width is maxX-minX+360 then.

These are the refine stage of the distributed bbox/spatial join and the
coarse gate of every other relate kernel.
"""
from __future__ import annotations

import numpy as np

from .relation import CONTAINS, DISJOINT, INTERSECTS, WITHIN


def rect_width(minx, maxx):
    """Width honoring dateline crossing. RectangleImpl.cs:134-147."""
    w = np.asarray(maxx, dtype=np.float64) - np.asarray(minx, dtype=np.float64)
    return np.where(w < 0, w + 360.0, w)


def relate_rect_point(minx, maxx, miny, maxy, px, py, geo: bool = True):
    """Rect.Relate(point) -> CONTAINS or DISJOINT. RectangleImpl.cs:176-209.

    Geo mode unwraps a dateline-crossing rect (maxX += 360) and shifts
    the point by +-360 to potentially overlap.
    """
    minx, maxx, miny, maxy, px, py = (
        np.asarray(a, dtype=np.float64) for a in (minx, maxx, miny, maxy, px, py))
    y_out = (py > maxy) | (py < miny)
    if geo:
        raw_w = maxx - minx
        maxx_u = np.where(raw_w < 0, minx + raw_w + 360.0, maxx)
        px_s = np.where(px < minx, px + 360.0, np.where(px > maxx_u, px - 360.0, px))
    else:
        maxx_u = maxx
        px_s = px
    x_out = (px_s < minx) | (px_s > maxx_u)
    return np.where(y_out | x_out, DISJOINT, CONTAINS).astype(np.int8)


def _relate_range(int_min, int_max, ext_min, ext_max):
    """Interval relate. RectangleImpl.Relate_Range (:234-252)."""
    out = np.full(np.broadcast(int_min, ext_min).shape, INTERSECTS, dtype=np.int8)
    out = np.where((ext_min <= int_min) & (ext_max >= int_max), WITHIN, out)
    out = np.where((ext_min >= int_min) & (ext_max <= int_max), CONTAINS, out)
    out = np.where((ext_min > int_max) | (ext_max < int_min), DISJOINT, out)
    return out


def relate_y_range(miny, maxy, ext_miny, ext_maxy):
    """RectangleImpl.RelateYRange (:254-257)."""
    return _relate_range(np.asarray(miny, dtype=np.float64), np.asarray(maxy, dtype=np.float64),
                         np.asarray(ext_miny, dtype=np.float64), np.asarray(ext_maxy, dtype=np.float64))


def relate_x_range(minx, maxx, ext_minx, ext_maxx, geo: bool = True):
    """RectangleImpl.RelateXRange (:259-297): dateline unwrap of both
    ranges, world-wrap short circuits, +360 shift to overlap."""
    minx = np.asarray(minx, dtype=np.float64).copy()
    maxx = np.asarray(maxx, dtype=np.float64).copy()
    ext_minx = np.asarray(ext_minx, dtype=np.float64).copy()
    ext_maxx = np.asarray(ext_maxx, dtype=np.float64).copy()
    minx, maxx, ext_minx, ext_maxx = np.broadcast_arrays(minx, maxx, ext_minx, ext_maxx)
    minx, maxx, ext_minx, ext_maxx = (a.copy() for a in (minx, maxx, ext_minx, ext_maxx))
    if geo:
        raw_w = maxx - minx
        world_this = raw_w == 360.0
        maxx = np.where(raw_w < 0, minx + raw_w + 360.0, maxx)
        ext_raw_w = ext_maxx - ext_minx
        world_ext = ext_raw_w == 360.0
        ext_maxx = np.where(ext_raw_w < 0, ext_minx + ext_raw_w + 360.0, ext_maxx)
        # shift to potentially overlap
        shift_this = maxx < ext_minx
        minx = np.where(shift_this, minx + 360.0, minx)
        maxx = np.where(shift_this, maxx + 360.0, maxx)
        shift_ext = ~shift_this & (ext_maxx < minx)
        ext_minx = np.where(shift_ext, ext_minx + 360.0, ext_minx)
        ext_maxx = np.where(shift_ext, ext_maxx + 360.0, ext_maxx)
        out = _relate_range(minx, maxx, ext_minx, ext_maxx)
        # short-circuit order matters: this-world-wrap wins, then ext
        out = np.where(world_ext & ~world_this, WITHIN, out)
        out = np.where(world_this, CONTAINS, out)
        return out
    return _relate_range(minx, maxx, ext_minx, ext_maxx)


def relate_rect_rect(minx, maxx, miny, maxy, ext_minx, ext_maxx, ext_miny, ext_maxy,
                     geo: bool = True):
    """Rect.Relate(rect) -> relation code. RectangleImpl.cs:211-231.

    Per-axis interval relate merged: agreement wins; if one axis' span is
    equal, the other axis decides; else INTERSECTS.
    """
    minx, maxx, miny, maxy = (np.asarray(a, dtype=np.float64) for a in (minx, maxx, miny, maxy))
    ext_minx, ext_maxx, ext_miny, ext_maxy = (
        np.asarray(a, dtype=np.float64) for a in (ext_minx, ext_maxx, ext_miny, ext_maxy))
    y_rel = relate_y_range(miny, maxy, ext_miny, ext_maxy)
    x_rel = relate_x_range(minx, maxx, ext_minx, ext_maxx, geo=geo)
    out = np.full(np.broadcast(y_rel, x_rel).shape, INTERSECTS, dtype=np.int8)
    out = np.where((np.equal(miny, ext_miny)) & (np.equal(maxy, ext_maxy)), x_rel, out)
    out = np.where((np.equal(minx, ext_minx)) & (np.equal(maxx, ext_maxx)), y_rel, out)
    out = np.where(x_rel == y_rel, x_rel, out)
    out = np.where(x_rel == DISJOINT, DISJOINT, out)
    out = np.where(y_rel == DISJOINT, DISJOINT, out)
    return out


