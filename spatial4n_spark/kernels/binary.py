"""Binary shape codec — byte-compatible with the reference.

Layout (Io/BinaryCodec.cs:40-57, 158-234): one type byte
{Point=1, Rectangle=2, Circle=3, Collection=4, Geometry=5} followed by
IEEE-754 doubles in C# BinaryWriter order (little-endian): point =
x,y; rect = minX,maxX,minY,maxY; circle = center x,y then radius;
collection = members-type byte (0 = heterogeneous) + int32 count +
nested encoded shapes. Geometry (Io/Nts/NtsBinaryCodec.cs:56-66,
137-156, "handles everything") is the type byte followed by standard
little-endian WKB: LineString=2, Polygon=3, MultiPoint=4,
MultiLineString=5, MultiPolygon=6, rings closed (first vertex
repeated). A multipolygon record's flat even-odd ring list is grouped
into one WKB polygon per shell with its holes (`_nest_rings`, which
the WKT writer shares). The engine's at-rest format is
Parquet (the shape struct IS the decoded form); this codec exists for
golden-file parity and exchange with reference implementations.
"""
from __future__ import annotations

import struct

from .wkt import (KIND_CIRCLE, KIND_COLLECTION, KIND_LINESTRING,
                  KIND_MULTILINESTRING, KIND_MULTIPOINT, KIND_MULTIPOLYGON,
                  KIND_POINT, KIND_POLYGON, KIND_RECT, WktParseError, _bbox_of,
                  _empty, _merge_polygon_members, _mk_circle, _mk_line,
                  _mk_multi_parts, _mk_point, _mk_rect)

TYPE_POINT = 1
TYPE_RECT = 2
TYPE_CIRCLE = 3
TYPE_COLLECTION = 4
TYPE_GEOM = 5

_KIND_TO_TYPE = {KIND_POINT: TYPE_POINT, KIND_RECT: TYPE_RECT,
                 KIND_CIRCLE: TYPE_CIRCLE, KIND_COLLECTION: TYPE_COLLECTION,
                 KIND_LINESTRING: TYPE_GEOM, KIND_POLYGON: TYPE_GEOM,
                 KIND_MULTIPOINT: TYPE_GEOM, KIND_MULTILINESTRING: TYPE_GEOM,
                 KIND_MULTIPOLYGON: TYPE_GEOM}

_WKB_LINESTRING = 2
_WKB_POLYGON = 3
_WKB_MULTIPOINT = 4
_WKB_MULTILINESTRING = 5
_WKB_MULTIPOLYGON = 6


def write_shape(rec: dict) -> bytes:
    """Shape record -> reference-layout bytes."""
    kind = rec["kind"]
    t = _KIND_TO_TYPE.get(kind)
    if t is None:
        raise WktParseError(f"unsupported shape kind for binary codec: {kind}")
    if t == TYPE_POINT:
        return struct.pack("<Bdd", t, rec["x"], rec["y"])
    if t == TYPE_RECT:
        return struct.pack("<Bdddd", t, rec["minx"], rec["maxx"],
                           rec["miny"], rec["maxy"])
    if t == TYPE_CIRCLE:
        return struct.pack("<Bddd", t, rec["x"], rec["y"], rec["radius"])
    if t == TYPE_GEOM:
        return struct.pack("<B", t) + _write_wkb(rec)
    members = rec.get("members") or []
    out = struct.pack("<BBi", t, 0, len(members))
    for m in members:
        out += write_shape(m)
    return out


def read_shape(buf: bytes, geo: bool = True) -> dict:
    rec, off = _read_at(buf, 0, geo)
    if off != len(buf):
        raise WktParseError(f"trailing bytes after shape: {len(buf) - off}")
    return rec


def _read_at(buf: bytes, off: int, geo: bool) -> tuple[dict, int]:
    t = buf[off]
    off += 1
    if t == TYPE_POINT:
        x, y = struct.unpack_from("<dd", buf, off)
        return _mk_point(x, y), off + 16
    if t == TYPE_RECT:
        minx, maxx, miny, maxy = struct.unpack_from("<dddd", buf, off)
        return _mk_rect(minx, maxx, miny, maxy, geo), off + 32
    if t == TYPE_CIRCLE:
        x, y, r = struct.unpack_from("<ddd", buf, off)
        return _mk_circle(x, y, r, geo), off + 24
    if t == TYPE_GEOM:
        return _read_wkb_at(buf, off)
    if t == TYPE_COLLECTION:
        mtype, size = struct.unpack_from("<Bi", buf, off)
        off += 5
        if mtype != 0:
            raise WktParseError(f"unsupported collection member type {mtype}")
        members = []
        for _ in range(size):
            m, off = _read_at(buf, off, geo)
            members.append(m)
        d = _empty(KIND_COLLECTION)
        d["members"] = members
        if members:
            from .extent import union_bboxes
            lo, hi, mny, mxy = union_bboxes(
                [(m["minx"], m["maxx"], m["miny"], m["maxy"]) for m in members])
            d.update(minx=lo, maxx=hi, miny=mny, maxy=mxy)
        return d, off
    raise WktParseError(f"Unsupported shape byte {t}")


# ---------------------------------------------------------------------------
# Geometry branch: type byte 5 + little-endian WKB
# ---------------------------------------------------------------------------

def _rings_of(rec):
    xs, ys = rec["xs"], rec["ys"]
    ro = rec.get("ring_offsets") or [0, len(xs)]
    return [(xs[ro[k]:ro[k + 1]], ys[ro[k]:ro[k + 1]])
            for k in range(len(ro) - 1)]


def _wkb_header(wkb_type: int) -> bytes:
    return struct.pack("<BI", 1, wkb_type)  # byte order 1 = little-endian


def _wkb_points(xs, ys) -> bytes:
    out = struct.pack("<I", len(xs))
    for x, y in zip(xs, ys):
        out += struct.pack("<dd", x, y)
    return out


def _wkb_ring(xs, ys) -> bytes:
    # WKB linear rings repeat the first vertex; our arrays do not
    if len(xs) >= 1 and not (xs[0] == xs[-1] and ys[0] == ys[-1]):
        xs = list(xs) + [xs[0]]
        ys = list(ys) + [ys[0]]
    return _wkb_points(xs, ys)


def _write_wkb(rec: dict) -> bytes:
    kind = rec["kind"]
    if kind == KIND_LINESTRING:
        return _wkb_header(_WKB_LINESTRING) + _wkb_points(rec["xs"], rec["ys"])
    if kind == KIND_POLYGON:
        rings = _rings_of(rec)
        out = _wkb_header(_WKB_POLYGON) + struct.pack("<I", len(rings))
        for xs, ys in rings:
            out += _wkb_ring(xs, ys)
        return out
    if kind == KIND_MULTIPOINT:
        rings = _rings_of(rec)
        out = _wkb_header(_WKB_MULTIPOINT) + struct.pack("<I", len(rings))
        for xs, ys in rings:
            out += _wkb_header(1) + struct.pack("<dd", xs[0], ys[0])
        return out
    if kind == KIND_MULTILINESTRING:
        rings = _rings_of(rec)
        out = _wkb_header(_WKB_MULTILINESTRING) + struct.pack("<I", len(rings))
        for xs, ys in rings:
            out += _wkb_header(_WKB_LINESTRING) + _wkb_points(xs, ys)
        return out
    if kind == KIND_MULTIPOLYGON:
        rings = _rings_of(rec)
        parts = _nest_rings(rings)
        out = _wkb_header(_WKB_MULTIPOLYGON) + struct.pack("<I", len(parts))
        for part in parts:
            out += _wkb_header(_WKB_POLYGON) + struct.pack("<I", len(part))
            for xs, ys in part:
                out += _wkb_ring(xs, ys)
        return out
    raise WktParseError(f"unsupported geometry kind for WKB: {kind}")


def _nest_rings(rings):
    """Group a multipolygon's FLAT ring list into [shell, holes...]
    parts by even-odd nesting depth (ADVICE r02: the flat encoding
    loses the ring->part map, and emitting every ring as its own
    single-ring WKB polygon turns holes into filled area for external
    readers — the reference NtsBinaryCodec/WKBWriter nests holes as
    interior rings of their part's polygon).

    A ring contained in an even number of other rings is a shell; odd
    => a hole of its innermost containing shell (`pip.ring_nesting`),
    or its own part when no shell holds it. This matches the record's
    even-odd PIP semantics, so WKT -> record -> WKB preserves area. The
    containment test probes beside each ring's edges, so a hole that
    touches its shell at a vertex (its first one included) still nests.
    """
    from .booleans import list_rings
    from .pip import ring_nesting
    depth, parent = ring_nesting(list_rings([rings]))
    parts = []
    part_of = {}
    for i, d in enumerate(depth.tolist()):
        if d % 2 == 0:
            part_of[i] = len(parts)
            parts.append([rings[i]])
    for i, (d, p) in enumerate(zip(depth.tolist(), parent.tolist())):
        if d % 2 == 1:
            if p < 0:  # degenerate — keep as its own shell
                parts.append([rings[i]])
            else:
                parts[part_of[p]].append(rings[i])
    return parts


def _read_wkb_at(buf: bytes, off: int) -> tuple[dict, int]:
    order, wtype = struct.unpack_from("<BI", buf, off)
    if order != 1:
        raise WktParseError(f"big-endian WKB not supported (order {order})")
    off += 5
    if wtype == 1:  # point (inside multipoint)
        x, y = struct.unpack_from("<dd", buf, off)
        return _mk_point(x, y), off + 16
    if wtype == _WKB_LINESTRING:
        pts, off = _read_wkb_points(buf, off)
        return _mk_line(pts), off
    if wtype == _WKB_POLYGON:
        (nrings,) = struct.unpack_from("<I", buf, off)
        off += 4
        flat_x, flat_y, offsets = [], [], [0]
        for _ in range(nrings):
            # rings stay closed (first vertex repeated) — the WKT parser
            # keeps them closed too, so WKT->encode->decode is
            # vertex-exact; the PIP kernels accept either form
            pts, off = _read_wkb_points(buf, off)
            flat_x.extend(p[0] for p in pts)
            flat_y.extend(p[1] for p in pts)
            offsets.append(len(flat_x))
        d = _empty(KIND_POLYGON)
        minx, maxx, miny, maxy = _bbox_of(flat_x, flat_y)
        d.update(xs=flat_x, ys=flat_y, ring_offsets=offsets,
                 minx=minx, maxx=maxx, miny=miny, maxy=maxy)
        return d, off
    if wtype in (_WKB_MULTIPOINT, _WKB_MULTILINESTRING, _WKB_MULTIPOLYGON):
        (n,) = struct.unpack_from("<I", buf, off)
        off += 4
        members = []
        for _ in range(n):
            m, off = _read_wkb_at(buf, off)
            members.append(m)
        if wtype == _WKB_MULTIPOINT:
            return _mk_multi_parts([[(m["x"], m["y"])] for m in members],
                                   KIND_MULTIPOINT), off
        if wtype == _WKB_MULTILINESTRING:
            return _mk_multi_parts(
                [list(zip(m["xs"], m["ys"])) for m in members],
                KIND_MULTILINESTRING), off
        return _merge_polygon_members(members), off
    raise WktParseError(f"unsupported WKB geometry type {wtype}")


def _read_wkb_points(buf: bytes, off: int) -> tuple[list, int]:
    (n,) = struct.unpack_from("<I", buf, off)
    off += 4
    pts = []
    for _ in range(n):
        x, y = struct.unpack_from("<dd", buf, off)
        pts.append((x, y))
        off += 16
    return pts, off
