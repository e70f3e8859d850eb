"""WKT shape parser producing flat shape records.

Grammar: Spatial4n.Core/Io/WktShapeParser.cs:59-456 — POINT :258-269,
MULTIPOINT :280-299, ENVELOPE (CQL ext, arg order x1 x2 y2 y1!) :312-328,
LINESTRING :338-347, MULTILINESTRING :357-372, GEOMETRYCOLLECTION
:381-396, BUFFER (spatial4n ext) :228-239, EMPTY / Z / M dims :517-540;
polygons per Spatial4n.Core.NTS/Io/Nts/NtsWktShapeParser.cs:74-256 with
DatelineRule.Width180 (:304-325, default per NtsSpatialContextFactory
.cs:73): a ring wider than 180 deg is assumed to cross the dateline,
unwrapped, and cut into +-180 pages (NtsGeometry.cs:379-527 analog).

Output is a flat dict per shape (the Spark shape-struct):
  kind: one of KIND_*; x,y,radius; minx,maxx,miny,maxy (bbox, dateline-
  aware); xs,ys vertex arrays; ring_offsets (polygon rings / multi parts).
Collections return kind=KIND_COLLECTION with `members` (list of dicts).

The batch entry point `parse_wkt_batch` is what the pandas UDF calls:
a vectorized regex fast-path handles the dominant POINT case; the
tokenizer handles the rest per string (errors -> None + reason, no
exceptions, mirroring engine kernels' no-throw rule).
"""
from __future__ import annotations

import re
from typing import Optional

import numpy as np

from .circle_box import geo_circle_bbox
from .normalize import norm_lon_deg

KIND_EMPTY = 0
KIND_POINT = 1
KIND_RECT = 2
KIND_CIRCLE = 3
KIND_LINESTRING = 4
KIND_MULTIPOINT = 5
KIND_MULTILINESTRING = 6
KIND_POLYGON = 7
KIND_MULTIPOLYGON = 8
KIND_COLLECTION = 9

_NUM_RE = r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
_POINT_FAST = re.compile(
    rf"^\s*POINT\s*\(\s*({_NUM_RE})\s+({_NUM_RE})(?:\s+{_NUM_RE})*\s*\)\s*$",
    re.IGNORECASE)
_ENVELOPE_FAST = re.compile(
    rf"^\s*ENVELOPE\s*\(\s*({_NUM_RE})\s*,\s*({_NUM_RE})\s*,\s*({_NUM_RE})\s*,\s*({_NUM_RE})\s*\)\s*$",
    re.IGNORECASE)
_BUFFER_POINT_FAST = re.compile(
    rf"^\s*BUFFER\s*\(\s*POINT\s*\(\s*({_NUM_RE})\s+({_NUM_RE})\s*\)\s*,\s*({_NUM_RE})\s*\)\s*$",
    re.IGNORECASE)
# single-ring polygon, plain "x y, x y, ..." coordinates
_POLYGON_FAST = re.compile(
    r"^\s*POLYGON\s*\(\s*\(\s*([0-9eE+.,\s-]+?)\s*\)\s*\)\s*$",
    re.IGNORECASE)

# RE2 named-group variants for the pyarrow fast path ((?i) prefix =
# RE2 case-insensitive; same grammar as the compiled patterns above)
_POINT_FAST_PA = (rf"(?i)^\s*POINT\s*\(\s*(?P<a>{_NUM_RE})\s+(?P<b>{_NUM_RE})"
                  rf"(?:\s+{_NUM_RE})*\s*\)\s*$")
_ENVELOPE_FAST_PA = (rf"(?i)^\s*ENVELOPE\s*\(\s*(?P<a>{_NUM_RE})\s*,\s*(?P<b>{_NUM_RE})"
                     rf"\s*,\s*(?P<c>{_NUM_RE})\s*,\s*(?P<d>{_NUM_RE})\s*\)\s*$")
_BUFFER_POINT_FAST_PA = (rf"(?i)^\s*BUFFER\s*\(\s*POINT\s*\(\s*(?P<a>{_NUM_RE})"
                         rf"\s+(?P<b>{_NUM_RE})\s*\)\s*,\s*(?P<c>{_NUM_RE})\s*\)\s*$")


def _pa_extract_f64(strs, pattern: str, groups: tuple):
    """Arrow-native regex extract + float64 cast (RE2 + fast_float —
    both correctly rounded, ~5x faster than the pandas path). Returns
    None to signal fallback (pyarrow missing / cast overflow)."""
    try:
        import pyarrow as pa
        import pyarrow.compute as pc
        arr = pa.Array.from_pandas(strs)
        if not pa.types.is_string(arr.type) and not pa.types.is_large_string(arr.type):
            return None
        ext = pc.extract_regex(arr, pattern)
        return [pc.cast(pc.struct_field(ext, g), pa.float64())
                .to_numpy(zero_copy_only=False) for g in groups]
    except Exception:  # noqa: BLE001 - fall back to the pandas path
        return None


_TOKEN = re.compile(rf"\s*({_NUM_RE}(?![A-Za-z0-9_.])|[A-Za-z][A-Za-z0-9_]*|[(),])")


class WktParseError(ValueError):
    pass


# ---------------------------------------------------------------------------
# precision model (NtsSpatialContext.NormX/NormY -> PrecisionModel
# .MakePrecise, NtsSpatialContext.cs:91-101; factory keys precisionModel /
# precisionScale, NtsSpatialContextFactory.cs:55-58,101-127)
# ---------------------------------------------------------------------------

PRECISION_MODELS = ("floating", "floating_single", "fixed")


def make_snap(precision_model: str = "floating",
              precision_scale: float | None = None):
    """Vectorized coordinate quantizer or None (floating = no-op).

    fixed: JTS PrecisionModel.makePrecise semantics — Math.round
    (floor(v*scale + 0.5)) / scale; floating_single: float32
    round-trip. Applied to every numeric token the tokenizer reads
    (coords AND distances — the reference's NormDist also snaps,
    NtsWktShapeParser.cs:259-262) and to the regex fast-path arrays.
    """
    if precision_model == "floating":
        return None
    if precision_model == "floating_single":
        return lambda v: np.asarray(v, dtype=np.float32).astype(np.float64)
    if precision_model == "fixed":
        if precision_scale is None or precision_scale <= 0:
            raise ValueError(
                "precisionModel=fixed requires a positive precisionScale")
        s = float(precision_scale)
        return lambda v: np.floor(np.asarray(v, dtype=np.float64) * s + 0.5) / s
    raise ValueError(f"unknown precision model {precision_model!r}")


class _State:
    """Cursor over the token stream (WktShapeParser.State, :461-737)."""

    def __init__(self, text: str, snap=None):
        self.text = text
        self.pos = 0
        self.snap = snap
        # alt-reader hooks (parse_shape_ntsreader): per-point coordinate
        # transform/verify, and ISO-grammar-only keyword gating
        self.xy_hook = None
        self.iso_only = False

    def peek(self) -> Optional[str]:
        m = _TOKEN.match(self.text, self.pos)
        return m.group(1) if m else None

    def next(self) -> str:
        m = _TOKEN.match(self.text, self.pos)
        if not m:
            raise WktParseError(f"unexpected input at {self.pos}: {self.text[self.pos:self.pos+20]!r}")
        self.pos = m.end()
        return m.group(1)

    def expect(self, tok: str):
        got = self.next()
        if got != tok:
            raise WktParseError(f"expected {tok!r} got {got!r} at {self.pos}")

    def number(self) -> float:
        tok = self.next()
        try:
            v = float(tok)
        except ValueError:
            raise WktParseError(f"expected number, got {tok!r} at {self.pos}")
        return float(self.snap(v)) if self.snap is not None else v

    def at_end(self) -> bool:
        return _TOKEN.match(self.text, self.pos) is None and not self.text[self.pos:].strip()


def _empty(kind=KIND_EMPTY) -> dict:
    nan = float("nan")
    return dict(kind=kind, x=nan, y=nan, radius=nan,
                minx=nan, maxx=nan, miny=nan, maxy=nan,
                xs=[], ys=[], ring_offsets=[])


def _mk_point(x: float, y: float) -> dict:
    d = _empty(KIND_POINT)
    d.update(x=x, y=y, minx=x, maxx=x, miny=y, maxy=y)
    return d


def _mk_rect(minx, maxx, miny, maxy, geo=True) -> dict:
    # dateline-edge normalization per SpatialContext.MakeRectangle (:244-278)
    if geo:
        if minx == 180 and minx != maxx:
            minx = -180.0
        elif maxx == -180 and minx != maxx:
            maxx = 180.0
    if miny > maxy:
        raise WktParseError(f"maxY must be >= minY: {miny} to {maxy}")
    d = _empty(KIND_RECT)
    d.update(minx=float(minx), maxx=float(maxx), miny=float(miny), maxy=float(maxy))
    return d


def _mk_circle(x, y, radius, geo=True) -> dict:
    if radius < 0:
        raise WktParseError(f"distance must be >= 0; got {radius}")
    if geo and radius > 180:
        radius = 180.0  # clamp, SpatialContext.MakeCircle:302-309
    d = _empty(KIND_CIRCLE)
    if geo:
        bminx, bmaxx, bminy, bmaxy = (float(a[0]) for a in geo_circle_bbox(x, y, radius))
    else:
        bminx, bmaxx, bminy, bmaxy = x - radius, x + radius, y - radius, y + radius
    d.update(x=float(x), y=float(y), radius=float(radius),
             minx=bminx, maxx=bmaxx, miny=bminy, maxy=bmaxy)
    return d


def _bbox_of(xs, ys) -> tuple:
    return (min(xs), max(xs), min(ys), max(ys))


def _mk_line(pts, buf=0.0) -> dict:
    d = _empty(KIND_LINESTRING)
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    minx, maxx, miny, maxy = _bbox_of(xs, ys)
    d.update(xs=xs, ys=ys, radius=float(buf),
             minx=minx - buf, maxx=maxx + buf, miny=miny - buf, maxy=maxy + buf)
    return d


def _clip_halfplane(pts, keep_fn, cross_x):
    """Sutherland-Hodgman clip of a ring against a vertical line x=cross_x."""
    out = []
    n = len(pts)
    for i in range(n):
        cur, nxt = pts[i], pts[(i + 1) % n]
        cin, nin = keep_fn(cur[0]), keep_fn(nxt[0])
        if cin:
            out.append(cur)
        if cin != nin and nxt[0] != cur[0]:
            t = (cross_x - cur[0]) / (nxt[0] - cur[0])
            out.append((cross_x, cur[1] + t * (nxt[1] - cur[1])))
    return out


def _cut_pages_at_180(shifted_rings) -> dict:
    """Cut unwrapped rings (x possibly beyond 180) into +-180 pages and
    shift the high page back (NtsGeometry cutUnwrappedGeomInto360,
    :465-527). Returns a multipolygon record with the smart
    (dateline-crossing) bbox of the unwrapped extent."""
    pages = []
    for ring in shifted_rings:
        low = _clip_halfplane(ring, lambda x: x <= 180.0, 180.0)
        high = _clip_halfplane(ring, lambda x: x >= 180.0, 180.0)
        if len(low) >= 3:
            pages.append([(x, y) for (x, y) in low])
        if len(high) >= 3:
            pages.append([(norm_lon_deg(x - 360.0) if x != 180.0 else -180.0, y)
                          for (x, y) in high])
    d = _mk_multi_parts(pages, KIND_MULTIPOLYGON)
    sxs = [p[0] for ring in shifted_rings for p in ring]
    sys_ = [p[1] for ring in shifted_rings for p in ring]
    d.update(minx=norm_lon_deg(min(sxs)), maxx=norm_lon_deg(max(sxs)),
             miny=min(sys_), maxy=max(sys_))
    return d


# ---------------------------------------------------------------------------
# polygon validation / repair (NtsWktShapeParser.cs:266-297, ValidationRule
# enum :331-368) and rect demotion (ParsePolygonShape :125-133,
# MakeRectFromPoly :135-158 incl. DatelineRule enum :304-325)
# ---------------------------------------------------------------------------

DATELINE_RULES = ("none", "width180", "ccwRect")
VALIDATION_RULES = ("none", "error", "repairConvexHull", "repairBuffer0")


def _signed_area2(ring) -> float:
    """Twice the shoelace signed area of a (closed or open) ring;
    positive = counter-clockwise."""
    pts = ring[:-1] if len(ring) > 1 and ring[0] == ring[-1] else ring
    a = 0.0
    n = len(pts)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        a += x1 * y2 - x2 * y1
    return a


def _is_rect_ring(ring) -> bool:
    """JTS Polygon.IsRectangle analog on one closed ring: 5 points,
    closed, axis-parallel edges, the 4 distinct corners are exactly the
    envelope corners."""
    if len(ring) != 5 or ring[0] != ring[-1]:
        return False
    pts = ring[:4]
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    minx, maxx, miny, maxy = min(xs), max(xs), min(ys), max(ys)
    if minx == maxx or miny == maxy:
        return False
    corners = {(minx, miny), (minx, maxy), (maxx, miny), (maxx, maxy)}
    if set(pts) != corners:
        return False
    for i in range(4):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if x1 != x2 and y1 != y2:  # every edge axis-parallel
            return False
    return True


def _rect_from_poly(ring, geo: bool, dateline_rule: str) -> dict:
    """MakeRectFromPoly (NtsWktShapeParser.cs:135-158): envelope of a
    rectangular ring; dateline crossing decided by the DatelineRule —
    width180: env wider than 180 => crossing (swap min/max);
    ccwRect: clockwise point order => crossing (OGC SFS 1.2.0 6.1.11.1);
    none: never crossing."""
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    minx, maxx, miny, maxy = min(xs), max(xs), min(ys), max(ys)
    crosses = False
    if geo and dateline_rule != "none":
        if dateline_rule == "ccwRect":
            crosses = _signed_area2(ring) < 0.0  # clockwise
        else:  # width180
            crosses = (maxx - minx) > 180.0
    if crosses:
        return _mk_rect(maxx, minx, miny, maxy, geo)
    return _mk_rect(minx, maxx, miny, maxy, geo)


def _segment_intersections(ring):
    """All intersections between non-adjacent segments of one closed
    ring. Returns (invalid_reason | None, per_seg) where per_seg[i] is a
    list of (t, (ix, iy)) proper-interior intersection points on segment
    i (each point computed ONCE per pair, so both segments carry the
    bit-identical coordinates)."""
    pts = ring[:-1]
    n = len(pts)
    per_seg: list = [[] for _ in range(n)]
    if n < 3:
        return "too few points", per_seg
    ax = np.array([p[0] for p in pts]); ay = np.array([p[1] for p in pts])
    bx = np.roll(ax, -1); by = np.roll(ay, -1)
    # repeated consecutive vertices
    if ((ax == bx) & (ay == by)).any():
        return "repeated point", per_seg
    reason = None
    for i in range(n - 2):
        # candidate partners j > i+1 (and exclude the wrap pair (0, n-1))
        j0 = i + 2
        j1 = n - 1 if i == 0 else n
        if j0 >= j1:
            continue
        j = np.arange(j0, j1)
        r_x, r_y = bx[i] - ax[i], by[i] - ay[i]
        s_x, s_y = bx[j] - ax[j], by[j] - ay[j]
        qp_x, qp_y = ax[j] - ax[i], ay[j] - ay[i]
        denom = r_x * s_y - r_y * s_x
        t_num = qp_x * s_y - qp_y * s_x
        u_num = qp_x * r_y - qp_y * r_x
        with np.errstate(divide="ignore", invalid="ignore"):
            t = t_num / denom
            u = u_num / denom
        proper = (denom != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)
        # endpoint touches / collinear overlap between non-adjacent
        # segments make the ring non-simple => invalid (JTS LinearRing)
        touch = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1) \
            & ~proper
        if touch.any():
            reason = reason or "ring self-intersection (vertex touch)"
        collinear = (denom == 0) & (t_num == 0)
        if collinear.any():
            # overlapping collinear segments: compare 1-D extents on the
            # segment's dominant axis
            for jj in j[collinear]:
                if r_x != 0:
                    lo, hi = min(ax[i], bx[i]), max(ax[i], bx[i])
                    lo2, hi2 = min(ax[jj], bx[jj]), max(ax[jj], bx[jj])
                else:
                    lo, hi = min(ay[i], by[i]), max(ay[i], by[i])
                    lo2, hi2 = min(ay[jj], by[jj]), max(ay[jj], by[jj])
                if max(lo, lo2) <= min(hi, hi2):
                    reason = reason or "collinear segment overlap"
        if proper.any():
            reason = reason or "ring self-intersection"
            for k, jj in zip(np.nonzero(proper)[0], j[proper]):
                tt = float(t[k])
                uu = float(u[k])
                ixy = (float(ax[i] + tt * r_x), float(ay[i] + tt * r_y))
                per_seg[i].append((tt, ixy))
                per_seg[int(jj)].append((uu, ixy))
    for lst in per_seg:
        lst.sort(key=lambda e: e[0])
    return reason, per_seg


def _ring_invalid_reason(ring):
    if len(ring) < 4 or ring[0] != ring[-1]:
        return "unclosed ring"
    reason, _ = _segment_intersections(ring)
    return reason


def _polygon_invalid_reason(rings):
    """JTS IsValid subset: per-ring simplicity + holes inside the shell.
    (Hole/hole nesting is not checked — documented scope.)"""
    for ring in rings:
        r = _ring_invalid_reason(ring)
        if r:
            return r
    if len(rings) > 1:
        from .pip import points_in_polygon
        shell = rings[0]
        sx = np.array([p[0] for p in shell])
        sy = np.array([p[1] for p in shell])
        ro = np.array([0, len(shell)])
        for hole in rings[1:]:
            hx = np.array([p[0] for p in hole])
            hy = np.array([p[1] for p in hole])
            if not points_in_polygon(hx, hy, sx, sy, ro).all():
                return "hole outside shell"
    return None


def _convex_hull_ring(rings):
    """Monotone-chain convex hull of all ring vertices -> closed CCW
    ring (ValidationRule.RepairConvexHull, Geometry.ConvexHull analog)."""
    pts = sorted({(p[0], p[1]) for ring in rings for p in ring})
    if len(pts) < 3:
        raise WktParseError("convex hull repair: degenerate polygon")

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2:
                ox, oy = out[-2]
                px, py = out[-1]
                if (px - ox) * (p[1] - oy) - (py - oy) * (p[0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts)
    upper = half(list(reversed(pts)))
    hull = lower[:-1] + upper[:-1]
    if len(hull) < 3:
        raise WktParseError("convex hull repair: degenerate polygon")
    return [list(p) for p in hull] + [list(hull[0])]


def _split_ring_loops(ring):
    """Planarize one closed self-intersecting ring into simple closed
    sub-rings (the ValidationRule.RepairBuffer0 analog): node the ring
    at its self-intersection points, then extract a loop every time the
    walk revisits a point. Deterministic; unlike JTS Buffer(0) it keeps
    EVERY nonzero-area lobe (JTS may drop one of a bow-tie's lobes —
    the enum's own docs call that behavior undesirable)."""
    reason, per_seg = _segment_intersections(ring)
    pts = ring[:-1]
    n = len(pts)
    walk = []
    for i in range(n):
        walk.append((float(pts[i][0]), float(pts[i][1])))
        for _, ixy in per_seg[i]:
            walk.append(ixy)
    loops = []
    stack: list = []
    index: dict = {}
    for p in walk + [walk[0]]:
        if p in index:
            k = index[p]
            loop = stack[k:] + [p]
            if len(loop) >= 4 and abs(_signed_area2(loop)) > 0.0:
                loops.append([list(q) for q in loop])
            for q in stack[k + 1:]:
                index.pop(q, None)
            stack = stack[:k + 1]
        else:
            index[p] = len(stack)
            stack.append(p)
    return loops


def _buffer0_record(rings, geo: bool, dateline_rule: str) -> dict:
    parts = []
    for ring in rings:
        parts.extend(_split_ring_loops(ring))
    if not parts:
        raise WktParseError("buffer0 repair: no area")
    members = [_mk_polygon([p], geo, dateline_rule, "none") for p in parts]
    if len(members) == 1:
        return members[0]
    return _merge_polygon_members(members)


def _mk_polygon(rings, geo=True, dateline_rule="width180",
                validation_rule="error") -> dict:
    """Polygon with holes; validation/repair per ValidationRule, then
    dateline handling in two forms:

    1. Width180 rule (NtsWktShapeParser.DatelineRule.Width180,
       :304-325): a shell wider than 180 within [-180,180] is assumed
       to cross the dateline — negative xs shift +360, then page-cut.
    2. Out-of-range coordinates (explicit x beyond +-180, e.g.
       "... 190 0 ..."): unambiguous crossing — rings are translated so
       minx lands in [-180,180) and page-cut (NtsGeometry
       unwrapDateline/cutUnwrapped, :414-527).
    Pages become a multipolygon whose bbox is the smart (narrow)
    dateline-crossing bbox; downstream even-odd PIP unions the pages.

    Ring closure is enforced UNconditionally (the reference's
    LinearRing construction throws before validation ever runs —
    NtsWktShapeParserTest.TestWrapTopologyException's first case).
    Under dateline_rule="none" no dateline processing happens at all;
    "ccwRect" differs from "width180" only for rectangular rings
    (handled by _rect_from_poly before this function).
    """
    for ring in rings:
        if len(ring) < 4 or ring[0] != ring[-1]:
            raise WktParseError("unclosed ring")
    if validation_rule != "none":
        reason = _polygon_invalid_reason(rings)
        if reason is not None:
            if validation_rule == "repairConvexHull":
                return _mk_polygon([_convex_hull_ring(rings)], geo,
                                   dateline_rule, "none")
            if validation_rule == "repairBuffer0":
                return _buffer0_record(rings, geo, dateline_rule)
            raise WktParseError(f"invalid polygon: {reason}")
    if dateline_rule == "none":
        geo = False  # skip all dateline processing below
    shell = rings[0]
    xs = [p[0] for p in shell]
    raw_w = max(xs) - min(xs)
    if geo and raw_w > 180.0 and max(xs) <= 180.0 and min(xs) >= -180.0:
        shifted = [[(x + 360.0 if x < 0 else x, y) for (x, y) in ring] for ring in rings]
        if max(p[0] for r in shifted for p in r) > 180.0:
            return _cut_pages_at_180(shifted)
        rings = shifted
    elif geo and (max(xs) > 180.0 or min(xs) < -180.0):
        minx0 = min(p[0] for r in rings for p in r)
        s = 0.0
        while minx0 + s < -180.0:
            s += 360.0
        while minx0 + s >= 180.0:
            s -= 360.0
        shifted = [[(x + s, y) for (x, y) in ring] for ring in rings]
        if max(p[0] for r in shifted for p in r) > 180.0:
            return _cut_pages_at_180(shifted)
        rings = shifted
    d = _empty(KIND_POLYGON)
    flat_x, flat_y, offsets = [], [], [0]
    for ring in rings:
        flat_x.extend(p[0] for p in ring)
        flat_y.extend(p[1] for p in ring)
        offsets.append(len(flat_x))
    minx, maxx, miny, maxy = _bbox_of(flat_x, flat_y)
    d.update(xs=flat_x, ys=flat_y, ring_offsets=offsets,
             minx=minx, maxx=maxx, miny=miny, maxy=maxy)
    return d


def _merge_polygon_members(members) -> dict:
    """Merge per-part polygon records into one multipolygon record.

    Rings stay delimited by ring_offsets (even-odd PIP downstream); the
    bbox is the longitude-smart union of part bboxes (ShapeCollection.
    ComputeBoundingBox, ShapeCollection.cs:67-91 + Range.cs:182-202).
    """
    from .extent import union_bboxes
    d = _empty(KIND_MULTIPOLYGON)
    flat_x, flat_y, offsets = [], [], [0]
    for m in members:
        base = len(flat_x)
        flat_x.extend(m["xs"])
        flat_y.extend(m["ys"])
        ro = m["ring_offsets"] or [0, len(m["xs"])]
        offsets.extend(base + o for o in ro[1:])
    minx, maxx, miny, maxy = union_bboxes(
        [(m["minx"], m["maxx"], m["miny"], m["maxy"]) for m in members])
    d.update(xs=flat_x, ys=flat_y, ring_offsets=offsets,
             minx=minx, maxx=maxx, miny=miny, maxy=maxy)
    return d


def _member_rings(m):
    """Polygon record -> list of (xs, ys) numpy ring pairs."""
    ro = m["ring_offsets"] or [0, len(m["xs"])]
    xs = np.asarray(m["xs"], dtype=np.float64)
    ys = np.asarray(m["ys"], dtype=np.float64)
    return [(xs[ro[k]:ro[k + 1]], ys[ro[k]:ro[k + 1]])
            for k in range(len(ro) - 1)]


def _rings_to_closed(rx, ry):
    return ([(float(x), float(y)) for x, y in zip(rx, ry)]
            + [(float(rx[0]), float(ry[0]))])


def _canonical_member_key(rings):
    """Geometry-identity key for a member: each ring opened, rotated to
    its lexicographically-smallest vertex, orientation-normalized (the
    smaller of forward/reverse tuple), rings sorted. Duplicate members
    (same geometry, any starting vertex / winding / ring order) share a
    key; the pairwise relate can't see them (every vertex lies ON the
    other's boundary) and even-odd would XOR them to nothing."""
    out = []
    for xs, ys in rings:
        if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
            xs, ys = xs[:-1], ys[:-1]
        pts = list(zip(xs.tolist(), ys.tolist()))
        if not pts:
            out.append(())
            continue
        k = pts.index(min(pts))
        fwd = tuple(pts[k:] + pts[:k])
        rev_pts = pts[::-1]
        k2 = rev_pts.index(min(rev_pts))
        rev = tuple(rev_pts[k2:] + rev_pts[:k2])
        out.append(min(fwd, rev))
    return tuple(sorted(out))


def _resolve_multi_overlap(members, geo, dateline_rule, validation_rule,
                           allow_multi_overlap) -> dict:
    """MULTIPOLYGON assembly with the reference's COLLECTION-fold
    semantics. The reference parses MULTIPOLYGON into a ShapeCollection
    of independently-validated members (NtsWktShapeParser.cs:184-202,
    MakeCollection) whose relate is the member fold — i.e. UNION
    semantics, overlapping members allowed. This engine stores one
    even-odd ring set, where an overlap would XOR into a phantom hole,
    so overlap is resolved at parse time:

    - interiors disjoint (boundary touching fine) -> plain merge;
    - one member swallows another -> contained member dropped
      (= its union);
    - any other interior overlap (crossings, a member filling another's
      hole, collinear or vertex contact, holed or dateline-paged
      members) -> the exact union of the overlapping members from the
      noded overlay kernel (booleans.union_members, the
      UnionGeometryCollection analog of NtsGeometry.cs:64-94);
    - union rings that do not stitch (snapping created a crossing):
      allowMultiOverlap=true (factory key, NtsSpatialContextFactory.cs:52)
      degrades to the convex hull of the overlapping members — a
      documented approximate union; otherwise the validationRule
      decides (error | repairConvexHull -> hull | repairBuffer0 ->
      hull | none -> merged as-is with the even-odd artifact).
    """
    from .booleans import union_members
    from .union import member_relation

    if validation_rule == "none":
        # merged as-is (even-odd artifact accepted) — hoisted above the
        # O(n^2) pairwise relate, whose verdicts this rule discards
        # (code-review r4)
        return _merge_polygon_members(members)

    rings_per = [_member_rings(m) for m in members]
    n = len(members)
    dropped = [False] * n
    crossing = [False] * n
    any_cross = False
    # duplicate members first (union of a member with itself is the
    # member): the pairwise relate below can't detect them, and the
    # even-odd merge would XOR them away entirely
    seen_keys: dict = {}
    for i in range(n):
        key = _canonical_member_key(rings_per[i])
        if key in seen_keys:
            dropped[i] = True
        else:
            seen_keys[key] = i
    for i in range(n):
        if dropped[i]:
            continue
        for j in range(i + 1, n):
            if dropped[j]:
                continue
            mi, mj = members[i], members[j]
            # bbox gate; skipped for dateline-wrapped boxes (minx>maxx)
            if (mi["minx"] <= mi["maxx"] and mj["minx"] <= mj["maxx"]
                and (min(mi["maxx"], mj["maxx"])
                     < max(mi["minx"], mj["minx"])
                     or min(mi["maxy"], mj["maxy"])
                     < max(mi["miny"], mj["miny"]))):
                continue
            kind = member_relation(rings_per[i], rings_per[j])
            if kind == "a_contains_b":
                dropped[j] = True
            elif kind == "b_contains_a":
                dropped[i] = True
                break
            elif kind == "cross":
                crossing[i] = crossing[j] = True
                any_cross = True
    keep = [k for k in range(n) if not dropped[k]]
    if not any_cross:
        # containment drops (if any) already realize the union
        return _merge_polygon_members([members[k] for k in keep])

    cross_ids = [k for k in keep if crossing[k]]
    rest = [members[k] for k in keep if not crossing[k]]
    unioned = union_members([rings_per[k] for k in cross_ids])
    if unioned:
        # the members are dateline-processed already: no second pass
        recs = [_mk_polygon([_rings_to_closed(rx, ry)], False, "none",
                            "none") for rx, ry in unioned]
        return _merge_polygon_members(recs + rest)
    # the union did not stitch
    if allow_multi_overlap or validation_rule == "repairConvexHull" \
            or validation_rule == "repairBuffer0":
        hull = _convex_hull_ring(
            [_rings_to_closed(rx, ry)
             for k in cross_ids for rx, ry in rings_per[k]])
        return _merge_polygon_members(
            [_mk_polygon([hull], geo, dateline_rule, "none")] + rest)
    raise WktParseError(
        "invalid multipolygon: the union of overlapping components did "
        "not stitch into rings; set allowMultiOverlap=true for an "
        "approximate hull union")


def _mk_multi_parts(parts, kind) -> dict:
    """Multi-polygon (one ring per part, holes not nested across parts)."""
    d = _empty(kind)
    flat_x, flat_y, offsets = [], [], [0]
    for part in parts:
        flat_x.extend(p[0] for p in part)
        flat_y.extend(p[1] for p in part)
        offsets.append(len(flat_x))
    if flat_x:
        minx, maxx, miny, maxy = _bbox_of(flat_x, flat_y)
        d.update(minx=minx, maxx=maxx, miny=miny, maxy=maxy)
    d.update(xs=flat_x, ys=flat_y, ring_offsets=offsets)
    return d


def _maybe_dims(st: _State):
    """Consume optional Z/M/ZM dimension token (WktShapeParser.cs:517-540)."""
    tok = st.peek()
    if tok is not None and tok.upper() in ("Z", "M", "ZM"):
        st.next()


def _maybe_empty(st: _State) -> bool:
    tok = st.peek()
    if tok is not None and tok.upper() == "EMPTY":
        st.next()
        return True
    return False


def _point_xy(st: _State) -> tuple:
    """x y [extra dims ignored] — WktShapeParser.Point (:258-269)."""
    x = st.number()
    y = st.number()
    while True:
        tok = st.peek()
        if tok is None or tok in (",", ")", "("):
            break
        try:
            float(tok)
        except ValueError:
            raise WktParseError(f"unexpected token {tok!r}")
        st.next()
    if st.xy_hook is not None:
        return st.xy_hook(x, y)
    return (x, y)


def _points_list(st: _State) -> list:
    """'(' x y, x y, ... ')' with optional per-point parens (MULTIPOINT)."""
    st.expect("(")
    pts = []
    while True:
        if st.peek() == "(":
            st.next()
            pts.append(_point_xy(st))
            st.expect(")")
        else:
            pts.append(_point_xy(st))
        tok = st.next()
        if tok == ")":
            break
        if tok != ",":
            raise WktParseError(f"expected , or ) got {tok!r}")
    return pts


# -- extensibility registry (ParseShapeByType analog, -----------------------
# Io/WktShapeParser.cs:177-218; WktCustomShapeParserTest.cs:84-113):
# a custom parser is consulted BEFORE the built-in grammar and may
# return None to fall through. For distributed parses the registering
# module must be shipped to workers (--py-files), exactly like any
# kernel extension.
CUSTOM_SHAPE_PARSERS: dict = {}


def register_shape_parser(word: str, fn) -> None:
    """Register `fn(state, geo) -> record | None` for shape keyword
    `word` (case-insensitive). Note: the vectorized POINT fast path
    bypasses the tokenizer, so overriding "POINT" only affects strings
    the fast-path regex rejects — mirror of the reference, where the
    base grammar also runs first (ParseShapeByType calls base)."""
    CUSTOM_SHAPE_PARSERS[word.upper()] = fn


def unregister_shape_parser(word: str) -> None:
    CUSTOM_SHAPE_PARSERS.pop(word.upper(), None)


def parse_shape(wkt: str, geo: bool = True,
                dateline_rule: str = "width180",
                validation_rule: str = "error",
                snap=None, allow_multi_overlap: bool = False) -> dict:
    """Parse one WKT string to a shape record. Raises WktParseError.

    dateline_rule / validation_rule mirror NtsSpatialContextFactory's
    datelineRule (default Width180) and validationRule (default Error)
    — NtsSpatialContextFactory.cs:73-75. `snap` is an optional
    coordinate quantizer from make_snap (precision model).
    """
    if dateline_rule not in DATELINE_RULES:
        raise ValueError(f"unknown dateline rule {dateline_rule!r}")
    if validation_rule not in VALIDATION_RULES:
        raise ValueError(f"unknown validation rule {validation_rule!r}")
    st = _State(wkt, snap=snap)
    shape = _parse_shape(st, geo, dateline_rule, validation_rule,
                         allow_multi_overlap)
    if not st.at_end():
        raise WktParseError(f"trailing input at {st.pos}")
    return shape


def parse_shape_ntsreader(wkt: str, geo: bool = True,
                          dateline_rule: str = "width180",
                          validation_rule: str = "error",
                          snap=None, allow_multi_overlap: bool = False,
                          norm_wrap_longitude: bool = False,
                          world_bounds: tuple = (-180.0, 180.0,
                                                 -90.0, 90.0)) -> dict:
    """Alt WKT reader analog (NtsWKTReaderShapeParser.cs:39-143).

    The reference delegates tokenization to NTS's WKTReader and shares
    NtsWktShapeParser's shape assembly; observable differences vs the
    default grammar (cs:30-37 doc list + CheckCoordinates cs:96-143):
    - ENVELOPE / BUFFER (spatial4n extensions) are unsupported at any
      nesting depth;
    - per-vertex longitude wrap via NormLonDEG when geo &&
      normWrapLongitude (the coordinate filter, cs:108-124 — applied
      BEFORE rect demotion / dateline processing, bypassing the
      precision model);
    - VerifyX/VerifyY bounds check per vertex (SpatialContext.cs
      VerifyX) — out-of-bounds coordinates raise instead of parsing.
    Rect demotion (MakeRectFromPoly), datelineRule, validationRule and
    multi-overlap resolution apply exactly as in the base parser.
    """
    from .normalize import norm_lon_deg

    if dateline_rule not in DATELINE_RULES:
        raise ValueError(f"unknown dateline rule {dateline_rule!r}")
    if validation_rule not in VALIDATION_RULES:
        raise ValueError(f"unknown validation rule {validation_rule!r}")
    minx_b, maxx_b, miny_b, maxy_b = world_bounds

    def xy_hook(x: float, y: float) -> tuple:
        if geo and norm_wrap_longitude:
            x = float(norm_lon_deg(np.array([x], dtype=np.float64))[0])
        if not (minx_b <= x <= maxx_b):
            raise WktParseError(
                f"Bad X value {x} is not in boundary {minx_b} to {maxx_b}")
        if not (miny_b <= y <= maxy_b):
            raise WktParseError(
                f"Bad Y value {y} is not in boundary {miny_b} to {maxy_b}")
        return (x, y)

    st = _State(wkt, snap=snap)
    st.xy_hook = xy_hook
    st.iso_only = True
    shape = _parse_shape(st, geo, dateline_rule, validation_rule,
                         allow_multi_overlap)
    if not st.at_end():
        raise WktParseError(f"trailing input at {st.pos}")
    return shape


def _parse_shape(st: _State, geo: bool, dateline_rule: str = "width180",
                 validation_rule: str = "error",
                 allow_multi_overlap: bool = False) -> dict:
    word = st.next().upper()
    if st.iso_only and word in ("ENVELOPE", "BUFFER"):
        # alt reader: NTS's WKTReader speaks ISO WKT only — the
        # spatial4n grammar extensions are unsupported, at any nesting
        # depth (NtsWKTReaderShapeParser.cs:30-37)
        raise WktParseError(
            f"{word} is a spatial4n WKT extension; unsupported by the "
            "NTS WKTReader grammar")
    custom = CUSTOM_SHAPE_PARSERS.get(word)
    if custom is not None:
        rec = custom(st, geo)
        if rec is not None:
            return rec
    if word == "POINT":
        _maybe_dims(st)
        if _maybe_empty(st):
            return _empty()
        st.expect("(")
        pt = _point_xy(st)
        st.expect(")")
        return _mk_point(*pt)
    if word == "MULTIPOINT":
        _maybe_dims(st)
        if _maybe_empty(st):
            return _empty()
        pts = _points_list(st)
        d = _mk_multi_parts([[p] for p in pts], KIND_MULTIPOINT)
        return d
    if word == "ENVELOPE":
        # CQL extension; arg order x1, x2, maxY, minY! (:312-328)
        st.expect("(")
        x1 = st.number(); st.expect(",")
        x2 = st.number(); st.expect(",")
        y2 = st.number(); st.expect(",")
        y1 = st.number()
        st.expect(")")
        return _mk_rect(x1, x2, y1, y2, geo)
    if word in ("LINESTRING",):
        _maybe_dims(st)
        if _maybe_empty(st):
            return _empty()
        return _mk_line(_points_list(st), 0.0)
    if word == "MULTILINESTRING":
        _maybe_dims(st)
        if _maybe_empty(st):
            return _empty()
        st.expect("(")
        parts = []
        while True:
            parts.append(_points_list(st))
            tok = st.next()
            if tok == ")":
                break
            if tok != ",":
                raise WktParseError(f"expected , or ) got {tok!r}")
        return _mk_multi_parts(parts, KIND_MULTILINESTRING)
    if word == "POLYGON":
        _maybe_dims(st)
        if _maybe_empty(st):
            return _empty()
        st.expect("(")
        rings = []
        while True:
            rings.append(_points_list(st))
            tok = st.next()
            if tok == ")":
                break
            if tok != ",":
                raise WktParseError(f"expected , or ) got {tok!r}")
        # rect demotion (ParsePolygonShape :125-133): a rectangular ring
        # parses as an IRectangle, dateline crossing per DatelineRule.
        # Engine extension: out-of-range coords keep the polygon path
        # (the reference rejects them at VerifyX; we unwrap instead).
        if (len(rings) == 1 and _is_rect_ring(rings[0])
                and (not geo or all(-180.0 <= p[0] <= 180.0
                                    for p in rings[0]))):
            return _rect_from_poly(rings[0], geo, dateline_rule)
        return _mk_polygon(rings, geo, dateline_rule, validation_rule)
    if word == "MULTIPOLYGON":
        _maybe_dims(st)
        if _maybe_empty(st):
            return _empty()
        st.expect("(")
        members = []
        while True:
            st.expect("(")
            rings = []
            while True:
                rings.append(_points_list(st))
                tok = st.next()
                if tok == ")":
                    break
                if tok != ",":
                    raise WktParseError(f"expected , or ) got {tok!r}")
            members.append(  # per-part dateline rule; no rect demotion
                _mk_polygon(rings, geo, dateline_rule, validation_rule))
            tok = st.next()
            if tok == ")":
                break
            if tok != ",":
                raise WktParseError(f"expected , or ) got {tok!r}")
        return _resolve_multi_overlap(members, geo, dateline_rule,
                                      validation_rule, allow_multi_overlap)
    if word == "GEOMETRYCOLLECTION":
        _maybe_dims(st)
        if _maybe_empty(st):
            d = _empty(KIND_COLLECTION)
            d["members"] = []
            return d
        st.expect("(")
        members = []
        while True:
            members.append(_parse_shape(st, geo, dateline_rule,
                                        validation_rule,
                                        allow_multi_overlap))
            tok = st.next()
            if tok == ")":
                break
            if tok != ",":
                raise WktParseError(f"expected , or ) got {tok!r}")
        d = _empty(KIND_COLLECTION)
        d["members"] = members
        real = [m for m in members if m["kind"] != KIND_EMPTY]
        if real:
            from .extent import union_bboxes
            minx, maxx, miny, maxy = union_bboxes(
                [(m["minx"], m["maxx"], m["miny"], m["maxy"]) for m in real])
            d.update(minx=minx, maxx=maxx, miny=miny, maxy=maxy)
        return d
    if word == "BUFFER":
        # spatial4n extension (:228-239): BUFFER(shape, dist)
        st.expect("(")
        inner = _parse_shape(st, geo, dateline_rule, validation_rule,
                             allow_multi_overlap)
        st.expect(",")
        dist = st.number()
        st.expect(")")
        if inner["kind"] == KIND_POINT:
            return _mk_circle(inner["x"], inner["y"], dist, geo)
        if inner["kind"] == KIND_LINESTRING:
            return _mk_line(list(zip(inner["xs"], inner["ys"])), dist)
        raise WktParseError("BUFFER only supported for POINT and LINESTRING")
    raise WktParseError(f"unknown shape type {word!r}")


def parse_wkt_batch(texts, geo: bool = True,
                    dateline_rule: str = "width180",
                    validation_rule: str = "error",
                    snap=None, allow_multi_overlap: bool = False):
    """Batch parse: list/Series of WKT -> (records, errors) parallel lists.

    records[i] is a shape dict or None; errors[i] is None or the reason.
    Fast path: the dominant POINT case is handled by ONE vectorized
    pandas regex extract over the whole batch; only non-point strings
    fall back to the per-string tokenizer.
    """
    import pandas as pd

    s = texts if isinstance(texts, pd.Series) else pd.Series(list(texts), dtype=object)
    n = len(s)
    records: list = [None] * n
    errors: list = [None] * n

    null_mask = s.isna()
    pa_res = _pa_extract_f64(s, _POINT_FAST_PA, ("a", "b"))
    if pa_res is not None:
        pxv, pyv = pa_res
    else:
        ext = s.where(~null_mask, "").astype(str).str.extract(_POINT_FAST, expand=True)
        # numpy's str->float64 is correctly rounded; pandas' to_numeric
        # fast path (xstrtod) is NOT and loses ulps on long decimals
        pxv = np.asarray(ext[0].fillna("nan"), dtype=np.float64)
        pyv = np.asarray(ext[1].fillna("nan"), dtype=np.float64)
    if snap is not None:
        pxv, pyv = snap(pxv), snap(pyv)
    fast = ~np.isnan(pxv) & ~np.isnan(pyv) & ~null_mask.to_numpy()
    for i in np.nonzero(fast)[0]:
        records[i] = _mk_point(float(pxv[i]), float(pyv[i]))
    for i in np.nonzero(null_mask.to_numpy())[0]:
        errors[i] = "null"
    rest = np.nonzero(~fast & ~null_mask.to_numpy())[0]
    vals = s.to_numpy(dtype=object)
    for i in rest:
        try:
            records[i] = parse_shape(vals[i], geo, dateline_rule,
                                     validation_rule, snap,
                                     allow_multi_overlap)
        except Exception as e:  # noqa: BLE001 - kernels never throw
            errors[i] = str(e)[:200]
    return records, errors


def parse_wkt_columns(texts, geo: bool = True,
                      dateline_rule: str = "width180",
                      validation_rule: str = "error",
                      snap=None, allow_multi_overlap: bool = False) -> dict:
    """Columnar batch parse for the Arrow UDF: dict of arrays matching
    the Spark shape-struct schema. The dominant POINT case never builds
    per-row objects — coordinates land straight in the output arrays.
    """
    import pandas as pd

    s = texts if isinstance(texts, pd.Series) else pd.Series(list(texts), dtype=object)
    n = len(s)
    null_mask = s.isna().to_numpy()
    pa_res = _pa_extract_f64(s, _POINT_FAST_PA, ("a", "b"))
    if pa_res is not None:
        pxv, pyv = pa_res
    else:
        ext = s.where(~s.isna(), "").astype(str).str.extract(_POINT_FAST, expand=True)
        pxv = np.asarray(ext[0].fillna("nan"), dtype=np.float64)
        pyv = np.asarray(ext[1].fillna("nan"), dtype=np.float64)
    if snap is not None:
        pxv, pyv = snap(pxv), snap(pyv)
    fast = ~np.isnan(pxv) & ~np.isnan(pyv) & ~null_mask

    kind = np.where(fast, np.int8(KIND_POINT), np.int8(KIND_EMPTY))
    x = np.where(fast, pxv, np.nan)
    y = np.where(fast, pyv, np.nan)
    radius = np.full(n, np.nan)
    minx = x.copy(); maxx = x.copy(); miny = y.copy(); maxy = y.copy()
    xs: list = [None] * n
    ys: list = [None] * n
    ring_offsets: list = [None] * n
    error: list = [None] * n

    vals = s.to_numpy(dtype=object)
    for i in np.nonzero(null_mask)[0]:
        error[i] = "null"
    todo = ~fast & ~null_mask

    # --- vectorized ENVELOPE fast path (arg order x1, x2, maxY, minY) ---
    if todo.any():
        strs = s.where(~s.isna(), "").astype(str)
        pa_env = _pa_extract_f64(s, _ENVELOPE_FAST_PA, ("a", "b", "c", "d"))
        if pa_env is not None:
            e1, e2, e3, e4 = pa_env
        else:
            env = strs.str.extract(_ENVELOPE_FAST, expand=True)
            e1 = np.asarray(env[0].fillna("nan"), dtype=np.float64)
            e2 = np.asarray(env[1].fillna("nan"), dtype=np.float64)
            e3 = np.asarray(env[2].fillna("nan"), dtype=np.float64)
            e4 = np.asarray(env[3].fillna("nan"), dtype=np.float64)
        if snap is not None:
            e1, e2, e3, e4 = snap(e1), snap(e2), snap(e3), snap(e4)
        em = todo & ~np.isnan(e1) & ~np.isnan(e2) & ~np.isnan(e3) & ~np.isnan(e4) \
            & (e4 <= e3)
        if em.any():
            rminx, rmaxx = e1[em], e2[em]
            if geo:  # dateline-edge normalization (SpatialContext.cs:260-267)
                flip_min = (rminx == 180.0) & (rminx != rmaxx)
                flip_max = (rmaxx == -180.0) & (rminx != rmaxx)
                rminx = np.where(flip_min, -180.0, rminx)
                rmaxx = np.where(flip_max, 180.0, rmaxx)
            kind[em] = KIND_RECT
            minx[em] = rminx; maxx[em] = rmaxx
            miny[em] = e4[em]; maxy[em] = e3[em]
            todo = todo & ~em

        # --- vectorized BUFFER(POINT(x y), r) fast path -> circle ---
        pa_buf = _pa_extract_f64(s, _BUFFER_POINT_FAST_PA, ("a", "b", "c"))
        if pa_buf is not None:
            bx, by, br = pa_buf
        else:
            bp = strs.str.extract(_BUFFER_POINT_FAST, expand=True)
            bx = np.asarray(bp[0].fillna("nan"), dtype=np.float64)
            by = np.asarray(bp[1].fillna("nan"), dtype=np.float64)
            br = np.asarray(bp[2].fillna("nan"), dtype=np.float64)
        if snap is not None:  # NormDist snaps too (NtsWktShapeParser)
            bx, by, br = snap(bx), snap(by), snap(br)
        bm = todo & ~np.isnan(bx) & ~np.isnan(by) & ~np.isnan(br) & (br >= 0)
        if bm.any():
            r_c = np.minimum(br[bm], 180.0) if geo else br[bm]
            kind[bm] = KIND_CIRCLE
            x[bm] = bx[bm]; y[bm] = by[bm]; radius[bm] = r_c
            if geo:
                cminx, cmaxx, cminy, cmaxy = geo_circle_bbox(bx[bm], by[bm], r_c)
            else:
                cminx, cmaxx = bx[bm] - r_c, bx[bm] + r_c
                cminy, cmaxy = by[bm] - r_c, by[bm] + r_c
            minx[bm] = cminx; maxx[bm] = cmaxx; miny[bm] = cminy; maxy[bm] = cmaxy
            todo = todo & ~bm

        # --- single-ring POLYGON fast path (no holes, non-dateline) ---
        pm_idx = np.nonzero(todo)[0]
        for i in pm_idx:
            m = _POLYGON_FAST.match(vals[i])
            if not m:
                continue
            try:
                flat = np.fromstring(m.group(1).replace(",", " "), sep=" ")
            except Exception:  # noqa: BLE001
                continue
            if flat.size < 8 or flat.size % 2:
                continue  # <4 points: tokenizer raises "unclosed ring"
            if snap is not None:
                flat = snap(flat)
            vx, vy = flat[0::2], flat[1::2]
            if vx[0] != vx[-1] or vy[0] != vy[-1]:
                continue  # unclosed -> tokenizer path (error)
            if geo and (vx.max() - vx.min() > 180.0
                        or vx.max() > 180.0 or vx.min() < -180.0):
                continue  # dateline rule / out-of-range -> tokenizer path
            ring = list(zip(vx.tolist(), vy.tolist()))
            if _is_rect_ring(ring):
                continue  # rect demotion -> tokenizer path
            if validation_rule != "none" and \
                    _ring_invalid_reason(ring) is not None:
                continue  # error/repair handling -> tokenizer path
            kind[i] = KIND_POLYGON
            xs[i] = vx.tolist(); ys[i] = vy.tolist()
            ring_offsets[i] = [0, int(vx.size)]
            minx[i] = vx.min(); maxx[i] = vx.max()
            miny[i] = vy.min(); maxy[i] = vy.max()
            todo[i] = False

    for i in np.nonzero(todo)[0]:
        try:
            rec = parse_shape(vals[i], geo, dateline_rule, validation_rule,
                              snap, allow_multi_overlap)
            kind[i] = rec["kind"]
            x[i] = rec["x"]; y[i] = rec["y"]; radius[i] = rec["radius"]
            minx[i] = rec["minx"]; maxx[i] = rec["maxx"]
            miny[i] = rec["miny"]; maxy[i] = rec["maxy"]
            xs[i] = rec["xs"] or None
            ys[i] = rec["ys"] or None
            ring_offsets[i] = rec["ring_offsets"] or None
        except Exception as e:  # noqa: BLE001
            error[i] = str(e)[:200]
    return dict(kind=kind, x=x, y=y, radius=radius, minx=minx, maxx=maxx,
                miny=miny, maxy=maxy, xs=xs, ys=ys, ring_offsets=ring_offsets,
                error=error)


def parse_ntsreader_columns(texts, geo: bool = True,
                            dateline_rule: str = "width180",
                            validation_rule: str = "error",
                            snap=None, allow_multi_overlap: bool = False,
                            norm_wrap_longitude: bool = False,
                            world_bounds: tuple = (-180.0, 180.0,
                                                   -90.0, 90.0)) -> dict:
    """Columnar batch parse under the ALT reader's semantics (see
    parse_shape_ntsreader).

    The dominant POINT case keeps the vectorized regex fast path — its
    wrap/verify steps are themselves vectorized (norm_lon_deg + two
    bound comparisons on the extracted coordinate arrays), so point-
    heavy corpora parse at the default grammar's speed. Non-point
    strings go through the per-string alt-reader tokenizer (the
    per-vertex hooks preclude the other regex shortcuts)."""
    import pandas as pd

    from .normalize import norm_lon_deg

    s = texts if isinstance(texts, pd.Series) else pd.Series(list(texts),
                                                             dtype=object)
    n = len(s)
    nan = float("nan")
    kind = np.zeros(n, dtype=np.int8)
    x = np.full(n, nan); y = np.full(n, nan); radius = np.full(n, nan)
    minx = np.full(n, nan); maxx = np.full(n, nan)
    miny = np.full(n, nan); maxy = np.full(n, nan)
    xs: list = [None] * n
    ys: list = [None] * n
    ring_offsets: list = [None] * n
    error: list = [None] * n
    vals = s.to_numpy(dtype=object)

    minx_b, maxx_b, miny_b, maxy_b = world_bounds
    null_mask = s.isna().to_numpy()
    pa_res = _pa_extract_f64(s, _POINT_FAST_PA, ("a", "b"))
    if pa_res is not None:
        pxv, pyv = pa_res
    else:
        ext = s.where(~s.isna(), "").astype(str).str.extract(
            _POINT_FAST, expand=True)
        pxv = np.asarray(ext[0].fillna("nan"), dtype=np.float64)
        pyv = np.asarray(ext[1].fillna("nan"), dtype=np.float64)
    if snap is not None:
        pxv, pyv = snap(pxv), snap(pyv)
    fast = ~np.isnan(pxv) & ~np.isnan(pyv) & ~null_mask
    if fast.any():
        if geo and norm_wrap_longitude:
            pxv = np.where(fast, norm_lon_deg(pxv), pxv)
        bad_x = fast & ((pxv < minx_b) | (pxv > maxx_b))
        bad_y = fast & ~bad_x & ((pyv < miny_b) | (pyv > maxy_b))
        for i in np.nonzero(bad_x)[0]:
            error[i] = (f"Bad X value {pxv[i]} is not in boundary "
                        f"{minx_b} to {maxx_b}")
        for i in np.nonzero(bad_y)[0]:
            error[i] = (f"Bad Y value {pyv[i]} is not in boundary "
                        f"{miny_b} to {maxy_b}")
        ok = fast & ~bad_x & ~bad_y
        kind[ok] = KIND_POINT
        x[ok] = pxv[ok]; y[ok] = pyv[ok]
        minx[ok] = pxv[ok]; maxx[ok] = pxv[ok]
        miny[ok] = pyv[ok]; maxy[ok] = pyv[ok]

    handled = fast | null_mask
    for i in np.nonzero(null_mask)[0]:
        error[i] = "null"
    for i in np.nonzero(~handled)[0]:
        try:
            rec = parse_shape_ntsreader(
                vals[i], geo, dateline_rule, validation_rule, snap,
                allow_multi_overlap, norm_wrap_longitude, world_bounds)
            kind[i] = rec["kind"]
            x[i] = rec["x"]; y[i] = rec["y"]; radius[i] = rec["radius"]
            minx[i] = rec["minx"]; maxx[i] = rec["maxx"]
            miny[i] = rec["miny"]; maxy[i] = rec["maxy"]
            xs[i] = rec["xs"] or None
            ys[i] = rec["ys"] or None
            ring_offsets[i] = rec["ring_offsets"] or None
        except Exception as e:  # noqa: BLE001 - kernels never throw
            error[i] = str(e)[:200]
    return dict(kind=kind, x=x, y=y, radius=radius, minx=minx, maxx=maxx,
                miny=miny, maxy=maxy, xs=xs, ys=ys, ring_offsets=ring_offsets,
                error=error)


# ---------------------------------------------------------------------------
# legacy text format (Io/LegacyShapeReadWriterFormat.cs:46-209)
# ---------------------------------------------------------------------------

def _legacy_latlon(token: str) -> tuple:
    """"LAT,LON" -> (x, y). ParseUtils.ParseLatitudeLongitude semantics
    (Io/ParseUtils.cs:162-191): exactly two comma-separated doubles,
    surrounding spaces trimmed, lat/lon range-validated."""
    parts = token.split(",")
    if len(parts) != 2 or not parts[0].strip() or not parts[1].strip():
        raise WktParseError(
            f"incompatible dimension (2) and values ({token})")
    lat = float(parts[0].strip())
    lon = float(parts[1].strip())
    if lat < -90.0 or lat > 90.0:
        raise WktParseError(f"Invalid latitude: latitudes are range -90 to "
                            f"90: provided lat: [{lat}]")
    if lon < -180.0 or lon > 180.0:
        raise WktParseError(f"Invalid longitude: longitudes are range -180 "
                            f"to 180: provided lon: [{lon}]")
    return lon, lat


def parse_legacy(text: str, geo: bool = True) -> dict:
    """Legacy shape grammar (LegacyShapeReadWriterFormat.cs:110-209):

    - "X Y" point / "minX minY maxX maxY" rect (>4 numbers -> error);
    - "LAT,LON" comma point (ParseUtils lat,lon order, range-checked);
    - "Circle(x y d=r)" with the keyword spelled `d` or `distance`, a
      BARE radius token ("Circle(x y r)"), or a "LAT,LON" first token
      ("CIRCLE( 4.56,1.23 d=7.89 )" centers at x=1.23 y=4.56); extra
      tokens, unknown keys and a missing radius raise like the
      reference's InvalidShapeException paths.

    The reference's reader is case-exact on "Circle("/"CIRCLE(";
    here any case is accepted (the engine has no second-chance WKT
    fallback chain on this path, so lowercase 'circle(' would
    otherwise turn into a confusing number-parse error).
    """
    s = text.strip()
    if not s:
        raise WktParseError("empty legacy shape")
    if s[0].isalpha():
        low = s[:7].lower()
        if low == "circle(":
            idx = s.rfind(")")
            if idx <= 0:
                raise WktParseError(f"unknown legacy shape: {text[:50]!r}")
            tokens = s[7:idx].split()
            if len(tokens) < 2:
                raise WktParseError(f"Missing Distance: {text[:50]!r}")
            if "," in tokens[0]:
                cx, cy = _legacy_latlon(tokens[0])
                next_tok = 1
            else:
                if len(tokens) < 3:
                    raise WktParseError(f"Missing Distance: {text[:50]!r}")
                cx = float(tokens[0])
                cy = float(tokens[1])
                next_tok = 2
            arg = tokens[next_tok]
            eq = arg.find("=")
            if eq > 0:
                key = arg[:eq]
                if key not in ("d", "distance"):
                    raise WktParseError(f"unknown arg: {key} :: {text[:50]!r}")
                radius = float(arg[eq + 1:])
            else:
                radius = float(arg)
            if next_tok < len(tokens) - 1:
                raise WktParseError(
                    f"Extra arguments: {tokens[next_tok + 1]} :: {text[:50]!r}")
            return _mk_circle(cx, cy, radius, geo)
        raise WktParseError(f"unknown legacy shape: {text[:50]!r}")
    if "," in s:
        x, y = _legacy_latlon(s)
        return _mk_point(x, y)
    parts = s.split()
    if len(parts) == 2:
        return _mk_point(float(parts[0]), float(parts[1]))
    if len(parts) == 4:
        # legacy arg order: minX minY maxX maxY
        return _mk_rect(float(parts[0]), float(parts[2]),
                        float(parts[1]), float(parts[3]), geo)
    raise WktParseError(
        f"Only 4 numbers supported (rect) but found more: {text[:50]!r}")


def parse_legacy_columns(texts, geo: bool = True) -> dict:
    """Columnar batch parse of the legacy format (same output layout as
    parse_wkt_columns)."""
    import pandas as pd

    s = texts if isinstance(texts, pd.Series) else pd.Series(list(texts), dtype=object)
    n = len(s)
    kind = np.zeros(n, dtype=np.int8)
    x = np.full(n, np.nan); y = np.full(n, np.nan)
    radius = np.full(n, np.nan)
    minx = np.full(n, np.nan); maxx = np.full(n, np.nan)
    miny = np.full(n, np.nan); maxy = np.full(n, np.nan)
    xs: list = [None] * n
    ys: list = [None] * n
    ring_offsets: list = [None] * n
    error: list = [None] * n
    vals = s.to_numpy(dtype=object)
    for i in range(n):
        if vals[i] is None:
            error[i] = "null"
            continue
        try:
            rec = parse_legacy(str(vals[i]), geo)
            kind[i] = rec["kind"]
            x[i] = rec["x"]; y[i] = rec["y"]; radius[i] = rec["radius"]
            minx[i] = rec["minx"]; maxx[i] = rec["maxx"]
            miny[i] = rec["miny"]; maxy[i] = rec["maxy"]
        except Exception as e:  # noqa: BLE001
            error[i] = str(e)[:200]
    return dict(kind=kind, x=x, y=y, radius=radius, minx=minx, maxx=maxx,
                miny=miny, maxy=maxy, xs=xs, ys=ys, ring_offsets=ring_offsets,
                error=error)


# ---------------------------------------------------------------------------
# WKT writer (shape struct -> text; NtsSpatialContext.ToString analog,
# ENVELOPE arg order per the parser's CQL convention, BUFFER extension)
# ---------------------------------------------------------------------------

def _fmt(v: float, decimals: int | None) -> str:
    if decimals is None:
        s = repr(float(v))
        return s[:-2] if s.endswith(".0") else s
    return f"%.{decimals}f" % float(v)


def format_wkt(kind: int, x, y, radius, minx, maxx, miny, maxy,
               xs, ys, ring_offsets, decimals: int | None = None) -> str:
    f = lambda v: _fmt(v, decimals)  # noqa: E731
    if kind == KIND_POINT:
        return f"POINT ({f(x)} {f(y)})"
    if kind == KIND_RECT:
        return f"ENVELOPE ({f(minx)}, {f(maxx)}, {f(maxy)}, {f(miny)})"
    if kind == KIND_CIRCLE:
        return f"BUFFER(POINT ({f(x)} {f(y)}), {f(radius)})"
    if kind == KIND_MULTIPOINT:
        pts = ", ".join(f"({f(a)} {f(b)})" for a, b in zip(xs, ys))
        return f"MULTIPOINT ({pts})"
    if kind == KIND_LINESTRING:
        pts = ", ".join(f"{f(a)} {f(b)}" for a, b in zip(xs, ys))
        base = f"LINESTRING ({pts})"
        if radius and not np.isnan(radius) and radius > 0:
            return f"BUFFER({base}, {f(radius)})"
        return base
    if kind in (KIND_POLYGON, KIND_MULTIPOLYGON):
        ro = list(ring_offsets) if ring_offsets is not None else [0, len(xs)]
        rings = []
        for k in range(len(ro) - 1):
            seg = ", ".join(f"{f(a)} {f(b)}"
                            for a, b in zip(xs[ro[k]:ro[k + 1]],
                                            ys[ro[k]:ro[k + 1]]))
            rings.append(f"({seg})")
        return "POLYGON (" + ", ".join(rings) + ")"
    raise WktParseError(f"cannot format kind {kind}")


def parse_latlon_batch(texts):
    """'lat, lon' ingest — ParseUtils.ParseLatitudeLongitude
    (Io/ParseUtils.cs:162-191 over ParsePointDouble :100-155):
    comma-separated, surrounding spaces trimmed, exactly two values,
    lat validated to [-90, 90] and lon to [-180, 180]. Returns
    (records, errors) like parse_wkt_batch; lon becomes x, lat y."""
    recs = [None] * len(texts)
    errs = [None] * len(texts)
    for i, t in enumerate(texts):
        if t is None:
            errs[i] = "null lat,lon string"
            continue
        parts = t.split(",")
        if len(parts) != 2 or not parts[0].strip() or not parts[1].strip():
            errs[i] = f"incompatible dimension (2) and values ({t})"
            continue
        try:
            lat = float(parts[0].strip())
            lon = float(parts[1].strip())
        except ValueError as e:
            errs[i] = str(e)
            continue
        if lat < -90.0 or lat > 90.0:
            errs[i] = (f"Invalid latitude: latitudes are range -90 to 90: "
                       f"provided lat: [{lat}]")
            continue
        if lon < -180.0 or lon > 180.0:
            errs[i] = (f"Invalid longitude: longitudes are range -180 to "
                       f"180: provided lon: [{lon}]")
            continue
        recs[i] = _mk_point(lon, lat)
    return recs, errs
