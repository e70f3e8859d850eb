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

Batch parse: `parse_column` turns one Arrow text or bytes column into
the shape-struct field columns for every text/bytes -> shape UDF (WKT,
alt-reader WKT, legacy, lat/lon, binary). Vectorized fast paths take
what they can of the rows still to do: POINT, ENVELOPE and
BUFFER(POINT) by one RE2 extract each, single-ring POLYGONs in one
batched check per vertex count (closure, range, rect demotion,
simplicity), and the alt reader's POINT with its bounds errors and lon
wrap. The per-string parser handles the rest, including every row a
fast path turns away (errors -> reason, no exceptions, mirroring
engine kernels' no-throw rule). Vertex fields come out as flat
`shapes.VertexLists`, built once per batch from the rows that have
vertices.
"""
from __future__ import annotations

import re
from functools import partial
from typing import Optional

import numpy as np

from .circle_box import cartesian_circle_bbox, geo_circle_bbox
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
# single-ring polygon of plain "x y, x y, ..." coordinates, in the
# tokenizer's grammar: every number whole, one comma between points
_POLYGON_FAST = re.compile(
    rf"^\s*POLYGON\s*\(\s*\(\s*({_NUM_RE}\s+{_NUM_RE}"
    rf"(?:\s*,\s*{_NUM_RE}\s+{_NUM_RE})*)\s*\)\s*\)\s*$", re.IGNORECASE)

# RE2 patterns of the fast paths ((?i) = case-insensitive), run by
# pyarrow.compute over the rows still to do
_POINT_RE2 = (rf"(?i)^\s*POINT\s*\(\s*(?P<a>{_NUM_RE})\s+(?P<b>{_NUM_RE})"
              rf"(?:\s+{_NUM_RE})*\s*\)\s*$")
_ENVELOPE_RE2 = (rf"(?i)^\s*ENVELOPE\s*\(\s*(?P<a>{_NUM_RE})\s*,\s*(?P<b>{_NUM_RE})"
                 rf"\s*,\s*(?P<c>{_NUM_RE})\s*,\s*(?P<d>{_NUM_RE})\s*\)\s*$")
_BUFFER_POINT_RE2 = (rf"(?i)^\s*BUFFER\s*\(\s*POINT\s*\(\s*(?P<a>{_NUM_RE})"
                     rf"\s+(?P<b>{_NUM_RE})\s*\)\s*,\s*(?P<c>{_NUM_RE})\s*\)\s*$")


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
        bminx, bmaxx, bminy, bmaxy = (
            float(a) for a in cartesian_circle_bbox(x, y, radius))
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


def _segment_pairs(ax, ay, bx, by, i):
    """Segment i of m rings against its non-adjacent partners j > i + 1
    (less the wrap pair (0, n - 1)): ax, ay, bx, by are (m, n) segment
    start/end arrays. Returns (j0, t, u, proper, touch, overlap): the
    partners are j0, j0 + 1, ...; the rest are (m, partners) arrays, t/u
    the crossing parameters, `proper` interior crossings, `touch`
    endpoint touches, `overlap` collinear segments whose 1-D extents on
    segment i's dominant axis meet."""
    n = ax.shape[1]
    j0 = i + 2
    j = slice(j0, n - 1 if i == 0 else n)
    r_x = (bx[:, i] - ax[:, i])[:, None]
    r_y = (by[:, i] - ay[:, i])[:, None]
    s_x, s_y = bx[:, j] - ax[:, j], by[:, j] - ay[:, j]
    qp_x, qp_y = ax[:, j] - ax[:, i, None], ay[:, j] - ay[:, i, None]
    denom = r_x * s_y - r_y * s_x
    t_num = qp_x * s_y - qp_y * s_x
    u_num = qp_x * r_y - qp_y * r_x
    with np.errstate(divide="ignore", invalid="ignore"):
        t = t_num / denom
        u = u_num / denom
    proper = (denom != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)
    touch = (denom != 0) & (t >= 0) & (t <= 1) & (u >= 0) & (u <= 1) \
        & ~proper
    overlap = (denom == 0) & (t_num == 0)
    if overlap.any():
        use_x = r_x != 0
        a0 = np.where(use_x, ax[:, i, None], ay[:, i, None])
        a1 = np.where(use_x, bx[:, i, None], by[:, i, None])
        b0 = np.where(use_x, ax[:, j], ay[:, j])
        b1 = np.where(use_x, bx[:, j], by[:, j])
        overlap &= (np.maximum(np.minimum(a0, a1), np.minimum(b0, b1))
                    <= np.minimum(np.maximum(a0, a1), np.maximum(b0, b1)))
    return j0, t, u, proper, touch, overlap


def _ring_segments(vx, vy):
    """(m, n) segment start/end arrays of m closed rings given as (m, n+1)
    vertex arrays whose last column repeats the first."""
    ax, ay = vx[:, :-1], vy[:, :-1]
    return ax, ay, np.roll(ax, -1, axis=1), np.roll(ay, -1, axis=1)


def _segment_intersections(ring):
    """All intersections between non-adjacent segments of one closed
    ring. Returns (invalid_reason | None, per_seg) where per_seg[i] is a
    list of (t, (ix, iy)) proper-interior intersection points on segment
    i (each point computed ONCE per pair, so both segments carry the
    bit-identical coordinates)."""
    n = len(ring) - 1
    per_seg: list = [[] for _ in range(n)]
    if n < 3:
        return "too few points", per_seg
    ax, ay, bx, by = _ring_segments(np.array([[p[0] for p in ring]]),
                                    np.array([[p[1] for p in ring]]))
    # repeated consecutive vertices
    if ((ax == bx) & (ay == by)).any():
        return "repeated point", per_seg
    reason = None
    for i in range(n - 2):
        j0, t, u, proper, touch, overlap = _segment_pairs(ax, ay, bx, by, i)
        # endpoint touches / collinear overlap between non-adjacent
        # segments make the ring non-simple => invalid (JTS LinearRing)
        if touch.any():
            reason = reason or "ring self-intersection (vertex touch)"
        if overlap.any():
            reason = reason or "collinear segment overlap"
        if proper.any():
            reason = reason or "ring self-intersection"
            r_x, r_y = bx[0, i] - ax[0, i], by[0, i] - ay[0, i]
            for k in np.nonzero(proper[0])[0]:
                tt = float(t[0, k])
                uu = float(u[0, k])
                ixy = (float(ax[0, i] + tt * r_x), float(ay[0, i] + tt * r_y))
                per_seg[i].append((tt, ixy))
                per_seg[j0 + int(k)].append((uu, ixy))
    for lst in per_seg:
        lst.sort(key=lambda e: e[0])
    return reason, per_seg


def _simple_rings(vx, vy):
    """`_segment_intersections(ring)[0] is None` for m closed rings of
    one vertex count at once: vx, vy are (m, k) arrays of finite
    coordinates whose last column repeats the first. One
    `_segment_pairs` step per segment over the rings not yet found
    invalid, so memory stays O(m * k)."""
    ax, ay, bx, by = _ring_segments(vx, vy)
    ok = ~((ax == bx) & (ay == by)).any(axis=1)  # repeated point
    live = np.nonzero(ok)[0]
    segs = [a[live] for a in (ax, ay, bx, by)]
    for i in range(ax.shape[1] - 2):
        if not live.size:
            break
        _, _, _, proper, touch, overlap = _segment_pairs(*segs, i)
        bad = (proper | touch | overlap).any(axis=1)
        if bad.any():
            ok[live[bad]] = False
            live = live[~bad]
            segs = [a[~bad] for a in segs]
    return ok


def _fast_ring_rows(vx, vy, geo: bool, validation_rule: str):
    """Which of m single-ring polygons, given as (m, k) vertex arrays of
    one vertex count, the POLYGON fast path emits as they are: closed,
    finite, within [-180, 180] and at most 180 wide under `geo`, not a
    possible rectangle (a 5-vertex ring with axis-parallel edges: rect
    demotion) and, unless validation is off, simple.
    Every other row goes to the tokenizer, which owns the dateline
    rules, rect demotion, repairs and error texts."""
    ok = ((vx[:, 0] == vx[:, -1]) & (vy[:, 0] == vy[:, -1])
          & np.isfinite(vx).all(axis=1) & np.isfinite(vy).all(axis=1))
    if geo:
        lo, hi = vx.min(axis=1), vx.max(axis=1)
        ok &= (hi - lo <= 180.0) & (hi <= 180.0) & (lo >= -180.0)
    if vx.shape[1] == 5:  # every rect ring has axis-parallel edges
        ok &= ~((vx[:, :4] == vx[:, 1:]) | (vy[:, :4] == vy[:, 1:])).all(axis=1)
    if validation_rule != "none" and ok.any():
        ok[ok] = _simple_rings(vx[ok], vy[ok])
    return ok


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
        # every vertex of every hole against the shell, in one call
        hx = np.array([p[0] for hole in rings[1:] for p in hole])
        hy = np.array([p[1] for hole in rings[1:] for p in hole])
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


def _resolve_multi_overlap(members, geo, dateline_rule, validation_rule,
                           allow_multi_overlap) -> dict:
    """MULTIPOLYGON assembly with the reference's COLLECTION-fold
    semantics. The reference parses MULTIPOLYGON into a ShapeCollection
    of independently-validated members (NtsWktShapeParser.cs:184-202,
    MakeCollection) whose relate is the member fold — i.e. UNION
    semantics, overlapping members allowed. This engine stores one
    even-odd ring set, where an overlap would XOR into a phantom hole,
    so overlap is resolved at parse time. Each member pair whose
    bboxes meet is classified on the noded arrangement of the two
    (booleans.member_overlap):

    - interiors disjoint (boundary touching fine) -> plain merge;
    - one member covers another (duplicates included) -> covered
      member dropped (= its union);
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
    from .booleans import member_overlap, union_members

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
            kind = member_overlap(rings_per[i], rings_per[j])
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


# ---------------------------------------------------------------------------
# batch parse: one Arrow text/bytes column -> the shape-struct field columns
# ---------------------------------------------------------------------------

class _Columns:
    """The shape-struct fields of one batch while they are filled:
    `kind` and the scalar fields as NumPy arrays (NaN reads null),
    `error` as a list and each vertex field as a {row: values} dict (a
    row not in it reads null)."""

    def __init__(self, n: int):
        from ..shapes import SCALAR_FIELDS, VERTEX_FIELDS  # no Spark at import
        self.kind = np.zeros(n, dtype=np.int8)
        self.scalars = {f: np.full(n, np.nan) for f in SCALAR_FIELDS}
        self.verts = {f: {} for f in VERTEX_FIELDS}
        self.error: list = [None] * n

    def put(self, rows, kind, **scalars):
        self.kind[rows] = kind
        for f, v in scalars.items():
            self.scalars[f][rows] = v

    def put_records(self, rows, values: list, parse_one):
        """Parse values[k] into row rows[k] with `parse_one`; an
        exception becomes the row's error (kernels never throw)."""
        done, recs = [], []
        for i, v in zip(rows.tolist(), values):
            try:
                rec = parse_one(v)
            except Exception as e:  # noqa: BLE001
                self.error[i] = str(e)[:200]
                continue
            done.append(i)
            recs.append(rec)
            for f, col in self.verts.items():
                if rec[f] is not None and len(rec[f]):
                    col[i] = rec[f]
        if recs:
            self.put(np.asarray(done), [r["kind"] for r in recs],
                     **{f: np.array([r[f] for r in recs], dtype=np.float64)
                        for f in self.scalars})

    def columns(self) -> dict:
        from ..shapes import VertexLists
        lists = {}
        for f, col in self.verts.items():
            rows = sorted(col)
            lists[f] = VertexLists.from_rows(
                len(self.kind), rows, [col[i] for i in rows],
                np.int64 if f == "ring_offsets" else np.float64)
        return dict(kind=self.kind, **self.scalars, **lists, error=self.error)


def parse_column(values, parse_one, fast=()) -> dict:
    """One text or bytes column -> the shape-struct field columns.

    `values` is the Arrow string, large_string or binary array a UDF
    receives (a list or pandas Series is taken as strings). A null row
    reads error "null". Each fast path, `fast[k](strs, rows, out) ->
    taken`, handles what it can of the rows still to do in vectorized
    passes (`strs` is `values` at `rows`; it writes into `out` and
    returns the mask of the rows it took, with or without an error).
    The rest go through `parse_one(value) -> record` one value at a
    time; an exception becomes the row's error, cut at 200 characters.

    Returns a dict for `shapes.encode`: `kind` int8, the scalar fields
    float64 (NaN reads null), `xs`/`ys`/`ring_offsets` as
    `shapes.VertexLists` (an empty list reads null) and `error` a list.
    """
    import pyarrow as pa

    if not isinstance(values, pa.Array):
        values = pa.array(values, type=pa.string(), from_pandas=True)
    out = _Columns(len(values))
    valid = values.is_valid().to_numpy(zero_copy_only=False)
    for i in np.nonzero(~valid)[0].tolist():
        out.error[i] = "null"
    todo = np.nonzero(valid)[0]
    for path in fast:
        if not len(todo):
            break
        taken = path(values.take(todo), todo, out)
        todo = todo[~taken]
    if len(todo):
        out.put_records(todo, values.take(todo).to_pylist(), parse_one)
    return out.columns()


def _extract_f64(strs, pattern: str, groups: str) -> list:
    """The named groups of RE2 `pattern` as float64 arrays, NaN where a
    row does not match. Arrow's string -> double cast rounds correctly,
    as float() does, and is total on what _NUM_RE matches ('1e999'
    reads inf)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ext = pc.extract_regex(strs, pattern)
    return [pc.struct_field(ext, g).cast(pa.float64())
            .to_numpy(zero_copy_only=False) for g in groups]


def _point_rows(strs, snap):
    """The rows of POINT (x y ...): their mask and their snapped x, y."""
    x, y = _extract_f64(strs, _POINT_RE2, "ab")
    if snap is not None:
        x, y = snap(x), snap(y)
    ok = ~np.isnan(x) & ~np.isnan(y)
    return ok, x[ok], y[ok]


def _point_fast(strs, rows, out, snap=None):
    """POINT (x y ...) -> point."""
    ok, x, y = _point_rows(strs, snap)
    out.put(rows[ok], KIND_POINT, x=x, y=y, minx=x, maxx=x, miny=y, maxy=y)
    return ok


def _ntsreader_point_fast(strs, rows, out, geo=True, snap=None,
                          norm_wrap_longitude=False,
                          world_bounds=(-180.0, 180.0, -90.0, 90.0)):
    """POINT (x y ...) under the alt reader: lon wrap under
    `norm_wrap_longitude`, then the bounds check, whose failure is the
    row's error (parse_shape_ntsreader's xy_hook, vectorized)."""
    ok, x, y = _point_rows(strs, snap)
    rows = rows[ok]
    if geo and norm_wrap_longitude:
        x = norm_lon_deg(x)
    minx_b, maxx_b, miny_b, maxy_b = world_bounds
    bad_x = ~((x >= minx_b) & (x <= maxx_b))  # NaN (inf wrapped) too
    bad_y = ~bad_x & ~((y >= miny_b) & (y <= maxy_b))
    for i, v in zip(rows[bad_x], x[bad_x]):
        out.error[i] = f"Bad X value {v} is not in boundary {minx_b} to {maxx_b}"
    for i, v in zip(rows[bad_y], y[bad_y]):
        out.error[i] = f"Bad Y value {v} is not in boundary {miny_b} to {maxy_b}"
    good = ~bad_x & ~bad_y
    x, y = x[good], y[good]
    out.put(rows[good], KIND_POINT, x=x, y=y, minx=x, maxx=x, miny=y, maxy=y)
    return ok


def _envelope_fast(strs, rows, out, geo=True, snap=None):
    """ENVELOPE (x1, x2, maxY, minY) with minY <= maxY -> rect."""
    x1, x2, y2, y1 = _extract_f64(strs, _ENVELOPE_RE2, "abcd")
    if snap is not None:
        x1, x2, y2, y1 = snap(x1), snap(x2), snap(y2), snap(y1)
    ok = ~(np.isnan(x1) | np.isnan(x2) | np.isnan(y2) | np.isnan(y1)) \
        & (y1 <= y2)
    x1, x2 = x1[ok], x2[ok]
    if geo:  # _mk_rect's dateline-edge flip, one edge at most
        flip_min = (x1 == 180.0) & (x1 != x2)
        flip_max = ~flip_min & (x2 == -180.0) & (x1 != x2)
        x1 = np.where(flip_min, -180.0, x1)
        x2 = np.where(flip_max, 180.0, x2)
    out.put(rows[ok], KIND_RECT, minx=x1, maxx=x2, miny=y1[ok], maxy=y2[ok])
    return ok


def _buffer_point_fast(strs, rows, out, geo=True, snap=None):
    """BUFFER(POINT(x y), r) with r >= 0 -> circle (_mk_circle)."""
    x, y, r = _extract_f64(strs, _BUFFER_POINT_RE2, "abc")
    if snap is not None:  # NormDist snaps too (NtsWktShapeParser)
        x, y, r = snap(x), snap(y), snap(r)
    ok = ~(np.isnan(x) | np.isnan(y) | np.isnan(r)) & (r >= 0)
    if not ok.any():
        return ok
    x, y, r = x[ok], y[ok], r[ok]
    if geo:
        r = np.minimum(r, 180.0)
        minx, maxx, miny, maxy = geo_circle_bbox(x, y, r)
    else:
        minx, maxx, miny, maxy = cartesian_circle_bbox(x, y, r)
    out.put(rows[ok], KIND_CIRCLE, x=x, y=y, radius=r,
            minx=minx, maxx=maxx, miny=miny, maxy=maxy)
    return ok


def _polygon_fast(strs, rows, out, geo=True, validation_rule="error",
                  snap=None):
    """Single-ring POLYGON ((x y, ...)) of plain coordinates, checked in
    one batched pass per vertex count (_fast_ring_rows)."""
    import pyarrow.compute as pc

    taken = np.zeros(len(strs), dtype=bool)
    cand = np.nonzero(pc.match_substring(strs, "POLYGON", ignore_case=True)
                      .to_numpy(zero_copy_only=False))[0]
    by_count: dict = {}
    for k, text in zip(cand.tolist(), strs.take(cand).to_pylist()):
        m = _POLYGON_FAST.match(text)
        if not m:
            continue
        body = m.group(1)
        flat = np.fromstring(body.replace(",", " "), sep=" ")
        if flat.size != 2 * body.count(",") + 2:
            continue  # read short of the end: not the ring the text spells
        if flat.size < 8:
            continue  # <4 points: tokenizer raises "unclosed ring"
        ks, flats = by_count.setdefault(flat.size, ([], []))
        ks.append(k)
        flats.append(flat)
    for ks, flats in by_count.values():
        ks = np.asarray(ks)
        flat = np.stack(flats)
        if snap is not None:
            flat = snap(flat)
        vx, vy = flat[:, 0::2], flat[:, 1::2]
        ok = _fast_ring_rows(vx, vy, geo, validation_rule)
        ks, vx, vy = ks[ok], vx[ok], vy[ok]
        out.put(rows[ks], KIND_POLYGON, minx=vx.min(axis=1),
                maxx=vx.max(axis=1), miny=vy.min(axis=1), maxy=vy.max(axis=1))
        r = rows[ks].tolist()
        out.verts["xs"].update(zip(r, vx))
        out.verts["ys"].update(zip(r, vy))
        out.verts["ring_offsets"].update(
            dict.fromkeys(r, np.array([0, vx.shape[1]])))
        taken[ks] = True
    return taken


def parse_wkt_columns(texts, geo: bool = True,
                      dateline_rule: str = "width180",
                      validation_rule: str = "error",
                      snap=None, allow_multi_overlap: bool = False) -> dict:
    """WKT column -> shape-struct field columns (parse_column with
    parse_shape and the POINT, ENVELOPE, BUFFER(POINT) and single-ring
    POLYGON fast paths)."""
    kw = dict(geo=geo, snap=snap)
    return parse_column(
        texts,
        lambda t: parse_shape(t, geo, dateline_rule, validation_rule, snap,
                              allow_multi_overlap),
        (partial(_point_fast, snap=snap), partial(_envelope_fast, **kw),
         partial(_buffer_point_fast, **kw),
         partial(_polygon_fast, validation_rule=validation_rule, **kw)))


def parse_ntsreader_columns(texts, geo: bool = True,
                            dateline_rule: str = "width180",
                            validation_rule: str = "error",
                            snap=None, allow_multi_overlap: bool = False,
                            norm_wrap_longitude: bool = False,
                            world_bounds: tuple = (-180.0, 180.0,
                                                   -90.0, 90.0)) -> dict:
    """WKT column under the alt reader (parse_shape_ntsreader) ->
    shape-struct field columns. Only POINT has a fast path: the
    per-vertex wrap and bounds hooks rule out the other shortcuts."""
    return parse_column(
        texts,
        lambda t: parse_shape_ntsreader(
            t, geo, dateline_rule, validation_rule, snap,
            allow_multi_overlap, norm_wrap_longitude, world_bounds),
        (partial(_ntsreader_point_fast, geo=geo, snap=snap,
                 norm_wrap_longitude=norm_wrap_longitude,
                 world_bounds=world_bounds),))


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


def parse_latlon(text: str) -> dict:
    """'lat, lon' -> point record (ParseUtils.ParseLatitudeLongitude,
    Io/ParseUtils.cs:162-191 over ParsePointDouble :100-155); lon
    becomes x, lat y."""
    return _mk_point(*_legacy_latlon(text))


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
    if kind == KIND_EMPTY:
        return "POLYGON EMPTY"
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
        rings = [(xs[ro[k]:ro[k + 1]], ys[ro[k]:ro[k + 1]])
                 for k in range(len(ro) - 1)]

        def polygon(part):
            return "(" + ", ".join(
                "(" + ", ".join(f"{f(a)} {f(b)}" for a, b in zip(rx, ry)) + ")"
                for rx, ry in part) + ")"
        if kind == KIND_POLYGON:
            return "POLYGON " + polygon(rings)
        # the flat even-odd ring list regrouped into [shell, holes...]
        # members, as the WKB writer groups them
        from .binary import _nest_rings
        return ("MULTIPOLYGON ("
                + ", ".join(polygon(part) for part in _nest_rings(rings)) + ")")
    raise WktParseError(f"cannot format kind {kind}")
