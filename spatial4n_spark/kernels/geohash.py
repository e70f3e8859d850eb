"""Geohash cell-index kernels, vectorized.

Semantics: Spatial4n.Core/Util/GeohashUtils.cs — base32 interleaved
bisection encode (:78-144), boundary decode (:163-204), sub-cells
(:207-216), precision pick (:226-267). The geohash is this engine's
cell id (H3/S2-style role): it keys the distributed spatial joins and
tile-cover assignment, and parent rollup is prefix truncation.

Encoding is vectorized: `precision` rounds of exact interval-bisection
NumPy ops over the whole batch (the interval endpoints are dyadic
multiples of 360/2^k, exactly representable, so this reproduces the
reference's iterative encode bit-for-bit).
"""
from __future__ import annotations

import numpy as np

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
_BASE32_ARR = np.frombuffer(BASE32.encode("ascii"), dtype=np.uint8)
_BASE32_INDEX = np.full(128, -500, dtype=np.int32)
for _i, _c in enumerate(BASE32):
    _BASE32_INDEX[ord(_c)] = _i

MAX_PRECISION = 24


def _load_cell_sizes():
    """Cell height/width tables. GeohashUtils.cs:240-267."""
    lat = np.empty(MAX_PRECISION + 1)
    lon = np.empty(MAX_PRECISION + 1)
    lat[0] = 180.0
    lon[0] = 360.0
    even = False
    for i in range(1, MAX_PRECISION + 1):
        lat[i] = lat[i - 1] / (8.0 if even else 4.0)
        lon[i] = lon[i - 1] / (4.0 if even else 8.0)
        even = not even
    return lat, lon


HASH_LEN_TO_LAT_HEIGHT, HASH_LEN_TO_LON_WIDTH = _load_cell_sizes()


def encode(lat, lon, precision: int = 12) -> np.ndarray:
    """Encode lat/lon arrays to geohash strings of `precision` chars.

    Bit k (lon on even global-bit positions, lat on odd) is 1 iff the
    coordinate is strictly greater than the running interval midpoint —
    GeohashUtils.EncodeLatLon (GeohashUtils.cs:90-144).
    """
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    lat, lon = np.broadcast_arrays(lat, lon)
    n = lat.shape[0]
    nbits = precision * 5
    # per-coordinate interval state
    lat_lo = np.full(n, -90.0)
    lat_hi = np.full(n, 90.0)
    lon_lo = np.full(n, -180.0)
    lon_hi = np.full(n, 180.0)
    chars = np.empty((precision, n), dtype=np.uint8)
    ch = np.zeros(n, dtype=np.int32)
    bit_weights = (16, 8, 4, 2, 1)
    is_even = True
    bit = 0
    ci = 0
    for _ in range(nbits):
        if is_even:
            mid = (lon_lo + lon_hi) * 0.5
            hi_mask = lon > mid
            ch |= np.where(hi_mask, bit_weights[bit], 0)
            lon_lo = np.where(hi_mask, mid, lon_lo)
            lon_hi = np.where(hi_mask, lon_hi, mid)
        else:
            mid = (lat_lo + lat_hi) * 0.5
            hi_mask = lat > mid
            ch |= np.where(hi_mask, bit_weights[bit], 0)
            lat_lo = np.where(hi_mask, mid, lat_lo)
            lat_hi = np.where(hi_mask, lat_hi, mid)
        is_even = not is_even
        if bit < 4:
            bit += 1
        else:
            chars[ci] = _BASE32_ARR[ch]
            ci += 1
            bit = 0
            ch[:] = 0
    # (precision, n) uint8 -> n strings
    return chars.T.copy().view(f"S{precision}").reshape(n).astype(str)


def cell_indices(lat, lon, precision: int) -> tuple[np.ndarray, np.ndarray]:
    """Integer (lon_idx, lat_idx) of the cell containing each point.

    Same bisection semantics as encode() (strictly-greater goes high),
    so indices_to_hash(cell_indices(...)) == encode(...). Lon gets
    ceil(5p/2) bits, lat gets floor(5p/2).
    """
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    lat, lon = np.broadcast_arrays(lat, lon)
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    lon_idx = np.zeros(lon.shape, dtype=np.int64)
    lat_idx = np.zeros(lat.shape, dtype=np.int64)
    lo, hi = np.full(lon.shape, -180.0), np.full(lon.shape, 180.0)
    for _ in range(lon_bits):
        mid = (lo + hi) * 0.5
        m = lon > mid
        lon_idx = (lon_idx << 1) | m
        lo = np.where(m, mid, lo)
        hi = np.where(m, hi, mid)
    lo, hi = np.full(lat.shape, -90.0), np.full(lat.shape, 90.0)
    for _ in range(lat_bits):
        mid = (lo + hi) * 0.5
        m = lat > mid
        lat_idx = (lat_idx << 1) | m
        lo = np.where(m, mid, lo)
        hi = np.where(m, hi, mid)
    return lon_idx, lat_idx


def indices_to_hash(lon_idx, lat_idx, precision: int) -> np.ndarray:
    """Inverse of cell_indices: interleave (lon first) and base32-encode."""
    lon_idx = np.atleast_1d(np.asarray(lon_idx, dtype=np.int64))
    lat_idx = np.atleast_1d(np.asarray(lat_idx, dtype=np.int64))
    lon_idx, lat_idx = np.broadcast_arrays(lon_idx, lat_idx)
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    code = np.zeros(lon_idx.shape, dtype=np.int64)
    li, ti = lon_bits, lat_bits  # remaining bits
    for b in range(nbits):
        if b % 2 == 0:
            li -= 1
            bit = (lon_idx >> li) & 1
        else:
            ti -= 1
            bit = (lat_idx >> ti) & 1
        code = (code << 1) | bit
    chars = np.empty((precision, lon_idx.shape[0]), dtype=np.uint8)
    for c in range(precision):
        shift = nbits - 5 * (c + 1)
        chars[c] = _BASE32_ARR[(code >> shift) & 31]
    return chars.T.copy().view(f"S{precision}").reshape(lon_idx.shape[0]).astype(str)


def cell_code(lat, lon, precision: int) -> np.ndarray:
    """Int64 cell id: the interleaved geohash bit code (no base32
    string). Bit-compatible with encode(): indices_to_hash of the
    de-interleaved code equals the string geohash. The join fast path —
    int equi-join keys beat string keys and skip string materialization.
    """
    lon_idx, lat_idx = cell_indices(lat, lon, precision)
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    code = np.zeros(lon_idx.shape, dtype=np.int64)
    li, ti = lon_bits, lat_bits
    for b in range(nbits):
        if b % 2 == 0:
            li -= 1
            bit = (lon_idx >> li) & 1
        else:
            ti -= 1
            bit = (lat_idx >> ti) & 1
        code = (code << 1) | bit
    return code


def _interleave_codes(lon_idx, lat_idx, precision: int) -> np.ndarray:
    nbits = precision * 5
    lon_bits = (nbits + 1) // 2
    lat_bits = nbits // 2
    code = np.zeros(np.broadcast(lon_idx, lat_idx).shape, dtype=np.int64)
    li, ti = lon_bits, lat_bits
    for b in range(nbits):
        if b % 2 == 0:
            li -= 1
            bit = (np.asarray(lon_idx) >> li) & 1
        else:
            ti -= 1
            bit = (np.asarray(lat_idx) >> ti) & 1
        code = (code << 1) | bit
    return code


def cover_codes_bbox(minx, maxx, miny, maxy, precision: int) -> list:
    """Int64-code variant of cover_cells_bbox (the join fast path)."""
    nbits = precision * 5
    lon_n = 1 << ((nbits + 1) // 2)
    ilo_lon, ilo_lat = cell_indices([miny], [minx], precision)
    ihi_lon, ihi_lat = cell_indices([maxy], [maxx], precision)
    lat_range = np.arange(ilo_lat[0], ihi_lat[0] + 1)
    if minx <= maxx:
        lon_range = np.arange(ilo_lon[0], ihi_lon[0] + 1)
    else:
        lon_range = np.concatenate([np.arange(ilo_lon[0], lon_n),
                                    np.arange(0, ihi_lon[0] + 1)])
    lon_g, lat_g = np.meshgrid(lon_range, lat_range)
    return _interleave_codes(lon_g.ravel(), lat_g.ravel(), precision).tolist()


_MORTON_TABLES: dict = {}


def _morton_tables(precision: int):
    """(table_lon, table_lat): precomputed interleave contributions of
    each axis index. Interleaving distributes over OR with disjoint bit
    positions, so morton(li, ti) == table_lon[li] | table_lat[ti] —
    bit-identical to _interleave_codes without its per-bit loop."""
    t = _MORTON_TABLES.get(precision)
    if t is None:
        nbits = precision * 5
        lon_n = 1 << ((nbits + 1) // 2)
        lat_n = 1 << (nbits // 2)
        t = (_interleave_codes(np.arange(lon_n), np.zeros(lon_n, np.int64),
                               precision),
             _interleave_codes(np.zeros(lat_n, np.int64), np.arange(lat_n),
                               precision))
        _MORTON_TABLES[precision] = t
    return t


def cover_codes_bbox_batch(minx, maxx, miny, maxy, precision: int) -> list:
    """Batch cover_codes_bbox: one vectorized index pass for the whole
    batch + tiny table-lookup per row (no per-bit interleave loop).

    A NaN minx gives an empty cover; a wrap whose ends share a lon cell
    lists that cell twice. The test oracle of the engine's codegen cover
    (functions.with_cover_codes), which equals it as a set per row."""
    minx = np.asarray(minx, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64)
    maxy = np.asarray(maxy, dtype=np.float64)
    nbits = precision * 5
    lon_n = 1 << ((nbits + 1) // 2)
    lo_lon, lo_lat = cell_indices(miny, minx, precision)
    hi_lon, hi_lat = cell_indices(maxy, maxx, precision)
    tlon, tlat = _morton_tables(precision)
    out = []
    nanrow = np.isnan(minx)
    wrap = minx > maxx
    for i in range(len(minx)):
        if nanrow[i]:
            out.append([])
            continue
        if wrap[i]:  # dateline-crossing: [minx..180] + [-180..maxx]
            lon_r = np.concatenate([np.arange(lo_lon[i], lon_n),
                                    np.arange(0, hi_lon[i] + 1)])
        else:
            lon_r = np.arange(lo_lon[i], hi_lon[i] + 1)
        lat_r = np.arange(lo_lat[i], hi_lat[i] + 1)
        out.append((tlon[lon_r][:, None] | tlat[lat_r][None, :])
                   .ravel().tolist())
    return out


def cover_cells_bbox(minx, maxx, miny, maxy, precision: int) -> list:
    """All cells at `precision` overlapping a (dateline-aware) bbox.

    The tile-cover operator: equivalent to the reference's recursive
    GetSubGeohashes child expansion with bbox pruning (GeohashUtils.cs
    :207-216) evaluated at a fixed level — for a rectangle the surviving
    set is exactly the index grid range. Returns a python list of cell
    ids for ONE bbox.
    """
    nbits = precision * 5
    lon_n = 1 << ((nbits + 1) // 2)
    lat_n = 1 << (nbits // 2)
    ilo_lon, ilo_lat = cell_indices([miny], [minx], precision)
    ihi_lon, ihi_lat = cell_indices([maxy], [maxx], precision)
    lat_range = np.arange(ilo_lat[0], ihi_lat[0] + 1)
    if minx <= maxx:
        lon_range = np.arange(ilo_lon[0], ihi_lon[0] + 1)
    else:  # dateline-crossing: [minx..180] + [-180..maxx]
        lon_range = np.concatenate([np.arange(ilo_lon[0], lon_n),
                                    np.arange(0, ihi_lon[0] + 1)])
    lon_g, lat_g = np.meshgrid(lon_range, lat_range)
    return indices_to_hash(lon_g.ravel(), lat_g.ravel(), precision).tolist()


def decode_boundary(geohashes) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Geohash strings -> (minx, maxx, miny, maxy). GeohashUtils.cs:163-204.

    Vectorized per character position; supports mixed lengths (shorter
    hashes stop refining early).
    """
    gh = np.atleast_1d(np.asarray(geohashes, dtype=str))
    n = gh.shape[0]
    maxlen = max((len(s) for s in gh), default=0)
    miny = np.full(n, -90.0)
    maxy = np.full(n, 90.0)
    minx = np.full(n, -180.0)
    maxx = np.full(n, 180.0)
    if maxlen == 0:
        return minx, maxx, miny, maxy
    # pad to fixed width and view as a (n, maxlen) codepoint matrix
    # (padding char is masked out by the per-row length check below)
    padded = np.array([s.lower().ljust(maxlen, "0") for s in gh], dtype=f"U{maxlen}")
    mat = padded.view(np.uint32).reshape(n, -1)[:, :maxlen]
    lengths = np.array([len(s) for s in gh])
    is_even = True
    for pos in range(maxlen):
        codes = mat[:, pos]
        active = lengths > pos
        cd = np.where(active, _BASE32_INDEX[np.clip(codes, 0, 127)], 0)
        for mask in (16, 8, 4, 2, 1):
            hit = (cd & mask) != 0
            if is_even:
                mid = (minx + maxx) * 0.5
                minx = np.where(active & hit, mid, minx)
                maxx = np.where(active & ~hit, mid, maxx)
            else:
                mid = (miny + maxy) * 0.5
                miny = np.where(active & hit, mid, miny)
                maxy = np.where(active & ~hit, mid, maxy)
            is_even = not is_even
    return minx, maxx, miny, maxy


def decode_point(geohashes) -> tuple[np.ndarray, np.ndarray]:
    """Center point (lon, lat) of each cell. GeohashUtils.cs:152-158."""
    minx, maxx, miny, maxy = decode_boundary(geohashes)
    return (minx + maxx) / 2.0, (miny + maxy) / 2.0


def sub_cells(base: str) -> list[str]:
    """The 32 child cells, sorted. GeohashUtils.cs:207-216."""
    return [base + c for c in BASE32]


def lookup_hash_len_for_width_height(lon_err: float, lat_err: float) -> int:
    """Shortest precision whose cell is strictly smaller than the given
    width/height. GeohashUtils.cs:226-237."""
    for ln in range(1, MAX_PRECISION):
        if HASH_LEN_TO_LAT_HEIGHT[ln] < lat_err and HASH_LEN_TO_LON_WIDTH[ln] < lon_err:
            return ln
    return MAX_PRECISION


def lookup_degrees_size_for_hash_len(hash_len: int) -> tuple[float, float]:
    """(lat_height, lon_width) of cells at a precision. GeohashUtils.cs:218-221."""
    return HASH_LEN_TO_LAT_HEIGHT[hash_len], HASH_LEN_TO_LON_WIDTH[hash_len]


# --- cover sizes ---------------------------------------------------------

def cover_counts_bbox(minx, maxx, miny, maxy, level: int) -> np.ndarray:
    """EXACT cover-cell count of each bbox at `level` (dateline-aware),
    without materializing the cover: per-axis corner indices give the
    grid-range extent directly. Vectorized over the batch."""
    minx = np.asarray(minx, dtype=np.float64)
    maxx = np.asarray(maxx, dtype=np.float64)
    lo_lon, lo_lat = cell_indices(miny, minx, level)
    hi_lon, hi_lat = cell_indices(maxy, maxx, level)
    lon_n = 1 << ((level * 5 + 1) // 2)
    ncols = np.where(minx <= maxx, hi_lon - lo_lon + 1,
                     lon_n - lo_lon + hi_lon + 1)
    return ncols * (hi_lat - lo_lat + 1)
