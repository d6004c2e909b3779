"""Hierarchical quadkey cell codec (H3/S2-equivalent discrete grid).

The sandbox has no h3/s2, so the engine's spatial index is a Web
Mercator quadtree implemented in numpy: a cell *is* an XYZ tile, so the
same codec serves three roles:

  1. spatial index for semi-joins / partition pruning (AOI → cover set),
  2. tile id for the MBTiles-equivalent sink (reference
     nontabular.py:103-108 fetches XYZ tiles; we *assign* features to
     XYZ tiles),
  3. skew-handling unit: cell prefixes are the range-partitioning /
     salting keys (BASELINE.json north_rule "explicit salting and
     range-partitioning on cell prefixes").

Cell id layout (fits signed int64, Spark LongType-safe):
    cell = (morton(x, y) << 5) | zoom        zoom ∈ [0, 29]
where morton interleaves the tile x (even bits) and y (odd bits).

All codec entry points are vectorized numpy on arrays; the pandas_udf
wrappers in this module are the only Python↔JVM crossings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_MERC_LAT_LIMIT = 85.05112878


# ---------------------------------------------------------------------------
# Morton (Z-order) bit interleaving, vectorized on uint64
# ---------------------------------------------------------------------------

def _spread_bits(v):
    """Spread the low 32 bits of each uint64 so bit i moves to bit 2i."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits(v):
    """Inverse of _spread_bits: gather even bits back to the low 32."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def morton(x, y):
    return _spread_bits(np.asarray(x)) | (_spread_bits(np.asarray(y)) << np.uint64(1))


# ---------------------------------------------------------------------------
# lon/lat ↔ tile ↔ cell
# ---------------------------------------------------------------------------

def lonlat_to_tile(lon, lat, zoom):
    """Web Mercator XYZ tile coordinates (vectorized)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -_MERC_LAT_LIMIT, _MERC_LAT_LIMIT)
    n = np.uint64(1) << np.uint64(zoom)
    nf = float(2**zoom)
    x = np.floor((lon + 180.0) / 360.0 * nf)
    lat_rad = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0 * nf)
    x = np.clip(x, 0, nf - 1).astype(np.uint64)
    y = np.clip(y, 0, nf - 1).astype(np.uint64)
    return x, y


def tile_to_lonlat(x, y, zoom):
    """NW corner of a tile."""
    nf = float(2**zoom)
    lon = np.asarray(x, dtype=np.float64) / nf * 360.0 - 180.0
    t = np.pi * (1.0 - 2.0 * np.asarray(y, dtype=np.float64) / nf)
    lat = np.degrees(np.arctan(np.sinh(t)))
    return lon, lat


def tile_bounds(x, y, zoom):
    """(lon_w, lat_s, lon_e, lat_n) of a tile."""
    lon_w, lat_n = tile_to_lonlat(x, y, zoom)
    lon_e, lat_s = tile_to_lonlat(np.asarray(x) + 1, np.asarray(y) + 1, zoom)
    return lon_w, lat_s, lon_e, lat_n


def cell_from_zxy(zoom, x, y):
    return (morton(x, y) << np.uint64(5)) | np.uint64(zoom)


def cell_encode(lon, lat, zoom):
    """lon/lat arrays → int64 cell ids at the given zoom."""
    x, y = lonlat_to_tile(lon, lat, zoom)
    return cell_from_zxy(zoom, x, y).astype(np.int64)


def cell_decode(cell):
    """int64 cell ids → (zoom array, x array, y array)."""
    c = np.asarray(cell).astype(np.uint64)
    z = (c & np.uint64(0x1F)).astype(np.int64)
    m = c >> np.uint64(5)
    x = _compact_bits(m)
    y = _compact_bits(m >> np.uint64(1))
    return z, x.astype(np.int64), y.astype(np.int64)


def cell_parent(cell, parent_zoom):
    """Ancestor cell at a coarser zoom (prefix in quadkey space).
    `parent_zoom` must not exceed the cells' own zoom — the uint64
    (z - parent_zoom) would underflow and silently produce garbage
    parents (e.g. pruning away valid partitions)."""
    c = np.asarray(cell).astype(np.uint64)
    z = c & np.uint64(0x1F)
    if c.size and int(parent_zoom) > int(z.min()):
        raise ValueError(
            "cell_parent: parent_zoom %d is finer than cell zoom %d"
            % (int(parent_zoom), int(z.min()))
        )
    m = c >> np.uint64(5)
    shift = (np.uint64(2) * (z - np.uint64(parent_zoom))).astype(np.uint64)
    return ((m >> shift) << np.uint64(5) | np.uint64(parent_zoom)).astype(np.int64)


def cell_neighbors(cell):
    """The 8 surrounding cells at the same zoom (x wraps around the
    antimeridian, y clamps at the poles).  Returns (N, 8) int64; the
    cell itself is excluded.  Out-of-range y duplicates the center cell
    so callers can drop duplicates."""
    z, x, y = cell_decode(cell)
    n = (np.int64(1) << z).astype(np.int64)
    out = np.empty((len(np.atleast_1d(x)), 8), dtype=np.int64)
    x = np.atleast_1d(x)
    y = np.atleast_1d(y)
    z = np.atleast_1d(z)
    n = np.atleast_1d(n)
    k = 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            nx = np.mod(x + dx, n)
            ny = y + dy
            valid = (ny >= 0) & (ny < n)
            ny = np.clip(ny, 0, n - 1)
            c = cell_from_zxy(z[0], nx.astype(np.uint64), ny.astype(np.uint64)).astype(np.int64)
            center = cell_from_zxy(z[0], x.astype(np.uint64), y.astype(np.uint64)).astype(np.int64)
            out[:, k] = np.where(valid, c, center)
            k += 1
    return out


def quadkey_str(cell):
    """Bing-style quadkey string of a single cell (debug/partition
    prefix display)."""
    z, x, y = (int(a[0]) for a in cell_decode(np.asarray([cell])))
    digits = []
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        d = 0
        if x & mask:
            d += 1
        if y & mask:
            d += 2
        digits.append(str(d))
    return "".join(digits)


# ---------------------------------------------------------------------------
# AOI polygon → cell cover (driver-side; AOI is small by definition)
# ---------------------------------------------------------------------------

def _rect_classify(rect, rings):
    """'inside' | 'outside' | 'boundary' of rect vs polygon (even-odd
    over rings).  rect = (x0, y0, x1, y1) lon/lat."""
    from .geomkernel import points_in_rings, segment_intersects_rect

    x0, y0, x1, y1 = rect
    # fast reject on polygon bbox
    allpts = np.vstack(rings)
    if (
        allpts[:, 0].max() < x0
        or allpts[:, 0].min() > x1
        or allpts[:, 1].max() < y0
        or allpts[:, 1].min() > y1
    ):
        return "outside"
    # any polygon edge crossing the rect ⇒ boundary
    for ring in rings:
        if segment_intersects_rect(ring, rect).any():
            return "boundary"
    # no edge crossings: rect is entirely inside or outside the polygon,
    # or the polygon is entirely inside the rect
    corners = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    inside = points_in_rings(corners, rings)
    if inside.all():
        return "inside"
    # polygon fully within rect counts as boundary (partial coverage)
    p = rings[0][0]
    if x0 <= p[0] <= x1 and y0 <= p[1] <= y1:
        return "boundary"
    return "outside"


def polygon_cover(rings, zoom):
    """Quadtree cover of a polygon: {cell_id: 'inside'|'boundary'}.

    The 'inside' class is the Spark-side equivalent of the reference's
    prepared-geometry fast path (tabular.py:259-261): features in an
    'inside' cell skip the exact PIP/clip test entirely; only
    'boundary' cells pay for exact kernels.

    rings: list of (N,2) float arrays; even-odd (holes included).
    """
    rings = [np.asarray(r, dtype=np.float64) for r in rings]
    out = {}

    def recurse(z, x, y):
        lon_w, lat_s, lon_e, lat_n = (float(v) for v in tile_bounds(x, y, z))
        cls = _rect_classify((lon_w, lat_s, lon_e, lat_n), rings)
        if cls == "outside":
            return
        if cls == "inside":
            out[int(cell_from_zxy(z, np.uint64(x), np.uint64(y)))] = "inside"
            return
        if z == zoom:
            out[int(cell_from_zxy(z, np.uint64(x), np.uint64(y)))] = "boundary"
            return
        for cx in (2 * x, 2 * x + 1):
            for cy in (2 * y, 2 * y + 1):
                recurse(z + 1, cx, cy)

    recurse(0, 0, 0)
    return out


def cover_at_zoom(cover, zoom):
    """Expand a mixed-zoom cover to the exact cell set at `zoom`
    (inside cells coarser than `zoom` expand to all descendants)."""
    cells = {}
    for cell, cls in cover.items():
        z, x, y = (int(a[0]) for a in cell_decode(np.asarray([cell])))
        if z == zoom:
            cells[cell] = cls
        elif z < zoom:
            span = 1 << (zoom - z)
            xs = np.arange(x * span, (x + 1) * span, dtype=np.uint64)
            for yy in range(y * span, (y + 1) * span):
                ids = cell_from_zxy(zoom, xs, np.full(len(xs), yy, dtype=np.uint64))
                for i in ids.astype(np.int64):
                    cells[int(i)] = cls
    return cells


# ---------------------------------------------------------------------------
# Spark integration: vectorized pandas UDF (the only JVM↔Python crossing)
# ---------------------------------------------------------------------------

def cell_udf(zoom):
    """pandas_udf (lon: double, lat: double) -> cell id long."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(cell_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), zoom))

    return _enc
