"""Raster↔vector tile assignment (the MBTiles-equivalent sink's core).

The reference's mbtiles path fetches raster XYZ tiles over the AOI bbox
for a zoom range (nontabular.py:103-108, landez).  The engine's
vector-native equivalent: assign every feature to the XYZ tiles its
GEOMETRY intersects at each zoom in [min_zoom, max_zoom], then pack
tiles with groupBy.

Two assignment paths:

  exact (default for the tile table) — `with_tile_cells_exact`:
    points via pure Column math; lines/polygon boundaries via a
    vectorized grid-supercover traversal (Amanatides–Woo style, done
    batch-wide in numpy over an Arrow batch: every boundary crossing of
    every segment of every feature is one row of a flat array — no
    per-feature Python loop); polygon interiors via an even-odd
    scanline fill over tile-row centers.  Fanout is O(tiles actually
    intersected) — a continental coastline way lands in the ~n tiles
    it crosses, never the n² of its bbox, so NO fanout cap exists and
    nothing is ever silently dropped.

  bbox cover — `with_tile_cells`: pure-Column bbox→tile-range explode.
    Kept for the cell-prefix partition layout (sources/tables.py) where
    a conservative SUPERSET is exactly what an index partition wants.

Antimeridian contract: the exact path interprets a segment whose raw
|Δlon| exceeds 180° as the SHORT arc across ±180 (Fiji/Chukotka ways)
and splits it at the boundary before traversal; wrapped POLYGON rings
raise (split them at ±180 upstream — an even-odd fill over a wrapped
ring is ambiguous in lon/lat).  The bbox path stays literal raw
lon/lat (a wrapped feature's bbox cover is the world band — a valid
SUPERSET, which is all that index layout promises).  The reference
has no antimeridian handling at all (shapely on raw lon/lat), so this
is a documented, driver-gated improvement (`osm_tile_antimeridian`).

Skew is the design driver here (axis A+B): geometry density is wildly
non-uniform (hot city cells), so:
  - tile-cell explosion happens BEFORE the shuffle, so Spark's
    partial aggregation (map-side combine) absorbs per-tile counts;
  - for the feature-packing variant the shuffle key is salted:
    (cell, pmod(hash(osm_id), salt)) sub-buckets hot tiles, the final
    merge regroups by cell only — exact same tile contents, bounded
    per-task skew;
  - `repartitionByRange` on cell before the write produces
    spatially-clustered output files (range partitioner samples the
    cell distribution — hot areas get more files).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_from_zxy


def _spread_bits_col(v):
    """Morton bit-spread as pure Column ops (inverse of decode_cell_cols'
    compact) — bit i of the low 32 moves to bit 2i."""
    v = v.bitwiseAND(F.lit(0x00000000FFFFFFFF))
    v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
    v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
    v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
    v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
    v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
    return v


def tile_x_col(lon, zoom):
    """lon → tile x at zoom, pure Column math (same formula as
    functions/cells.lonlat_to_tile)."""
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    x = F.floor((lon + 180.0) / 360.0 * n)
    return F.greatest(F.lit(0), F.least(x, (n - 1).cast("long"))).cast("long")


def tile_y_col(lat, zoom):
    n = F.pow(F.lit(2.0), zoom.cast("double"))
    lat_c = F.greatest(F.lit(-85.05112878), F.least(lat, F.lit(85.05112878)))
    rad = F.radians(lat_c)
    y = F.floor((1.0 - F.asinh(F.tan(rad)) / float(__import__("math").pi)) / 2.0 * n)
    return F.greatest(F.lit(0), F.least(y, (n - 1).cast("long"))).cast("long")


def cell_col(zoom, x, y):
    return (
        F.shiftleft(_spread_bits_col(x).bitwiseOR(F.shiftleft(_spread_bits_col(y), 1)), 5)
        .bitwiseOR(zoom.cast("long"))
    )


def with_tile_cells(features: DataFrame, min_zoom: int, max_zoom: int) -> DataFrame:
    """Add `cell` (exploded): one row per (feature, BBOX-covering tile,
    zoom).  Entirely JVM-side Column math — zoom explode, per-zoom
    bbox→tile-range arithmetic, sequence×sequence explode, Morton
    packing — so whole-stage codegen handles millions of features
    without touching Python.

    Bbox-cover semantics (a SUPERSET of geometry intersection) — the
    right shape for the cell-prefix partition index; the tile TABLE
    uses `with_tile_cells_exact`.  Uncapped: every bbox tile of every
    zoom is emitted."""
    z = F.explode(F.sequence(F.lit(min_zoom), F.lit(max_zoom))).alias("z")
    df = features.select("*", z)
    x0 = tile_x_col(F.array_min("xs"), F.col("z"))
    x1 = tile_x_col(F.array_max("xs"), F.col("z"))
    y0 = tile_y_col(F.array_max("ys"), F.col("z"))  # y grows southward
    y1 = tile_y_col(F.array_min("ys"), F.col("z"))
    df = df.withColumn("__x0", x0).withColumn("__x1", x1).withColumn("__y0", y0).withColumn("__y1", y1)
    df = df.withColumn("__tx", F.explode(F.sequence("__x0", "__x1")))
    df = df.withColumn("__ty", F.explode(F.sequence("__y0", "__y1")))
    return df.withColumn(
        "cell", cell_col(F.col("z"), F.col("__tx"), F.col("__ty"))
    ).drop("z", "__x0", "__x1", "__y0", "__y1", "__tx", "__ty")


# ---------------------------------------------------------------------------
# exact (geometry-intersection) tile assignment
# ---------------------------------------------------------------------------
#
# Coordinates: tile x is linear in lon; tile y is mercator in lat, so a
# segment straight in lon/lat crosses a NON-uniform rectilinear grid —
# vertical tile boundaries at lon_k = k·360/2^z − 180, horizontal ones
# at lat_j = atan(sinh(π(1 − 2j/2^z))).  Both crossing families are
# closed-form in the segment parameter, so the supercover is a flat
# vectorized computation: counts per segment → repeat/arange expansion
# → one numpy expression per crossing family.  A tile grazed only at a
# single corner point (measure-zero contact) may be omitted; every
# tile with positive-length/area intersection is found.

_MERC_LIMIT = 85.05112878


def _merc_yf(lat, n):
    """Continuous mercator tile-y (float) at zoom with 2^z = n."""
    lat = np.clip(np.asarray(lat, np.float64), -_MERC_LIMIT, _MERC_LIMIT)
    return (1.0 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2.0 * n


def _yf_to_lat(yf, n):
    """Latitude at continuous mercator tile-y `yf` (boundary j → lat of
    the boundary; j+0.5 → lat of the row's center line)."""
    t = np.pi * (1.0 - 2.0 * np.asarray(yf, np.float64) / n)
    return np.degrees(np.arctan(np.sinh(t)))


def _expand_ranges(lo, hi):
    """Per-row inclusive integer ranges → (row_idx, value) flat arrays
    (empty where hi < lo).  The repeat/arange expansion every crossing
    family below rides on."""
    cnt = np.maximum(hi - lo + 1, 0).astype(np.int64)
    total = int(cnt.sum())
    idx = np.repeat(np.arange(len(lo)), cnt)
    if total == 0:
        return idx, np.empty(0, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    ordinal = np.arange(total, dtype=np.int64) - np.repeat(starts, cnt)
    return idx, lo[idx] + ordinal


def _segment_supercover(feat, lon0, lat0, lon1, lat1, z):
    """Tiles intersected by each straight lon/lat segment at zoom z.
    Returns (feature_idx, tile_x, tile_y) flat arrays (with per-segment
    duplicates; caller dedupes)."""
    n = float(2**z)
    nmax = (1 << z) - 1
    tx0 = (lon0 + 180.0) / 360.0 * n
    tx1 = (lon1 + 180.0) / 360.0 * n
    yf0 = _merc_yf(lat0, n)
    yf1 = _merc_yf(lat1, n)
    ix0 = np.clip(np.floor(tx0), 0, nmax).astype(np.int64)
    ix1 = np.clip(np.floor(tx1), 0, nmax).astype(np.int64)
    iy0 = np.clip(np.floor(yf0), 0, nmax).astype(np.int64)
    iy1 = np.clip(np.floor(yf1), 0, nmax).astype(np.int64)

    fs = [feat, feat]
    xs = [ix0, ix1]
    ys = [iy0, iy1]

    # vertical boundary crossings: lon = k·360/n − 180
    s_idx, k = _expand_ranges(np.minimum(ix0, ix1) + 1, np.maximum(ix0, ix1))
    if len(k):
        t = (k - tx0[s_idx]) / (tx1[s_idx] - tx0[s_idx])
        lat_at = lat0[s_idx] + t * (lat1[s_idx] - lat0[s_idx])
        ty = np.clip(np.floor(_merc_yf(lat_at, n)), 0, nmax).astype(np.int64)
        tx = np.where(tx1[s_idx] > tx0[s_idx], k, k - 1)
        fs.append(feat[s_idx])
        xs.append(np.clip(tx, 0, nmax))
        ys.append(ty)

    # horizontal boundary crossings: yf = j (lat_j = atan(sinh(...)))
    s_idx, j = _expand_ranges(np.minimum(iy0, iy1) + 1, np.maximum(iy0, iy1))
    if len(j):
        lat_b = _yf_to_lat(j, n)
        t = (lat_b - lat0[s_idx]) / (lat1[s_idx] - lat0[s_idx])
        tx = np.clip(
            np.floor(tx0[s_idx] + t * (tx1[s_idx] - tx0[s_idx])), 0, nmax
        ).astype(np.int64)
        ty = np.where(yf1[s_idx] > yf0[s_idx], j, j - 1)
        fs.append(feat[s_idx])
        xs.append(tx)
        ys.append(np.clip(ty, 0, nmax))

    return np.concatenate(fs), np.concatenate(xs), np.concatenate(ys)


def _polygon_fill(feat, lon0, lat0, lon1, lat1, z):
    """Even-odd scanline fill: tiles whose CENTER lies inside the
    polygon whose edges are given (all rings — outer and holes — of
    each feature, even-odd).  A tile overlapping the polygon but with
    its center outside must touch a ring and is picked up by the
    boundary supercover; together the two sets are exactly the tiles
    with non-empty intersection.  Scanlines are tile-row center
    latitudes; columns with center longitude in an inside interval are
    emitted."""
    n = float(2**z)
    nmax = (1 << z) - 1
    tx0 = (lon0 + 180.0) / 360.0 * n
    tx1 = (lon1 + 180.0) / 360.0 * n
    yf0 = _merc_yf(lat0, n)
    yf1 = _merc_yf(lat1, n)

    # rows whose center yc=j+0.5 toggles on this edge: yc ∈ [min, max)
    yl = np.minimum(yf0, yf1)
    yh = np.maximum(yf0, yf1)
    jlo = np.ceil(yl - 0.5).astype(np.int64)
    jhi = (np.ceil(yh - 0.5) - 1).astype(np.int64)
    e_idx, j = _expand_ranges(np.maximum(jlo, 0), np.minimum(jhi, nmax))
    if len(j) == 0:
        return (
            np.empty(0, dtype=feat.dtype),
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int64),
        )
    lat_c = _yf_to_lat(j + 0.5, n)
    s = (lat_c - lat0[e_idx]) / (lat1[e_idx] - lat0[e_idx])
    x_at = tx0[e_idx] + s * (tx1[e_idx] - tx0[e_idx])
    f = feat[e_idx]

    # group by (feature, row), order crossings by x, pair even-odd
    order = np.lexsort((x_at, j, f))
    f, j, x_at = f[order], j[order], x_at[order]
    new_group = np.empty(len(f), dtype=bool)
    new_group[0] = True
    new_group[1:] = (f[1:] != f[:-1]) | (j[1:] != j[:-1])
    group_id = np.cumsum(new_group) - 1
    sizes = np.bincount(group_id)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    ordinal = np.arange(len(f)) - starts[group_id]
    # defensive: an odd crossing count (degenerate ring) drops its last
    # unpaired crossing instead of corrupting the pairing
    keep = ordinal < 2 * (sizes[group_id] // 2)
    f, j, x_at, ordinal = f[keep], j[keep], x_at[keep], ordinal[keep]
    xa = x_at[ordinal % 2 == 0]
    xb = x_at[ordinal % 2 == 1]
    pf = f[ordinal % 2 == 0]
    pj = j[ordinal % 2 == 0]
    # columns k with xa < k+0.5 < xb
    klo = (np.floor(xa - 0.5) + 1).astype(np.int64)
    khi = (np.ceil(xb - 0.5) - 1).astype(np.int64)
    p_idx, k = _expand_ranges(np.maximum(klo, 0), np.minimum(khi, nmax))
    return pf[p_idx], k, pj[p_idx]


def exact_cells_batch(
    geom_types, xs_list, ys_list, ring_offsets_list, min_zoom, max_zoom,
    dedupe: bool = True,
):
    """Per-feature exact tile cells across zooms for one Arrow batch.
    Returns a list of np.int64 arrays (cells per feature).

    Output cells are ALWAYS deduped per feature since the shift-derive
    rewrite: the per-level dedup is what lets each coarser zoom reuse
    the previous level's (shrinking) set, so uniqueness falls out for
    free and only the max_zoom raw emission is ever sorted at full
    size.  `dedupe` is kept for API compatibility (both values return
    identical, deduped output)."""
    nfeat = len(xs_list)
    lens = np.fromiter((len(x) for x in xs_list), dtype=np.int64, count=nfeat)
    total = int(lens.sum())
    empty = np.empty(0, dtype=np.int64)
    if total == 0:
        return [empty] * nfeat
    flat_x = np.concatenate([np.asarray(x, np.float64) for x in xs_list])
    flat_y = np.concatenate([np.asarray(y, np.float64) for y in ys_list])
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    feat_of_pt = np.repeat(np.arange(nfeat), lens)
    is_poly = np.asarray([g == "polygon" for g in geom_types])

    # global ring boundaries → segment index pairs (i, i+1) within
    # rings, assembled batch-wide (no per-feature numpy calls)
    offs_arrs = [
        np.asarray(o, np.int64)
        if o is not None and len(o) >= 2
        else np.array([0, l], np.int64)
        for o, l in zip(ring_offsets_list, lens)
    ]
    n_offs = np.fromiter((len(o) for o in offs_arrs), np.int64, nfeat)
    off_feat = np.repeat(np.arange(nfeat), n_offs)
    goff = starts[off_feat] + np.concatenate(offs_arrs)
    o_starts = np.concatenate([[0], np.cumsum(n_offs)[:-1]])
    off_ord = np.arange(len(goff)) - o_starts[off_feat]
    not_last = off_ord < n_offs[off_feat] - 1
    ring_a = goff[not_last]
    ring_b = goff[off_ord > 0]
    ring_feat = off_feat[not_last]

    is_ring_start = np.bincount(
        ring_a, minlength=total + 1
    )
    ring_of_pt = np.cumsum(is_ring_start[:-1]) - 1
    seg_i = np.nonzero(ring_of_pt[: total - 1] == ring_of_pt[1:])[0]
    s0, s1 = seg_i, seg_i + 1

    # closing segments for unclosed polygon rings (relation-assembled
    # rings omit the closing repeat; closed ways include it)
    poly_ring = is_poly[ring_feat] & (ring_b - ring_a >= 3)
    pa, pb = ring_a[poly_ring], ring_b[poly_ring]
    unclosed = (flat_x[pa] != flat_x[pb - 1]) | (flat_y[pa] != flat_y[pb - 1])
    s0 = np.concatenate([s0, pb[unclosed] - 1])
    s1 = np.concatenate([s1, pa[unclosed]])

    seg_feat = feat_of_pt[s0]
    lon0, lat0 = flat_x[s0], flat_y[s0]
    lon1, lat1 = flat_x[s1], flat_y[s1]
    poly_seg = is_poly[seg_feat]

    # antimeridian: a segment with |Δlon| > 180° is the SHORT arc
    # across ±180 (Fiji/Chukotka ways), not a straight line across the
    # whole map — interpolating it raw assigns tiles the long way
    # around (the reference shares this flaw: shapely operates on raw
    # lon/lat).  Wrapped LINE segments are split at the boundary into
    # (lon0 → ±180) and (∓180 → lon1) with the latitude interpolated
    # in unwrapped lon space; wrapped POLYGON edges raise — an even-odd
    # fill over a wrapped ring is ambiguous in lon/lat, so the contract
    # is that polygon rings must be split at ±180° upstream.
    dlon = lon1 - lon0
    wrap = np.abs(dlon) > 180.0
    if wrap.any():
        if (poly_seg & wrap).any():
            raise ValueError(
                "polygon ring crosses the antimeridian (|Δlon| > 180°); "
                "split the ring at ±180° upstream"
            )
        sgn = np.where(dlon > 0, 1.0, -1.0)
        d = dlon - 360.0 * sgn  # unwrapped delta, |d| < 180
        degen = wrap & (d == 0.0)
        if degen.any():
            # ±180 → ∓180 is the SAME meridian: zero-length segment
            lon1 = np.where(degen, lon0, lon1)
            lat1 = np.where(degen, lat0, lat1)
            dlon = lon1 - lon0
            wrap = wrap & ~degen
    if wrap.any():
        sgn = np.where(dlon[wrap] > 0, 1.0, -1.0)
        d = dlon[wrap] - 360.0 * sgn
        bnd = -180.0 * sgn  # raw westward jump ⇒ eastbound across +180
        t = (bnd - lon0[wrap]) / d
        latm = lat0[wrap] + t * (lat1[wrap] - lat0[wrap])
        add_feat = seg_feat[wrap]
        add_lon1, add_lat1 = lon1[wrap].copy(), lat1[wrap].copy()
        # wrapped segments become the near-side half in place …
        lon1 = lon1.copy()
        lat1 = lat1.copy()
        lon1[wrap] = bnd
        lat1[wrap] = latm
        # … and the far-side half is appended (never a polygon edge —
        # wrapped polygon edges raised above)
        seg_feat = np.concatenate([seg_feat, add_feat])
        lon0 = np.concatenate([lon0, -bnd])
        lat0 = np.concatenate([lat0, latm])
        lon1 = np.concatenate([lon1, add_lon1])
        lat1 = np.concatenate([lat1, add_lat1])
        poly_seg = np.concatenate([poly_seg, np.zeros(len(add_feat), dtype=bool)])

    # fallback coverage: the first point of every NONEMPTY ring/part
    # (not just each feature's first point) — a degenerate 1-point
    # part generates no segment, so without this a single-point ring
    # after the first would silently vanish from the tile table
    ring_nonempty = ring_b > ring_a
    fpt = ring_a[ring_nonempty]
    fpt_feat = ring_feat[ring_nonempty]

    # traverse ONCE at max_zoom; every coarser zoom follows by bit-
    # shifting the tile coordinates.  XYZ tiles nest exactly (the
    # children of (z, x, y) are the (z+1, X, Y) with X>>1 == x and
    # Y>>1 == y, and they PARTITION the parent), so a geometry
    # intersects a coarse tile iff it intersects one of its max_zoom
    # descendants: the coarse tile set IS the shifted fine set.  This
    # replaces (max_zoom - min_zoom) extra supercover/fill traversals
    # with shift+dedup passes over a set that shrinks ~4× per level —
    # the traversal work is geometric in zoom, so the saving is ~½ of
    # the supercover and ~¼ of the fill, and the returned arrays are
    # fully deduped (smaller Arrow transfer back).
    n = float(2**max_zoom)
    nmax = (1 << max_zoom) - 1
    f, tx, ty = _segment_supercover(seg_feat, lon0, lat0, lon1, lat1, max_zoom)
    base_f, base_x, base_y = [f], [tx.astype(np.uint64)], [ty.astype(np.uint64)]
    # first-point tile per nonempty ring (1-point/degenerate parts)
    base_f.append(fpt_feat)
    base_x.append(
        np.clip(np.floor((flat_x[fpt] + 180.0) / 360.0 * n), 0, nmax).astype(np.uint64)
    )
    base_y.append(np.clip(np.floor(_merc_yf(flat_y[fpt], n)), 0, nmax).astype(np.uint64))
    if poly_seg.any():
        f, kx, ky = _polygon_fill(
            seg_feat[poly_seg],
            lon0[poly_seg],
            lat0[poly_seg],
            lon1[poly_seg],
            lat1[poly_seg],
            max_zoom,
        )
        if len(f):
            base_f.append(f)
            base_x.append(kx.astype(np.uint64))
            base_y.append(ky.astype(np.uint64))
    zf = np.concatenate(base_f)
    zx = np.concatenate(base_x)
    zy = np.concatenate(base_y)

    def _dedup(f, x, y):
        order = np.lexsort((y, x, f))
        f, x, y = f[order], x[order], y[order]
        if len(f):
            uniq = np.empty(len(f), dtype=bool)
            uniq[0] = True
            uniq[1:] = (f[1:] != f[:-1]) | (x[1:] != x[:-1]) | (y[1:] != y[:-1])
            f, x, y = f[uniq], x[uniq], y[uniq]
        return f, x, y

    out_feat, out_cell = [], []
    zf, zx, zy = _dedup(zf, zx, zy)
    for z in range(max_zoom, min_zoom - 1, -1):
        out_feat.append(zf)
        out_cell.append(cell_from_zxy(z, zx, zy).astype(np.int64))
        if z > min_zoom:
            zf, zx, zy = _dedup(zf, zx >> np.uint64(1), zy >> np.uint64(1))

    feat = np.concatenate(out_feat)
    cell = np.concatenate(out_cell)
    # per-level dedup above makes (feat, cell) globally unique — cell
    # ids encode the zoom, so levels never collide; both dedupe modes
    # now return deduped cells and only need the feature grouping
    # (`dedupe` kept for API compatibility)
    order = np.argsort(feat, kind="stable")
    feat, cell = feat[order], cell[order]
    counts = np.bincount(feat, minlength=nfeat)
    splits = np.split(cell, np.cumsum(counts)[:-1])
    return [np.asarray(s, dtype=np.int64) for s in splits]


def exact_cells_udf(min_zoom: int, max_zoom: int):
    """pandas_udf (geom_type, xs, ys, ring_offsets) → array<long> of
    exact-intersection tile cells across the zoom range.  One Arrow
    batch per call; the kernel is flat numpy (no per-feature Python)."""
    from pyspark.sql.functions import pandas_udf

    empty = np.empty(0, dtype=np.float64)

    @pandas_udf("array<long>")
    def _cells(
        geom_type: pd.Series, xs: pd.Series, ys: pd.Series, ring_offsets: pd.Series
    ) -> pd.Series:
        # pandas UDFs evaluate unconditionally, so rows routed to the
        # pure-Column single-tile path still arrive here — as
        # all-NULL inputs.  Subset to the real (straddler) rows BEFORE
        # any per-row work and scatter the kernel output back over a
        # None-filled result: the null majority costs a boolean mask,
        # not four list comprehensions and an empty array per row
        # (measured 1.38× per batch at a 62%-null mix; grows with the
        # null fraction — a pure-point export batch is ~all null).
        # The None results are never read — the single-tile projection
        # builds those rows' cells.  Kernel output is deduped by the
        # per-level shift chain, so no JVM-side distinct downstream.
        # Routed-away rows are identified by their NULLED coordinate
        # arrays, NOT by geom_type: a row with a NULL geom_type but
        # real coordinates (the kernel rasterizes unknown types as
        # lines) must still reach the kernel — masking on geom_type
        # would silently drop it from the tile table.
        mask = xs.notna()
        result = [None] * len(geom_type)
        if mask.any():
            idx = np.flatnonzero(mask.to_numpy())
            out = exact_cells_batch(
                ["" if g is None else g for g in geom_type.iloc[idx].tolist()],
                [empty if x is None else x for x in xs.iloc[idx].tolist()],
                [empty if y is None else y for y in ys.iloc[idx].tolist()],
                ring_offsets.iloc[idx].tolist(),
                min_zoom,
                max_zoom,
                dedupe=False,
            )
            for i, o in zip(idx, out):
                result[i] = o
        return pd.Series(result)

    return _cells


def _single_tile(max_zoom: int):
    """Routing predicate for exact tile assignment — shared by
    `with_tile_cells_exact` and `routing_class_counts`: points, and any
    geometry whose bbox fits in one tile at max_zoom (hence at every
    coarser zoom too, since tiles nest), intersect exactly one tile per
    zoom."""
    zm = F.lit(max_zoom)
    nx = tile_x_col(F.array_max("xs"), zm) - tile_x_col(F.array_min("xs"), zm)
    ny = tile_y_col(F.array_min("ys"), zm) - tile_y_col(F.array_max("ys"), zm)
    return (F.col("geom_type") == "point") | ((nx == 0) & (ny == 0))


def routing_class_counts(features: DataFrame, max_zoom: int) -> dict:
    """Diagnostic: how many feature rows each exact-assignment route
    would take at `max_zoom` — {'single': n, 'kernel': n}.  One
    aggregation pass, no tile fanout."""
    single = _single_tile(max_zoom)
    row = features.select(
        F.sum(F.when(single, 1).otherwise(0)).alias("single"),
        F.sum(F.when(single, 0).otherwise(1)).alias("kernel"),
    ).collect()[0]
    return {k: int(row[k] or 0) for k in ("single", "kernel")}


def with_tile_cells_exact(
    features: DataFrame, min_zoom: int, max_zoom: int
) -> DataFrame:
    """Add `cell` (exploded): one row per (feature, tile, zoom) with
    INTERSECTION semantics — a tile appears iff the feature's geometry
    actually touches it.  Fanout is O(tiles intersected): no cap,
    nothing dropped.

    One scan, one explode, no union.  SINGLE-TILE rows (see
    `_single_tile`) never reach Python: the explode emits their zoom
    sequence and the cell is built by a top-level codegen'd projection
    — tile x/y computed ONCE at max_zoom (the only trig) and every
    coarser zoom derived by bit shift, exact because the tile grid
    nests by halving: floor(frac·2^z) == floor(frac·2^zmax) >>
    (zmax − z), clamps included.  Every other row (including rows
    whose routing predicate is NULL) goes to the vectorized supercover
    + scanline kernel, whose UDF inputs are NULLed for single-tile rows
    so the Arrow payload stays proportional to the straddler subset.
    This shape won the r5/r6 A/Bs: it avoids the interpreted
    higher-order `transform` that made the one-scan CASE shape 19×
    slower, and the double scan that stopped ReuseExchange serving the
    union shape's second branch (BENCH/AB_SHAPE.json,
    OPTIMIZATION_r06.md).

    Measure-zero boundary contacts (a vertex exactly on a tile edge)
    may differ between the Column and kernel routes, matching the
    module contract (see the traversal-convention note above
    `_segment_supercover`)."""
    single = F.coalesce(_single_tile(max_zoom), F.lit(False))
    narr = F.lit(None).cast("array<double>")
    kernel_cells = exact_cells_udf(min_zoom, max_zoom)(
        F.when(single, F.lit(None).cast("string")).otherwise(F.col("geom_type")),
        F.when(single, narr).otherwise(F.col("xs")),
        F.when(single, narr).otherwise(F.col("ys")),
        F.when(single, F.lit(None).cast("array<int>")).otherwise(
            F.col("ring_offsets")
        ),
    )
    zseq = F.sequence(F.lit(min_zoom), F.lit(max_zoom)).cast("array<long>")
    return (
        features.withColumn("__sgl", single)
        .withColumn(
            "__xm",
            F.when(single, tile_x_col(F.array_min("xs"), F.lit(max_zoom))),
        )
        .withColumn(
            "__ym",
            F.when(single, tile_y_col(F.array_min("ys"), F.lit(max_zoom))),
        )
        .withColumn(
            "__v", F.explode(F.when(single, zseq).otherwise(kernel_cells))
        )
        .withColumn(
            "cell",
            F.when(
                F.col("__sgl"),
                cell_col(
                    F.col("__v"),
                    F.expr(
                        "shiftrightunsigned(__xm, cast(%d - __v as int))"
                        % max_zoom
                    ),
                    F.expr(
                        "shiftrightunsigned(__ym, cast(%d - __v as int))"
                        % max_zoom
                    ),
                ),
            ).otherwise(F.col("__v")),
        )
        .drop("__sgl", "__xm", "__ym", "__v")
    )


def tile_counts(
    features: DataFrame, min_zoom: int, max_zoom: int, exact: bool = True,
    strip: bool = False,
) -> DataFrame:
    """(z, x, y, n_features) — partial agg absorbs hot-cell skew.
    `exact=True` (default) assigns by geometry intersection; False is
    the pure-Column bbox cover (superset).  `strip` only accepts False:
    the 1×N/N×1 strip route it selected measured slower than the
    kernel (BENCH/AB_STRIP.json) and was removed; the keyword stays for
    existing callers that pass it explicitly."""
    if strip:
        raise ValueError("the strip tile route was removed; strip must be False")
    if exact:
        with_cells = with_tile_cells_exact(features, min_zoom, max_zoom)
    else:
        with_cells = with_tile_cells(features, min_zoom, max_zoom)
    counts = with_cells.groupBy("cell").agg(F.count("*").alias("n_features"))
    return counts.select(
        decode_cell_cols("cell"),
        F.col("n_features"),
    ).select("c.z", "c.x", "c.y", "n_features")


def decode_cell_cols(cell_col="cell"):
    """cell id → struct<z,x,y> in pure Column bit math (JVM-side,
    mirrors functions/cells.cell_decode)."""
    c = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    z = c.bitwiseAND(F.lit(31))
    m = F.shiftrightunsigned(c, 5)

    def compact(v):
        v = v.bitwiseAND(F.lit(0x5555555555555555))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 1)).bitwiseAND(F.lit(0x3333333333333333))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 2)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 4)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 8)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = v.bitwiseOR(F.shiftrightunsigned(v, 16)).bitwiseAND(F.lit(0x00000000FFFFFFFF))
        return v

    return F.struct(
        z.cast("int").alias("z"),
        compact(m).cast("long").alias("x"),
        compact(F.shiftrightunsigned(m, 1)).cast("long").alias("y"),
    ).alias("c")


def tile_features(
    features: DataFrame, min_zoom: int, max_zoom: int, salt: int = 16,
    exact: bool = True, max_ids_per_tile: int = 1024,
) -> DataFrame:
    """(z, x, y, n_features, osm_ids, n_overflow) — the packed tile
    table.  `n_features` is the EXACT per-tile feature count;
    `osm_ids` is the sorted FIRST `max_ids_per_tile` ids (the full
    list whenever the tile holds that many or fewer — every id, once
    per assignment, exactly the unbounded packing's contents);
    `n_overflow = n_features - size(osm_ids)` makes any truncation
    loud in the row itself.

    `exact=True` (default): a feature appears in a tile iff its
    geometry intersects it (supercover + scanline kernel); False is
    the bbox-cover superset.

    Why the list must be BOUNDED — and bounded *during* aggregation:
    a z0/z1 tile contains every feature, so an uncapped
    `collect_list` per cell packs the entire corpus's ids into ONE
    array cell (multi-GB row → executor OOM at the 100 TB target).  A
    capped `slice(collect_list(...))` doesn't fix it: the aggregation
    buffer still accumulates the whole group before the slice (and a
    single giant group can't spill out of ObjectHashAggregate).  So
    the sample is selected with a row_number window over
    (cell, salt-bucket) ordered by osm_id — WindowExec sorts with a
    SPILLABLE external sorter, never holding a group in memory — and
    only rows ranked ≤ cap reach the final collect, whose per-cell
    buffer is ≤ salt × cap elements by construction.  The global
    smallest-cap multiset is a subset of the union of per-bucket
    smallest-cap multisets (any id with global rank ≤ cap has bucket
    rank ≤ cap), so the post-merge slice is exact.

    `n_features` rides the same aggregation as a plain count —
    map-side partial combine absorbs the hot-cell skew, so the count
    stays exact and O(1)-buffered even for the z0 everything-tile.
    The salt bounds the window exchange's largest task the same way
    it bounded the old packing shuffle."""
    from pyspark.sql import Window

    cap = int(max_ids_per_tile)
    if exact:
        with_cells = with_tile_cells_exact(features, min_zoom, max_zoom)
    else:
        with_cells = with_tile_cells(features, min_zoom, max_zoom)
    with_cells = with_cells.select("cell", "osm_id")
    salted = with_cells.withColumn(
        "__salt", F.pmod(F.hash("osm_id"), F.lit(salt))
    )
    w = Window.partitionBy("cell", "__salt").orderBy("osm_id")
    ranked = salted.withColumn("__rn", F.row_number().over(w))
    merged = ranked.groupBy("cell").agg(
        F.count("*").alias("n_features"),
        F.slice(
            F.sort_array(
                F.collect_list(F.when(F.col("__rn") <= cap, F.col("osm_id")))
            ),
            1,
            cap,
        ).alias("osm_ids"),
    )
    merged = merged.withColumn(
        "n_overflow", (F.col("n_features") - F.size("osm_ids")).cast("long")
    )
    return merged.select(
        decode_cell_cols("cell"), "n_features", "osm_ids", "n_overflow"
    ).select("c.z", "c.x", "c.y", "n_features", "osm_ids", "n_overflow")
