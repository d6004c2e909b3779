"""AOI clipping: cell-cover prefilter + exact numpy kernels.

Reference semantics (tabular.py):
  - points: kept iff AOI strictly contains them (prepared.contains,
    :271-275) — not-contained points are DROPPED,
  - lines: dropped unless intersects (:294-300); clipped unless
    contained (may become multi-part),
  - polygons: same rule (:321-327).

Spark-first structure (replaces shapely prepared geometry):
  1. driver: the AOI rings (plus, for cutting, their convex pieces)
     are broadcast once — the prep() equivalent,
  2. per feature, bbox → class 'i' (inside) / 'o' (outside) / 'b'
     (boundary):
     - JVM pregate (pure Column math): a bbox strictly disjoint from
       the AOI's bbox is 'o' for any AOI shape and never crosses into
       Python,
     - rectangle fast path: an axis-aligned rectangle AOI classifies
       every row in Column math (strictly inside → 'i', touching the
       boundary → 'b'),
     - any other AOI: the remaining rows go through the `classify`
       pandas UDF → `_classify_batch`, which tests each bbox directly
       against the rings (geomkernel.classify_bboxes),
     then 'i' keeps the row with NO exact test, 'o' drops it, and 'b'
     goes to the exact kernel,
  3. exact kernel (mapInPandas over the 'b' rows only): PIP for
     points; for lines/polygons intersects-test + cutting.

The quadtree cell cover (AOI.cover, functions/cells.polygon_cover) is
used only for scan-level partition pruning (AOI.prune_cells).  At
100 TB the win is step 2: the candidate fraction is the AOI-boundary
surface area ratio, and no shuffle is introduced — classification and
clipping are narrow maps.

Exactness: cutting is exact for ALL valid AOIs — convex (direct
Cyrus–Beck / Sutherland–Hodgman), concave single-ring (ear-clip
triangulation into convex pieces, clip per piece, union), and
multi-ring with holes / islands / arbitrary nesting (even-odd
trapezoid decomposition, geomkernel.trapezoid_decompose).  Pieces may
carry splits along internal decomposition edges — cosmetic part
structure, not coverage.  INVALID AOIs (self-intersecting rings,
rings whose boundaries cross) are refused by the decomposers and fall
back to the conservative keep-uncut policy: non-intersecting features
still drop exactly, boundary-crossing geometries stay uncut.

Antimeridian contract: clipping operates in raw lon/lat, like the
reference (shapely on raw coordinates, tabular.py) — an AOI or
feature crossing ±180° must be split at the boundary upstream (the
standard GeoJSON RFC 7946 §3.1.9 convention, which real-world AOI
files follow).  Segments of a ±180-crossing FEATURE are interpreted
literally (a straight chord in lon/lat), exactly as the reference
does; the tile-assignment path (operators/tiles.py) is the layer
that resolves wrapped segments into short arcs, because tile ids —
unlike clip results — are globally indexed and a wrong band there
poisons the packed table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geomkernel as gk
from ..functions.cells import cell_from_zxy, cover_at_zoom, lonlat_to_tile, polygon_cover

DEFAULT_COVER_ZOOM = 10

class AOI:
    """Driver-side prepared AOI: rings + convexity + (lazy) cell cover.

    The cover is only needed for SCAN-level partition pruning (cell
    prefixes → Iceberg/parquet partition filter); per-feature clip
    classification works directly on the rings, so the quadtree is not
    built unless asked for."""

    def __init__(self, rings, cover_zoom=DEFAULT_COVER_ZOOM):
        self.rings = [np.asarray(r, dtype=np.float64) for r in rings]
        self.cover_zoom = cover_zoom
        self._cover = None
        self.convex = len(self.rings) == 1 and gk.is_convex(self.rings[0])
        self._clip_polys = False  # lazy; None = cutting unsupported

    @property
    def clip_polys(self):
        """Convex pieces to cut against: the ring itself when convex, an
        ear-clip triangulation when concave single-ring, an even-odd
        trapezoid decomposition for multi-ring AOIs (holes, islands,
        arbitrary nesting — geomkernel.trapezoid_decompose), None when
        cutting is unsupported (self-intersecting / degenerate rings —
        those fail safe to the documented keep-uncut fallback)."""
        if self._clip_polys is False:
            if self.convex:
                self._clip_polys = [self.rings[0]]
            elif len(self.rings) == 1:
                tris = gk.triangulate_ring(self.rings[0])
                self._clip_polys = tris if tris else None
            else:
                traps = gk.trapezoid_decompose(self.rings)
                self._clip_polys = traps if traps else None
        return self._clip_polys

    @property
    def bbox(self):
        """(W, S, E, N) over all rings."""
        xs = np.concatenate([r[:, 0] for r in self.rings])
        ys = np.concatenate([r[:, 1] for r in self.rings])
        return float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max())

    def as_rect(self):
        """(W, S, E, N) when the AOI is exactly an axis-aligned
        rectangle (the ubiquitous bbox-extract case), else None.  A
        rectangle AOI makes clip classification pure Column math —
        zero Python in the classify path."""
        if len(self.rings) != 1:
            return None
        r = self.rings[0]
        pts = r[:-1] if np.array_equal(r[0], r[-1]) else r
        uniq = np.unique(pts, axis=0)
        if len(uniq) != 4:
            return None
        xs, ys = np.unique(uniq[:, 0]), np.unique(uniq[:, 1])
        if len(xs) != 2 or len(ys) != 2:
            return None
        corners = {(x, y) for x in xs for y in ys}
        if {(p[0], p[1]) for p in uniq} != corners:
            return None
        # every consecutive edge must be axis-parallel (change exactly
        # one coordinate): rejects bowtie orderings of the 4 corners,
        # which would otherwise be silently mis-classified as a full
        # rectangle (self-intersecting input must fail safe, not pass).
        closed = np.vstack([pts, pts[:1]])
        d = closed[1:] - closed[:-1]
        if not bool(np.all((d[:, 0] == 0) != (d[:, 1] == 0))):
            return None
        return float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1])

    @property
    def cover(self):
        if self._cover is None:
            self._cover = cover_at_zoom(
                polygon_cover(self.rings, self.cover_zoom), self.cover_zoom
            )
        return self._cover

    def prune_cells(self, zoom):
        """Cell ids at `zoom` overlapping the AOI — the partition-
        pruning predicate for a cell-partitioned scan."""
        from ..functions.cells import cell_parent

        cells = np.array(sorted(self.cover), dtype=np.int64)
        if zoom == self.cover_zoom:
            return set(int(c) for c in cells)
        if zoom > self.cover_zoom:
            raise ValueError(
                "prune_cells zoom %d is finer than the AOI cover zoom %d; "
                "build the AOI with cover_zoom>=%d" % (zoom, self.cover_zoom, zoom)
            )
        return set(int(c) for c in np.unique(cell_parent(cells, zoom)))


def _classify_batch(xs_min, ys_min, xs_max, ys_max, rings):
    """Vectorized bbox → 'i'/'o'/'b' classification DIRECTLY against the
    AOI rings (functions/geomkernel.classify_bboxes) — O(N×edges), no
    per-tile loops.  The quadtree cell cover remains the scan-level
    partition-pruning structure (AOI → cell prefixes), but per-feature
    classification never touches cells."""
    from ..functions.geomkernel import classify_bboxes

    return classify_bboxes(xs_min, ys_min, xs_max, ys_max, rings)


def _cut_feature(geom_type, pts, ring_offsets, part_offsets, clip_polys):
    """Cut ONE boundary-crossing feature against the AOI's convex
    pieces; the union of the pieces is the exact intersection (splits
    along internal triangulation edges are cosmetic).  Returns packed
    arrays or None (empty intersection)."""
    if geom_type == "line":
        pieces = []
        for i in range(len(ring_offsets) - 1):
            seg = pts[ring_offsets[i] : ring_offsets[i + 1]]
            for cp in clip_polys:
                pieces.extend(gk.clip_polyline_convex(seg, cp))
        if not pieces:
            return None
        nxs, nys, offs = [], [], [0]
        for p in pieces:
            nxs.extend(p[:, 0].tolist())
            nys.extend(p[:, 1].tolist())
            offs.append(len(nxs))
        return (nxs, nys, offs, [0, len(offs) - 1])

    # polygon: per part × per convex piece, outer gates its holes
    nxs, nys, roffs, poffs = [], [], [0], [0]
    for pi in range(len(part_offsets) - 1):
        ring_ids = range(part_offsets[pi], part_offsets[pi + 1])
        rings = [pts[ring_offsets[ri] : ring_offsets[ri + 1]] for ri in ring_ids]
        for cp in clip_polys:
            outer = gk.clip_ring_convex(rings[0], cp)
            if len(outer) < 3:
                continue  # part misses this piece entirely (holes ⊂ outer)
            part_rings = [outer]
            for hole in rings[1:]:
                hc = gk.clip_ring_convex(hole, cp)
                if len(hc) >= 3:
                    part_rings.append(hc)
            for ring in part_rings:
                closed = np.vstack([ring, ring[0]])
                nxs.extend(closed[:, 0].tolist())
                nys.extend(closed[:, 1].tolist())
                roffs.append(len(nxs))
            poffs.append(len(roffs) - 1)
    if len(roffs) == 1:
        return None
    return (nxs, nys, roffs, poffs)


def _exact_batch(pdf, rings, clip_polys):
    """Batch-vectorized exact clip over one Arrow batch of boundary
    candidates: ONE packed points_in_rings pass, ONE masked
    feature-edges × AOI-edges crossing pass (ring-spanning phantom
    edges excluded), then per-feature cutting ONLY for the small subset
    that actually straddles the boundary."""
    import pandas as pd

    n = len(pdf)
    xs_obj = pdf["xs"].to_numpy()
    ys_obj = pdf["ys"].to_numpy()
    sizes = np.fromiter((len(a) for a in xs_obj), dtype=np.int64, count=n)
    feat_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(sizes, out=feat_off[1:])
    pts = np.stack(
        [
            np.concatenate([np.asarray(a, dtype=np.float64) for a in xs_obj]),
            np.concatenate([np.asarray(a, dtype=np.float64) for a in ys_obj]),
        ],
        axis=1,
    )

    inside = gk.points_in_rings(pts, rings)
    n_in = np.add.reduceat(inside.astype(np.int64), feat_off[:-1])
    all_in = n_in == sizes
    any_in = n_in > 0

    # real edges only: mask out edges that span a ring (or feature) end
    ro_obj = pdf["ring_offsets"].to_numpy()
    n_edges = max(len(pts) - 1, 0)
    edge_valid = np.ones(n_edges, dtype=bool)
    ends = np.concatenate(
        [np.asarray(ro[1:], dtype=np.int64) + feat_off[i] for i, ro in enumerate(ro_obj)]
    ) - 1
    edge_valid[ends[(ends >= 0) & (ends < n_edges)]] = False
    owner = np.searchsorted(feat_off, np.arange(n_edges), side="right") - 1
    crosses = gk.batch_edges_cross_rings(pts, edge_valid, owner, n, rings)

    intersects = any_in | crosses
    fully_inside = all_in & ~crosses
    # polygon-only two-way containment refinements (one ring-head PIP
    # per flagged feature; no edge crossed, so a ring is inside the
    # feature iff its first vertex is):
    #   - any AOI ring inside the feature ⇒ they DO intersect (AOI ⊂
    #     feature, or an island ring swallowed whole),
    #   - an AOI ring inside a vertex-wise fully-inside feature ⇒ that
    #     ring is a HOLE punched through it — NOT fully inside, must be
    #     cut (routing to the exact cutter is always safe: the cut of a
    #     genuinely-inside feature returns the same region).
    gt = pdf["geom_type"].to_numpy()
    ring_heads = np.array([r[0] for r in rings])
    for i in np.nonzero((gt == "polygon") & (~intersects | fully_inside))[0]:
        ro = np.asarray(ro_obj[i], dtype=np.int64)
        base = feat_off[i]
        feat_rings = [pts[base + ro[j] : base + ro[j + 1]] for j in range(len(ro) - 1)]
        if gk.points_in_rings(ring_heads, feat_rings).any():
            intersects[i] = True
            fully_inside[i] = False
    keep_whole = intersects & (fully_inside | (clip_polys is None))
    cut_idx = np.nonzero(intersects & ~keep_whole)[0]

    kept = pdf.iloc[np.nonzero(keep_whole)[0]]
    rows = []
    for i in cut_idx:
        res = _cut_feature(
            gt[i],
            pts[feat_off[i] : feat_off[i + 1]],
            np.asarray(ro_obj[i], dtype=np.int64),
            np.asarray(pdf["part_offsets"].iloc[i], dtype=np.int64),
            clip_polys,
        )
        if res is None:
            continue
        d = pdf.iloc[i].to_dict()
        d["xs"], d["ys"], d["ring_offsets"], d["part_offsets"] = res
        rows.append(d)
    if rows:
        return pd.concat([kept, pd.DataFrame(rows)], ignore_index=True)
    return kept


def clip_features(features: DataFrame, aoi: AOI) -> DataFrame:
    """The full clip operator.  Narrow (no shuffle): classify + exact
    kernel are both vectorized maps with the AOI broadcast.  The
    input's ``_persisted_intermediates`` list is passed through so the
    pipeline owner can release everything upstream."""
    spark = features.sparkSession
    sc = spark.sparkContext
    b_aoi = sc.broadcast(
        {
            "rings": [r.tolist() for r in aoi.rings],
            "clip_polys": None
            if aoi.clip_polys is None
            else [p.tolist() for p in aoi.clip_polys],
        }
    )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def classify(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series, ymax: pd.Series) -> pd.Series:
        a = b_aoi.value
        return pd.Series(
            _classify_batch(
                xmin.to_numpy(np.float64),
                ymin.to_numpy(np.float64),
                xmax.to_numpy(np.float64),
                ymax.to_numpy(np.float64),
                [np.asarray(r) for r in a["rings"]],
            )
        )

    xmin, ymin = F.array_min("xs"), F.array_min("ys")
    xmax, ymax = F.array_max("xs"), F.array_max("ys")
    W, S, E, N = aoi.bbox
    # JVM-side bbox pregate: strict disjointness from the AOI's bbox is
    # a TRUE 'o' for any AOI shape — those rows never cross into Python.
    disjoint = (xmax < W) | (xmin > E) | (ymax < S) | (ymin > N)
    rect = aoi.as_rect()
    if rect is not None:
        # axis-aligned rectangle AOI: classification is exact in pure
        # Column math (strictly-inside → 'i'; anything touching the
        # boundary falls to 'b', where the exact kernel decides — a
        # conservative routing, never a wrong class).
        inside = (xmin > W) & (xmax < E) & (ymin > S) & (ymax < N)
        cls = F.when(disjoint, "o").when(inside, "i").otherwise("b")
    else:
        cls = F.when(disjoint, "o").otherwise(classify(xmin, ymin, xmax, ymax))
    with_cls = features.withColumn("__clip", cls)
    # inside rows ∪ exact kernel over the boundary rows: a fused one-branch
    # shape measured slower at sf1.0 (6.04 s vs 4.96 s, OPTIMIZATION_r06.md)
    kept = with_cls.where(F.col("__clip") == "i").drop("__clip")
    candidates = with_cls.where(F.col("__clip") == "b").drop("__clip")

    schema = candidates.schema

    def exact(batches):
        a = b_aoi.value
        rings = [np.asarray(r) for r in a["rings"]]
        clip_polys = (
            None
            if a["clip_polys"] is None
            else [np.asarray(p) for p in a["clip_polys"]]
        )
        for pdf in batches:
            if not len(pdf):
                continue
            out = _exact_batch(pdf, rings, clip_polys)
            if len(out):
                yield out

    clipped = candidates.mapInPandas(exact, schema=schema)
    out = kept.unionByName(clipped)
    out._persisted_intermediates = getattr(features, "_persisted_intermediates", [])
    return out
