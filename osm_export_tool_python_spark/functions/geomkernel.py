"""Vectorized numpy geometry kernels (the GEOS replacement).

No shapely/GEOS exists in this environment, so every per-feature
geometry operation the reference delegates to C libraries
(point-in-polygon and clipping via shapely prepared geometries —
reference tabular.py:259-327; centroid via OGR — tabular.py:333) is a
batched numpy kernel here, called only from Arrow-vectorized pandas
UDFs.  Never per-row Python.

Clip semantics contract (reference tabular.py):
  - points: kept iff strictly inside the AOI (prepared.contains,
    tabular.py:271-275),
  - lines: dropped unless intersecting; clipped unless contained
    (tabular.py:294-300),
  - polygons: same rule (tabular.py:321-327).

Exactness policy: point-in-polygon is exact for arbitrary
polygons-with-holes (even-odd); line and polygon *cutting* is exact
against any VALID AOI via decomposition into convex pieces —
triangulate_ring (concave single ring) or trapezoid_decompose
(multi-ring: holes, islands, nesting) — each piece cut with
Cyrus–Beck / Sutherland–Hodgman.  Invalid rings (self-intersecting,
boundary-crossing) are refused by ring_is_simple /
rings_boundaries_disjoint and the caller keeps boundary-crossing
geometries uncut (fail-safe, never a wrong cut).
"""

from __future__ import annotations

import numpy as np


# ---------------------------------------------------------------------------
# point in polygon (even-odd ray cast), vectorized over points
# ---------------------------------------------------------------------------

def points_in_rings(pts, rings):
    """pts: (N,2); rings: list of (M,2) closed-or-open rings (even-odd,
    so holes are just additional rings).  Returns bool (N,)."""
    pts = np.asarray(pts, dtype=np.float64)
    px, py = pts[:, 0], pts[:, 1]
    inside = np.zeros(len(pts), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        x0, y0 = r[:-1, 0], r[:-1, 1]
        x1, y1 = r[1:, 0], r[1:, 1]
        # edges are few (AOI); points are many — loop edges, vectorize points
        for i in range(len(x0)):
            cond = (y0[i] > py) != (y1[i] > py)
            if not cond.any():
                continue
            xs = (x1[i] - x0[i]) * (py - y0[i]) / (y1[i] - y0[i]) + x0[i]
            inside ^= cond & (px < xs)
    return inside


# ---------------------------------------------------------------------------
# segment/rect intersection (cell-cover classification)
# ---------------------------------------------------------------------------

def segment_intersects_rect(ring, rect):
    """For each edge of `ring`, does it intersect the axis-aligned rect?
    (Cohen–Sutherland outcode test, vectorized over edges.)"""
    x0r, y0r, x1r, y1r = rect
    r = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(r[0], r[-1]):
        r = np.vstack([r, r[0]])
    ax, ay, bx, by = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]

    def outcode(x, y):
        code = np.zeros(len(x), dtype=np.int64)
        code |= np.where(x < x0r, 1, 0)
        code |= np.where(x > x1r, 2, 0)
        code |= np.where(y < y0r, 4, 0)
        code |= np.where(y > y1r, 8, 0)
        return code

    ca, cb = outcode(ax, ay), outcode(bx, by)
    trivially_out = (ca & cb) != 0
    trivially_in = (ca == 0) | (cb == 0)
    result = trivially_in & ~trivially_out
    maybe = ~trivially_out & ~trivially_in
    if maybe.any():
        # exact segment-vs-rect-edge tests for the ambiguous ones
        idx = np.nonzero(maybe)[0]
        corners = np.array(
            [[x0r, y0r], [x1r, y0r], [x1r, y1r], [x0r, y1r], [x0r, y0r]]
        )
        for i in idx:
            p, q = np.array([ax[i], ay[i]]), np.array([bx[i], by[i]])
            for j in range(4):
                if _segments_cross(p, q, corners[j], corners[j + 1]):
                    result[i] = True
                    break
    return result


def classify_bboxes(x0, y0, x1, y1, rings):
    """Vectorized classification of N bboxes against a polygon
    (even-odd rings): returns array of 'i' (fully inside), 'o'
    (disjoint), 'b' (boundary/partial).  O(N × AOI edges) numpy —
    no per-tile loops, so a world-spanning bbox costs the same as a
    tiny one.  This is the prepared-geometry fast path (reference
    tabular.py:259-261) for the clip operator."""
    x0 = np.asarray(x0, dtype=np.float64)
    y0 = np.asarray(y0, dtype=np.float64)
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    n = len(x0)

    # corner containment (4N points against the rings)
    corners = np.empty((4 * n, 2), dtype=np.float64)
    corners[0::4] = np.stack([x0, y0], axis=1)
    corners[1::4] = np.stack([x1, y0], axis=1)
    corners[2::4] = np.stack([x1, y1], axis=1)
    corners[3::4] = np.stack([x0, y1], axis=1)
    cin = points_in_rings(corners, rings).reshape(n, 4)
    all_in = cin.all(axis=1)
    any_in = cin.any(axis=1)

    # does ANY polygon edge intersect bbox i?  per-edge vectorized over bboxes
    crosses = np.zeros(n, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        for j in range(len(r) - 1):
            todo = ~crosses
            if not todo.any():
                break
            ax, ay = r[j]
            bx, by = r[j + 1]
            # trivially outside one side of the bbox?
            out = (
                (max(ax, bx) < x0)
                | (min(ax, bx) > x1)
                | (max(ay, by) < y0)
                | (min(ay, by) > y1)
            )
            cand = todo & ~out
            if not cand.any():
                continue
            # endpoint inside bbox ⇒ cross
            in_a = (ax >= x0) & (ax <= x1) & (ay >= y0) & (ay <= y1)
            in_b = (bx >= x0) & (bx <= x1) & (by >= y0) & (by <= y1)
            crosses |= cand & (in_a | in_b)
            cand = cand & ~(in_a | in_b)
            if not cand.any():
                continue
            # segment straddles the bbox: test the two bbox diagonals
            dx, dy = bx - ax, by - ay
            for (px, py, qx, qy) in (
                (x0, y0, x1, y1),
                (x0, y1, x1, y0),
            ):
                d1 = dx * (py - ay) - dy * (px - ax)
                d2 = dx * (qy - ay) - dy * (qx - ax)
                ex, ey = qx - px, qy - py
                d3 = ex * (ay - py) - ey * (ax - px)
                d4 = ex * (by - py) - ey * (bx - px)
                crosses |= cand & ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))

    # polygon-inside-bbox (first AOI vertex in bbox)
    p0 = rings[0][0]
    poly_in_bbox = (p0[0] >= x0) & (p0[0] <= x1) & (p0[1] >= y0) & (p0[1] <= y1)

    out = np.full(n, "o", dtype="U1")
    out[crosses | (any_in & ~all_in) | (poly_in_bbox & ~all_in)] = "b"
    out[all_in & ~crosses] = "i"
    return out


def _segments_cross(p, q, a, b):
    def orient(o, u, v):
        return (u[0] - o[0]) * (v[1] - o[1]) - (u[1] - o[1]) * (v[0] - o[0])

    d1, d2 = orient(p, q, a), orient(p, q, b)
    d3, d4 = orient(a, b, p), orient(a, b, q)
    if ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)):
        return True
    return False


def batch_edges_cross_rings(pts, edge_valid, owner, n_owners, rings):
    """Per-owner 'any edge properly crosses any ring edge' over ONE
    packed batch of features.

    pts: (N,2) concatenated vertices; edge_valid: (N-1,) mask of real
    edges (False where consecutive points belong to different rings or
    features); owner: (N-1,) owning-feature index per edge; n_owners:
    number of features.  Vectorized feature_edges × ring_edges with
    chunking to bound the pair matrix at ~4M pairs."""
    out = np.zeros(n_owners, dtype=bool)
    if len(pts) < 2 or not edge_valid.any():
        return out
    p = pts[:-1][edge_valid]
    d = (pts[1:] - pts[:-1])[edge_valid]
    own = owner[edge_valid]
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[0]])
        a = r[:-1]
        e = r[1:] - a
        m = len(a)
        step = max(1, 4_000_000 // max(m, 1))
        for s in range(0, len(p), step):
            ps, ds = p[s : s + step], d[s : s + step]
            w0 = a[None, :, 0] - ps[:, None, 0]
            w1 = a[None, :, 1] - ps[:, None, 1]
            v0 = (a + e)[None, :, 0] - ps[:, None, 0]
            v1 = (a + e)[None, :, 1] - ps[:, None, 1]
            d1 = ds[:, None, 0] * w1 - ds[:, None, 1] * w0
            d2 = ds[:, None, 0] * v1 - ds[:, None, 1] * v0
            u0 = -w0
            u1 = -w1
            q0 = ps[:, None, 0] + ds[:, None, 0] - a[None, :, 0]
            q1 = ps[:, None, 1] + ds[:, None, 1] - a[None, :, 1]
            d3 = e[None, :, 0] * u1 - e[None, :, 1] * u0
            d4 = e[None, :, 0] * q1 - e[None, :, 1] * q0
            hit = (((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))).any(axis=1)
            np.logical_or.at(out, own[s : s + step][hit], True)
    return out


def _points_in_triangle(pts, a, b, c):
    """Inclusive barycentric-sign containment (boundary counts)."""
    p = np.asarray(pts, dtype=np.float64)
    d1 = (b[0] - a[0]) * (p[:, 1] - a[1]) - (b[1] - a[1]) * (p[:, 0] - a[0])
    d2 = (c[0] - b[0]) * (p[:, 1] - b[1]) - (c[1] - b[1]) * (p[:, 0] - b[0])
    d3 = (a[0] - c[0]) * (p[:, 1] - c[1]) - (a[1] - c[1]) * (p[:, 0] - c[0])
    return (d1 >= 0) & (d2 >= 0) & (d3 >= 0)


def _seg_orient(a, b, c):
    """Sign of the cross product (b-a)×(c-a): +1 / 0 / -1."""
    v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return 0 if v == 0.0 else (1 if v > 0.0 else -1)


def _on_segment(a, b, c):
    """Collinear point c lies on closed segment [a, b]."""
    return (
        min(a[0], b[0]) <= c[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= c[1] <= max(a[1], b[1])
    )


def _segments_intersect(p1, p2, q1, q2):
    """Closed-segment intersection test (proper crossings AND improper
    touch/overlap), via orientation signs — the exact predicate modulo
    float rounding of the cross products themselves."""
    o1 = _seg_orient(p1, p2, q1)
    o2 = _seg_orient(p1, p2, q2)
    o3 = _seg_orient(q1, q2, p1)
    o4 = _seg_orient(q1, q2, p2)
    if o1 != o2 and o3 != o4:
        return True
    if o1 == 0 and _on_segment(p1, p2, q1):
        return True
    if o2 == 0 and _on_segment(p1, p2, q2):
        return True
    if o3 == 0 and _on_segment(q1, q2, p1):
        return True
    if o4 == 0 and _on_segment(q1, q2, p2):
        return True
    return False


def ring_is_simple(ring):
    """True iff the ring (open or closed form) is a simple polygon: no
    two non-adjacent edges intersect or touch, and no zero-length or
    repeated vertices.  O(n²) exact segment tests — driver-side only,
    AOI rings are small.  Non-simple rings make ear-clipping (and any
    area/containment semantics) undefined, so callers refuse them."""
    p = np.asarray(ring, dtype=np.float64)
    if len(p) and np.array_equal(p[0], p[-1]):
        p = p[:-1]
    n = len(p)
    if n < 3:
        return False
    if len(np.unique(p, axis=0)) != n:
        return False  # repeated vertex ⇒ pinch point
    for i in range(n):
        # spike: consecutive edges collinear AND doubling back
        a, b, c = p[i - 1], p[i], p[(i + 1) % n]
        if _seg_orient(a, b, c) == 0 and (
            (a[0] - b[0]) * (c[0] - b[0]) + (a[1] - b[1]) * (c[1] - b[1])
        ) > 0.0:
            return False
    for i in range(n):
        a1, a2 = p[i], p[(i + 1) % n]
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue  # adjacent edges share a vertex by construction
            b1, b2 = p[j], p[(j + 1) % n]
            if _segments_intersect(a1, a2, b1, b2):
                return False
    return True


def rings_boundaries_disjoint(rings):
    """True iff no edge of any ring intersects/touches an edge of any
    OTHER ring (proper nesting or full separation — the precondition
    for the even-odd region to be well defined as outer∖holes ∪
    islands).  O((ΣV)²) exact segment tests, driver-side only."""
    closed = []
    for r in rings:
        p = np.asarray(r, dtype=np.float64)
        if not np.array_equal(p[0], p[-1]):
            p = np.vstack([p, p[0]])
        closed.append(p)
    for i in range(len(closed)):
        for j in range(i + 1, len(closed)):
            a, b = closed[i], closed[j]
            for k in range(len(a) - 1):
                for m in range(len(b) - 1):
                    if _segments_intersect(a[k], a[k + 1], b[m], b[m + 1]):
                        return False
    return True


def trapezoid_decompose(rings):
    """Even-odd region of a multi-ring AOI (outer(s) minus holes,
    arbitrary nesting) → list of convex pieces whose union is EXACTLY
    the region: a vertical-slab sweep.  All ring vertex x-coordinates
    cut the plane into slabs; inside a slab no vertex is strictly
    interior, so every non-vertical edge either spans the slab or
    misses it, the spanning segments are vertically ordered (rings are
    simple + pairwise disjoint ⇒ no crossings), and even-odd pairing
    of consecutive segments yields convex trapezoids.  This is the
    multi-ring / holes generalization of triangulate_ring — same
    contract: [] means "refused, caller falls back to keep-uncut".

    Piece count is O(V × nesting-depth) (more pieces than a
    triangulation, but each is convex and the decomposition is robust
    for ANY simple-ring configuration).  Driver-side only; AOI rings
    are small.  Splits along slab boundaries are cosmetic (part
    structure, not coverage) — same caveat as the triangulation path."""
    closed = []
    for r in rings:
        p = np.asarray(r, dtype=np.float64)
        if not ring_is_simple(p):
            return []
        if not np.array_equal(p[0], p[-1]):
            p = np.vstack([p, p[0]])
        closed.append(p)
    if not rings_boundaries_disjoint(closed):
        return []

    a = np.concatenate([p[:-1] for p in closed])
    b = np.concatenate([p[1:] for p in closed])
    nonvert = a[:, 0] != b[:, 0]
    a, b = a[nonvert], b[nonvert]
    # orient every edge left→right so interpolation is uniform
    flip = a[:, 0] > b[:, 0]
    a[flip], b[flip] = b[flip].copy(), a[flip].copy()

    xs = np.unique(np.concatenate([p[:, 0] for p in closed]))
    pieces = []
    for s in range(len(xs) - 1):
        x1, x2 = xs[s], xs[s + 1]
        span = (a[:, 0] <= x1) & (b[:, 0] >= x2)
        ea, eb = a[span], b[span]
        if len(ea) == 0:
            continue
        if len(ea) % 2:
            return []  # parity violation ⇒ degenerate input, refuse
        t1 = (x1 - ea[:, 0]) / (eb[:, 0] - ea[:, 0])
        t2 = (x2 - ea[:, 0]) / (eb[:, 0] - ea[:, 0])
        y1 = ea[:, 1] + t1 * (eb[:, 1] - ea[:, 1])
        y2 = ea[:, 1] + t2 * (eb[:, 1] - ea[:, 1])
        # edges whose endpoint lies ON a slab boundary take the vertex
        # value EXACTLY (a + 1.0*(b-a) can differ from b by 1 ulp,
        # which leaves near-duplicate corners that survive the
        # dedup below and produce hairline non-convex quads)
        y1 = np.where(ea[:, 0] == x1, ea[:, 1], y1)
        y2 = np.where(eb[:, 0] == x2, eb[:, 1], y2)
        order = np.lexsort((y2, y1))
        y1, y2 = y1[order], y2[order]
        for k in range(0, len(y1), 2):
            lo1, lo2, hi1, hi2 = y1[k], y2[k], y1[k + 1], y2[k + 1]
            quad = [[x1, lo1], [x2, lo2], [x2, hi2], [x1, hi1]]
            # drop duplicate corners (triangle at a vertex) + degenerates
            ring_out = [quad[0]]
            for q in quad[1:]:
                if q != ring_out[-1]:
                    ring_out.append(q)
            if ring_out[0] == ring_out[-1]:
                ring_out.pop()
            if len(ring_out) < 3:
                continue
            tr = np.array(ring_out)
            if abs(signed_area(tr)) < 1e-18:
                continue
            pieces.append(_ensure_ccw(tr))
    return pieces


def triangulate_ring(ring):
    """Ear-clipping triangulation of a simple (possibly concave) ring.
    Returns a list of (3,2) CCW triangles — the convex decomposition
    that lets the Cyrus–Beck / Sutherland–Hodgman kernels cut against
    concave AOIs exactly (clip per triangle, union of the pieces).
    O(n²) driver-side; AOI rings are small.

    Ear-clipping is undefined on non-simple input, so self-intersecting
    rings are REFUSED up front (returns []) rather than silently
    producing an overlapping decomposition — callers treat [] as
    "cutting unsupported" and take the documented keep-uncut fallback."""
    if not ring_is_simple(ring):
        return []
    p = _ensure_ccw(ring)
    idx = list(range(len(p)))
    tris = []
    guard = 0
    while len(idx) > 3 and guard < 4 * len(p):
        guard += 1
        clipped_one = False
        for k in range(len(idx)):
            i0 = idx[k - 1]
            i1 = idx[k]
            i2 = idx[(k + 1) % len(idx)]
            a, b, c = p[i0], p[i1], p[i2]
            cr = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
            if cr <= 0:
                continue  # reflex or degenerate corner — not an ear
            others = [j for j in idx if j not in (i0, i1, i2)]
            if others and _points_in_triangle(p[others], a, b, c).any():
                continue
            tris.append(np.array([a, b, c]))
            idx.pop(k)
            clipped_one = True
            break
        if not clipped_one:
            # numerically degenerate polygon: give up on decomposition
            return []
    if len(idx) == 3:
        tris.append(p[idx])
    return tris


# ---------------------------------------------------------------------------
# convex clipping
# ---------------------------------------------------------------------------

def _ensure_ccw(poly):
    poly = np.asarray(poly, dtype=np.float64)
    if np.array_equal(poly[0], poly[-1]):
        poly = poly[:-1]
    if signed_area(poly) < 0:
        poly = poly[::-1]
    return poly


def is_convex(poly):
    p = _ensure_ccw(poly)
    n = len(p)
    sign = 0
    for i in range(n):
        a, b, c = p[i], p[(i + 1) % n], p[(i + 2) % n]
        cr = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
        if cr != 0:
            s = 1 if cr > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


def clip_polyline_convex(coords, clip_poly):
    """Cyrus–Beck parametric clip of a polyline against a convex CCW
    polygon.  Returns a list of (K,2) arrays — the kept pieces
    (MultiLineString semantics, matching the reference comment at
    tabular.py:285-288 that clipped ways may become multilinestrings)."""
    clip = _ensure_ccw(clip_poly)
    n = len(clip)
    # inward edge normals
    edges = np.roll(clip, -1, axis=0) - clip
    normals = np.stack([-edges[:, 1], edges[:, 0]], axis=1)  # left normal (CCW ⇒ inward)

    coords = np.asarray(coords, dtype=np.float64)
    pieces = []
    cur = []
    for i in range(len(coords) - 1):
        p0, p1 = coords[i], coords[i + 1]
        d = p1 - p0
        t0, t1 = 0.0, 1.0
        ok = True
        for j in range(n):
            w = p0 - clip[j]
            num = -normals[j].dot(w)
            den = normals[j].dot(d)
            if den == 0.0:
                # parallel to edge: reject iff fully on the outside
                # (num = -n·w, so outside ⇔ n·w < 0 ⇔ num > 0)
                if num > 0.0:
                    ok = False
                    break
            else:
                # near-parallel edges can make num/den overflow to inf;
                # the t0/t1 interval logic handles inf correctly (the
                # segment is rejected via t0 > t1), so silence the
                # benign RuntimeWarning rather than branch on magnitude
                with np.errstate(over="ignore"):
                    t = num / den
                if den > 0.0:
                    t0 = max(t0, t)
                else:
                    t1 = min(t1, t)
                if t0 > t1:
                    ok = False
                    break
        if not ok:
            if len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = []
            continue
        a = p0 + t0 * d
        b = p0 + t1 * d
        if not cur:
            cur = [a, b]
        elif np.allclose(cur[-1], a):
            cur.append(b)
        else:
            if len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = [a, b]
        if t1 < 1.0:  # exits the clip region: close the piece
            if len(cur) >= 2:
                pieces.append(np.asarray(cur))
            cur = []
    if len(cur) >= 2:
        pieces.append(np.asarray(cur))
    return pieces


def clip_ring_convex(ring, clip_poly):
    """Sutherland–Hodgman clip of one ring against a convex CCW polygon.
    Returns (K,2) array (possibly empty)."""
    clip = _ensure_ccw(clip_poly)
    out = _ensure_ccw(ring)
    n = len(clip)
    for j in range(n):
        if len(out) == 0:
            return np.empty((0, 2))
        a, b = clip[j], clip[(j + 1) % n]
        ex, ey = b[0] - a[0], b[1] - a[1]
        px, py = out[:, 0], out[:, 1]
        side = ex * (py - a[1]) - ey * (px - a[0])  # >0 ⇒ inside (left of edge)
        keep = side >= 0
        nxt = np.roll(keep, -1)
        res = []
        for i in range(len(out)):
            p = out[i]
            q = out[(i + 1) % len(out)]
            if keep[i]:
                res.append(p)
            if keep[i] != nxt[i]:
                sp = side[i]
                sq = side[(i + 1) % len(out)]
                t = sp / (sp - sq)
                res.append(p + t * (q - p))
        out = np.asarray(res) if res else np.empty((0, 2))
    return out


# ---------------------------------------------------------------------------
# measures
# ---------------------------------------------------------------------------

def signed_area(ring):
    r = np.asarray(ring, dtype=np.float64)
    if np.array_equal(r[0], r[-1]):
        r = r[:-1]
    x, y = r[:, 0], r[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def polygon_centroid(ring):
    """Shoelace-weighted centroid (reference uses OGR Centroid(),
    tabular.py:333)."""
    r = np.asarray(ring, dtype=np.float64)
    if np.array_equal(r[0], r[-1]):
        r = r[:-1]
    x, y = r[:, 0], r[:, 1]
    xn, yn = np.roll(x, -1), np.roll(y, -1)
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if a == 0.0:
        return float(x.mean()), float(y.mean())
    cx = float(((x + xn) * cross).sum() / (6.0 * a))
    cy = float(((y + yn) * cross).sum() / (6.0 * a))
    return cx, cy


def haversine_m(lon1, lat1, lon2, lat2):
    """Vectorized haversine distance in meters."""
    R = 6371008.8
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(a, dtype=np.float64)) for a in (lon1, lat1, lon2, lat2))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2.0) ** 2
    return 2.0 * R * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))
