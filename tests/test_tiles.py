"""Tile assignment: bbox covers, golden point assignments, salted
packing equivalence, JVM-side cell decode parity."""

from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from osm_export_tool_python_spark.functions.cells import cell_decode, cell_encode
from osm_export_tool_python_spark.operators.assemble import FEATURE_SCHEMA
from osm_export_tool_python_spark.operators.tiles import (
    decode_cell_cols,
    tile_counts,
    tile_features,
    with_tile_cells,
    with_tile_cells_exact,
)


def _pt(osm_id, x, y):
    return (osm_id, "node", "point", {"a": "1"}, [x], [y], [0, 1], [0, 1])


def _line(osm_id, coords):
    xs = [float(c[0]) for c in coords]
    ys = [float(c[1]) for c in coords]
    return (osm_id, "way", "line", {"a": "1"}, xs, ys, [0, len(xs)], [0, 1])


def test_point_assignment_golden(spark):
    df = spark.createDataFrame([_pt(1, 0.02435, 51.51202)], FEATURE_SCHEMA)
    out = (
        with_tile_cells_exact(df, 17, 17)
        .select(decode_cell_cols("cell"))
        .select("c.*")
        .collect()
    )
    assert len(out) == 1
    assert (out[0]["z"], out[0]["x"], out[0]["y"]) == (17, 65544, 43582)


def test_jvm_cell_decode_matches_numpy(spark):
    rng = np.random.default_rng(11)
    lon = rng.uniform(-179, 179, 300)
    lat = rng.uniform(-84, 84, 300)
    for zoom in (3, 11, 18):
        cells = cell_encode(lon, lat, zoom)
        df = spark.createDataFrame([(int(c),) for c in cells], "cell long")
        rows = df.select("cell", decode_cell_cols("cell")).select("cell", "c.*").collect()
        z, x, y = cell_decode(cells)
        byc = {int(c): (int(zz), int(xx), int(yy)) for c, zz, xx, yy in zip(cells, z, x, y)}
        for r in rows:
            assert (r["z"], r["x"], r["y"]) == byc[r["cell"]]


def test_line_bbox_cover(spark):
    # a line spanning 2 tiles at z=10
    df = spark.createDataFrame([_line(1, [(0.01, 0.01), (0.5, 0.01)])], FEATURE_SCHEMA)
    cells = [r["cell"] for r in with_tile_cells(df, 10, 10).select("cell").collect()]
    z, x, y = cell_decode(np.array(cells))
    assert (z == 10).all()
    assert len(cells) == len(set(cells))
    exp_x0, _ = (int(a[0]) for a in __import__(
        "osm_export_tool_python_spark.functions.cells", fromlist=["lonlat_to_tile"]
    ).lonlat_to_tile([0.01], [0.01], 10))
    assert exp_x0 in x.tolist()


def test_tile_counts_multizoom(spark):
    df = spark.createDataFrame([_pt(i, 10.0 + i * 1e-4, 50.0) for i in range(20)], FEATURE_SCHEMA)
    counts = tile_counts(df, 0, 4).collect()
    by_z = {}
    for r in counts:
        by_z.setdefault(r["z"], 0)
        by_z[r["z"]] += r["n_features"]
    # every zoom sees all 20 features (they share tiles at coarse zooms)
    assert by_z == {z: 20 for z in range(5)}


def test_salted_packing_equals_unsalted(spark):
    rng = np.random.default_rng(5)
    rows = [_pt(i, float(13.4 + rng.normal() * 0.01), float(52.5 + rng.normal() * 0.01)) for i in range(200)]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    a = {
        (r["z"], r["x"], r["y"]): (r["n_features"], tuple(r["osm_ids"]))
        for r in tile_features(df, 6, 8, salt=16).collect()
    }
    b = {
        (r["z"], r["x"], r["y"]): (r["n_features"], tuple(r["osm_ids"]))
        for r in tile_features(df, 6, 8, salt=1).collect()
    }
    assert a == b
    assert sum(v[0] for v in a.values()) == 600  # 200 pts × 3 zooms


def test_packed_tile_list_bounded_with_exact_overflow(spark):
    # 200 clustered points: at z6 they share one tile, so a cap of 10
    # must yield the sorted FIRST 10 ids, an exact n_features, and
    # n_overflow making up the difference; roomier tiles (cap 1000)
    # carry the complete list with overflow 0.
    rng = np.random.default_rng(5)
    rows = [
        _pt(i, float(13.4 + rng.normal() * 0.001), float(52.5 + rng.normal() * 0.001))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    full = {
        (r["z"], r["x"], r["y"]): (r["n_features"], tuple(r["osm_ids"]), r["n_overflow"])
        for r in tile_features(df, 6, 8, salt=16, max_ids_per_tile=1000).collect()
    }
    capped = {
        (r["z"], r["x"], r["y"]): (r["n_features"], tuple(r["osm_ids"]), r["n_overflow"])
        for r in tile_features(df, 6, 8, salt=16, max_ids_per_tile=10).collect()
    }
    assert set(full) == set(capped)
    for key, (n, ids, over) in full.items():
        assert over == 0
        assert len(ids) == n  # complete list under a roomy cap
        cn, cids, cover = capped[key]
        assert cn == n  # the count never truncates
        assert cids == ids[: min(10, n)]  # sorted first-N sample
        assert cover == n - len(cids)


# ---------------------------------------------------------------------------
# exact (intersection) assignment
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

from osm_export_tool_python_spark.functions.cells import (  # noqa: E402
    lonlat_to_tile,
    tile_bounds,
)
from osm_export_tool_python_spark.functions.geomkernel import (  # noqa: E402
    points_in_rings,
    segment_intersects_rect,
)
from osm_export_tool_python_spark.operators.tiles import exact_cells_batch  # noqa: E402


def _brute_tiles(geom_type, xs, ys, ring_offsets, z):
    """O(bbox-tiles × edges) reference rasterizer built on the geometry
    kernel's own primitives (independent of the traversal code)."""
    n = 2**z
    xs = np.asarray(xs, float)
    ys = np.asarray(ys, float)
    rings, segs = [], []
    for i in range(len(ring_offsets) - 1):
        a, b = ring_offsets[i], ring_offsets[i + 1]
        pts = np.stack([xs[a:b], ys[a:b]], axis=1)
        if geom_type == "polygon":
            pts_c = pts if np.allclose(pts[0], pts[-1]) else np.vstack([pts, pts[0]])
            rings.append(pts_c[:-1])
            segs.extend((pts_c[j], pts_c[j + 1]) for j in range(len(pts_c) - 1))
        else:
            segs.extend((pts[j], pts[j + 1]) for j in range(len(pts) - 1))
    tx, ty = lonlat_to_tile(xs, ys, z)
    out = set()
    for X in range(max(int(tx.min()) - 1, 0), min(int(tx.max()) + 1, n - 1) + 1):
        for Y in range(max(int(ty.min()) - 1, 0), min(int(ty.max()) + 1, n - 1) + 1):
            w, s, e, nn = (float(v) for v in tile_bounds(X, Y, z))
            hit = any(
                segment_intersects_rect(np.vstack([p, q]), (w, s, e, nn)).any()
                for p, q in segs
            )
            if not hit and geom_type == "polygon" and rings:
                c = np.array([[(w + e) / 2, (s + nn) / 2]])
                hit = bool(points_in_rings(c, rings)[0])
            if hit:
                out.add((X, Y))
    return out


def test_exact_kernel_matches_bruteforce_fuzz():
    rng = np.random.default_rng(23)
    for trial in range(16):
        z = int(rng.integers(3, 8))
        kind = ["line", "polygon"][trial % 2]
        if kind == "line":
            # random walk with |Δlon| < 180 per segment: the kernel
            # now interprets wider jumps as antimeridian wraps (split
            # at ±180), which the literal brute rasterizer can't model
            npts = int(rng.integers(2, 6))
            steps = rng.uniform(-90.0, 90.0, npts - 1)
            xs = np.clip(
                np.cumsum(np.concatenate([[rng.uniform(-170, 170)], steps])),
                -179.9,
                179.9,
            )
            ys = rng.uniform(-70, 70, npts)
            offs = [0, npts]
        else:
            nv = int(rng.integers(3, 8))
            cx, cy = rng.uniform(-100, 100), rng.uniform(-50, 50)
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
            rad = rng.uniform(5, 40, nv)
            xs = cx + rad * np.cos(ang)
            ys = np.clip(cy + rad * np.sin(ang), -80, 80)
            if trial % 4 == 1:  # half closed-way style, half relation style
                xs = np.append(xs, xs[0])
                ys = np.append(ys, ys[0])
            offs = [0, len(xs)]
        got = exact_cells_batch([kind], [xs], [ys], [offs], z, z)[0]
        gz, gx, gy = cell_decode(got)
        assert set(zip(gx.tolist(), gy.tolist())) == _brute_tiles(kind, xs, ys, offs, z)


def test_exact_line_strict_subset_of_bbox_cover():
    """A diagonal way's exact tile set is a STRICT subset of its bbox
    cover — the intersection-semantics upgrade, measured.  (Δlon kept
    under 180° so the segment is a literal diagonal, not a wrap.)"""
    xs = np.array([-20.03, 150.41])
    ys = np.array([-75.17, 70.23])
    got = exact_cells_batch(["line"], [xs], [ys], [[0, 2]], 8, 8)[0]
    _, gx, gy = cell_decode(got)
    bbox_cover = (gx.max() - gx.min() + 1) * (gy.max() - gy.min() + 1)
    assert len(got) > 256  # the old silent cap would have dropped it entirely
    assert len(got) < bbox_cover / 10  # strict subset, and dramatically so


def test_antimeridian_line_takes_short_arcs():
    """A Fiji-style way (179.5,-17)→(-179.5,-17.2) crosses ±180: its
    tiles are the TWO SHORT ARCS beside the antimeridian, never the
    around-the-world band.  At z4 each arc stays inside one tile, so
    the expected set is closed-form: {(15, 8), (0, 8)}."""
    got = exact_cells_batch(
        ["line"], [np.array([179.5, -179.5])], [np.array([-17.0, -17.2])],
        [[0, 2]], 4, 4,
    )[0]
    _, gx, gy = cell_decode(got)
    assert set(zip(gx.tolist(), gy.tolist())) == {(15, 8), (0, 8)}
    # and westbound (the mirror jump) produces the same two tiles
    got_w = exact_cells_batch(
        ["line"], [np.array([-179.5, 179.5])], [np.array([-17.2, -17.0])],
        [[0, 2]], 4, 4,
    )[0]
    _, wx, wy = cell_decode(got_w)
    assert set(zip(wx.tolist(), wy.tolist())) == {(15, 8), (0, 8)}


def test_antimeridian_multi_crossing_and_latitudes():
    """The split interpolates latitude at the boundary in UNWRAPPED lon
    space: a long wrapped segment's two halves each supercover their
    own side, verified against the brute rasterizer run per half."""
    xs = np.array([170.2, -160.7])
    ys = np.array([-10.3, 24.9])
    z = 5
    got = exact_cells_batch(["line"], [xs], [ys], [[0, 2]], z, z)[0]
    _, gx, gy = cell_decode(got)
    # closed-form halves: crossing at t = (180-170.2)/29.1
    t = (180.0 - 170.2) / ((-160.7 + 360.0) - 170.2)
    latm = -10.3 + t * (24.9 - (-10.3))
    east = _brute_tiles("line", [170.2, 179.999999], [-10.3, latm], [0, 2], z)
    west = _brute_tiles("line", [-179.999999, -160.7], [latm, 24.9], [0, 2], z)
    assert set(zip(gx.tolist(), gy.tolist())) == east | west


def test_antimeridian_polygon_raises():
    import pytest

    with pytest.raises(ValueError, match="antimeridian"):
        exact_cells_batch(
            ["polygon"],
            [np.array([179.0, -179.0, -179.0, 179.0])],
            [np.array([-17.0, -17.0, -18.0, -18.0])],
            [[0, 4]],
            4,
            4,
        )


def test_antimeridian_degenerate_same_meridian():
    """±180 → ∓180 at the same latitude is the SAME meridian — a
    zero-length segment, not a world-spanning one."""
    got = exact_cells_batch(
        ["line"], [np.array([-180.0, 180.0])], [np.array([10.0, 10.0])],
        [[0, 2]], 3, 3,
    )[0]
    _, gx, gy = cell_decode(got)
    tiles = set(zip(gx.tolist(), gy.tolist()))
    assert tiles <= {(0, 3), (7, 3)} and tiles  # only the meridian's edge tiles


def test_exact_donut_hole_interior_absent():
    """Tiles fully inside a polygon's hole are NOT assigned; tiles on
    the hole boundary are."""
    outer_x = [-30.17, 50.37, 50.37, -30.17]
    outer_y = [-40.23, -40.23, 45.11, 45.11]
    hole_x = [-10.08, 25.19, 25.19, -10.08]
    hole_y = [-20.13, -20.13, 30.07, 30.07]
    xs = np.array(outer_x + hole_x)
    ys = np.array(outer_y + hole_y)
    got = exact_cells_batch(["polygon"], [xs], [ys], [[0, 4, 8]], 6, 6)[0]
    _, gx, gy = cell_decode(got)
    tiles = set(zip(gx.tolist(), gy.tolist()))
    n = 64.0
    hx0, hx1 = (np.array([-10.08, 25.19]) + 180.0) / 360.0 * n

    def yf(lat):
        return float((1 - np.arcsinh(np.tan(np.radians(lat))) / np.pi) / 2 * n)

    hy0, hy1 = yf(30.07), yf(-20.13)
    interior = {
        (x, y)
        for x in range(int(np.ceil(hx0)), int(np.floor(hx1)))
        for y in range(int(np.ceil(hy0)), int(np.floor(hy1)))
        if x + 1 <= np.floor(hx1) and y + 1 <= np.floor(hy1)
    }
    assert interior and not (tiles & interior)
    # hole-boundary tiles present
    assert (int(np.floor(hx0)), int(np.floor(hy0))) in tiles


def test_with_tile_cells_exact_spark_roundtrip(spark):
    """Spark-side exact assignment: points equal the bbox path (a
    point's bbox IS its tile); a line feature matches the kernel."""
    rows = [
        _pt(1, 13.42, 52.51),
        _line(2, [(-20.3, 10.1), (31.7, 44.9)]),
    ]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    out = with_tile_cells_exact(df, 5, 6).select("osm_id", "cell").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["osm_id"], set()).add(r["cell"])
    pt_bbox = {
        r["cell"]
        for r in with_tile_cells(df.where(F.col("osm_id") == 1), 5, 6).collect()
    }
    assert by_id[1] == pt_bbox
    want = set()
    for z in (5, 6):
        want |= set(
            exact_cells_batch(
                ["line"],
                [np.array([-20.3, 31.7])],
                [np.array([10.1, 44.9])],
                [[0, 2]],
                z,
                z,
            )[0].tolist()
        )
    assert by_id[2] == want


def test_exact_kernel_donut_fuzz():
    """Randomized outer+hole polygons (relation-style unclosed rings)
    against the brute-force rasterizer — holes via even-odd."""
    rng = np.random.default_rng(41)
    for trial in range(8):
        z = int(rng.integers(4, 7))
        cx, cy = rng.uniform(-90, 90), rng.uniform(-45, 45)
        w, h = rng.uniform(15, 40), rng.uniform(15, 40)
        outer = np.array(
            [[cx - w, cy - h], [cx + w, cy - h], [cx + w, cy + h], [cx - w, cy + h]]
        )
        hw, hh = w * rng.uniform(0.2, 0.6), h * rng.uniform(0.2, 0.6)
        ox, oy = rng.uniform(-0.3, 0.3) * w, rng.uniform(-0.3, 0.3) * h
        hole = np.array(
            [
                [cx + ox - hw, cy + oy - hh],
                [cx + ox + hw, cy + oy - hh],
                [cx + ox + hw, cy + oy + hh],
                [cx + ox - hw, cy + oy + hh],
            ]
        )
        xs = np.concatenate([outer[:, 0], hole[:, 0]])
        ys = np.clip(np.concatenate([outer[:, 1], hole[:, 1]]), -80, 80)
        offs = [0, 4, 8]
        got = exact_cells_batch(["polygon"], [xs], [ys], [offs], z, z)[0]
        _, gx, gy = cell_decode(got)
        assert set(zip(gx.tolist(), gy.tolist())) == _brute_tiles(
            "polygon", xs, ys, offs, z
        )


def test_exact_kernel_single_point_trailing_part():
    """A degenerate 1-point part AFTER the first ring generates no
    segments; its tile must still be covered (per-ring first-point
    fallback, not just per-feature)."""
    out = exact_cells_batch(
        ["line"], [[0.1, 0.2, 50.0]], [[0.1, 0.2, 50.0]], [[0, 2, 3]], 6, 6
    )
    _, gx, gy = cell_decode(out[0])
    got = set(zip(gx.tolist(), gy.tolist()))
    px, py = lonlat_to_tile(np.array([50.0]), np.array([50.0]), 6)
    assert (int(px[0]), int(py[0])) in got
    # and an empty trailing feature stays safely empty
    out2 = exact_cells_batch(
        ["line", "point"], [[0.0, 1.0], []], [[0.0, 1.0], []], [None, None], 4, 4
    )
    assert len(out2[1]) == 0 and len(out2[0]) > 0


def test_null_geom_type_straddler_still_assigned(spark):
    """A multi-tile feature with a NULL geom_type must not vanish: the
    kernel UDF identifies routed-away rows by their NULLED coordinate
    arrays, not by geom_type, and rasterizes unknown types as lines
    (masking on geom_type silently dropped these rows)."""
    coords = [(-20.3, 10.1), (31.7, 44.9)]
    rows = [
        (1, "way", None, {"a": "1"},
         [c[0] for c in coords], [c[1] for c in coords], [0, 2], [0, 1]),
        _line(2, coords),
    ]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    out = with_tile_cells_exact(df, 5, 6).select("osm_id", "cell").collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["osm_id"], set()).add(r["cell"])
    assert 1 in by_id, "NULL geom_type feature dropped from tile table"
    assert by_id[1] == by_id[2]  # same tiles as the identical line


def _collect_rows(df, min_z, max_z):
    """(osm_id, cell) multiset of the Spark exact assignment."""
    return Counter(
        (r["osm_id"], r["cell"])
        for r in with_tile_cells_exact(df, min_z, max_z)
        .select("osm_id", "cell")
        .collect()
    )


def _oracle_rows(rows, min_z, max_z):
    """The same multiset from `exact_cells_batch` run locally over
    EVERY row (FEATURE_SCHEMA tuples) — no single-tile Column route."""
    cells = exact_cells_batch(
        ["" if r[2] is None else r[2] for r in rows],
        [np.asarray(r[4], np.float64) for r in rows],
        [np.asarray(r[5], np.float64) for r in rows],
        [r[6] for r in rows],
        min_z,
        max_z,
    )
    return Counter(
        (r[0], int(c)) for r, cs in zip(rows, cells) for c in cs.tolist()
    )


def _assert_matches_oracle(spark, rows, min_z, max_z):
    got = _collect_rows(spark.createDataFrame(rows, FEATURE_SCHEMA), min_z, max_z)
    assert got == _oracle_rows(rows, min_z, max_z)
    return got


def test_strip_routing_matches_kernel_fuzz(spark):
    """Strip-shaped features — random single-part polylines and polygon
    rings spanning several tiles along ONE axis (the dominant
    straddler class on real corpora), mixed with corner-straddlers and
    big diagonals — get exactly the kernel's tile sets."""
    rng = np.random.default_rng(77)
    rows = []
    osm_id = 0
    for _ in range(40):
        osm_id += 1
        # horizontal-ish strip line: ~2-7 degrees lon, < 1 tile of lat
        lon0 = rng.uniform(-170, 160)
        lat0 = rng.uniform(-70, 70)
        npts = rng.integers(2, 6)
        xs = np.sort(rng.uniform(lon0, lon0 + rng.uniform(2, 7), npts))
        ys = lat0 + rng.uniform(0, 0.4, npts)
        rows.append((osm_id, "way", "line", {"a": "1"}, xs.tolist(),
                     ys.tolist(), [0, int(npts)], [0, 1]))
        osm_id += 1
        # vertical-ish strip polygon ring (unclosed: the kernel adds the
        # closing segment)
        lon0 = rng.uniform(-170, 160)
        lat0 = rng.uniform(-70, 65)
        h = rng.uniform(2, 5)
        w = rng.uniform(0.05, 0.3)
        ring_x = [lon0, lon0 + w, lon0 + w, lon0]
        ring_y = [lat0, lat0, lat0 + h, lat0 + h]
        rows.append((osm_id, "rel", "polygon", {"a": "1"}, ring_x, ring_y,
                     [0, 4], [0, 1]))
        osm_id += 1
        # corner-straddler / diagonal
        lon0 = rng.uniform(-170, 160)
        lat0 = rng.uniform(-70, 60)
        d = rng.uniform(2, 8)
        rows.append((osm_id, "way", "line", {"a": "1"},
                     [lon0, lon0 + d], [lat0, lat0 + d], [0, 2], [0, 1]))
    _assert_matches_oracle(spark, rows, 4, 8)


def test_strip_multipart_disconnected_not_bbox_covered(spark):
    """A MULTI-part line whose parts sit at opposite ends of a 1xN
    bbox keeps its gap tiles: the exact set excludes the middle tiles
    the bbox cover would wrongly include."""
    # two short segments ~5 degrees apart at the same latitude
    xs = [10.1, 10.2, 15.3, 15.4]
    ys = [0.21, 0.22, 0.21, 0.22]
    rows = [(1, "way", "line", {"a": "1"}, xs, ys, [0, 2, 4], [0, 2])]
    got = {cell for _, cell in _assert_matches_oracle(spark, rows, 8, 8)}
    # and the gap is real: strictly fewer tiles than the bbox cover
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    bbox = {r["cell"] for r in with_tile_cells(df, 8, 8).collect()}
    assert got < bbox


def test_strip_antimeridian_guard(spark):
    """A Fiji-style wrapped way has a 1-row bbox spanning nearly the
    whole world: it still resolves to the two short arcs, not the bbox
    band."""
    rows = [(1, "way", "line", {"a": "1"}, [179.5, -179.5],
             [10.1, 10.2], [0, 2], [0, 1])]
    got = _assert_matches_oracle(spark, rows, 6, 6)
    assert len(got) <= 4  # short arcs at z6, not a world-wide band


def test_exact_assignment_matches_kernel_oracle_fuzz(spark):
    """The exact assignment (single-tile rows on the Column route,
    everything else on the kernel) produces exactly the kernel's
    (osm_id, cell) multiset run locally over every row, on a mixed
    corpus: points, sub-tile ways, diagonals, polygon rings and a
    NULL-geom_type straddler."""
    rng = np.random.default_rng(101)
    rows = []
    osm_id = 0
    for _ in range(25):
        osm_id += 1
        rows.append(_pt(osm_id, rng.uniform(-170, 170), rng.uniform(-70, 70)))
        osm_id += 1
        # sub-tile way (single-tile route at z8 almost surely)
        lon0, lat0 = rng.uniform(-170, 170), rng.uniform(-70, 70)
        rows.append(_line(osm_id, [(lon0, lat0), (lon0 + 1e-4, lat0 + 1e-4)]))
        osm_id += 1
        # diagonal straddler (kernel route)
        lon0, lat0 = rng.uniform(-170, 160), rng.uniform(-70, 60)
        d = rng.uniform(2, 8)
        rows.append(_line(osm_id, [(lon0, lat0), (lon0 + d, lat0 + d)]))
        osm_id += 1
        # polygon ring (kernel route, interior fill)
        lon0, lat0 = rng.uniform(-170, 160), rng.uniform(-70, 60)
        w, h = rng.uniform(1, 4), rng.uniform(1, 4)
        rows.append(
            (osm_id, "rel", "polygon", {"a": "1"},
             [lon0, lon0 + w, lon0 + w, lon0],
             [lat0, lat0, lat0 + h, lat0 + h], [0, 4], [0, 1])
        )
    # NULL geom_type straddler (must reach the kernel)
    osm_id += 1
    rows.append((osm_id, "way", None, {"a": "1"},
                 [-20.3, 31.7], [10.1, 44.9], [0, 2], [0, 1]))
    _assert_matches_oracle(spark, rows, 4, 8)


def test_tile_counts_rejects_strip(spark):
    """`strip` survives on tile_counts only as an explicit False; the
    removed strip route cannot be selected."""
    import pytest

    df = spark.createDataFrame([_line(1, [(10.0, 20.0), (10.5, 20.0)])], FEATURE_SCHEMA)
    with pytest.raises(ValueError):
        tile_counts(df, 6, 6, strip=True)
    assert tile_counts(df, 6, 6, strip=False).count() > 0


def test_fused_shape_single_scan_plan(spark):
    """The exact assignment's plan: no Union (one scan), exactly one
    ArrowEvalPython whose inputs are NULLed for single-tile rows."""
    rows = [_pt(1, 10.0, 20.0), _line(2, [(-20.3, 10.1), (31.7, 44.9)])]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    out = with_tile_cells_exact(df, 4, 6)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "Union" not in plan
