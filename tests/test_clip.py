"""AOI clipping semantics (reference tabular.py:271-327 contract):
points strict-contains-else-drop; lines/polygons intersects-else-drop,
clipped-unless-contained."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_export_tool_python_spark.operators.assemble import FEATURE_SCHEMA
from osm_export_tool_python_spark.operators.clip import AOI, clip_features

SQUARE = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])


def _pt(osm_id, x, y, tags=None):
    return (osm_id, "node", "point", tags or {"a": "1"}, [x], [y], [0, 1], [0, 1])


def _line(osm_id, coords, tags=None):
    xs = [float(c[0]) for c in coords]
    ys = [float(c[1]) for c in coords]
    return (osm_id, "way", "line", tags or {"a": "1"}, xs, ys, [0, len(xs)], [0, 1])


def _poly(osm_id, ring, tags=None):
    ring = list(ring) + [ring[0]]
    xs = [float(c[0]) for c in ring]
    ys = [float(c[1]) for c in ring]
    return (osm_id, "way", "polygon", tags or {"a": "1"}, xs, ys, [0, len(xs)], [0, 1])


@pytest.fixture(scope="module")
def aoi():
    return AOI([SQUARE], cover_zoom=8)


def _run(spark, aoi, rows):
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    return {r["osm_id"]: r for r in clip_features(df, aoi).collect()}


def test_points(spark, aoi):
    got = _run(
        spark,
        aoi,
        [
            _pt(1, 5.0, 5.0),     # deep inside → kept (fast path)
            _pt(2, 9.99, 9.99),   # inside near boundary → kept (exact path)
            _pt(3, 15.0, 5.0),    # outside → dropped
            _pt(4, 10.2, 10.2),   # just outside, boundary cell → dropped
        ],
    )
    assert set(got) == {1, 2}


def test_lines(spark, aoi):
    got = _run(
        spark,
        aoi,
        [
            _line(10, [(1, 1), (9, 9)]),          # inside → kept whole
            _line(11, [(-5, 5), (15, 5)]),        # crossing → clipped to [0,10]
            _line(12, [(20, 20), (30, 30)]),      # disjoint → dropped
        ],
    )
    assert set(got) == {10, 11}
    assert got[10]["xs"] == [1.0, 9.0]
    assert got[11]["xs"] == [0.0, 10.0] and got[11]["ys"] == [5.0, 5.0]


def test_polygons(spark, aoi):
    got = _run(
        spark,
        aoi,
        [
            _poly(20, [(2, 2), (4, 2), (4, 4), (2, 4)]),       # inside → kept
            _poly(21, [(5, 5), (15, 5), (15, 15), (5, 15)]),   # overlap → clipped
            _poly(22, [(20, 20), (30, 20), (30, 30), (20, 30)]),  # disjoint → drop
            _poly(23, [(-5, -5), (15, -5), (15, 15), (-5, 15)]),  # contains AOI → clipped to AOI
        ],
    )
    assert set(got) == {20, 21, 23}
    assert got[20]["xs"][0] == 2.0
    xs21 = np.array(got[21]["xs"])
    ys21 = np.array(got[21]["ys"])
    assert xs21.max() <= 10.0 and ys21.max() <= 10.0
    # area of clipped overlap square = 25
    from osm_export_tool_python_spark.functions.geomkernel import signed_area

    ring = np.stack([xs21, ys21], axis=1)[:-1]
    assert abs(abs(signed_area(ring)) - 25.0) < 1e-9
    # feature 23 becomes exactly the AOI square (area 100)
    ring23 = np.stack([got[23]["xs"], got[23]["ys"]], axis=1)[:-1]
    assert abs(abs(signed_area(ring23)) - 100.0) < 1e-9


def test_multipart_line_result(spark, aoi):
    # zigzag exits and re-enters → 2 pieces
    got = _run(spark, aoi, [_line(30, [(-2, 2), (2, 2), (2, -2), (8, -2), (8, 2), (12, 2)])])
    assert set(got) == {30}
    assert len(got[30]["ring_offsets"]) == 3  # two pieces


def test_concave_aoi_drop_only(spark):
    lshape = np.array([[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10]], dtype=float)
    aoi = AOI([lshape], cover_zoom=8)
    assert not aoi.convex
    got = _run(
        spark,
        aoi,
        [
            _pt(1, 2.0, 8.0),   # in the L → kept
            _pt(2, 8.0, 8.0),   # in the notch → dropped (exact PIP)
            _line(3, [(6, 6), (9, 9)]),  # fully in notch → dropped
            _line(4, [(1, 1), (9, 1)]),  # inside lower arm → kept uncut
        ],
    )
    assert set(got) == {1, 4}
    assert got[4]["xs"] == [1.0, 9.0]


def test_concave_aoi_exact_cut(spark):
    """Concave hole-free AOI: boundary-crossing geometries are now CUT
    exactly (ear-clip decomposition), not kept whole — numpy oracle on
    length / area."""
    from osm_export_tool_python_spark.functions.geomkernel import signed_area

    lshape = np.array(
        [[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10]], dtype=float
    )
    aoi = AOI([lshape], cover_zoom=8)
    assert aoi.clip_polys is not None and len(aoi.clip_polys) >= 2
    # triangulation tiles the L exactly (area 75)
    assert sum(abs(signed_area(t)) for t in aoi.clip_polys) == pytest.approx(75.0)

    got = _run(
        spark,
        aoi,
        [
            # horizontal line at y=7: inside only for x in [0,5]
            _line(1, [(2, 7), (9, 7)]),
            # square straddling the notch: ∩L area = 25 - 9 = 16
            _poly(2, [(3, 3), (8, 3), (8, 8), (3, 8)]),
            # fully in notch → dropped
            _poly(3, [(6, 6), (9, 6), (9, 9), (6, 9)]),
        ],
    )
    assert set(got) == {1, 2}

    # line: union of kept pieces spans x∈[2,5] at y=7 → total length 3
    r1 = got[1]
    pts = np.stack([r1["xs"], r1["ys"]], axis=1)
    total = 0.0
    for i in range(len(r1["ring_offsets"]) - 1):
        seg = pts[r1["ring_offsets"][i] : r1["ring_offsets"][i + 1]]
        total += float(np.abs(np.diff(seg[:, 0])).sum() + np.abs(np.diff(seg[:, 1])).sum())
        assert (seg[:, 1] == 7.0).all() and seg[:, 0].min() >= 2.0 and seg[:, 0].max() <= 5.0
    assert total == pytest.approx(3.0)

    # polygon: summed piece area == exact intersection area
    r2 = got[2]
    pts2 = np.stack([r2["xs"], r2["ys"]], axis=1)
    area = sum(
        abs(signed_area(pts2[r2["ring_offsets"][i] : r2["ring_offsets"][i + 1]]))
        for i in range(len(r2["ring_offsets"]) - 1)
    )
    assert area == pytest.approx(16.0)


def test_multiring_phantom_edge_not_counted(spark):
    """A disjoint 2-part polygon whose phantom inter-part 'edge' crosses
    the AOI must be DROPPED (the packed representation has no real edge
    between parts)."""
    aoi = AOI([SQUARE], cover_zoom=8)
    # two small squares far outside, on opposite sides of the AOI: the
    # segment between part 1's last vertex and part 2's first vertex
    # would cross the AOI if treated as an edge
    ring_a = [(-5.0, 4.0), (-4.0, 4.0), (-4.0, 5.0), (-5.0, 5.0)]
    ring_b = [(14.0, 4.0), (15.0, 4.0), (15.0, 5.0), (14.0, 5.0)]
    xs, ys, roffs, poffs = [], [], [0], [0]
    for ring in (ring_a, ring_b):
        closed = list(ring) + [ring[0]]
        xs.extend(p[0] for p in closed)
        ys.extend(p[1] for p in closed)
        roffs.append(len(xs))
        poffs.append(len(roffs) - 1)
    row = (9, "relation", "polygon", {"a": "1"}, xs, ys, roffs, poffs)
    got = _run(spark, aoi, [row])
    assert got == {}


def test_aoi_with_hole_exact_cut(spark):
    """AOI with a hole (donut): boundary-crossing features are now CUT
    exactly (even-odd trapezoid decomposition) — numpy length/area
    oracles.  r2 policy was keep-uncut; VERDICT r3 item #2."""
    from osm_export_tool_python_spark.functions.geomkernel import signed_area

    outer = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    hole = np.array([[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0]])
    aoi = AOI([outer, hole], cover_zoom=8)
    assert aoi.clip_polys is not None
    assert sum(abs(signed_area(t)) for t in aoi.clip_polys) == pytest.approx(84.0)

    got = _run(
        spark,
        aoi,
        [
            _pt(1, 5.0, 5.0),    # centre of the hole → dropped
            _pt(2, 1.0, 5.0),    # in the donut ring → kept
            # line crossing the hole at y=5: kept only on [1,3] and [7,9]
            _line(3, [(1.0, 5.0), (9.0, 5.0)]),
            # square straddling the hole corner: 3x3 minus 2x2 → area 5
            _poly(4, [(2, 2), (5, 2), (5, 5), (2, 5)]),
            # square containing the ENTIRE hole, vertices all in the
            # donut: must be cut (hole punched out) → 36 - 16 = 20
            _poly(5, [(2, 2), (8, 2), (8, 8), (2, 8)]),
            # fully inside the hole → dropped
            _poly(6, [(4, 4), (6, 4), (6, 6), (4, 6)]),
            # fully inside the donut ring → kept whole, uncut
            _poly(7, [(1, 1), (2, 1), (2, 2), (1, 2)]),
        ],
    )
    assert set(got) == {2, 3, 4, 5, 7}

    r3 = got[3]
    pts = np.stack([r3["xs"], r3["ys"]], axis=1)
    total = 0.0
    for i in range(len(r3["ring_offsets"]) - 1):
        seg = pts[r3["ring_offsets"][i] : r3["ring_offsets"][i + 1]]
        assert (seg[:, 1] == 5.0).all()
        assert not ((seg[:, 0] > 3.0) & (seg[:, 0] < 7.0)).any()
        total += float(np.abs(np.diff(seg[:, 0])).sum())
    assert total == pytest.approx(4.0)

    def _area(r):
        p = np.stack([r["xs"], r["ys"]], axis=1)
        return sum(
            abs(signed_area(p[r["ring_offsets"][i] : r["ring_offsets"][i + 1]]))
            for i in range(len(r["ring_offsets"]) - 1)
        )

    assert _area(got[4]) == pytest.approx(5.0)
    assert _area(got[5]) == pytest.approx(20.0)
    assert _area(got[7]) == pytest.approx(1.0)
    # feature 7 passed through untouched (no cosmetic splits)
    assert got[7]["xs"] == [1.0, 2.0, 2.0, 1.0, 1.0]


def test_two_island_aoi_exact_cut(spark):
    """Archipelago AOI (two disjoint outer rings): exact cutting and
    correct intersect routing for a feature that swallows both islands
    whole (no vertex inside, no edge crossing — intersect is detected
    via the any-ring-head containment check)."""
    from osm_export_tool_python_spark.functions.geomkernel import signed_area

    isl1 = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
    isl2 = np.array([[6.0, 6.0], [9.0, 6.0], [9.0, 9.0], [6.0, 9.0]])
    aoi = AOI([isl1, isl2], cover_zoom=8)
    assert aoi.clip_polys is not None
    assert sum(abs(signed_area(t)) for t in aoi.clip_polys) == pytest.approx(25.0)

    got = _run(
        spark,
        aoi,
        [
            _pt(1, 2.0, 2.0),   # island 1 → kept
            _pt(2, 5.0, 5.0),   # the strait between islands → dropped
            # diagonal line from island 1 to island 2 through the gap
            _line(3, [(2.0, 2.0), (8.0, 8.0)]),
            # polygon containing BOTH islands entirely → cut to 16 + 9
            _poly(4, [(-1, -1), (10, -1), (10, 10), (-1, 10)]),
            # polygon wholly in the strait → dropped
            _poly(5, [(4.5, 4.5), (5.5, 4.5), (5.5, 5.5), (4.5, 5.5)]),
        ],
    )
    assert set(got) == {1, 3, 4}

    r3 = got[3]
    pts = np.stack([r3["xs"], r3["ys"]], axis=1)
    total = 0.0
    for i in range(len(r3["ring_offsets"]) - 1):
        seg = pts[r3["ring_offsets"][i] : r3["ring_offsets"][i + 1]]
        d = np.diff(seg, axis=0)
        total += float(np.hypot(d[:, 0], d[:, 1]).sum())
        # every piece stays within one island's bbox
        in1 = (seg[:, 0] <= 4.0).all() and (seg[:, 1] <= 4.0).all()
        in2 = (seg[:, 0] >= 6.0).all() and (seg[:, 1] >= 6.0).all()
        assert in1 or in2
    # inside island 1 for t∈[0, 1/3] of the 6√2 diagonal → 2√2; island 2
    # for t∈[2/3, 1] → 2√2
    assert total == pytest.approx(4.0 * np.sqrt(2.0))

    def _area(r):
        p = np.stack([r["xs"], r["ys"]], axis=1)
        return sum(
            abs(signed_area(p[r["ring_offsets"][i] : r["ring_offsets"][i + 1]]))
            for i in range(len(r["ring_offsets"]) - 1)
        )

    assert _area(got[4]) == pytest.approx(25.0)


def test_as_rect_rejects_bowtie():
    """A self-intersecting 4-point ring whose vertex set equals the 4
    bbox corners must NOT be classified as a rectangle (ADVICE r2):
    the bowtie covers only part of the bbox."""
    bowtie = np.array([[0.0, 0.0], [10.0, 10.0], [10.0, 0.0], [0.0, 10.0]])
    aoi = AOI([bowtie], cover_zoom=8)
    assert aoi.as_rect() is None
    # and the non-simple ring is refused by the cutter → keep-uncut path
    assert aoi.clip_polys is None
    # a genuine rectangle still qualifies, in either winding
    assert AOI([SQUARE], cover_zoom=8).as_rect() == (0.0, 0.0, 10.0, 10.0)
    assert AOI([SQUARE[::-1]], cover_zoom=8).as_rect() == (0.0, 0.0, 10.0, 10.0)


def test_invalid_multiring_aoi_falls_back_uncut(spark):
    """Rings whose boundaries CROSS are refused by trapezoid_decompose:
    drop/keep still exact (even-odd), crossing features kept uncut."""
    a = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    b = np.array([[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0]])
    aoi = AOI([a, b], cover_zoom=8)
    assert aoi.clip_polys is None
    got = _run(
        spark,
        aoi,
        [
            _pt(1, 2.0, 2.0),            # even-odd inside → kept
            _pt(2, 7.0, 7.0),            # in the overlap (even-odd OUT) → dropped
            _line(3, [(1.0, 1.0), (3.0, 1.0)]),   # inside → kept
            _line(4, [(-2.0, 2.0), (2.0, 2.0)]),  # crossing → kept UNCUT
        ],
    )
    assert set(got) == {1, 3, 4}
    assert got[4]["xs"] == [-2.0, 2.0]


def _clip_oracle(rows, aoi):
    """Local numpy clip of FEATURE_SCHEMA tuples: rows outside the AOI
    dropped, inside rows kept unchanged, boundary rows through the
    exact kernel (`_exact_batch`)."""
    import pandas as pd

    from osm_export_tool_python_spark.operators.clip import _classify_batch, _exact_batch

    cols = ["osm_id", "src", "geom_type", "tags", "xs", "ys",
            "ring_offsets", "part_offsets"]
    pdf = pd.DataFrame(rows, columns=cols)
    cls = _classify_batch(
        np.array([min(r[4]) for r in rows]),
        np.array([min(r[5]) for r in rows]),
        np.array([max(r[4]) for r in rows]),
        np.array([max(r[5]) for r in rows]),
        aoi.rings,
    )
    inside = pdf[cls == "i"]
    boundary = pdf[cls == "b"].reset_index(drop=True)
    clipped = _exact_batch(boundary, aoi.rings, aoi.clip_polys)
    return pd.concat([inside, clipped], ignore_index=True).to_dict("records")


def _canon(rows):
    return sorted(
        (r["osm_id"], r["geom_type"], tuple(r["xs"]), tuple(r["ys"]),
         tuple(r["ring_offsets"]), tuple(r["part_offsets"]))
        for r in rows
    )


def test_clip_matches_numpy_oracle(spark):
    """clip_features emits exactly the local numpy oracle's rows —
    geometry bit-identical (same numpy kernel) — across
    inside/outside/boundary features, for a square AOI (pure-Column
    classification), a concave AOI, and a bowtie AOI (invalid:
    keep-uncut fallback)."""
    rows = [
        _pt(1, 5.0, 5.0),
        _pt(2, 20.0, 20.0),
        _pt(3, 10.0, 5.0),  # on the boundary
        _line(4, [(1.0, 1.0), (2.0, 2.0)]),
        _line(5, [(-5.0, 5.0), (15.0, 5.0)]),  # crossing → cut
        _line(6, [(20.0, 0.0), (30.0, 0.0)]),  # outside → dropped
        _poly(7, [(2.0, 2.0), (8.0, 2.0), (8.0, 8.0), (2.0, 8.0)]),
        _poly(8, [(-5.0, -5.0), (5.0, -5.0), (5.0, 5.0), (-5.0, 5.0)]),  # cut
        _poly(9, [(-5.0, -5.0), (25.0, -5.0), (25.0, 25.0), (-5.0, 25.0)]),  # swallows AOI
    ]
    aois = [
        AOI([SQUARE], cover_zoom=8),
        AOI([np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])], cover_zoom=8),
        AOI([np.array([[0.0, 0.0], [10.0, 10.0], [10.0, 0.0], [0.0, 10.0]])],
            cover_zoom=8),  # bowtie: clip_polys is None fallback
    ]
    assert aois[2].clip_polys is None
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    for a in aois:
        want = _canon(_clip_oracle(rows, a))
        assert want
        assert _canon(clip_features(df, a).collect()) == want
