"""numpy geometry kernels: PIP (incl. holes/concave), convex clipping,
centroid, haversine goldens."""

import numpy as np

from osm_export_tool_python_spark.functions.geomkernel import (
    clip_polyline_convex,
    clip_ring_convex,
    haversine_m,
    is_convex,
    points_in_rings,
    polygon_centroid,
    segment_intersects_rect,
    signed_area,
)

SQUARE = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
HOLE = np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]])
LSHAPE = np.array(
    [[0.0, 0.0], [10.0, 0.0], [10.0, 5.0], [5.0, 5.0], [5.0, 10.0], [0.0, 10.0]]
)


class TestPIP:
    def test_square(self):
        pts = np.array([[5, 5], [15, 5], [-1, -1], [5, 9.99]])
        got = points_in_rings(pts, [SQUARE])
        assert got.tolist() == [True, False, False, True]

    def test_hole(self):
        pts = np.array([[5, 5], [2, 2], [4.5, 5.0]])
        got = points_in_rings(pts, [SQUARE, HOLE])  # even-odd: hole excluded
        assert got.tolist() == [False, True, False]

    def test_concave(self):
        pts = np.array([[7, 7], [2, 7], [7, 2]])
        got = points_in_rings(pts, [LSHAPE])
        assert got.tolist() == [False, True, True]

    def test_closed_ring_input(self):
        closed = np.vstack([SQUARE, SQUARE[0]])
        assert points_in_rings(np.array([[5, 5]]), [closed])[0]


class TestSegmentRect:
    def test_basic(self):
        ring = np.array([[-5.0, 5.0], [15.0, 5.0]])
        assert segment_intersects_rect(ring, (0, 0, 10, 10)).any()
        ring = np.array([[-5.0, 20.0], [15.0, 20.0]])
        assert not segment_intersects_rect(ring, (0, 0, 10, 10)).any()

    def test_diagonal_corner_cross(self):
        # crosses the corner region without either endpoint inside
        ring = np.array([[-1.0, 5.0], [5.0, 11.0]])
        assert segment_intersects_rect(ring, (0, 0, 10, 10)).any()
        # near-miss diagonal outside the corner
        ring = np.array([[-1.0, 9.5], [0.5, 11.0]])
        assert not segment_intersects_rect(ring, (0, 0, 10, 10)).any()


class TestClip:
    def test_polyline_inside_kept_whole(self):
        line = np.array([[1.0, 1.0], [9.0, 9.0]])
        pieces = clip_polyline_convex(line, SQUARE)
        assert len(pieces) == 1
        assert np.allclose(pieces[0], line)

    def test_polyline_crossing_clipped(self):
        line = np.array([[-5.0, 5.0], [15.0, 5.0]])
        pieces = clip_polyline_convex(line, SQUARE)
        assert len(pieces) == 1
        assert np.allclose(pieces[0], [[0, 5], [10, 5]])

    def test_polyline_disjoint_dropped(self):
        line = np.array([[20.0, 20.0], [30.0, 30.0]])
        assert clip_polyline_convex(line, SQUARE) == []

    def test_polyline_multi_piece(self):
        # zigzag in and out → MultiLineString semantics (tabular.py:285-288)
        line = np.array([[-2.0, 2.0], [2.0, 2.0], [2.0, -2.0], [8.0, -2.0], [8.0, 2.0], [12.0, 2.0]])
        pieces = clip_polyline_convex(line, SQUARE)
        assert len(pieces) == 2

    def test_ring_clip(self):
        ring = np.array([[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0]])
        out = clip_ring_convex(ring, SQUARE)
        assert abs(abs(signed_area(out)) - 25.0) < 1e-9

    def test_ring_inside_unchanged_area(self):
        ring = np.array([[2.0, 2.0], [4.0, 2.0], [4.0, 4.0], [2.0, 4.0]])
        out = clip_ring_convex(ring, SQUARE)
        assert abs(abs(signed_area(out)) - 4.0) < 1e-9

    def test_ring_disjoint_empty(self):
        ring = np.array([[20.0, 20.0], [30.0, 20.0], [30.0, 30.0], [20.0, 30.0]])
        assert len(clip_ring_convex(ring, SQUARE)) == 0

    def test_clockwise_clip_poly_normalized(self):
        line = np.array([[-5.0, 5.0], [15.0, 5.0]])
        cw = SQUARE[::-1]
        pieces = clip_polyline_convex(line, cw)
        assert len(pieces) == 1 and np.allclose(pieces[0], [[0, 5], [10, 5]])


class TestMeasures:
    def test_is_convex(self):
        assert is_convex(SQUARE)
        assert not is_convex(LSHAPE)

    def test_centroid_square(self):
        assert np.allclose(polygon_centroid(SQUARE), (5.0, 5.0))

    def test_centroid_degenerate(self):
        line = np.array([[0.0, 0.0], [2.0, 0.0], [4.0, 0.0]])
        cx, cy = polygon_centroid(line)
        assert cy == 0.0 and 0.0 <= cx <= 4.0

    def test_haversine_golden(self):
        # Paris (2.3522, 48.8566) ↔ London (-0.1276, 51.5072) ≈ 343.5 km
        d = haversine_m(2.3522, 48.8566, -0.1276, 51.5072)
        assert abs(d / 1000.0 - 343.5) < 1.5
