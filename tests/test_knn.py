"""kNN cell-join vs brute-force oracle."""

import numpy as np

from osm_export_tool_python_spark.functions.geomkernel import haversine_m
from osm_export_tool_python_spark.operators.knn import knn_join


def _points(n=120, seed=9):
    rng = np.random.default_rng(seed)
    # cluster in ~2km patch so NN distances ≪ z12 cell (~10 km)
    lon = 13.40 + rng.uniform(0, 0.02, n)
    lat = 52.50 + rng.uniform(0, 0.02, n)
    return [(i, float(lon[i]), float(lat[i])) for i in range(n)]


def test_knn_matches_bruteforce(spark):
    pts = _points()
    df = spark.createDataFrame(pts, "osm_id long, lon double, lat double")
    got = {
        r["id"]: (r["neighbor_id"], r["dist_m"])
        for r in knn_join(df, k=1, zoom=12).collect()
    }
    lon = np.array([p[1] for p in pts])
    lat = np.array([p[2] for p in pts])
    for i in range(len(pts)):
        d = haversine_m(lon[i], lat[i], lon, lat)
        d[i] = np.inf
        j = int(np.argmin(d))
        assert got[i][0] == j, (i, got[i], j, d[j])
        assert abs(got[i][1] - d[j]) < 1e-6


def test_knn_k3_ranks(spark):
    df = spark.createDataFrame(_points(60), "osm_id long, lon double, lat double")
    rows = knn_join(df, k=3, zoom=12).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append((r["rank"], r["dist_m"]))
    for rid, lst in by_id.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        dists = [x[1] for x in lst]
        assert dists == sorted(dists)


def test_knn_across_cell_boundary(spark):
    # two points straddling a z12 cell edge must still find each other
    df = spark.createDataFrame(
        [(1, 13.359374, 52.50), (2, 13.359376, 52.50)],
        "osm_id long, lon double, lat double",
    )
    got = {r["id"]: r["neighbor_id"] for r in knn_join(df, k=1, zoom=12).collect()}
    assert got == {1: 2, 2: 1}
