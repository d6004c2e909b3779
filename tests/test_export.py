"""End-to-end export: themes → sinks → manifest → resume, WKT/KML
serialization, centroid mode."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_export_tool_python_spark.functions.mapping import Mapping
from osm_export_tool_python_spark.plans.export import export
from osm_export_tool_python_spark.plans.sinks import launder_name
from osm_export_tool_python_spark.sources import synth

MAPPING_YAML = """
buildings:
  types:
    - polygons
  select:
    - name
    - building
  where: building = 'yes'
roads:
  types:
    - lines
  select:
    - highway
    - name
  where: highway IS NOT NULL
pois:
  types:
    - points
  select:
    - amenity
    - addr:housenumber
  where: amenity IS NOT NULL
"""


@pytest.fixture(scope="module")
def docs(spark):
    return synth.synthesize(spark, n_nodes=1500, n_ways=400, n_rels=20)


def test_export_all_formats(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("export"))
    mapping = Mapping(MAPPING_YAML)
    payload = export(
        spark,
        docs,
        mapping,
        out,
        formats=("gpkg", "shp", "kml", "tiles"),
        tile_zooms=(4, 6),
    )
    assert payload["metrics"]["themed_features"] > 0
    themes = {e["theme"] for e in payload["entries"]}
    assert {"buildings", "roads", "pois", "*"} <= themes

    # gpkg-equiv: mixed geom per theme, WKT geometry column
    gdf = spark.read.parquet(os.path.join(out, "gpkg", "buildings"))
    assert "geometry" in gdf.columns and "building" in gdf.columns
    r = gdf.where(F.col("geometry").startswith("MULTIPOLYGON")).first()
    assert r is not None
    assert gdf.where(~F.col("geometry").startswith("MULTIPOLYGON")).count() == 0

    # shp-equiv: laundered names
    sdf = spark.read.parquet(os.path.join(out, "shp", "pois_point"))
    assert launder_name("addr:housenumber") == "addrhousen"
    assert "addrhousen" in sdf.columns

    # kml-equiv: placemark snippets
    kdf = spark.read.parquet(os.path.join(out, "kml", "roads_line"))
    assert kdf.where(~F.col("kml").startswith("<LineString>")).count() == 0

    # tiles
    tdf = spark.read.parquet(os.path.join(out, "tiles"))
    assert set(tdf.columns) == {"z", "x", "y", "n_features", "osm_ids", "n_overflow"}
    assert tdf.where((F.col("z") < 4) | (F.col("z") > 6)).count() == 0
    # the id sample is complete (no tile near the default cap here)
    assert tdf.where(F.col("n_overflow") != 0).count() == 0
    assert tdf.where(F.size("osm_ids") != F.col("n_features")).count() == 0

    # exact tile assignment never truncates — and the manifest says so
    assert payload["metrics"]["tiles_capped_feature_zooms"] == 0

    # binary single-file artifacts are OPT-IN: the default export is
    # the distributed datasets only (no driver-side single-writer pass)
    assert not os.path.exists(os.path.join(out, "gpkg", "export.gpkg"))
    assert not os.path.exists(os.path.join(out, "tiles.mbtiles"))
    assert all("binary" not in e for e in payload["entries"])

    # manifest file exists and matches payload
    with open(os.path.join(out, "manifest.json")) as f:
        on_disk = json.load(f)
    assert on_disk["entries"] == payload["entries"]


def test_export_resume_skips_done(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("export_resume"))
    mapping = Mapping(MAPPING_YAML)
    export(spark, docs, mapping, out, formats=("gpkg",))
    # tamper: write a sentinel into one output dir; resume must NOT rewrite
    sentinel = os.path.join(out, "gpkg", "buildings", "SENTINEL")
    open(sentinel, "w").write("x")
    payload2 = export(spark, docs, mapping, out, formats=("gpkg",))
    assert os.path.exists(sentinel), "resume rewrote a done part"
    # and the manifest still lists recovered entries for all themes
    assert {e["theme"] for e in payload2["entries"]} == {"buildings", "roads", "pois"}


def test_export_resume_keeps_tile_cap_metric(spark, docs, tmp_path_factory):
    # the no-truncation metric must survive a resumed export — the
    # tiles part short-circuits on its done-marker, but manifest.write()
    # rebuilds metrics from the CURRENT run, so the metric has to be
    # recorded before the early return
    out = str(tmp_path_factory.mktemp("export_resume_tiles"))
    mapping = Mapping(MAPPING_YAML)
    export(spark, docs, mapping, out, formats=("tiles",))
    payload2 = export(spark, docs, mapping, out, formats=("tiles",))
    assert payload2["metrics"]["tiles_capped_feature_zooms"] == 0


def test_export_with_aoi_and_centroids(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("export_aoi"))
    mapping = Mapping(MAPPING_YAML)
    aoi = [np.array([[0.0, 40.0], [20.0, 40.0], [20.0, 55.0], [0.0, 55.0]])]
    payload = export(
        spark, docs, mapping, out, aoi_rings=aoi, formats=("gpkg",), polygon_centroid=True
    )
    bdf = spark.read.parquet(os.path.join(out, "gpkg", "buildings"))
    rows = bdf.collect()
    assert rows, "AOI export produced no building rows"
    # centroid mode: all polygons became points
    assert all(r["geom_type"] == "point" for r in rows)
    assert all(r["geometry"].startswith("POINT") for r in rows)
    # centroids inside the AOI box (outer-ring centroid of clipped polys)
    for r in rows:
        x, y = r["geometry"][7:-1].split(" ")
        assert -0.5 <= float(x) <= 20.5 and 39.5 <= float(y) <= 55.5


def _poly_row(osm_id, rings, part_offsets):
    """Packed multipolygon row: rings are lists of (x, y) with the first
    vertex NOT repeated (storage closes them)."""
    xs, ys, ring_offsets = [], [], [0]
    for ring in rings:
        closed = list(ring) + [ring[0]]
        xs.extend(p[0] for p in closed)
        ys.extend(p[1] for p in closed)
        ring_offsets.append(len(xs))
    return (osm_id, "polygon", xs, ys, ring_offsets, part_offsets)


def test_centroid_donut_and_multipart(spark):
    """Hole-signed whole-multipolygon centroid (OGR Centroid() semantics,
    reference tabular.py:333) vs a closed-form area-weighted oracle."""
    from osm_export_tool_python_spark.operators.themes import polygons_to_centroids

    outer = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    # hole deliberately stored in the SAME (ccw) orientation as the outer:
    # classification must come from part structure, not vertex order
    hole = [(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0)]
    part_a = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    part_b = [(10.0, 0.0), (12.0, 0.0), (12.0, 2.0), (10.0, 2.0)]

    rows = [
        _poly_row(1, [outer, hole], [0, 2]),
        _poly_row(2, [part_a, part_b], [0, 1, 2]),
    ]
    df = spark.createDataFrame(
        rows,
        "osm_id long, geom_type string, xs array<double>, ys array<double>, "
        "ring_offsets array<int>, part_offsets array<int>",
    )
    got = {r["osm_id"]: (r["xs"][0], r["ys"][0]) for r in polygons_to_centroids(df).collect()}

    # donut: (100*5 - 16*4) / (100 - 16) per axis
    assert got[1][0] == pytest.approx(436.0 / 84.0)
    assert got[1][1] == pytest.approx(436.0 / 84.0)
    # two parts: areas 1 and 4, centroids (.5,.5) and (11,1)
    assert got[2][0] == pytest.approx((1 * 0.5 + 4 * 11.0) / 5.0)
    assert got[2][1] == pytest.approx((1 * 0.5 + 4 * 1.0) / 5.0)


def test_centroid_shp_routing(spark, docs, tmp_path_factory):
    """Centroid mode on shp/kml: centroids land in the theme's POINT
    dataset (reference Handler.area writes the point layer, tabular.py:
    330-336); a polygons-only theme fails loudly like the reference's
    layer KeyError."""
    out = str(tmp_path_factory.mktemp("export_shp_centroid"))
    both = Mapping(
        "structures:\n  types: [points, polygons]\n  select: [building]\n"
        "  where: building IS NOT NULL\n"
    )
    export(spark, docs, both, out, formats=("shp",), polygon_centroid=True)
    pdf = spark.read.parquet(os.path.join(out, "shp", "structures_point"))
    # centroids (negative/way osm_ids from polygons) joined the node points
    assert pdf.count() > 0
    assert pdf.where(~F.col("geometry").startswith("POINT")).count() == 0
    gdf = spark.read.parquet(os.path.join(out, "shp", "structures_polygon"))
    assert gdf.count() == 0  # layer exists (parity) but is empty

    poly_only = Mapping(
        "structures:\n  types: [polygons]\n  select: [building]\n"
        "  where: building IS NOT NULL\n"
    )
    with pytest.raises(ValueError, match="POINT"):
        export(
            spark, docs, poly_only, str(tmp_path_factory.mktemp("export_fail")),
            formats=("shp",), polygon_centroid=True,
        )


def test_create_package_and_posm_bundle(spark, docs, tmp_path_factory):
    """Archive artifacts (reference package.py:10-67): zip with
    clipping_boundary.geojson + every dataset part; tar.gz POSM bundle
    with a typed contents manifest."""
    import tarfile
    import zipfile

    from osm_export_tool_python_spark.plans.package import (
        create_package,
        create_posm_bundle,
    )

    out = str(tmp_path_factory.mktemp("export_pkg"))
    mapping = Mapping(MAPPING_YAML)
    aoi = [np.array([[0.0, 40.0], [20.0, 40.0], [20.0, 55.0], [0.0, 55.0]])]
    payload = export(
        spark, docs, mapping, out, aoi_rings=aoi,
        formats=("gpkg", "shp", "tiles"), tile_zooms=(4, 6),
    )

    zpath = os.path.join(out, "export.zip")
    create_package(zpath, payload["entries"], boundary_rings=aoi)
    with zipfile.ZipFile(zpath) as z:
        names = z.namelist()
        assert "clipping_boundary.geojson" in names
        gj = json.loads(z.read("clipping_boundary.geojson"))
        assert gj["type"] == "Polygon"
        assert gj["coordinates"][0][0] == gj["coordinates"][0][-1]  # closed
        # at least one part per exported theme dataset
        assert any(n.startswith("gpkg_buildings/") for n in names)
        assert any(n.startswith("shp_roads_line/") for n in names)
        assert any(n.endswith(".parquet") for n in names)

    bpath = os.path.join(out, "bundle.tar.gz")
    create_posm_bundle(
        bpath, payload["entries"], title="T", name="n", description="d",
        bbox=(0.0, 40.0, 20.0, 55.0),
    )
    with tarfile.open(bpath) as t:
        names = t.getnames()
        assert "manifest.json" in names
        m = json.loads(t.extractfile("manifest.json").read())
        assert m["bbox"] == [0.0, 40.0, 20.0, 55.0]
        # typed contents: gpkg under data/, tiles typed MBTiles with zooms
        assert any(v.get("Type") == "Geopackage" for v in m["contents"].values())
        tiles = [v for v in m["contents"].values() if v.get("type") == "MBTiles"]
        assert tiles and tiles[0]["minzoom"] == 4 and tiles[0]["maxzoom"] == 6
        assert all(k in names for k in m["contents"])


def test_partition_lineage_uri_branch_lists_zero_row_files(spark, tmp_path):
    """The URI branch of partition_lineage derives counts from a
    groupBy(input_file_name()), which yields NO row for zero-row part
    files — they must still appear in the manifest with count 0, same
    as the local-path branch (ADVICE r2).  file:// exercises the Hadoop
    FileSystem path without needing a remote store."""
    import shutil

    from osm_export_tool_python_spark.plans.export import partition_lineage

    d = tmp_path / "ds"
    spark.range(10).coalesce(2).write.parquet(str(d))
    # simulate a backend that wrote an empty part file (schema-only)
    empty = tmp_path / "empty"
    spark.range(0).selectExpr("id").write.parquet(str(empty))
    empty_part = next(p for p in empty.iterdir() if p.name.endswith(".parquet"))
    shutil.copy(empty_part, d / "part-99999-empty.snappy.parquet")

    local = partition_lineage(spark, str(d))
    uri = partition_lineage(spark, "file://" + str(d))
    assert local == uri
    assert uri["part-99999-empty.snappy.parquet"] == 0
    assert sum(uri.values()) == 10 and len(uri) == 3


def test_select_key_colliding_with_structural_column(spark):
    """A select key named like a structural output column (legal
    OSM-wise — e.g. a tag literally called 'geom_type') must not
    produce a duplicate column name: it gets a deterministic '_tag'
    suffix so parquet writes and by-name references keep working."""
    from osm_export_tool_python_spark.operators.assemble import FEATURE_SCHEMA
    from osm_export_tool_python_spark.operators.themes import (
        theme_fanout,
        theme_output,
    )

    yaml = """
weird:
  types: [points]
  select: [geom_type, xs, name]
  where: name IS NOT NULL
"""
    mapping = Mapping(yaml)
    rows = [
        (1, "node", "point",
         {"name": "a", "geom_type": "tagval", "xs": "xval"},
         [13.4], [52.5], [0, 1], [0, 1]),
    ]
    feats = spark.createDataFrame(rows, FEATURE_SCHEMA)
    out = theme_output(theme_fanout(feats, mapping), mapping.themes[0])
    assert len(out.columns) == len(set(out.columns)), out.columns
    assert "geom_type_tag" in out.columns and "xs_tag" in out.columns
    r = out.collect()[0]
    assert r["geom_type"] == "point" and r["geom_type_tag"] == "tagval"
    assert r["xs_tag"] == "xval" and r["name"] == "a"
