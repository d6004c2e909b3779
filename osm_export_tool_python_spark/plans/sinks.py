"""Sinks: GeoPackage/Shapefile/KML/MBTiles-equivalent partitioned
table writes (reference tabular.py writers + nontabular mbtiles).

Sink parity map (reference → engine):
  Geopackage (one ds, layer per theme, mixed geom; tabular.py:146-196)
      → one parquet root, `theme=` subdirs, mixed geom_type rows
  MultiGeopackage (one ds per theme; tabular.py:199-249)
      → same layout, separate manifest entries per theme
  Shapefile (per theme × geomtype, laundered ≤10-char names;
      tabular.py:86-144) → per (theme, geomtype) dirs + rename projection
  Kml (per theme × geomtype; tabular.py:32-84)
      → per (theme, geomtype) dirs with a KML-placemark string column
  mbtiles (nontabular.py:103-108)
      → packed tile table (operators/tiles.tile_features)

All writers add a WKT `geometry` column built with pure Column ops
(no UDF) so any downstream GIS tool can consume the parquet directly.
The single-transaction guarantee of the reference's GPKG writer
(tabular.py:169,194) maps to Spark's atomic per-directory job commit.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def launder_name(name: str) -> str:
    """Shapefile column laundering (reference tabular.py:89-90)."""
    return re.sub(r"[^a-zA-Z0-9_]", "", name)[:10]


def make_filename(s: str) -> str:
    """Theme → file name (reference tabular.py:29-30)."""
    return s.lower().replace(" ", "_")


# ---------------------------------------------------------------------------
# WKT serialization — pure Column ops, stays in codegen
# ---------------------------------------------------------------------------

def _ring_pairs(i):
    """Coordinate list of ring i (1-based into ring_offsets)."""
    start = F.try_element_at("ring_offsets", i) + 1
    length = F.try_element_at("ring_offsets", i + 1) - F.try_element_at("ring_offsets", i)
    xs = F.slice("xs", start, length)
    ys = F.slice("ys", start, length)
    return F.array_join(
        F.zip_with(xs, ys, lambda x, y: F.concat(x.cast("string"), F.lit(" "), y.cast("string"))),
        ", ",
    )


def wkt_column() -> F.Column:
    """WKT for the packed-coords feature schema."""
    n_rings = F.size("ring_offsets") - 1
    ring_strs = F.transform(
        F.sequence(F.lit(1), n_rings), lambda i: F.concat(F.lit("("), _ring_pairs(i), F.lit(")"))
    )
    n_parts = F.size("part_offsets") - 1
    part_strs = F.transform(
        F.sequence(F.lit(1), n_parts),
        lambda i: F.concat(
            F.lit("("),
            F.array_join(
                F.slice(
                    ring_strs,
                    F.try_element_at("part_offsets", i) + 1,
                    F.try_element_at("part_offsets", i + 1) - F.try_element_at("part_offsets", i),
                ),
                ", ",
            ),
            F.lit(")"),
        ),
    )
    point = F.concat(
        F.lit("POINT ("),
        F.try_element_at("xs", F.lit(1)).cast("string"),
        F.lit(" "),
        F.try_element_at("ys", F.lit(1)).cast("string"),
        F.lit(")"),
    )
    line = F.when(
        n_rings <= 1,
        F.concat(F.lit("LINESTRING "), F.try_element_at(ring_strs, F.lit(1))),
    ).otherwise(
        F.concat(F.lit("MULTILINESTRING ("), F.array_join(ring_strs, ", "), F.lit(")"))
    )
    poly = F.concat(F.lit("MULTIPOLYGON ("), F.array_join(part_strs, ", "), F.lit(")"))
    return (
        F.when(F.col("geom_type") == "point", point)
        .when(F.col("geom_type") == "line", line)
        .otherwise(poly)
        .alias("geometry")
    )


def kml_geometry_column() -> F.Column:
    """KML geometry snippet (reference Kml writer, tabular.py:32-84)."""
    n_rings = F.size("ring_offsets") - 1
    coords = F.transform(
        F.sequence(F.lit(1), n_rings),
        lambda i: F.array_join(
            F.zip_with(
                F.slice(
                    "xs",
                    F.try_element_at("ring_offsets", i) + 1,
                    F.try_element_at("ring_offsets", i + 1) - F.try_element_at("ring_offsets", i),
                ),
                F.slice(
                    "ys",
                    F.try_element_at("ring_offsets", i) + 1,
                    F.try_element_at("ring_offsets", i + 1) - F.try_element_at("ring_offsets", i),
                ),
                lambda x, y: F.concat(x.cast("string"), F.lit(","), y.cast("string")),
            ),
            " ",
        ),
    )
    point = F.concat(
        F.lit("<Point><coordinates>"),
        F.try_element_at("xs", F.lit(1)).cast("string"),
        F.lit(","),
        F.try_element_at("ys", F.lit(1)).cast("string"),
        F.lit("</coordinates></Point>"),
    )
    line = F.concat(
        F.lit("<LineString><coordinates>"),
        F.try_element_at(coords, F.lit(1)),
        F.lit("</coordinates></LineString>"),
    )
    poly = F.concat(
        F.lit("<Polygon><outerBoundaryIs><LinearRing><coordinates>"),
        F.try_element_at(coords, F.lit(1)),
        F.lit("</coordinates></LinearRing></outerBoundaryIs></Polygon>"),
    )
    return (
        F.when(F.col("geom_type") == "point", point)
        .when(F.col("geom_type") == "line", line)
        .otherwise(poly)
        .alias("kml")
    )
