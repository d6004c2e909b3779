"""osm_export_tool_python_spark — a from-scratch PySpark-native spatial
export engine with the query capabilities of hotosm/osm-export-tool-python.

The reference (/root/reference) is a single-threaded streaming PBF→OGR
converter; this engine is a DataFrame/Catalyst pipeline over an
Iceberg-style table of interleaved documents.  See SURVEY.md for the
structural analysis and the mapping of every reference operator to its
Spark-first equivalent.

Parity anchors (reference file:line cited throughout the package):
  - geometry-type enum ... the `geom_type` string column ('point' /
                           'line' / 'polygon'); reference
                           osm_export_tool/__init__.py:8-11
  - tag-filter DSL ....... reference osm_export_tool/sql.py
  - YAML mapping ......... reference osm_export_tool/mapping.py
  - geometry assembly .... reference osm_export_tool/tabular.py:251-339
"""

__version__ = "0.1.0"
