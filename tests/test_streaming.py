"""Structured Streaming incremental export: availableNow over a
documents directory, exactly-once resume via checkpoint."""

from pyspark.sql import functions as F

from osm_export_tool_python_spark.functions.mapping import Mapping
from osm_export_tool_python_spark.sources import synth
from osm_export_tool_python_spark.streaming.incremental import run_incremental_export

YAML = """
pois:
  types:
    - points
  select:
    - amenity
  where: amenity IS NOT NULL
"""


def test_incremental_export_and_resume(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir = str(base / "in")
    out_dir = str(base / "out")
    ckpt = str(base / "ckpt")

    docs = synth.synthesize(spark, n_nodes=500, n_ways=0, n_rels=0)
    docs.limit(300).write.mode("overwrite").parquet(in_dir)
    mapping = Mapping(YAML)

    run_incremental_export(spark, in_dir, mapping, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # batch oracle on the same input
    from osm_export_tool_python_spark.operators.themes import theme_fanout
    from osm_export_tool_python_spark.sources import decode
    from osm_export_tool_python_spark.operators.assemble import point_features

    def oracle_count():
        ent = decode.entities_table(decode.with_entity_meta(spark.read.parquet(in_dir)))
        return theme_fanout(point_features(decode.nodes_from_entities(ent)), mapping).count()

    oracle = oracle_count()
    assert n1 == oracle

    # append more files: only the delta is processed (exactly-once)
    docs.write.mode("append").parquet(in_dir)
    run_incremental_export(spark, in_dir, mapping, out_dir, ckpt)
    n2 = spark.read.parquet(out_dir).count()
    oracle2 = oracle_count()
    assert n2 == oracle2
    assert n2 > n1

    # idempotent re-run: no new data → no new rows
    run_incremental_export(spark, in_dir, mapping, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n2


def test_incremental_select_key_collision_suffixed(spark):
    """incremental_point_features must not emit duplicate column names
    when a select key collides with a structural streaming column —
    the duplicate would fail at stream start (same '_tag' suffix rule
    as the batch projection)."""
    from osm_export_tool_python_spark.streaming.incremental import (
        incremental_point_features,
    )

    yaml = """
weird:
  types: [points]
  select: [theme, tags, amenity]
  where: amenity IS NOT NULL
"""
    mapping = Mapping(yaml)
    docs = synth.synthesize(spark, n_nodes=300, n_ways=10, n_rels=2)
    out = incremental_point_features(docs, mapping)  # batch frame: same code path
    assert len(out.columns) == len(set(out.columns)), out.columns
    assert "theme_tag" in out.columns and "tags_tag" in out.columns
    assert out.where(F.col("amenity").isNotNull()).count() > 0
