"""Incremental (streaming) exports.

The reference is strictly batch (SURVEY.md §2.9) — one apply_file pass.
This module is the engine's forward-looking stretch: the same decode +
theme predicates run unchanged over a STREAM of document files
(readStream on the documents directory ≈ an Iceberg change-log feed),
so a growing table exports incrementally with exactly-once sinks via
checkpointing.

Everything here reuses the batch Column expressions — decode and theme
compilation are stream-agnostic because they are pure projections and
filters (no UDF state, no RDDs)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

SPAN_STRUCT = StructType(
    [
        StructField("doc_id", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType()),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def stream_documents(spark, input_dir: str) -> DataFrame:
    """readStream over a documents parquet directory."""
    return spark.readStream.schema(SPAN_STRUCT).parquet(input_dir)


def incremental_point_features(doc_stream: DataFrame, mapping) -> DataFrame:
    """Streaming point-feature extraction: decode tags + node coords,
    theme fan-out — append-mode safe (no aggregation).

    The union of the mapping's select keys is projected as NULL-padded
    top-level columns (the batch `theme_output` row shape, reference
    tabular.py:71-79), so the streamed sink is directly consumable
    without the tags map."""
    from ..operators.assemble import point_features
    from ..operators.themes import theme_fanout
    from ..sources import decode

    nodes = decode.nodes_from_entities(
        decode.entities_table(decode.with_entity_meta(doc_stream))
    )
    themed = theme_fanout(point_features(nodes), mapping)
    keys = sorted({k for t in mapping.themes for k in t.keys})
    taken = set(themed.columns)
    # a key that collides with a structural output column ('theme',
    # 'osm_id', 'tags' …) gets the same deterministic '_tag' suffix
    # as the batch projection (functions/compile.select_keys_
    # projection) — a duplicate name would fail at stream start
    return themed.select(
        "*",
        *[
            F.try_element_at("tags", F.lit(kk)).alias(
                kk if kk not in taken else kk + "_tag"
            )
            for kk in keys
        ],
    )


def run_incremental_export(
    spark,
    input_dir: str,
    mapping,
    out_dir: str,
    checkpoint_dir: str,
):
    """Append-mode streaming export of point features with an
    exactly-once parquet sink (Spark checkpoint = resume state): one
    availableNow trigger over the new files, then return."""
    themed = incremental_point_features(stream_documents(spark, input_dir), mapping)
    writer = (
        themed.drop("tags")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
    )
    q = writer.start()
    q.awaitTermination()
    return q
