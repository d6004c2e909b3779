"""The end-to-end export pipeline — the engine's equivalent of the
reference CLI (cmd.py:10-66):

    docs table → decode → assemble → any-theme prefilter → AOI clip
    → theme fan-out → per-format sinks → manifest + metrics

One logical plan end to end: Catalyst sees the whole pipeline, pushes
the decode projections into the scan, and the themed frame is persisted
once and reused by every sink (the reference's single-geometry-build
guarantee across outputs, tabular.py:269-275)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from .. import lineage
from ..operators import assemble
from ..operators.clip import AOI, clip_features
from ..operators.themes import prefilter, theme_fanout, theme_output
from ..operators.tiles import tile_features
from ..sources import decode
from .manifest import ExportManifest
from .sinks import launder_name, make_filename, wkt_column, kml_geometry_column

TABULAR_FORMATS = ("gpkg", "shp", "kml")


def partition_lineage(spark, path: str) -> dict:
    """Per-partition (output file) row counts — the lineage record the
    north rule asks for ('resumable from checkpoint with per-partition
    lineage + metrics').

    Reads ONLY parquet footers (a few KB per file), never the data
    pages — the previous implementation re-scanned every written
    dataset (a second full pass of the write path's I/O at scale).

    Local paths read footers with pyarrow on the driver.  URI paths
    (s3a://, hdfs://, …) go through Spark so any configured Hadoop
    filesystem works: a zero-data-column scan grouped by
    `input_file_name` — row counts come from row-group metadata and no
    value pages are decoded, so it stays metadata-priced (not the full
    second data pass the original implementation did).  The file LIST
    comes from the Hadoop FileSystem API, not from the groupBy (which
    yields no row for zero-row part files — empty partitions do write
    such files, and they must appear in the manifest with count 0 the
    same way the local-path branch lists them)."""
    if "://" not in path:
        import pyarrow.parquet as pq

        out = {}
        for name in sorted(os.listdir(path)):
            if not name.endswith(".parquet"):
                continue
            out[name] = pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        return out

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    names = [
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.getPath().getName().endswith(".parquet")
    ]

    rows = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .count()
        .collect()
    )
    counts = {os.path.basename(r["f"]): r["count"] for r in rows}
    return {name: counts.get(name, 0) for name in sorted(names)}


def export(
    spark,
    docs: DataFrame,
    mapping,
    out_dir: str,
    aoi_rings=None,
    formats=("gpkg",),
    polygon_centroid: bool = False,
    tile_zooms=None,
    resume: bool = True,
    dropout_metrics: bool = False,
    binary: bool = False,
    checkpoint=False,
) -> dict:
    """Run a themed export; returns the manifest payload.

    `dropout_metrics=True` additionally records the reference's
    per-entity skip diagnostics (incomplete ways / invalid relations) —
    an extra pass over the assembly joins.

    `binary=True` additionally materializes the REAL single-file
    artifacts (.gpkg SQLite database / .shp+.shx+.dbf+.prj+.cpg /
    .kml) from the distributed datasets via a streamed
    toLocalIterator pass (plans/binary_sinks.py) — the same
    single-writer final mile the reference's OGR layer performs.
    OPT-IN (default False) because that last mile funnels every
    feature through the driver: the distributed parquet datasets are
    the primary artifact at scale, and the CLI's --binary flag
    requests the single-file outputs when a consumer needs them.

    `checkpoint=True` (or `'local'`) materializes the pipeline's
    intermediates via localCheckpoint instead of persist: downstream actions then plan
    against flat LogicalRDD scans instead of re-optimizing the deep
    decode/join tree per action — ~2x end-to-end on small/interactive
    batches where driver-side planning dominates.  Default OFF: a
    localCheckpoint truncates lineage (executor loss becomes job
    failure, and the raw-row storage footprint exceeds the columnar
    cache), which is the wrong trade at long-running cluster scale —
    see osm_export_tool_python_spark/lineage.py.

    `checkpoint='parquet'` keeps the lineage-flat shape but stores the
    intermediates as snappy parquet (write + re-read) instead of raw
    rows: measured 1.9x faster to materialize at 8 cores and 2→8 core
    scaling 0.86 vs 0.52 on the wide decoded-entities frame
    (BENCH/DECODE_AB.json), column-pruned on re-read, and — pointed at
    durable storage — a *reliable* checkpoint, so it is also the right
    lineage-truncation mode at cluster scale.

    `checkpoint='auto'` picks the store from the input scan's Catalyst
    size estimate (small batch → 'local', large or unknown →
    'parquet'), resolved once per export so a run never mixes stores
    — see lineage.resolve_auto."""
    manifest = ExportManifest(out_dir)
    if resume:
        manifest.load_done_entries()

    meta = decode.with_entity_meta(docs)
    # resolve checkpoint='auto' ONCE on the input scan (which carries
    # real parquet statistics) so every materialization in this export
    # uses the same store — see lineage.resolve_auto
    if checkpoint == "auto":
        checkpoint = lineage.resolve_auto(meta, checkpoint)
    if dropout_metrics:
        for k, v in assemble.assembly_dropout_metrics(meta).items():
            manifest.add_metric(k, v)
    # persist_intermediate: the decoded entities and way-coords frames
    # each feed several concurrently-scheduled union branches — without
    # an eagerly-materialized cache every branch recomputes the whole
    # decode scan (measured 4x duplicate work at 24M docs)
    # mapping-aware: the way⋈node join and the persisted intermediates
    # shrink to the themes' working set (assemble_features docstring)
    feats = assemble.assemble_features(
        meta, persist_intermediate=True, checkpoint=checkpoint, mapping=mapping
    )
    intermediates = feats._persisted_intermediates
    feats = prefilter(feats, mapping)
    feats._persisted_intermediates = intermediates

    if aoi_rings is not None:
        # NOT materialized: the clip output has exactly one consumer —
        # the themed materialization below — so a persist/checkpoint
        # here is a pure extra write+read pass over the feature set
        # (A/B at 24M docs: identical outputs, strictly slower)
        aoi = AOI(aoi_rings)
        feats = clip_features(feats, aoi)
        feats._persisted_intermediates = intermediates

    themed = theme_fanout(feats, mapping)
    if checkpoint:
        themed = lineage.eager_checkpoint(
            themed, checkpoint if isinstance(checkpoint, str) else "local"
        )
    else:
        themed = themed.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        manifest.add_metric("themed_features", themed.count())

        for fmt in formats:
            if fmt in TABULAR_FORMATS:
                _write_tabular(
                    spark, themed, mapping, out_dir, fmt, manifest,
                    polygon_centroid, binary,
                )
            elif fmt == "tiles":
                _write_tiles(spark, themed, out_dir, tile_zooms or (0, 8), manifest, binary)
            else:
                raise ValueError("unknown format %r" % fmt)

        for r in (
            themed.groupBy("theme", "geom_type").agg(F.count("*").alias("n")).collect()
        ):
            manifest.add_metric(
                "rows/%s/%s" % (r["theme"], r["geom_type"]), r["n"]
            )
    finally:
        lineage.release(themed, *intermediates)
    return manifest.write()


def _write_tabular(spark, themed, mapping, out_dir, fmt, manifest,
                   polygon_centroid, binary):
    # the (single) GeoPackage connection must close on success AND on
    # mid-stream failure, or a resume run would open a second
    # connection beside an abandoned transaction/-journal
    gpkg_writer = None
    try:
        for theme in mapping.themes:
            base = theme_output(themed, theme, polygon_centroid=polygon_centroid)
            if fmt == "gpkg":
                # one root, one layer dir per theme, mixed geometry
                # (reference Geopackage, tabular.py:146-196)
                part_key = "gpkg/%s" % theme.name
                path = os.path.join(out_dir, "gpkg", make_filename(theme.name))
                if manifest.is_done(part_key):
                    continue
                df = base.select("*", wkt_column()).drop(
                    "xs", "ys", "ring_offsets", "part_offsets"
                )
                df.write.mode("overwrite").parquet(path)
                parts = partition_lineage(spark, path)
                info = dict(
                    format="gpkg", theme=theme.name, path=path,
                    rows=sum(parts.values()), partitions=parts,
                )
                if binary:
                    from .binary_sinks import GeoPackageWriter

                    if gpkg_writer is None:
                        gpkg_writer = GeoPackageWriter(
                            os.path.join(out_dir, "gpkg", "export.gpkg")
                        )
                    gpkg_writer.write_layer(
                        make_filename(theme.name),
                        theme.keys,
                        base.toLocalIterator(),
                        with_osm_id=theme.osm_id,
                    )
                    info["binary"] = gpkg_writer.path
                manifest.add(**info)
                manifest.mark_done(part_key, **info)
            else:
                # per (theme, geomtype) datasets (Shapefile/Kml writers,
                # tabular.py:86-144 / :32-84).  In centroid mode polygons
                # are rewritten to points upstream, so they land in the
                # point dataset; a polygons-only theme has nowhere to put
                # them — fail loudly like the reference's
                # point-layer KeyError (tabular.py:330-336).
                enabled = theme.geom_type_names()
                if polygon_centroid and "polygon" in enabled and "point" not in enabled:
                    raise ValueError(
                        "polygon_centroid routes theme %r polygons to its POINT "
                        "layer, which the theme does not enable (%s output)"
                        % (theme.name, fmt)
                    )
                for gt in enabled:
                    part_key = "%s/%s/%s" % (fmt, theme.name, gt)
                    path = os.path.join(
                        out_dir, fmt, "%s_%s" % (make_filename(theme.name), gt)
                    )
                    if manifest.is_done(part_key):
                        continue
                    df = df_gt = base.where(F.col("geom_type") == gt)
                    if fmt == "shp":
                        rename = {
                            k: launder_name(k)
                            for k in theme.keys
                            if launder_name(k) != k
                        }
                        df = df.select(
                            [F.col(c).alias(rename.get(c, c)) for c in df.columns]
                        ).select("*", wkt_column()).drop(
                            "xs", "ys", "ring_offsets", "part_offsets"
                        )
                    else:  # kml
                        df = df.select("*", kml_geometry_column()).drop(
                            "xs", "ys", "ring_offsets", "part_offsets"
                        )
                    df.write.mode("overwrite").parquet(path)
                    parts = partition_lineage(spark, path)
                    info = dict(
                        format=fmt, theme=theme.name, path=path,
                        rows=sum(parts.values()), partitions=parts, geom_type=gt,
                    )
                    if binary:
                        bin_base = os.path.join(
                            out_dir, fmt + "_bin",
                            "%s_%s" % (make_filename(theme.name), gt),
                        )
                        if fmt == "shp":
                            from .binary_sinks import write_shapefile

                            write_shapefile(
                                bin_base, gt, theme.keys,
                                df_gt.toLocalIterator(),
                                with_osm_id=theme.osm_id,
                                field_names=[launder_name(k) for k in theme.keys],
                            )
                            info["binary"] = bin_base + ".shp"
                        else:  # kml
                            from .binary_sinks import write_kml

                            write_kml(
                                bin_base + ".kml",
                                "%s %s" % (theme.name, gt),
                                theme.keys,
                                df_gt.toLocalIterator(),
                                with_osm_id=theme.osm_id,
                            )
                            info["binary"] = bin_base + ".kml"
                    manifest.add(**info)
                    manifest.mark_done(part_key, **info)
    finally:
        if gpkg_writer is not None:
            gpkg_writer.close()


def _write_tiles(spark, themed, out_dir, zooms, manifest, binary):
    part_key = "tiles/z%d-%d" % zooms
    path = os.path.join(out_dir, "tiles")
    # tile features once over the deduped feature set (a feature in
    # many themes packs once per tile, like the reference's mbtiles
    # which is theme-independent raster fetch)
    uniq = themed.dropDuplicates(["osm_id", "src", "geom_type"])
    # NOTHING is dropped: exact assignment has no cap by construction
    # (fanout is O(tiles the geometry touches)), so the drop metric is
    # 0.  Recorded BEFORE the resume early-return — manifest.write()
    # rebuilds metrics from this run, so a resumed export would
    # otherwise drop the key that tests and consumers rely on.
    manifest.add_metric("tiles_capped_feature_zooms", 0)
    if manifest.is_done(part_key):
        return
    tf = tile_features(uniq, zooms[0], zooms[1])
    # partition count from cluster parallelism — tf.rdd.getNumPartitions()
    # would force plan materialization and bypass AQE just to pick a number
    n_out = max(spark.sparkContext.defaultParallelism // 2, 1)
    tf.repartitionByRange(n_out, "z", "x", "y").write.mode("overwrite").parquet(path)
    parts = partition_lineage(spark, path)
    info = dict(
        format="tiles", theme="*", path=path,
        rows=sum(parts.values()), partitions=parts, zooms=list(zooms),
    )
    if binary:
        import math

        from .binary_sinks import write_mbtiles

        tiles_df = spark.read.parquet(path)
        ext = tiles_df.where(F.col("z") == zooms[1]).agg(
            F.min("x"), F.min("y"), F.max("x"), F.max("y")
        ).first()
        if ext[0] is not None:
            n = 1 << zooms[1]

            def lat(y):
                return math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))

            bounds = (
                ext[0] / n * 360.0 - 180.0, lat(ext[3] + 1),
                (ext[2] + 1) / n * 360.0 - 180.0, lat(ext[1]),
            )
        else:
            bounds = (-180.0, -85.051129, 180.0, 85.051129)
        mb_path = os.path.join(out_dir, "tiles.mbtiles")
        write_mbtiles(
            mb_path, tiles_df.toLocalIterator(), bounds, zooms[0], zooms[1]
        )
        info["binary"] = mb_path
    manifest.add(**info)
    manifest.mark_done(part_key, **info)
