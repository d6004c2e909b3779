"""Cell-partitioned feature storage: the engine's Iceberg-style layout
for spatial partition pruning (SURVEY.md §4 'Partition pruning
(spatial)'; reference small-AOI fast path sources.py:171-184).

Features are written `partitionBy(cell_prefix)` where cell_prefix is
the quadkey cell at a coarse zoom; an AOI scan then becomes

    spark.read.parquet(path).where(col('cell_prefix').isin(aoi_cover))

which Spark resolves at PLANNING time into partition-directory pruning
— untouched directories are never listed or read.  At 100 TB this is
the difference between scanning the planet and scanning the AOI's
neighborhood; the same column doubles as the range-partitioning /
clustering key for write locality."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.tiles import cell_col, tile_x_col, tile_y_col

DEFAULT_PREFIX_ZOOM = 4


def with_cell_prefix(features: DataFrame, zoom: int = DEFAULT_PREFIX_ZOOM) -> DataFrame:
    """Multi-assign each feature to EVERY coarse cell its bbox covers
    (exploded `cell_prefix` rows).  A feature larger than one cell is
    duplicated into each overlapping partition — the classic spatial
    partitioning layout (exact pruning for any feature size at the cost
    of bbox-overlap duplication; readers dedupe on (osm_id, src))."""
    from ..operators.tiles import with_tile_cells

    # bbox cover (uncapped) is the RIGHT shape for an index partition:
    # a conservative superset with planning-time pruning; readers
    # dedupe on (osm_id, src)
    out = with_tile_cells(features, zoom, zoom)
    return out.withColumnRenamed("cell", "cell_prefix")


def write_cell_partitioned(
    features: DataFrame, path: str, zoom: int = DEFAULT_PREFIX_ZOOM
) -> None:
    """Materialize the feature table partitioned by cell prefix."""
    with_cell_prefix(features, zoom).write.mode("overwrite").partitionBy(
        "cell_prefix"
    ).parquet(path)


def read_aoi_pruned(spark, path: str, aoi, zoom: int = DEFAULT_PREFIX_ZOOM) -> DataFrame:
    """Scan only the partitions whose cell prefix overlaps the AOI
    cover; duplicates from multi-assignment are dropped on (osm_id,
    src).  Planning-time partition pruning — unread directories are
    never listed."""
    prune = sorted(aoi.prune_cells(zoom))
    df = spark.read.parquet(path).where(F.col("cell_prefix").isin(prune))
    return df.dropDuplicates(["osm_id", "src"])


def write_hotkey_clustered(docs: DataFrame, path: str, hot_keys) -> None:
    """Materialize a documents table CLUSTERED by its hot-key columns
    (range-repartition + within-partition sort) so each parquet row
    group's min/max on ``hk_<key>`` spans a narrow value range — the
    write-side half of sargable pushdown (functions/sargable.py).  On
    Iceberg this is `write.distribution-mode=range` + a sort order;
    here the same two mechanisms, spelled out.

    Key ORDER matters exactly like a sort order: ranges are carved on
    the first key, so min/max pruning is strongest there — put the
    most-filtered key first (secondary keys only prune within ties)."""
    from ..functions.sargable import hot_column

    cols = [hot_column(k) for k in hot_keys]
    n = max(docs.sparkSession.sparkContext.defaultParallelism, 2)
    docs.repartitionByRange(n, *cols).sortWithinPartitions(*cols).write.mode(
        "overwrite"
    ).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    zoom: int = 16,
    n_files: int = None,
) -> None:
    """Materialize a point table in Z-ORDER (Morton) layout: rows are
    range-repartitioned and sorted by the bit-interleaved tile cell of
    (lon, lat) at `zoom`, so each parquet row group covers a small
    SQUARE-ish patch of the plane and its footer min/max on BOTH the
    raw lon and lat columns is tight.  A bbox predicate — plain
    `lon BETWEEN … AND lat BETWEEN …`, pushed to the scan by Catalyst —
    then prunes row groups on BOTH dimensions, which a single-column
    sort can never do (sorting by lon alone leaves every row group
    spanning the full lat range; measured in tests/test_zorder.py).

    This is the intra-file complement of the `cell_prefix` partition
    layout above: partition pruning skips directories at planning
    time, Z-order skips row groups inside whatever files remain.  On
    Iceberg/Delta this is `sort order = zorder(lon, lat)`; here it is
    the same two mechanisms spelled out, with the engine's own Morton
    encoder (operators/tiles.cell_col) as the key — no materialized
    key column, the sort expression lives only in the write plan.

    Pruning granularity is the row group (within a file) and the file
    (across ranges): `n_files` range chunks means each chunk covers
    ~1/n_files of the curve, so small inputs need more files than
    cores for the stats to get selective (the tests use 64); at scale
    the default — one range per core — already yields thousands of
    files × many 128 MB row groups each, far finer than any bbox."""
    from ..operators.tiles import cell_col, tile_x_col, tile_y_col

    z = F.lit(zoom)
    key = cell_col(
        z, tile_x_col(F.col(lon_col), z), tile_y_col(F.col(lat_col), z)
    )
    n = n_files or max(df.sparkSession.sparkContext.defaultParallelism, 2)
    df.repartitionByRange(n, key).sortWithinPartitions(key).write.mode(
        "overwrite"
    ).parquet(path)


def read_bbox(
    spark,
    path: str,
    bbox,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Scan a point table with a bbox predicate expressed on the raw
    lon/lat columns — Catalyst pushes the four comparisons into the
    parquet scan (PushedFilters), and on a write_zordered layout the
    row groups outside the box are excluded by footer stats before
    decompression.  `bbox` is (min_lon, min_lat, max_lon, max_lat)."""
    min_lon, min_lat, max_lon, max_lat = bbox
    df = spark.read.parquet(path)
    return df.where(
        (F.col(lon_col) >= float(min_lon))
        & (F.col(lon_col) <= float(max_lon))
        & (F.col(lat_col) >= float(min_lat))
        & (F.col(lat_col) <= float(max_lat))
    )


def read_theme_candidates(spark, path: str, mapping) -> DataFrame:
    """Scan the documents table with the mapping's necessary condition
    over whatever hk_ columns the table carries — Catalyst pushes it
    into the scan (PushedFilters), and row groups whose stats exclude
    every theme are never decompressed.  Returns the unfiltered scan
    when the mapping references no materialized hot key.

    Soundness contract (functions/sargable.py): the result contains
    every document that can become a THEMED FEATURE through its own
    tags; geometry-only documents (nodes referenced by ways, member
    ways) may be absent — join those from an unfiltered scan."""
    from ..functions.sargable import theme_candidate_condition

    df = spark.read.parquet(path)
    cond = theme_candidate_condition(mapping, df.columns)
    return df.where(cond) if cond is not None else df


def _clear_orphan_location(spark, table: str) -> None:
    """A run that died between writing a managed table's files and
    registering (or after dropping) the catalog entry leaves the
    warehouse directory on disk with no table behind it — saveAsTable
    then refuses with LOCATION_ALREADY_EXISTS forever after.  If the
    catalog has no such table but its default managed location exists
    on a LOCAL warehouse, remove the orphan so the write can proceed.
    Non-file warehouses (real deployments: S3/HDFS-backed catalogs)
    are left alone — there the catalog service owns cleanup."""
    if spark.catalog.tableExists(table):
        return
    if "." in table:
        # Qualified names live under <warehouse>/<db>.db/<table>;
        # guessing that layout risks deleting a LIVE default-database
        # table that happens to share the last name segment.  Only
        # the unqualified (default-db) case is unambiguous — leave
        # qualified orphans for the operator.
        return
    wh = str(spark.conf.get("spark.sql.warehouse.dir", ""))
    import urllib.parse

    parsed = urllib.parse.urlparse(wh)
    if parsed.scheme not in ("", "file"):
        return
    import os
    import shutil

    loc = os.path.join(parsed.path or wh, table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)


def write_bucketed(df: DataFrame, table: str, buckets: int, *keys: str) -> None:
    """Persist `df` as a Spark BUCKETED table on `keys`: rows are
    hash-partitioned into `buckets` files per write-partition and
    sorted within each bucket.  Any later equi-join
    or aggregation keyed on `keys` between tables bucketed the same
    way is EXCHANGE-FREE — the scan itself delivers co-partitioned
    (and pre-sorted) input, so the shuffle that would normally carry
    both full sides simply never happens.  On Iceberg the same layout
    is a `bucket(N, col)` partition transform; here it is Spark's
    native bucketed-table DDL (works on the built-in session catalog —
    no Hive needed).

    This is the storage half of the reusable-dedup-index story: write
    the (id, band, bucket) band table once
    (operators/dedup.banded_signature_table), and every rerun or
    incremental batch joins against it with zero exchange on the
    corpus side (operators/dedup.band_self_join; plan gate in
    tests/test_text_dedup.py).  At the 100 TB target the band table is
    the widest frame the dedup pipeline ever shuffles — bucketing it
    converts that per-run cost into a one-time write-side sort."""
    _clear_orphan_location(df.sparkSession, table)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *keys)
    w.sortBy(*keys).saveAsTable(table)


def append_bucketed(df: DataFrame, table: str, buckets: int, *keys: str) -> None:
    """Append rows to an existing bucketed table with the SAME
    (buckets, keys) spec — the accept step of the incremental dedup
    index: once a new batch survives dedup_against_index, its band
    rows land here so the next batch's candidate join sees them.
    Spark hashes the appended rows into the same bucket files'
    numbering, so joins against the table stay exchange-free across
    appends; the spec must match the original write_bucketed call
    (Spark rejects a mismatched append)."""
    w = df.write.mode("append").format("parquet").bucketBy(buckets, *keys)
    w.sortBy(*keys).saveAsTable(table)
