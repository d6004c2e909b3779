"""kNN nearest-feature search via cell self-join.

North-star addition (no reference analog — SURVEY.md §2.5): for each
point feature, find its k nearest neighbors WITHOUT an O(n²) cross
join:

  1. encode each point into a quadkey cell at `zoom`,
  2. explode the query side to its cell ∪ 8 neighbors (so matches
     across cell boundaries are found),
  3. equi-join on cell (shuffle hash join on a salted-friendly key),
  4. exact haversine in PURE Column math (JVM codegen, no UDF),
  5. Window top-k per query id.

Correct iff the true k-th neighbor lies within one cell ring (~cell
size); pick zoom so the expected NN distance ≪ cell edge.  Skewed hot
cells are exactly where candidate lists explode — AQE skew-join
handles the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371008.8

#: Auto-broadcast the TARGETS side of the cell join when the input
#: points frame's Catalyst size estimate is below this (bytes).  A
#: small point set shuffle-joined on cell pays two exchanges plus sort
#: for data that fits in one broadcast; at scale the estimate exceeds
#: the gate and the join keeps its shuffle shape (same decision shape
#: as Spark's own autoBroadcastJoinThreshold, but on the *operator*
#: input, which we know is scanned twice as queries and targets).
KNN_BROADCAST_MAX_BYTES = 64 << 20


def haversine_col(lon1, lat1, lon2, lat2):
    """Haversine distance in meters as a pure Column expression —
    matches functions/geomkernel.haversine_m bit-for-bit formula-wise."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def cell_at_zoom_col(lon, lat, zoom):
    """Quadkey cell id as PURE Column bit math (tiles.cell_col path) —
    keeps the whole kNN pipeline inside whole-stage codegen."""
    from .tiles import cell_col, tile_x_col, tile_y_col

    z = F.lit(int(zoom))
    return cell_col(z, tile_x_col(lon, z), tile_y_col(lat, z))


def neighbor_cells_col(lon, lat, zoom):
    """The point's cell ∪ its 8 ring neighbors as array<long>, all
    Column bit math (replaces the former per-row pandas UDF): x wraps at
    the antimeridian (pmod), out-of-range y duplicates the center cell
    and array_distinct drops it — same contract as cells.cell_neighbors."""
    from .tiles import cell_col, tile_x_col, tile_y_col

    z = F.lit(int(zoom))
    n = F.lit(2 ** int(zoom))
    x = tile_x_col(lon, z)
    y = tile_y_col(lat, z)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    center = cell_col(z, x, y)
    cells = F.transform(
        offsets,
        lambda o: F.when(
            ((y + o.dy) >= 0) & ((y + o.dy) < n),
            cell_col(z, F.pmod(x + o.dx, n), y + o.dy),
        ).otherwise(center),
    )
    return F.array_distinct(cells)


def knn_join(
    points: DataFrame,
    k: int = 1,
    zoom: int = 12,
    id_col: str = "osm_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(id, neighbor_id, dist_m, rank) — k nearest neighbors per point
    among points within one cell ring at `zoom`."""
    from ..parallel import _plan_size_bytes

    base = points.select(
        F.col(id_col).alias("id"), F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat")
    )
    targets = base.withColumn("cell", cell_at_zoom_col(F.col("lon"), F.col("lat"), zoom))
    queries = base.withColumn(
        "cell", F.explode(neighbor_cells_col(F.col("lon"), F.col("lat"), zoom))
    )
    # small inputs: broadcast the un-exploded targets side — the cell
    # equi-join then shuffles NOTHING (identical matches, join strategy
    # only; the k=1 aggregation below still partial-aggregates map-side)
    est = _plan_size_bytes(points)
    t_side = targets.alias("t")
    if est is not None and est < KNN_BROADCAST_MAX_BYTES:
        t_side = F.broadcast(t_side)
    pairs = (
        queries.alias("q")
        .join(t_side, "cell")
        .where(F.col("q.id") != F.col("t.id"))
        .select(
            F.col("q.id").alias("id"),
            F.col("t.id").alias("neighbor_id"),
            haversine_col(
                F.col("q.lon"), F.col("q.lat"), F.col("t.lon"), F.col("t.lat")
            ).alias("dist_m"),
        )
        # a target can be reached via several of the query's 9 cells? no —
        # targets carry ONE cell each, so each (q,t) pair appears once.
    )
    if k == 1:
        # nearest-neighbor (the dedup path's shape): min(struct) is a
        # partial-aggregable reduction — map-side combine collapses
        # each partition's candidates to ONE row per id before the
        # shuffle, where the window form shuffles and SORTS every
        # candidate pair.  Struct ordering is field-wise, so
        # (dist_m, neighbor_id) reproduces the window's exact
        # tie-break.
        m = F.min(F.struct(F.col("dist_m"), F.col("neighbor_id"))).alias("m")
        return (
            pairs.groupBy("id")
            .agg(m)
            .select(
                "id",
                F.col("m.neighbor_id").alias("neighbor_id"),
                F.col("m.dist_m").alias("dist_m"),
                F.lit(1).alias("rank"),
            )
        )
    w = Window.partitionBy("id").orderBy(F.col("dist_m").asc(), F.col("neighbor_id").asc())
    return pairs.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
