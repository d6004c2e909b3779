"""Geometry assembly: node → way → multipolygon via DataFrame joins.

The reference delegates all entity stitching to libosmium's node
location store and area assembler (reference cmd.py:58
``locations=True, idx='sparse_file_array'``; area callbacks
tabular.py:308-339).  Here the same capabilities are explicit,
shuffle-aware DataFrame operations:

  way coords    = way_refs ⋈ nodes on node_id,
                  then groupBy(way_id) + sort_array(collect_list)
  multipolygons = members ⋈ way coords, ring-stitching per relation in
                  one applyInPandas (numpy endpoint chaining)

Scale notes (100 TB design):
  - way_refs ⋈ nodes is the big shuffle; both sides hash-partition on
    node_id.  OSM-like data has no hot node_id (a node is referenced by
    a handful of ways), so no salting needed HERE — density skew lives
    in cell space and is handled at tile/clip time (operators/tiles.py).
  - collect_list per way is bounded (real OSM caps ways at 2000 nodes),
    so the agg cannot blow an executor.
  - incomplete ways (dangling node ref) are dropped via a count check —
    the distributed equivalent of the reference's "Incomplete way" skip
    (tabular.py:305-306) — and surfaced as a metric, not a print.

Feature frame schema (packed coordinates, numpy-sliceable in UDFs):
  osm_id long        -- negative for relation-derived areas (tabular.py:313)
  src string         -- node|way|relation
  geom_type string   -- point|line|polygon
  tags map<string,string>
  xs, ys array<double>
  ring_offsets array<int>  -- polygon ring boundaries into xs/ys
  part_offsets array<int>  -- multipolygon part boundaries into rings
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.compile import closed_way_is_polygon_col

FEATURE_SCHEMA = (
    "osm_id long, src string, geom_type string, tags map<string,string>, "
    "xs array<double>, ys array<double>, "
    "ring_offsets array<int>, part_offsets array<int>"
)


def point_features(nodes: DataFrame) -> DataFrame:
    """Tagged nodes → point features (reference tabular.py:263-277;
    untagged skipped per tabular.py:264)."""
    return nodes.where(F.size("tags") > 0).select(
        F.col("node_id").alias("osm_id"),
        F.lit("node").alias("src"),
        F.lit("point").alias("geom_type"),
        "tags",
        F.array("lon").alias("xs"),
        F.array("lat").alias("ys"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
    )


def way_coords(way_refs: DataFrame, nodes: DataFrame, ways: DataFrame) -> DataFrame:
    """Assemble every way's coordinate arrays (the location-index join).

    Inner join drops dangling refs; a way whose assembled count is less
    than its span count is incomplete and excluded (with `complete`
    flag retained so callers can count the dropouts)."""
    joined = way_refs.join(
        nodes.select("node_id", "lon", "lat"), "node_id", "inner"
    )
    agg = joined.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("seq", "lon", "lat"))).alias("pts")
    )
    return (
        agg.join(ways, "way_id", "inner")
        .select(
            "way_id",
            "tags",
            "is_closed",
            (F.size("pts") == F.col("n_refs")).alias("complete"),
            F.transform("pts", lambda p: p.lon).alias("xs"),
            F.transform("pts", lambda p: p.lat).alias("ys"),
        )
    )


def line_features(wcoords: DataFrame) -> DataFrame:
    """Open ways + closed ways WITHOUT area tags → line features
    (reference tabular.py:279-283: closed polygon-tagged ways are
    handled by area())."""
    is_poly = closed_way_is_polygon_col("tags")
    return (
        wcoords.where(F.col("complete") & (F.size("tags") > 0))
        .where(~(F.col("is_closed") & is_poly))
        .select(
            F.col("way_id").alias("osm_id"),
            F.lit("way").alias("src"),
            F.lit("line").alias("geom_type"),
            "tags",
            "xs",
            "ys",
            F.array(F.lit(0), F.size("xs")).cast("array<int>").alias("ring_offsets"),
            F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        )
    )


def closed_way_polygon_features(wcoords: DataFrame) -> DataFrame:
    """Closed ways WITH area tags → single-ring polygons, positive
    osm_id (reference tabular.py:308-313 from_way branch)."""
    is_poly = closed_way_is_polygon_col("tags")
    return (
        wcoords.where(F.col("complete") & (F.size("tags") > 0))
        .where(F.col("is_closed") & is_poly)
        # a valid ring needs >= 4 points (incl. the closing repeat) —
        # osmium's area assembler rejects shorter ones ('Invalid area')
        .where(F.size("xs") >= 4)
        .select(
            F.col("way_id").alias("osm_id"),
            F.lit("way").alias("src"),
            F.lit("polygon").alias("geom_type"),
            "tags",
            "xs",
            "ys",
            F.array(F.lit(0), F.size("xs")).cast("array<int>").alias("ring_offsets"),
            F.array(F.lit(0), F.lit(1)).cast("array<int>").alias("part_offsets"),
        )
    )


# ---------------------------------------------------------------------------
# multipolygon relation assembly (applyInPandas ring stitcher)
# ---------------------------------------------------------------------------

_ASSEMBLY_SCHEMA = (
    "rel_id long, tags map<string,string>, "
    "xs array<double>, ys array<double>, "
    "ring_offsets array<int>, part_offsets array<int>, valid boolean"
)


def _chain_rings(segments):
    """Chain open segments into closed rings by endpoint matching.
    segments: list of (N,2) arrays.  Returns (rings, ok)."""
    segs = [np.asarray(s) for s in segments if len(s) >= 2]
    rings = []
    # already-closed segments are rings on their own
    open_segs = []
    for s in segs:
        if len(s) >= 4 and np.array_equal(s[0], s[-1]):
            rings.append(s[:-1])
        else:
            open_segs.append(s)
    while open_segs:
        cur = open_segs.pop(0)
        progress = True
        while progress and not np.array_equal(cur[0], cur[-1]):
            progress = False
            for i, s in enumerate(open_segs):
                if np.array_equal(s[0], cur[-1]):
                    cur = np.vstack([cur, s[1:]])
                elif np.array_equal(s[-1], cur[-1]):
                    cur = np.vstack([cur, s[::-1][1:]])
                elif np.array_equal(s[-1], cur[0]):
                    cur = np.vstack([s, cur[1:]])
                elif np.array_equal(s[0], cur[0]):
                    cur = np.vstack([s[::-1], cur[1:]])
                else:
                    continue
                open_segs.pop(i)
                progress = True
                break
        if len(cur) >= 4 and np.array_equal(cur[0], cur[-1]):
            rings.append(cur[:-1])
        else:
            return rings, False  # unclosable ring → invalid area
    return rings, True


def _assemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """One relation: stitch member ways into outer/inner rings.
    numpy endpoint chaining; rejected relations come back valid=False
    (the reference's 'Invalid area' skip, tabular.py:338-339)."""
    from ..functions.geomkernel import points_in_rings

    rel_id = int(pdf["rel_id"].iloc[0])
    tags = pdf["tags"].iloc[0]
    pdf = pdf.sort_values("member_seq")

    def segs(role):
        # osmium's area assembler treats blank/unknown member roles as
        # outer — only an explicit 'inner' makes a hole
        if role == "outer":
            rows = pdf[pdf["role"] != "inner"]
        else:
            rows = pdf[pdf["role"] == role]
        return [
            np.stack([np.asarray(r.xs), np.asarray(r.ys)], axis=1)
            for r in rows.itertuples()
            if r.xs is not None
        ]

    outers, ok_o = _chain_rings(segs("outer"))
    inners, ok_i = _chain_rings(segs("inner"))
    valid = ok_o and ok_i and len(outers) > 0

    if not valid:
        return pd.DataFrame(
            [
                {
                    "rel_id": rel_id,
                    "tags": tags,
                    "xs": [],
                    "ys": [],
                    "ring_offsets": [],
                    "part_offsets": [],
                    "valid": False,
                }
            ]
        )

    # assign each inner ring to the outer that contains its first vertex
    parts = [[o] for o in outers]
    for inner in inners:
        placed = False
        for pi, o in enumerate(outers):
            if points_in_rings(inner[:1], [o])[0]:
                parts[pi].append(inner)
                placed = True
                break
        if not placed:
            parts[0].append(inner)

    xs, ys, ring_offsets, part_offsets = [], [], [0], [0]
    for part in parts:
        for ring in part:
            closed = np.vstack([ring, ring[0]])
            xs.extend(closed[:, 0].tolist())
            ys.extend(closed[:, 1].tolist())
            ring_offsets.append(len(xs))
        part_offsets.append(len(ring_offsets) - 1)

    return pd.DataFrame(
        [
            {
                "rel_id": rel_id,
                "tags": tags,
                "xs": xs,
                "ys": ys,
                "ring_offsets": ring_offsets,
                "part_offsets": part_offsets,
                "valid": True,
            }
        ]
    )


def relation_polygon_features(members: DataFrame, wcoords: DataFrame) -> DataFrame:
    """type=multipolygon relations → multipolygon features with
    NEGATIVE osm_id (reference tabular.py:313).

    members ⋈ way coords (way geometry reused from the shared
    assembly), then one applyInPandas over rel_id groups.  Relation
    sizes are tiny (a handful of member ways), so the grouped pandas
    stage is narrow; the heavy lifting stayed in the prior joins."""
    joined = members.join(
        wcoords.select("way_id", "complete", "xs", "ys"), "way_id", "left"
    ).where(F.col("complete"))

    assembled = joined.groupBy("rel_id").applyInPandas(
        lambda pdf: _assemble_group(pdf), schema=_ASSEMBLY_SCHEMA
    )
    return assembled.where(F.col("valid")).where(F.size("tags") > 0).select(
        (-F.col("rel_id")).alias("osm_id"),
        F.lit("relation").alias("src"),
        F.lit("polygon").alias("geom_type"),
        "tags",
        "xs",
        "ys",
        "ring_offsets",
        "part_offsets",
    )


def assembly_dropout_metrics(docs_meta: DataFrame) -> dict:
    """The distributed equivalents of the reference's per-entity skip
    diagnostics:

      incomplete_ways   — ways with a dangling node ref
                          ('Incomplete way: {id}', tabular.py:305-306)
      invalid_relations — multipolygon relations whose member rings
                          cannot be closed ('Invalid area: {id}',
                          tabular.py:338-339)
    """
    from ..sources import decode

    entities = decode.entities_table(docs_meta)
    nodes = decode.nodes_from_entities(entities)
    ways = decode.ways_from_entities(entities)
    way_refs = decode.way_refs_from_entities(entities)
    members = decode.rel_members_from_entities(entities)

    wcoords = way_coords(way_refs, nodes, ways)
    n_ways = ways.count()
    n_complete = wcoords.where(F.col("complete")).count()

    assembled = members.join(
        wcoords.select("way_id", "complete", "xs", "ys"), "way_id", "left"
    ).where(F.col("complete")).groupBy("rel_id").applyInPandas(
        lambda pdf: _assemble_group(pdf), schema=_ASSEMBLY_SCHEMA
    )
    n_rels = members.select("rel_id").distinct().count()
    n_valid_rels = assembled.where(F.col("valid")).count()
    return {
        "ways_total": n_ways,
        "incomplete_ways": n_ways - n_complete,
        "multipolygon_relations": n_rels,
        "invalid_relations": n_rels - n_valid_rels,
    }


def assemble_features(
    docs_meta: DataFrame,
    persist_intermediate: bool = False,
    checkpoint=False,
    mapping=None,
) -> DataFrame:
    """Full assembly: documents-with-meta → unified feature frame.

    The relation path additionally requires polygon routing on tags
    (closed_way_is_polygon gate at area time, reference tabular.py:310-311),
    applied here so the relation assembler only runs for area-tagged
    relations.

    `mapping` (optional): prune assembly to the mapping's working set
    BEFORE the way⋈node coordinate join.  Without it, every way's
    geometry is assembled and materialized even when the mapping
    themes 1% of them — the theme filter normally runs AFTER assembly,
    and the persisted/checkpointed `wcoords` is a materialization
    barrier Catalyst cannot push the predicate below.  With it, ways
    are kept iff their tags satisfy any line/polygon theme's matcher
    (`any_theme_tag_predicate` — a NECESSARY condition for surviving
    `prefilter`, so this is a strict superset of the themed output and
    downstream semantics are unchanged) OR they are members of a kept
    multipolygon relation (member ways need no matching tags of their
    own); relations prune on polygon-theme matchers, and the
    point-feature branch prunes nodes on point-theme matchers (the
    coordinate join still sees every node — untagged nodes anchor way
    geometry).  Matched ways filter scan-side (no join); only the
    non-matching remainder pays a compact pre-explode semi-join
    against the member-id list.

    `persist_intermediate` caches (a) the one-pass decoded entities
    frame — the wide `spans` column is then scanned ONCE instead of
    once per entity table — and (b) the assembled way coordinates,
    which feed three downstream branches (lines, closed-way polygons,
    relation members).  Caller owns releasing (the frame is tagged
    `_persisted_intermediates`; free with `lineage.release`).

    `checkpoint=True` (or `'local'`) materializes those same
    intermediates via `localCheckpoint` instead of `persist` — the
    downstream plans then scan a flat LogicalRDD, which removes the
    per-action Catalyst re-optimization of the deep decode/join tree
    (measured ~2x on the small-batch export benchmark, see `lineage`
    module docstring for the fault-tolerance trade-off that keeps
    plain persist the cluster-scale default).  `checkpoint='parquet'`
    stores the same intermediates as snappy parquet instead of raw
    rows — 1.9x faster to materialize and 2→8 core scaling 0.86 vs
    0.52 on this frame (BENCH/DECODE_AB.json), column-pruned on
    re-read."""
    from ..sources import decode
    from .. import lineage

    persisted = []
    # checkpoint accepts True ('local'), the mode strings 'parquet' /
    # 'auto' (columnar store — scales better on wide frames; 'auto'
    # picks the store from the input scan's Catalyst size estimate —
    # lineage.resolve_auto).  Resolve 'auto' HERE, on docs_meta, which
    # still carries real parquet-scan statistics: every materialization
    # in this run then uses the same store (a frame derived from a
    # localCheckpoint has no stats, so per-frame resolution would
    # silently flip later intermediates to parquet).
    ckpt = checkpoint if isinstance(checkpoint, str) else (
        "local" if checkpoint else None
    )
    if ckpt == "auto":
        ckpt = lineage.resolve_auto(docs_meta, ckpt)
    entities = decode.entities_table(docs_meta)
    if ckpt:
        entities = lineage.eager_checkpoint(entities, ckpt)
        persisted.append(entities)
    elif persist_intermediate:
        # persist AND materialize eagerly: the downstream union has four
        # branches whose stages run CONCURRENTLY inside one action — on
        # a cold cache each branch races to fill it and recomputes the
        # whole decode scan itself (measured 4 concurrent ~175s stages
        # at 24M docs).  One count() pays the decode exactly once.
        entities = entities.persist()
        entities.count()
        persisted.append(entities)
    nodes = decode.nodes_from_entities(entities)
    members = decode.rel_members_from_entities(entities)

    themes = list(getattr(mapping, "themes", None) or ()) if mapping else []
    point_nodes = nodes
    if themes:
        from ..functions.compile import any_theme_tag_predicate

        point_nodes = nodes.where(
            any_theme_tag_predicate(themes, ("point",))
        )
        members = members.where(
            any_theme_tag_predicate(themes, ("polygon",))
        )
        member_ids = members.select(
            F.col("way_id").alias("orig_id")
        ).dropDuplicates(["orig_id"])
        way_pred = any_theme_tag_predicate(themes, ("line", "polygon"))
        way_entities = entities.where(F.col("src") == "way")
        # matched ways filter scan-side; the non-matching remainder
        # (needed only when a kept relation references them) pays one
        # compact (pre-explode) semi-join against the member-id list.
        # compile_matcher coalesces to two-valued booleans, so the
        # ~way_pred complement is exact (no NULL-dropped middle).
        kept_way_entities = way_entities.where(way_pred).unionByName(
            way_entities.where(~way_pred).join(
                member_ids, "orig_id", "left_semi"
            )
        )
        ways = decode.ways_from_entities(kept_way_entities)
        way_refs = decode.way_refs_from_entities(kept_way_entities)
    else:
        ways = decode.ways_from_entities(entities)
        way_refs = decode.way_refs_from_entities(entities)

    wcoords = way_coords(way_refs, nodes, ways)
    if ckpt:
        wcoords = lineage.eager_checkpoint(wcoords, ckpt)
        persisted.append(wcoords)
    elif persist_intermediate:
        # same race: lines / closed-way polygons / relation members all
        # branch off wcoords
        wcoords = wcoords.persist()
        wcoords.count()
        persisted.append(wcoords)

    pts = point_features(point_nodes)
    lines = line_features(wcoords)
    way_polys = closed_way_polygon_features(wcoords)
    rel_polys = relation_polygon_features(
        members.where(closed_way_is_polygon_col("tags")), wcoords
    )
    out = pts.unionByName(lines).unionByName(way_polys).unionByName(rel_polys)
    out._persisted_intermediates = persisted
    return out
