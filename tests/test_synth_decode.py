"""Synthesizer determinism + span decode correctness + the per-row
span-sequence equality invariant (input_hint contract)."""

import numpy as np
from pyspark.sql import functions as F

from osm_export_tool_python_spark.sources import decode, synth


def _docs(spark, **kw):
    return synth.synthesize(spark, n_nodes=400, n_ways=120, n_rels=12, **kw)


def test_partition_count_invariance(spark):
    a = _docs(spark, partitions=2).orderBy("doc_id").collect()
    b = _docs(spark, partitions=7).orderBy("doc_id").collect()
    assert len(a) == len(b) == 532
    for ra, rb in zip(a, b):
        assert ra == rb


def test_tags_decode_matches_generator(spark):
    docs = decode.with_entity_meta(_docs(spark))
    rows = docs.where(F.col("src") == "node").select("orig_id", "tags").collect()
    oracle_tags = {
        i: dict(t)
        for i, t in zip(range(400), synth.entity_tags(np.arange(400), salt_base=100))
    }
    assert len(rows) == 400
    for r in rows:
        assert dict(r["tags"]) == oracle_tags[r["orig_id"]], r["orig_id"]


def _entities(spark):
    return decode.entities_table(decode.with_entity_meta(_docs(spark)))


def test_node_coords_decode(spark):
    nodes = decode.nodes_from_entities(_entities(spark)).orderBy("node_id").collect()
    lon, lat = synth.node_lonlat(np.arange(400))
    for r in nodes:
        assert abs(r["lon"] - lon[r["node_id"]]) < 1e-12
        assert abs(r["lat"] - lat[r["node_id"]]) < 1e-12


def test_span_sequence_equality_invariant(spark):
    """decode → re-encode must reproduce (kind, text, media_ref, order)
    for every row."""
    docs = decode.with_entity_meta(_docs(spark))
    cmp = decode.reencode_spans(docs)
    bad = cmp.where(F.col("original") != F.col("rebuilt"))
    assert bad.count() == 0, bad.limit(3).collect()


def test_way_refs_and_closedness(spark):
    ent = _entities(spark)
    ways = decode.ways_from_entities(ent)
    refs = decode.way_refs_from_entities(ent)
    assert ways.count() == 120
    # seq is dense from 0 per way
    agg = refs.groupBy("way_id").agg(
        F.min("seq").alias("mn"), F.max("seq").alias("mx"), F.count("*").alias("n")
    )
    assert agg.where((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)).count() == 0
    # closed ways: first ref == last ref
    closed_ids = {r["way_id"] for r in ways.where("is_closed").collect()}
    by_way = {}
    for r in refs.collect():
        by_way.setdefault(r["way_id"], {})[r["seq"]] = r["node_id"]
    for wid, m in by_way.items():
        seq = [m[i] for i in range(len(m))]
        # osmium semantics: closed iff first==last, length-independent
        assert (seq[0] == seq[-1]) == (wid in closed_ids)


def test_members_decode(spark):
    members = decode.rel_members_from_entities(_entities(spark))
    assert members.where(~F.col("role").isin("outer", "inner")).count() == 0
    # every relation has exactly one outer (per generator)
    outer_counts = (
        members.where(F.col("role") == "outer").groupBy("rel_id").count().collect()
    )
    assert all(r["count"] == 1 for r in outer_counts)
    assert len(outer_counts) == 12


def test_wkb_decoder_bit_identical(spark):
    """The vectorized WKB point decoder returns BIT-identical doubles to
    the ones packed into the hex, including edge values (zeros,
    signed, subnormal-exponent boundaries, extreme coords, ±Inf)."""
    import struct

    vals = [
        0.0,
        -0.0,
        1.0,
        -1.0,
        179.95,
        -179.95,
        89.999999,
        -89.999999,
        1e-300,
        -1e-300,
        5e-324,  # smallest subnormal
        2.2250738585072014e-308,  # smallest normal
        123.45678901234567,
        -0.1,
    ]

    def wkb_hex(lon, lat):
        return (b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", lon, lat)).hex()

    vals += [float("inf"), float("-inf")]  # exp==0x7FF specials
    pairs = [(v, vals[-1 - i]) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        [(i, wkb_hex(lon, lat)) for i, (lon, lat) in enumerate(pairs)],
        "i int, h string",
    )
    got = df.select("i", decode.wkb_point_decode(F.col("h")).alias("a")).collect()
    assert len(got) == len(pairs)
    for r in got:
        lon, lat = pairs[r["i"]]
        assert struct.pack("<d", r["a"]["lon"]) == struct.pack("<d", lon)
        assert struct.pack("<d", r["a"]["lat"]) == struct.pack("<d", lat)

    # NaN payloads: pandas uses NaN as its Arrow null sentinel, so a
    # NaN coordinate decodes to NULL (documented conflation)
    nan_df = spark.createDataFrame([(wkb_hex(float("nan"), 1.5),)], "h string")
    r = nan_df.select(decode.wkb_point_decode(F.col("h")).alias("a")).collect()[0]
    assert r["a"]["lon"] is None
    assert r["a"]["lat"] == 1.5


def test_wkb_decoder_on_synth(spark):
    """Every synthesized node decodes to exactly the coordinates the
    generator placed it at (`synth.node_lonlat`)."""
    docs = decode.with_entity_meta(_docs(spark))
    media = F.try_element_at(
        F.filter(F.col("spans"), lambda s: s.kind == F.lit("media")), F.lit(1)
    )
    rows = docs.where(F.col("src") == "node").select(
        "orig_id", decode.wkb_point_decode(media.media_ref).alias("a")
    ).collect()
    ids = np.array([r["orig_id"] for r in rows], dtype=np.uint64)
    lon, lat = synth.node_lonlat(ids)
    assert len(rows) == 400
    assert np.array_equal(np.array([r["a"]["lon"] for r in rows]), lon)
    assert np.array_equal(np.array([r["a"]["lat"] for r in rows]), lat)


def test_compact_mode_small_ways_full_coverage(spark):
    """compact=True must yield realistically SMALL ways (metres-to-km,
    not the default mode's region-spanning zigzags) while still
    covering the whole synth region at any scale factor (the
    block-cyclic Z-curve mapping; a naive curve_index=id packs all ids
    into one corner and corpus geography becomes a function of N)."""
    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.sources.synth import LAT_RANGE, LON_RANGE

    docs = synth.synthesize(spark, n_nodes=20000, n_ways=5000, n_rels=100,
                            compact=True)
    feats = assemble.assemble_features(decode.with_entity_meta(docs))
    spans = feats.where(F.col("geom_type") != "point").select(
        (F.array_max("xs") - F.array_min("xs")).alias("dx"),
        (F.array_max("ys") - F.array_min("ys")).alias("dy"),
    )
    q = spans.agg(
        F.expr("percentile(greatest(dx, dy), 0.95)").alias("p95"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert q["n"] > 1000
    # 95% of ways under ~0.1 degree (vs tens of degrees in default mode;
    # the tail is block-boundary crossings and relation multipolygons)
    assert q["p95"] < 0.1, q["p95"]
    # coverage: block slots are hash-scattered over the whole region
    # regardless of N (numpy-direct — at 500k ids there are ~122
    # blocks, enough for the span to concentrate near the full region)
    lon, lat = synth.node_lonlat(np.arange(500_000, dtype=np.uint64),
                                 compact=True)
    assert lon.max() - lon.min() > 0.8 * (LON_RANGE[1] - LON_RANGE[0])
    assert lat.max() - lat.min() > 0.8 * (LAT_RANGE[1] - LAT_RANGE[0])


def test_compact_mode_strip_routing_dominates_straddlers(spark):
    """On the compact corpus the 1xN/Nx1 strip class must dominate the
    straddler population (edge-straddling is ~linear in feature size,
    corner-straddling ~quadratic), and single-tile rows must outnumber
    all straddlers — the regression guard for the corpus having
    realistic feature scales at z12.  Strips and corner-straddlers both
    take the kernel route, so the two classes sum to its row count."""
    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.operators.tiles import (
        routing_class_counts,
        tile_x_col,
        tile_y_col,
    )

    docs = synth.synthesize(spark, n_nodes=20000, n_ways=5000, n_rels=100,
                            compact=True)
    feats = assemble.assemble_features(decode.with_entity_meta(docs))
    rc = routing_class_counts(feats, 12)

    z = F.lit(12)
    nx = tile_x_col(F.array_max("xs"), z) - tile_x_col(F.array_min("xs"), z)
    ny = tile_y_col(F.array_min("ys"), z) - tile_y_col(F.array_max("ys"), z)
    straddlers = feats.where(
        (F.col("geom_type").isNull() | (F.col("geom_type") != "point"))
        & ((nx != 0) | (ny != 0))
    )
    row = straddlers.select(
        F.sum(F.when((nx == 0) | (ny == 0), 1).otherwise(0)).alias("strip"),
        F.sum(F.when((nx != 0) & (ny != 0), 1).otherwise(0)).alias("corner"),
    ).collect()[0]
    strip, corner = int(row["strip"] or 0), int(row["corner"] or 0)
    assert strip + corner == rc["kernel"], (strip, corner, rc)
    assert strip > 0
    assert strip > corner, (strip, corner)
    assert rc["single"] > rc["kernel"], rc
