"""Physical-plan quality gates: the declarative pipeline must actually
get the Catalyst treatment — filter pushdown into the parquet scan,
column pruning, broadcast for small dims, and no Python in JVM-able
paths.  These are the '.explain and iterate' checks promoted to tests."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    from osm_export_tool_python_spark.plans.driver_queries import q_pricing_summary

    plan = _formatted(q_pricing_summary(spark, SF))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning(spark):
    from osm_export_tool_python_spark.plans.driver_queries import q_events_by_type

    plan = _formatted(q_events_by_type(spark, SF))
    # scan schema must carry only the two needed columns
    read = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "event_type" in read and "value" in read
    assert "props" not in read and "user_id" not in read


def test_small_dim_broadcast(spark):
    from osm_export_tool_python_spark.plans.driver_queries import q_revenue_by_nation

    assert "BroadcastHashJoin" in _plan(q_revenue_by_nation(spark, SF))


def test_decode_prunes_spans_for_tag_only_reads(spark, tmp_path):
    """A tags-only projection over the documents table must not drag
    the full spans payload through a Python stage — decode is pure
    Column, so the scan feeds codegen directly."""
    from osm_export_tool_python_spark.sources import decode, synth

    p = str(tmp_path / "docs")
    synth.synthesize(spark, 200, 50, 5).write.parquet(p)
    docs = spark.read.parquet(p)
    q = decode.with_entity_meta(docs).select("src", "tags")
    plan = _plan(q)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_theme_filter_stays_in_codegen(spark, tmp_path):
    from osm_export_tool_python_spark.functions.mapping import Mapping
    from osm_export_tool_python_spark.operators.themes import prefilter
    from osm_export_tool_python_spark.sources import decode, synth

    p = str(tmp_path / "docs")
    synth.synthesize(spark, 200, 50, 5).write.parquet(p)
    mapping = Mapping("b:\n  select: [building]\n  where: building = 'yes'\n")
    docs = decode.with_entity_meta(spark.read.parquet(p))
    q = prefilter(docs, mapping)
    plan = _plan(q)
    # higher-order span-decode lambdas are interpreted (not codegen-able)
    # but must still be pure JVM — no Python eval stage anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _subtrees(plan, node):
    """The tree-string lines under each `node` line of a plan string
    (the lines below it that are indented deeper)."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-*()0123456789"))

    out = []
    for i, line in enumerate(lines):
        if line.lstrip(" :+-*()0123456789").startswith(node):
            d, sub = depth(line), []
            for below in lines[i + 1 :]:
                if depth(below) <= d:
                    break
                sub.append(below)
            out.append(sub)
    return out


def test_minhash_dedup_stays_in_codegen(spark):
    """minhash_dedup builds its shingles as exploded rows: the executed
    plan holds no higher-order lambda (interpreted, never compiled), and
    the verify shingles only candidate docs — its shingle Generate sits
    above the LeftSemi join that prunes the corpus to them."""
    from osm_export_tool_python_spark.operators.dedup import minhash_dedup

    words = ["w%d" % i for i in range(700)]
    rows = [(i, " ".join(words[i * 10 : i * 10 + 30])) for i in range(60)]
    rows += [(100 + i, rows[i][1]) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_dedup(df, threshold=0.8)
    assert len(out.collect()) == 60
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    assert "lambdafunction" not in plan
    assert any(
        "LeftSemi" in "\n".join(sub) for sub in _subtrees(plan, "Generate")
    ), plan


def test_knn_join_is_fully_jvm_side(spark):
    """The cell self-join kNN (encode, neighbor ring, haversine, top-k)
    must contain NO Python evaluation — all Column bit math / codegen."""
    from osm_export_tool_python_spark.operators.knn import knn_join

    pts = spark.range(0, 200).select(
        F.col("id").alias("osm_id"),
        (((F.col("id") * 7) % 3600) / 10.0 - 180.0 + 0.05).alias("lon"),
        (((F.col("id") * 13) % 1600) / 10.0 - 80.0 + 0.05).alias("lat"),
    )
    plan = _plan(knn_join(pts, k=1, zoom=3))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decode_entities_no_rowwise_python(spark, tmp_path):
    """The one-pass entities decode: span filters/tags are pure Column;
    the WKB point decode is the ONE vectorized Arrow stage (see
    decode.wkb_point_decode).  No row-at-a-time Python anywhere."""
    from osm_export_tool_python_spark.sources import decode, synth

    p = str(tmp_path / "docs")
    synth.synthesize(spark, 200, 50, 5).write.parquet(p)
    q = decode.entities_table(decode.with_entity_meta(spark.read.parquet(p)))
    plan = _plan(q)
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") <= 1


def test_rect_aoi_classify_is_fully_jvm_side(spark, tmp_path):
    """For an axis-aligned rectangle AOI (the bbox-extract case) the
    clip classification is pure Column math: the only Python stage in
    the whole clip plan is the exact kernel over boundary candidates."""
    import numpy as np

    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.operators.clip import AOI, clip_features
    from osm_export_tool_python_spark.sources import decode, synth

    p = str(tmp_path / "docs")
    synth.synthesize(spark, 200, 50, 5).write.parquet(p)
    feats = assemble.assemble_features(
        decode.with_entity_meta(spark.read.parquet(p))
    )
    rect = AOI([np.array([[-15.0, -8.0], [38.0, -8.0], [38.0, 52.0], [-15.0, 52.0]])])
    assert rect.as_rect() == (-15.0, -8.0, 38.0, 52.0)
    kept_branch = clip_features(feats, rect)
    # the 'i'-class branch (kept rows) reaches the union without any
    # Python added by CLIP: the rectangle classify is Column-only — the
    # pandas classifier must be absent from the plan (the only Arrow
    # stages are the upstream WKB decode, duplicated per union branch
    # on this checkpoint-free lineage)
    plan = _plan(kept_branch)
    assert "BatchEvalPython" not in plan
    assert "classify(" not in plan  # rect AOI: no pandas classification
    # concave AOI still routes through the pandas classifier
    tri = AOI([np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0]])])
    assert tri.as_rect() is None


def test_ivf_probe_join_is_broadcast_and_pruned(spark):
    """The IVF top-k probe join must broadcast the (tiny) query side
    and join on list_id — never a cross join."""
    from osm_export_tool_python_spark.plans.driver_queries import q_embed_ivf_topk

    plan = _plan(q_embed_ivf_topk(spark, SF))
    assert "BroadcastHashJoin [list_id" in plan
    assert "CartesianProduct" not in plan


def test_hyperplane_sketch_is_fully_jvm_side(spark):
    """The Rademacher sign sketch (8 planes x 64 dims of literal +-1
    products) must compile to pure Column math — no Python workers in
    the sketch or the multi-probe bucket join."""
    from osm_export_tool_python_spark.plans.driver_queries import (
        q_embed_hyperplane_dups,
        q_embed_hyperplane_sketch,
    )

    for q in (q_embed_hyperplane_sketch, q_embed_hyperplane_dups):
        plan = _plan(q(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_relation_assembly_single_python_stage(spark):
    """Relation assembly keeps Python confined to the one
    applyInPandas ring-stitcher; the synthesis, decode, way⋈node join
    and the shoelace aggregate are all JVM-side (FlatMapGroupsInPandas
    appears exactly once per plan print — AQE prints the plan twice,
    so count distinct operator ids, not occurrences)."""
    from osm_export_tool_python_spark.plans.driver_queries import (
        q_osm_relation_assembly,
    )

    df = q_osm_relation_assembly(spark, SF)
    plan = _plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere
    # way⋈node and members⋈coords joins shuffle on their keys, never a
    # cross product
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_exact_tile_assignment_default_fused_shape(spark):
    """The DEFAULT exact assignment (r6) is the FUSED shape: ONE scan,
    no Union, exactly one Arrow Python stage whose inputs are NULLed
    for single-tile rows (Arrow payload stays proportional to the
    straddler subset), and no row-at-a-time Python.  The union shape
    scanned its input twice and its branch-divergent column pruning
    defeated ReuseExchange on the feeding repartition exchange
    (stage-level profile: exchange map side + dedup aggregate each run
    twice); fused computes them once — measured ~1.5x on the isolated
    bench-scale tile stage (OPTIMIZATION_r06.md)."""
    from osm_export_tool_python_spark.operators.assemble import FEATURE_SCHEMA
    from osm_export_tool_python_spark.operators.tiles import with_tile_cells_exact

    rows = [
        (1, "node", "point", {"a": "1"}, [13.4], [52.5], [0, 1], [0, 1]),
        (2, "way", "line", {"a": "1"}, [-20.3, 31.7], [10.1, 44.9], [0, 2], [0, 1]),
    ]
    df = spark.createDataFrame(rows, FEATURE_SCHEMA)
    out = with_tile_cells_exact(df, 4, 6)
    plan = _plan(out)
    assert "Union" not in plan  # one scan, no second branch
    assert "BatchEvalPython" not in plan  # Arrow-vectorized only
    assert plan.count("ArrowEvalPython") == 1


def test_mapping_pruned_assembly_plan_shape(spark, tmp_path):
    """Mapping-aware assembly pruning must actually reach the plan:
    the way branch carries a LeftSemi join (member-way recovery) and
    tag filters BELOW the way⋈node sort-merge/shuffle join — i.e. the
    pruning happens scan-side, before the expensive coordinate join —
    and introduces no cartesian product."""
    from osm_export_tool_python_spark.functions.mapping import Mapping
    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.sources import decode, synth

    mapping = Mapping(
        "buildings:\n  types: [polygons]\n  select: [building]\n"
        "  where: building = 'yes'\n"
        "roads:\n  types: [lines]\n  select: [highway]\n"
        "  where: highway IS NOT NULL\n"
    )
    p = str(tmp_path / "docs")
    synth.synthesize(spark, 200, 50, 5).write.parquet(p)
    meta = decode.with_entity_meta(spark.read.parquet(p))
    pruned = assemble.assemble_features(meta, mapping=mapping)
    plan = _plan(pruned)
    assert "LeftSemi" in plan, "member-way recovery semi-join missing"
    assert "Cartesian" not in plan
    # the full path has no semi-join: the knob is what adds it
    full_plan = _plan(assemble.assemble_features(meta))
    assert "LeftSemi" not in full_plan
