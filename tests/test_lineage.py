"""Lineage-truncation helpers (lineage.py) + the checkpoint= variants
of assemble/export: the checkpointed pipeline must produce
byte-identical results to the persisted one, and `release` must free
the checkpointed RDD storage (a plain DataFrame.unpersist() no-ops on
a localCheckpoint, which would leak its partitions session-long)."""

import pytest

from osm_export_tool_python_spark import lineage


def _n_cached_rdds(spark):
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_eager_checkpoint_roundtrip_and_release(spark):
    df = spark.range(1000).selectExpr("id", "id * 2 AS b")
    before = _n_cached_rdds(spark)
    lc = lineage.eager_local_checkpoint(df)
    assert _n_cached_rdds(spark) == before + 1
    assert lc.count() == 1000
    assert [r["b"] for r in lc.orderBy("id").limit(3).collect()] == [0, 2, 4]
    # plan is flat: no Range node remains after truncation
    assert "Range" not in lc._jdf.queryExecution().analyzed().toString()
    lineage.release(lc)
    assert _n_cached_rdds(spark) == before


def test_release_tolerates_plain_and_none(spark):
    df = spark.range(10).persist()
    df.count()
    lineage.release(None, df, spark.range(5))  # none of these may raise
    assert df.storageLevel.useMemory is False


def test_assemble_checkpoint_matches_persist(spark):
    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.sources import decode, synth

    docs = decode.with_entity_meta(
        synth.synthesize(spark, n_nodes=400, n_ways=120, n_rels=12)
    )
    persisted = assemble.assemble_features(docs, persist_intermediate=True)
    ckpt = assemble.assemble_features(docs, checkpoint=True)
    cols = ["src", "osm_id", "geom_type", "xs", "ys"]
    a = sorted(map(repr, persisted.select(*cols).collect()))
    b = sorted(map(repr, ckpt.select(*cols).collect()))
    assert a == b
    before = _n_cached_rdds(spark)
    lineage.release(
        *persisted._persisted_intermediates, *ckpt._persisted_intermediates
    )
    assert _n_cached_rdds(spark) <= before - len(ckpt._persisted_intermediates)


def test_export_checkpoint_same_manifest_metrics(spark, tmp_path):
    from osm_export_tool_python_spark.functions.mapping import Mapping
    from osm_export_tool_python_spark.plans.export import export
    from osm_export_tool_python_spark.sources import synth

    mapping = Mapping(
        "all_points:\n  types: [points]\n  select: [name]\n"
        "roads:\n  types: [lines]\n  select: [highway]\n"
        "  where: highway IS NOT NULL\n"
    )
    docs = synth.synthesize(spark, n_nodes=300, n_ways=80, n_rels=8)
    m1 = export(spark, docs, mapping, str(tmp_path / "persist"), formats=("gpkg",))
    m2 = export(
        spark,
        docs,
        mapping,
        str(tmp_path / "ckpt"),
        formats=("gpkg",),
        checkpoint=True,
    )
    k1 = {k: v for k, v in m1["metrics"].items() if not k.startswith("file")}
    k2 = {k: v for k, v in m2["metrics"].items() if not k.startswith("file")}
    assert k1 == k2
    assert k1["themed_features"] > 0


def test_parquet_checkpoint_roundtrip_flat_plan_and_release(spark):
    import os

    df = spark.range(1000).selectExpr("id", "id * 2 AS b")
    pq = lineage.eager_parquet_checkpoint(df)
    path = pq._osm_pq_ckpt_path
    assert os.path.isdir(path)
    assert pq.count() == 1000
    assert [r["b"] for r in pq.orderBy("id").limit(3).collect()] == [0, 2, 4]
    analyzed = pq._jdf.queryExecution().analyzed().toString()
    # plan is a flat parquet relation: the Range source is gone
    assert "Range" not in analyzed and "parquet" in analyzed.lower()
    lineage.release(pq)
    assert not os.path.isdir(path)


def test_parquet_checkpoint_caller_path_not_deleted(spark, tmp_path):
    import os

    path = str(tmp_path / "ckpt")
    df = spark.range(50)
    pq = lineage.eager_parquet_checkpoint(df, path=path)
    assert getattr(pq, "_osm_pq_ckpt_path", None) is None
    lineage.release(pq)
    assert os.path.isdir(path)  # caller-supplied path is caller-owned


def test_eager_checkpoint_dispatch(spark):
    df = spark.range(10)
    lc = lineage.eager_checkpoint(df, True)
    assert "Range" not in lc._jdf.queryExecution().analyzed().toString()
    pq = lineage.eager_checkpoint(df, "parquet")
    assert "parquet" in pq._jdf.queryExecution().analyzed().toString().lower()
    lineage.release(lc, pq)
    with pytest.raises(ValueError):
        lineage.eager_checkpoint(df, "zip")


def test_assemble_parquet_checkpoint_matches_persist(spark):
    from osm_export_tool_python_spark.operators import assemble
    from osm_export_tool_python_spark.sources import decode, synth

    docs = decode.with_entity_meta(
        synth.synthesize(spark, n_nodes=400, n_ways=120, n_rels=12)
    )
    persisted = assemble.assemble_features(docs, persist_intermediate=True)
    ckpt = assemble.assemble_features(docs, checkpoint="parquet")
    cols = ["src", "osm_id", "geom_type", "xs", "ys"]
    a = sorted(map(repr, persisted.select(*cols).collect()))
    b = sorted(map(repr, ckpt.select(*cols).collect()))
    assert a == b and len(a) > 0
    import os

    paths = [
        getattr(f, "_osm_pq_ckpt_path", None)
        for f in ckpt._persisted_intermediates
    ]
    assert any(paths)  # at least one parquet-checkpointed intermediate
    lineage.release(
        *persisted._persisted_intermediates, *ckpt._persisted_intermediates
    )
    assert not any(p and os.path.isdir(p) for p in paths)


def test_export_parquet_checkpoint_same_manifest_metrics(spark, tmp_path):
    from osm_export_tool_python_spark.functions.mapping import Mapping
    from osm_export_tool_python_spark.plans.export import export
    from osm_export_tool_python_spark.sources import synth

    mapping = Mapping(
        "all_points:\n  types: [points]\n  select: [name]\n"
        "roads:\n  types: [lines]\n  select: [highway]\n"
        "  where: highway IS NOT NULL\n"
    )
    docs = synth.synthesize(spark, n_nodes=300, n_ways=80, n_rels=8)
    m1 = export(spark, docs, mapping, str(tmp_path / "persist"), formats=("gpkg",))
    m2 = export(
        spark,
        docs,
        mapping,
        str(tmp_path / "pq"),
        formats=("gpkg",),
        checkpoint="parquet",
    )
    k1 = {k: v for k, v in m1["metrics"].items() if not k.startswith("file")}
    k2 = {k: v for k, v in m2["metrics"].items() if not k.startswith("file")}
    assert k1 == k2
    assert k1["themed_features"] > 0


def test_resolve_auto_picks_store_by_size(spark, tmp_path):
    # a real parquet scan carries Catalyst statistics: a tiny file
    # resolves to the low-latency row store, and shrinking the
    # threshold to zero flips the SAME frame to parquet
    p = str(tmp_path / "tiny")
    spark.range(100).selectExpr("id", "id * 2 AS b").write.parquet(p)
    scan = spark.read.parquet(p)
    assert lineage.resolve_auto(scan, "auto") == "local"
    assert lineage.resolve_auto(scan, "auto", threshold=0) == "parquet"
    # non-auto modes pass through untouched (including False)
    for mode in (False, True, "local", "parquet"):
        assert lineage.resolve_auto(scan, mode) is mode


def test_resolve_auto_unknown_stats_prefers_parquet(spark, monkeypatch):
    # when Catalyst has no real statistics (estimate unavailable or at
    # the defaultSizeInBytes floor), 'auto' must take the safe-at-scale
    # store rather than guessing small
    df = spark.range(10)
    monkeypatch.setattr(lineage, "_plan_size_bytes", lambda _df: None)
    assert lineage.resolve_auto(df, "auto") == "parquet"
    monkeypatch.setattr(
        lineage, "_plan_size_bytes", lambda _df: lineage._UNKNOWN_SIZE_FLOOR
    )
    assert lineage.resolve_auto(df, "auto") == "parquet"


def test_eager_checkpoint_auto_dispatch(spark, tmp_path):
    p = str(tmp_path / "tiny")
    spark.range(50).write.parquet(p)
    scan = spark.read.parquet(p)
    out = lineage.eager_checkpoint(scan, "auto")
    # tiny scan -> row store: flat LogicalRDD plan, no parquet relation
    plan = out._jdf.queryExecution().analyzed().toString().lower()
    assert "parquet" not in plan
    assert out.count() == 50
    lineage.release(out)
