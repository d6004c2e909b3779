"""Sargable hot-key pushdown (SURVEY §4 scan-side win): synth-time
``hk_<key>`` columns + functions/sargable's necessary condition must
(a) never drop a row any theme could match (differential vs the full
matcher over the real tags map), (b) reach the parquet scan as
PushedFilters, and (c) actually prune row groups — measured as the
byte fraction of row groups whose footer stats admit the predicate on
a hot-key-clustered table."""

import glob
import os

from pyspark.sql import functions as F

from osm_export_tool_python_spark.functions.compile import compile_matcher
from osm_export_tool_python_spark.functions.mapping import Mapping
from osm_export_tool_python_spark.functions.sargable import (
    hot_column,
    theme_candidate_condition,
)
from osm_export_tool_python_spark.sources import decode, synth
from osm_export_tool_python_spark.sources.tables import (
    read_theme_candidates,
    write_hotkey_clustered,
)

HOT_KEYS = ("building", "amenity", "height")

YAML_TRAPS = """
buildings:
  types: [polygons, points, lines]
  select: [building]
  where: building IN ('yes', 'house') AND height >= 25
pois:
  types: [points]
  select: [amenity, name]
  where: amenity = 'hospital' OR (amenity != 'bank' AND natural IS NOT NULL)
"""


def _docs(spark, hot_keys=HOT_KEYS):
    return synth.synthesize(
        spark, n_nodes=3000, n_ways=600, n_rels=40, hot_keys=hot_keys
    )


def test_necessary_condition_never_drops_a_matchable_doc(spark):
    """Differential over the real synth tag distribution: rows where
    ANY theme's full matcher (on the decoded tags map) is true must
    all satisfy the hk-column condition — including the !=-absent-true
    trap, the lexicographic height range, and the non-materialized
    `natural` key (which must relax to TRUE, not filter)."""
    mapping = Mapping(YAML_TRAPS)
    meta = decode.with_entity_meta(_docs(spark))
    cond = theme_candidate_condition(mapping, meta.columns)
    assert cond is not None
    full = None
    for t in mapping.themes:
        m = compile_matcher(t.matcher)
        full = m if full is None else (full | m)
    dropped_but_matchable = meta.where(
        full & ~F.coalesce(cond, F.lit(False))
    ).count()
    assert dropped_but_matchable == 0
    # and the condition is genuinely selective (not trivially TRUE)
    total = meta.count()
    kept = meta.where(cond).count()
    assert 0 < kept < total


def test_condition_none_when_no_hot_key_referenced(spark):
    mapping = Mapping(
        "water:\n  types: [polygons]\n  select: [natural]\n"
        "  where: natural = 'water'\n"
    )
    meta = decode.with_entity_meta(_docs(spark))
    assert theme_candidate_condition(mapping, meta.columns) is None
    # read_theme_candidates then returns the untouched scan
    path = "/tmp/spark_osm_sargable_nohot"
    _docs(spark).write.mode("overwrite").parquet(path)
    df = read_theme_candidates(spark, path, mapping)
    assert df.count() == spark.read.parquet(path).count()


def test_pushed_filters_reach_the_scan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sargable") / "docs")
    _docs(spark).write.mode("overwrite").parquet(path)
    mapping = Mapping(
        "pois:\n  types: [points]\n  select: [amenity]\n"
        "  where: amenity = 'hospital'\n"
    )
    df = read_theme_candidates(spark, path, mapping)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "hk_amenity" in pushed and "EqualTo" in pushed


def _rowgroup_admission(path, col_name, value):
    """(admitted_bytes, total_bytes) over every row group: a reader
    honoring footer min/max must touch only row groups whose stats
    admit `value` for `col_name`."""
    import pyarrow.parquet as pq

    admitted = total = 0
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col_name]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            sz = rg.total_byte_size
            total += sz
            st = rg.column(idx).statistics
            if st is not None and st.null_count == rg.num_rows:
                continue  # all-null group: provably excluded for `=`
            if st is None or not st.has_min_max:
                admitted += sz  # no stats → must read
            elif st.min <= value <= st.max:
                admitted += sz
    return admitted, total


def test_clustered_write_prunes_rowgroup_bytes(spark, tmp_path_factory):
    """The measured scan-bytes drop: hot-key-clustered layout admits a
    small fraction of row-group bytes for a selective hot predicate,
    and the pruned read returns exactly the rows the unclustered scan
    filter does."""
    base = tmp_path_factory.mktemp("sargable_cluster")
    plain, clustered = str(base / "plain"), str(base / "clustered")
    docs = _docs(spark)
    docs.write.mode("overwrite").parquet(plain)
    # most-filtered key FIRST: ranges are carved on it (sort order)
    write_hotkey_clustered(docs, clustered, ("amenity", "building", "height"))

    adm_c, tot_c = _rowgroup_admission(clustered, hot_column("amenity"), "hospital")
    adm_p, tot_p = _rowgroup_admission(plain, hot_column("amenity"), "hospital")
    # unclustered: every row group admits (random value mix)
    assert adm_p == tot_p
    # clustered: most bytes are provably skippable
    assert adm_c < 0.5 * tot_c, (adm_c, tot_c)

    mapping = Mapping(
        "pois:\n  types: [points]\n  select: [amenity]\n"
        "  where: amenity = 'hospital'\n"
    )
    got = sorted(
        r["doc_id"]
        for r in read_theme_candidates(spark, clustered, mapping).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in spark.read.parquet(plain)
        .where(F.col(hot_column("amenity")) == "hospital")
        .collect()
    )
    assert got == want


def test_point_export_equality_over_candidates(spark, tmp_path_factory):
    """For a point-only mapping the candidate scan is sound end to end:
    themed point features from the pruned read equal the full scan's."""
    path = str(tmp_path_factory.mktemp("sargable_pts") / "docs")
    docs = _docs(spark)
    write_hotkey_clustered(docs, path, ("amenity", "building", "height"))
    mapping = Mapping(
        "pois:\n  types: [points]\n  select: [amenity, name]\n"
        "  where: amenity IN ('hospital', 'school')\n"
    )

    from osm_export_tool_python_spark.operators.assemble import point_features
    from osm_export_tool_python_spark.operators.themes import theme_fanout

    def themed_points(frame):
        ent = decode.entities_table(decode.with_entity_meta(frame))
        out = theme_fanout(point_features(decode.nodes_from_entities(ent)), mapping)
        return sorted(
            (r["osm_id"], r["theme"], r["tags"]["amenity"]) for r in out.collect()
        )

    assert themed_points(
        read_theme_candidates(spark, path, mapping)
    ) == themed_points(spark.read.parquet(path))


def test_hot_column_launder_is_injective():
    """Distinct keys must never share a column: 'addr:street' routed
    through a column holding tags['addr_street'] would filter on the
    wrong tag and silently drop matchable documents."""
    keys = ["addr:street", "addr_street", "addr__street", "addr::street",
            "a_x3a", "a:", "amenity", "height", "name:en", "name_en"]
    cols = [hot_column(k) for k in keys]
    assert len(set(cols)) == len(keys), cols
    # plain alphanumeric keys are unchanged (the common case)
    assert hot_column("amenity") == "hk_amenity"
    assert hot_column("building") == "hk_building"


def test_colliding_key_relaxes_to_true_not_wrong_column(spark):
    """A table that materialized 'addr_street' must NOT serve a
    predicate on 'addr:street': the condition has to relax to TRUE
    (keep everything) instead of filtering on the wrong tag."""
    from osm_export_tool_python_spark.functions.sargable import (
        necessary_condition,
    )

    available = [hot_column("addr_street"), "doc_id", "spans"]
    expr = ("=", "addr:street", "Main")  # key NOT materialized
    cond = necessary_condition(expr, available)
    df = spark.createDataFrame(
        [("d1", "Other"), ("d2", None)],
        "doc_id string, %s string" % hot_column("addr_street"),
    )
    # TRUE for every row — nothing filtered through the wrong column
    assert df.where(cond).count() == 2
