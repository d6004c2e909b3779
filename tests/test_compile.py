"""Differential test: compiled Catalyst predicate vs the pure-Python
Matcher oracle, over a seeded fuzz corpus of expressions × tag rows.
This pins the two contractual traps (!=-absent-true, lexicographic
ranges) at the Spark layer."""

import random

from pyspark.sql.types import (
    MapType, StringType, StructField, StructType,
)

from osm_export_tool_python_spark.functions.compile import (
    any_theme_predicate,
    closed_way_is_polygon_col,
    compile_matcher,
    select_keys_projection,
    theme_match_array,
)
from osm_export_tool_python_spark.functions.dsl import Matcher
from osm_export_tool_python_spark.functions.mapping import Mapping

KEYS = ["building", "amenity", "height", "addr:housenumber", "natural"]
VALS = ["yes", "no", "1", "20", "9", "bank", "water", "some value"]


def gen_expr(rng, depth=0):
    if depth < 3 and rng.random() < 0.35:
        op = rng.choice(["and", "or"])
        return "(%s) %s (%s)" % (gen_expr(rng, depth + 1), op, gen_expr(rng, depth + 1))
    k = rng.choice(KEYS)
    kq = '"%s"' % k if ":" in k else k
    kind = rng.choice(["=", "!=", "<", ">", "<=", ">=", "notnull", "in"])
    if kind == "notnull":
        return "%s IS NOT NULL" % kq
    if kind == "in":
        return "%s IN (%s)" % (kq, ",".join("'%s'" % v for v in rng.sample(VALS, 2)))
    return "%s %s '%s'" % (kq, kind, rng.choice(VALS))


def gen_tags(rng):
    return {k: rng.choice(VALS) for k in KEYS if rng.random() < 0.45}


def test_compiled_predicates_match_oracle(spark):
    rng = random.Random(42)
    rows = [(i, gen_tags(rng)) for i in range(200)]
    schema = StructType(
        [
            StructField("row_id", StringType()),
            StructField("tags", MapType(StringType(), StringType())),
        ]
    )
    df = spark.createDataFrame([(str(i), t) for i, t in rows], schema).cache()

    matchers = [Matcher.from_sql(gen_expr(rng)) for _ in range(60)]
    matchers += [Matcher.null(), Matcher.any("building")]

    cols = [
        compile_matcher(m).alias("m%d" % i) for i, m in enumerate(matchers)
    ]
    got = {r["row_id"]: r for r in df.select("row_id", *cols).collect()}
    for i, m in enumerate(matchers):
        for rid, tags in rows:
            expected = m.matches(tags)
            actual = got[str(rid)]["m%d" % i]
            assert actual == expected, (m.to_sql(), tags, actual, expected)
    df.unpersist()


def test_theme_predicate_and_fanout(spark):
    y = """
    buildings:
      types:
        - polygons
      select:
        - name
        - building
      where: building = 'yes'
    roads:
      types:
        - lines
      select:
        - highway
    """
    m = Mapping(y)
    df = spark.createDataFrame(
        [
            ("a", "polygon", {"building": "yes"}),
            ("b", "point", {"building": "yes"}),
            ("c", "line", {"highway": "primary"}),
            ("d", "polygon", {"building": "no"}),
        ],
        "id string, geom_type string, tags map<string,string>",
    )
    out = df.select(
        "id",
        theme_match_array(m.themes).alias("match"),
        any_theme_predicate(m.themes).alias("any"),
    ).collect()
    got = {r["id"]: (r["match"], r["any"]) for r in out}
    assert got["a"] == ([True, False], True)
    assert got["b"] == ([False, False], False)
    assert got["c"] == ([False, True], True)
    assert got["d"] == ([False, False], False)

    # oracle: Theme.matches on the same rows
    rows = {
        "a": ("polygon", {"building": "yes"}),
        "b": ("point", {"building": "yes"}),
        "c": ("line", {"highway": "primary"}),
        "d": ("polygon", {"building": "no"}),
    }
    for rid, (g, tags) in rows.items():
        for ti, th in enumerate(m.themes):
            assert th.matches(g, tags) == got[rid][0][ti]


def test_select_keys_projection(spark):
    y = """
    buildings:
      select:
        - name
        - addr:housenumber
    """
    th = Mapping(y).themes[0]
    df = spark.createDataFrame(
        [({"name": "x", "addr:housenumber": "5", "other": "z"},), ({"name": "y"},)],
        "tags map<string,string>",
    )
    rows = df.select(*select_keys_projection(th)).collect()
    assert rows[0]["name"] == "x" and rows[0]["addr:housenumber"] == "5"
    assert rows[1]["name"] == "y" and rows[1]["addr:housenumber"] is None
    # no leakage of unselected keys
    assert set(df.select(*select_keys_projection(th)).columns) == {"name", "addr:housenumber"}


def test_closed_way_polygon_routing(spark):
    df = spark.createDataFrame(
        [
            ("a", {"building": "yes"}),
            ("b", {"highway": "primary"}),
            ("c", {"highway": "platform"}),
            ("d", {"public_transport": "platform"}),
            ("e", {"name": "just a name"}),
            ("f", {}),
        ],
        "id string, tags map<string,string>",
    )
    got = {
        r["id"]: r["p"]
        for r in df.select("id", closed_way_is_polygon_col().alias("p")).collect()
    }
    assert got == {"a": True, "b": False, "c": True, "d": True, "e": False, "f": False}


def test_compiled_plan_is_jvm_side(spark):
    """The compiled predicate must contain no Python UDF (BatchEvalPython)
    — it has to stay inside whole-stage codegen."""
    m = Matcher.from_sql("building = 'yes' or height > 20")
    df = spark.createDataFrame([({"building": "yes"},)], "tags map<string,string>")
    plan = df.filter(compile_matcher(m))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
