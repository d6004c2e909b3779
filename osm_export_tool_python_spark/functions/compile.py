"""Matcher AST → native Catalyst Column compiler.

This replaces the reference's row-at-a-time ``_match`` interpreter
(reference osm_export_tool/sql.py:74-98) with declarative Spark
expressions so tag filtering stays JVM-side inside whole-stage codegen
and Catalyst can push the coarse parts into the scan.  The truth table
is the contract (see functions/dsl.py docstring); two traps matter:

  - ``!=`` must be TRUE on an absent key (sql.py:89).  A naive Spark
    ``!=`` yields NULL on the absent-key lookup, which a filter would
    drop — so it compiles to ``isNull() | (col != v)``.
  - range operators compare *lexicographically on strings* (sql.py:91-97).
    Spark string comparison is already lexicographic (binary collation),
    so the compiled form must NOT cast to numeric.

Null discipline: every compiled leaf is either a real boolean or NULL
only on rows where the reference semantics say False; AND/OR in
Kleene-3VL then only produce NULL where the reference says False, so a
final ``coalesce(pred, false)`` makes the compiled predicate exactly
two-valued.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column
from pyspark.sql import functions as F


_RANGE_OPS = {">", "<", ">=", "<="}


def _tags_col(tags):
    return F.col(tags) if isinstance(tags, str) else tags


def compile_expr(expr, tags="tags") -> Column:
    """Compile a prefix AST to a (possibly three-valued) Column."""
    t = _tags_col(tags)

    def rec(e):
        if not e:  # Matcher.null(): match nothing (sql.py:75-76)
            return F.lit(False)
        op = e[0]
        if op == "and":
            return rec(e[1]) & rec(e[2])
        if op == "or":
            return rec(e[1]) | rec(e[2])
        v = F.try_element_at(t, F.lit(e[1]))
        if op == "notnull":
            return v.isNotNull()
        if op == "=":
            return v == F.lit(e[2])
        if op == "!=":
            return v.isNull() | (v != F.lit(e[2]))
        if op == "in":
            return v.isin(*[str(x) for x in e[2]])
        if op in _RANGE_OPS:
            w = F.lit(str(e[2]))
            return {">": v > w, "<": v < w, ">=": v >= w, "<=": v <= w}[op]
        raise ValueError("unknown operator %r" % (op,))

    return rec(expr)


def compile_matcher(matcher, tags="tags") -> Column:
    """Two-valued boolean Column for a Matcher."""
    return F.coalesce(compile_expr(matcher.expr, tags), F.lit(False))


def compile_theme(theme, tags="tags", geom_type="geom_type") -> Column:
    """Full theme predicate: geometry-type gate AND matcher
    (reference mapping.py:74-82)."""
    g = F.col(geom_type) if isinstance(geom_type, str) else geom_type
    enabled = theme.geom_type_names()
    if len(enabled) == 3:
        gate = F.lit(True)
    elif not enabled:
        gate = F.lit(False)
    else:
        gate = g.isin(enabled)
    return gate & compile_matcher(theme.matcher, tags)


def theme_match_array(themes, tags="tags", geom_type="geom_type") -> Column:
    """One-pass theme fan-out: array<boolean>, one slot per theme, in
    mapping order.  Used with posexplode to route each feature to every
    matching theme while building its geometry only once (the Spark
    equivalent of the reference's single-geometry-build guarantee,
    tabular.py:269-275)."""
    return F.array(*[compile_theme(th, tags, geom_type) for th in themes])


def any_theme_predicate(themes, tags="tags", geom_type="geom_type") -> Column:
    """Coarse scan filter: does ANY theme match?  This is the engine's
    analogue of the reference's source-level pushdown (sources.py
    filter compilation) — applied early so Catalyst prunes before the
    expensive assembly joins."""
    if not themes:
        return F.lit(False)
    return reduce(or_, [compile_theme(th, tags, geom_type) for th in themes])


def any_theme_tag_predicate(themes, kinds, tags="tags") -> Column:
    """NECESSARY-condition predicate for assembly-time pruning: TRUE
    for every entity whose tags could match ANY theme that enables one
    of the geometry `kinds` ("point"/"line"/"polygon") this entity
    class can produce.

    `compile_theme` is `geom-type gate AND matcher`, so matcher truth
    on the entity's tags is a necessary condition for the feature to
    survive `prefilter` — and the gate relaxes to "theme enables one
    of `kinds`" because the entity's eventual geom_type is not known
    before assembly (a way becomes a line OR a polygon).  Filtering
    ways/nodes/relations with this BEFORE the way⋈node coordinate
    join therefore keeps a strict superset of what prefilter keeps
    (absent-true ``!=`` matchers may retain extra entities; they fall
    out downstream), while the join and its materialized intermediates
    shrink to the mapping's working set — the difference between
    assembling every way on 100 TB and assembling only the themed
    fraction."""
    kinds = set(kinds)
    preds = [
        compile_matcher(th.matcher, tags)
        for th in themes
        if set(th.geom_type_names()) & kinds
    ]
    if not preds:
        return F.lit(False)
    return reduce(or_, preds)


def select_keys_projection(theme, tags="tags", taken=()):
    """Per-theme output columns: one string column per selected key,
    missing tag → NULL (reference tabular.py:77-79, mapping.py:41).

    `taken` names structural columns already in the projection
    (osm_id, geom_type, xs …).  A select key that collides with one —
    legal OSM-wise, e.g. a key literally named ``geom_type`` — gets a
    deterministic ``_tag`` suffix instead of producing a duplicate
    column name (Spark allows dupes in a select but every parquet/
    sink write and later by-name reference then fails)."""
    t = _tags_col(tags)
    taken = set(taken)
    return [
        F.try_element_at(t, F.lit(k)).alias(k if k not in taken else k + "_tag")
        for k in theme.keys
    ]


# -- closed-way polygon routing (reference tabular.py:18-27) ---------------

CLOSED_WAY_KEYS = [
    "aeroway", "amenity", "boundary", "building", "building:part", "craft",
    "geological", "historic", "landuse", "leisure", "military", "natural",
    "office", "place", "shop", "sport", "tourism",
]
CLOSED_WAY_KEYVALS = {"highway": "platform", "public_transport": "platform"}


def closed_way_is_polygon_col(tags="tags") -> Column:
    """Pure-Column reimplementation of closed_way_is_polygon
    (tabular.py:20-27): a closed way is a polygon iff any area key is
    present or a platform key=value pair matches."""
    t = _tags_col(tags)
    pred = F.arrays_overlap(
        F.map_keys(t), F.array(*[F.lit(k) for k in CLOSED_WAY_KEYS])
    )
    for k, v in CLOSED_WAY_KEYVALS.items():
        pred = pred | (F.try_element_at(t, F.lit(k)) == F.lit(v))
    return F.coalesce(pred, F.lit(False))
