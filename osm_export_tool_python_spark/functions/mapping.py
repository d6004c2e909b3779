"""YAML theme-mapping DSL (reference osm_export_tool/mapping.py).

A Mapping is an ordered collection of Themes; a Theme selects tag keys
into output columns, gates on geometry type, and filters rows with a
Matcher.  Pure metadata — the Spark side compiles each Theme to a
``ThemePlan`` (operators/themes.py) with a native Catalyst predicate.

Deviations from the reference (documented improvements, not behavior
changes observable by its tests):
  - ``keys`` preserves YAML ``select`` order with duplicates removed
    (reference uses an unordered ``set`` — mapping.py:41 — which makes
    output schemas nondeterministic across runs).
"""

from __future__ import annotations

import yaml

from .dsl import InvalidSQL, Matcher

VALID_TYPES = ("points", "lines", "polygons")


class InvalidMapping(Exception):
    pass


class Theme:
    def __init__(self, name, d, default_osm_id=True):
        self.name = name

        if not isinstance(d, dict):
            if isinstance(d, list):
                raise InvalidMapping(
                    "theme {0} must be YAML dict (types: , select:) , not list"
                    " (- types, - select)".format(name)
                )
            raise InvalidMapping("Theme value must be dict")

        # geometry-type gate: default all three (reference mapping.py:23-26)
        if "types" not in d:
            enabled = set(VALID_TYPES)
        else:
            if not isinstance(d["types"], list):
                raise InvalidMapping(
                    "types: for theme {0} must be list containing one or more"
                    " of: points, lines, polygons".format(name)
                )
            for t in d["types"]:
                if t not in VALID_TYPES:
                    raise InvalidMapping(
                        "types: for theme {0} must be list containing one or"
                        " more of: points, lines, polygons".format(name)
                    )
            enabled = set(d["types"])
        self.points = "points" in enabled
        self.lines = "lines" in enabled
        self.polygons = "polygons" in enabled

        if "select" not in d:
            raise InvalidMapping("missing select: for theme {0}".format(name))
        if not isinstance(d["select"], list) or not d["select"]:
            # hardening over the reference, which crashes with TypeError on
            # an empty select (mapping.py:41 set(None))
            raise InvalidMapping(
                "select: for theme {0} must be a non-empty list".format(name)
            )
        # order-preserving dedupe (see module docstring)
        self.keys = list(dict.fromkeys(d["select"]))

        self.osm_id = default_osm_id
        if "osm_id" in self.keys:
            self.osm_id = True
            self.keys.remove("osm_id")

        if "where" in d:
            if not d["where"]:
                raise InvalidMapping("where: for theme {0} is invalid".format(name))
            try:
                if isinstance(d["where"], list):
                    m = Matcher.null()
                    for w in d["where"]:
                        m = m.union(Matcher.from_sql(w))
                    self.matcher = m
                else:
                    self.matcher = Matcher.from_sql(d["where"])
            except InvalidSQL:
                raise InvalidMapping("Invalid SQL: {0}".format(d["where"]))
        else:
            # default where: any selected key present (reference mapping.py:61-63)
            m = Matcher.null()
            for key in self.keys:
                m = m.union(Matcher.any(key))
            self.matcher = m

        self.extra = {
            k: v for k, v in d.items() if k not in ("where", "select", "types")
        }

    def matches(self, geom_type, tags):
        """Reference Theme.matches (mapping.py:74-82); `geom_type` is the
        engine's dispatch value ('point' / 'line' / 'polygon')."""
        return geom_type in self.geom_type_names() and self.matcher.matches(tags)

    def geom_type_names(self):
        """Enabled geometry classes as the engine's string dispatch values."""
        out = []
        if self.points:
            out.append("point")
        if self.lines:
            out.append("line")
        if self.polygons:
            out.append("polygon")
        return out

    def __repr__(self):
        return self.name


class Mapping:
    def __init__(self, y, default_osm_id=True):
        doc = yaml.safe_load(y)
        if not isinstance(doc, dict):
            raise InvalidMapping("YAML must be dict")
        self.themes = [
            Theme(name, body, default_osm_id=default_osm_id)
            for name, body in doc.items()
        ]

    @classmethod
    def validate(cls, y, **kwargs):
        try:
            return cls(y, **kwargs), None
        except (yaml.YAMLError, InvalidMapping) as e:
            return None, [str(e)]
