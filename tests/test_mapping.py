"""Ported from reference test/test_mapping.py (TestMapping +
TestMappingValidation); geometry types are the engine's `geom_type`
strings ('point' / 'line' / 'polygon')."""

from osm_export_tool_python_spark.functions.mapping import Mapping


class TestMapping:
    def test_basic_mapping(self):
        y = """
        buildings:
          select:
            - name
        """
        m = Mapping(y)
        assert len(m.themes) == 1
        theme = m.themes[0]
        assert theme.name == "buildings"
        assert theme.points and theme.lines and theme.polygons
        assert "name" in theme.keys

    def test_geom_types(self):
        for t, flags in [
            ("points", (True, False, False)),
            ("lines", (False, True, False)),
            ("polygons", (False, False, True)),
        ]:
            y = """
            buildings:
              types:
                - {0}
              select:
                - name
            """.format(t)
            m = Mapping(y)
            assert (m.themes[0].points, m.themes[0].lines, m.themes[0].polygons) == flags

    def test_key_selections(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - addr:housenumber
        """
        assert "addr:housenumber" in Mapping(y).themes[0].keys

    def test_where(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - addr:housenumber
          where:
            - building = 'yes'
        """
        m = Mapping(y)
        assert not m.themes[0].matches("point", {"building": "yes"})
        assert not m.themes[0].matches("polygon", {"building": "no"})
        assert m.themes[0].matches("polygon", {"building": "yes"})

    def test_default_matcher(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - addr:housenumber
        """
        assert Mapping(y).themes[0].matches("polygon", {"addr:housenumber": "1234"})

    def test_multiple_matchers(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - addr:housenumber
          where:
            - building = 'yes'
            - amenity = 'parking'
        """
        m = Mapping(y)
        assert m.themes[0].matches("polygon", {"building": "yes"})
        assert m.themes[0].matches("polygon", {"amenity": "parking"})

    def test_nonlist_matcher(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - addr:housenumber
          where: building = 'yes'
        """
        assert Mapping(y).themes[0].matches("polygon", {"building": "yes"})

    def test_gt(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - building
          where: height > 20
        """
        m = Mapping(y)
        assert m.themes[0].matches("polygon", {"height": 21})
        assert not m.themes[0].matches("polygon", {"height": 20})

    def test_default_osm_id(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - building
        """
        m = Mapping(y)
        assert m.themes[0].osm_id
        assert "osm_id" not in m.themes[0].keys
        m = Mapping(y, default_osm_id=False)
        assert not m.themes[0].osm_id

    def test_osm_id_override(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - building
            - osm_id
        """
        m = Mapping(y)
        assert m.themes[0].osm_id
        assert "osm_id" not in m.themes[0].keys
        m = Mapping(y, default_osm_id=False)
        assert m.themes[0].osm_id
        assert "osm_id" not in m.themes[0].keys

    def test_duplicate_key(self):
        y = """
        buildings:
          types:
            - polygons
          select:
            - building
            - building
        """
        assert len(Mapping(y).themes[0].keys) == 1

    def test_extra(self):
        y = """
        buildings:
          foo:
            bar: baz
          select:
            - building
        """
        assert Mapping(y).themes[0].extra == {"foo": {"bar": "baz"}}


def _invalid(y):
    m, errors = Mapping.validate(y)
    assert m is None
    assert len(errors) == 1
    return errors


class TestMappingValidation:
    def test_empty_yaml(self):
        _invalid("\n")

    def test_bad_yaml(self):
        _invalid(
            """
        buildings
          types:
            - polygons
          select:
            - building
        """
        )

    def test_no_select(self):
        _invalid(
            """
        buildings:
          types:
            - polygons
        """
        )

    def test_invalid_type(self):
        _invalid(
            """
        buildings:
          types:
            - polygon
          select:
            - building
        """
        )

    def test_empty_sql(self):
        _invalid(
            """
        buildings:
          types:
            - polygons
          select:
            - building
          where:
        """
        )

    def test_invalid_sql(self):
        _invalid(
            """
        buildings:
          types:
            - polygons
          select:
            - building
          where: XXX aaa
        """
        )

    def test_wrong_yaml_list(self):
        _invalid(
            """
        buildings:
          types: polygons
          select:
            - building
        """
        )

    def test_invalid_yaml_parse(self):
        _invalid(
            """
        buildings:
           - types:
             - polygons
          select:
            - building
        """
        )

    def test_wrong_yaml_parse(self):
        errors = _invalid(
            """
        buildings:
          - types:
            - polygons
          - select:
            - building
        """
        )
        assert "must be YAML dict" in errors[0]

    def test_wrong_toplevel_themes(self):
        _invalid(
            """
         - buildings:
            types:
            - polygons
            select:
            - building
        """
        )
