"""SHACL Turtle ingestion: parse the reference's own shape fixtures
(/root/reference/tests/tc*/shapes/*.ttl) into the IR, bind them onto
tables, and check the compiled Suite structure matches hand-built
fixtures — the tc6-style structural assertions of the reference
(tests/test_main.py:296-403)."""

import os

import pytest

from shaclapi_spark import engine
from shaclapi_spark.shacl import (
    LinkBinding,
    ShapeBinding,
    parse_shacl,
    parse_shacl_dir,
    to_suite,
)

REF = "/root/reference/tests"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference fixtures not available"
)


@needs_ref
def test_parse_tc1_shapes():
    shapes = {s.name: s for s in parse_shacl_dir(f"{REF}/tc1/shapes/test1_2_3")}
    a, e = shapes["ShapeA"], shapes["ShapeE"]
    assert a.target_class == "classA"
    has, belongs = a.properties
    assert (has.path, has.min_count, has.max_count) == ("has", 1, 1)
    assert belongs.path == "belongsTo" and not belongs.inverse
    assert belongs.qualified_shape == "ShapeE"
    assert (belongs.qualified_min, belongs.qualified_max) == (1, 1)
    (ehas,) = e.properties
    assert (ehas.min_count, ehas.max_count) == (2, 2)


@needs_ref
def test_parse_tc4_inverse_path():
    shapes = {s.name: s for s in parse_shacl_dir(f"{REF}/tc4/shapes")}
    (p,) = shapes["ShapeA"].properties
    assert p.inverse and p.path == "refersTo"
    assert p.qualified_shape == "ShapeB" and p.qualified_min == 2
    assert p.qualified_max is None
    assert shapes["ShapeC"].properties == []  # target-only shape


@needs_ref
def test_parse_tc6_or_group():
    shapes = {s.name: s for s in parse_shacl_dir(f"{REF}/tc6/shapes")}
    a = shapes["ShapeA"]
    (branches,) = a.or_groups
    assert [b.path for b in branches] == ["property0", "property1", "property2"]
    assert branches[1].min_count == 3
    assert branches[2].inverse and branches[2].max_count == 0
    assert [p.path for p in a.properties] == ["property3", "belongsTo"]


@needs_ref
def test_parse_tc2_target_query_values():
    shapes = {s.name: s for s in parse_shacl_dir(f"{REF}/tc2/shapes")}
    b = shapes["ShapeB"]
    assert b.target_query is not None
    assert b.target_values() == ["nodeB_1", "nodeB_0"]


@needs_ref
def test_tc1_binding_produces_expected_suite():
    shapes = parse_shacl_dir(f"{REF}/tc1/shapes/test1_2_3")
    bindings = {
        "ShapeA": ShapeBinding(
            table="nodes",
            entity_col="id",
            class_column="cls",
            links={
                "has": LinkBinding(child="has_edges", fk="src"),
                "belongsTo": LinkBinding(
                    child="belongs_edges", fk="src", ref_key="dst"
                ),
            },
        ),
        "ShapeE": ShapeBinding(
            table="nodes",
            entity_col="id",
            class_column="cls",
            links={"has": LinkBinding(child="has_edges", fk="src")},
        ),
    }
    suite = to_suite(shapes, bindings)
    a = suite.shape("ShapeA")
    assert a.target_filter == "cls = 'classA'"
    assert a.constraints[2].params["ref_key"] == "dst"
    kinds = [(c.kind, c.params.get("min"), c.params.get("max")) for c in a.constraints]
    assert kinds == [
        ("min_count", 1, None),
        ("max_count", None, 1),
        ("qualified_shape", 1, 1),
    ]
    assert a.constraints[2].params["shape"] == "ShapeE"
    e = suite.shape("ShapeE")
    assert [(c.kind, c.params.get("min"), c.params.get("max")) for c in e.constraints] == [
        ("min_count", 2, None),
        ("max_count", None, 2),
    ]


@needs_ref
def test_tc4_binding_inverse_local_key():
    shapes = parse_shacl_dir(f"{REF}/tc4/shapes")
    bindings = {
        "ShapeA": ShapeBinding(
            table="nodes",
            entity_col="id",
            class_column="cls",
            # inverse path: A is validated through edges POINTING AT it
            # (fk=dst); the referring B node is in the src column
            links={"refersTo": LinkBinding(child="edges", fk="dst", ref_key="src")},
        ),
        "ShapeB": ShapeBinding(
            table="nodes",
            entity_col="id",
            class_column="cls",
            links={"refersTo": LinkBinding(child="edges", fk="src", ref_key="dst")},
        ),
        "ShapeC": ShapeBinding(table="nodes", entity_col="id", class_column="cls"),
    }
    suite = to_suite(shapes, bindings)
    (qa,) = suite.shape("ShapeA").constraints
    assert qa.kind == "qualified_shape" and qa.params["min"] == 2
    assert qa.params["child"] == "edges" and qa.params["fk"] == "dst"
    assert suite.shape("ShapeC").constraints == []


@needs_ref
def test_tc1_end_to_end_validation(spark):
    """Validate a tiny hand-built graph against the parsed tc1 shapes:
    ShapeA targets need exactly one `has` edge and exactly one `belongsTo`
    edge to a VALID ShapeE node (which itself needs exactly two `has`)."""
    shapes = parse_shacl_dir(f"{REF}/tc1/shapes/test1_2_3")
    bindings = {
        "ShapeA": ShapeBinding(
            table="nodes",
            entity_col="id",
            class_column="cls",
            links={
                "has": LinkBinding(child="has_edges", fk="src"),
                "belongsTo": LinkBinding(
                    child="belongs_edges", fk="src", ref_key="dst"
                ),
            },
        ),
        "ShapeE": ShapeBinding(
            table="nodes",
            entity_col="id",
            class_column="cls",
            links={"has": LinkBinding(child="has_edges", fk="src")},
        ),
    }
    suite = to_suite(shapes, bindings)
    nodes = spark.createDataFrame(
        [
            ("a_good", "classA"),
            ("a_no_has", "classA"),
            ("a_bad_e", "classA"),
            ("e_good", "classE"),
            ("e_one_has", "classE"),
        ],
        ["id", "cls"],
    )
    has_edges = spark.createDataFrame(
        [
            ("a_good", "x1"),
            ("a_bad_e", "x2"),
            ("e_good", "x3"),
            ("e_good", "x4"),
            ("e_one_has", "x5"),
        ],
        ["src", "dst"],
    )
    belongs_edges = spark.createDataFrame(
        [("a_good", "e_good"), ("a_no_has", "e_good"), ("a_bad_e", "e_one_has")],
        ["src", "dst"],
    )
    res = engine.run_suite(
        spark,
        suite,
        {"nodes": nodes, "has_edges": has_edges, "belongs_edges": belongs_edges},
    )
    got = {
        (r.entity_id, r.shape): r.is_valid for r in res.verdicts.collect()
    }
    assert got[("a_good", "ShapeA")] is True
    assert got[("a_no_has", "ShapeA")] is False      # no `has` edge
    assert got[("e_good", "ShapeE")] is True
    assert got[("e_one_has", "ShapeE")] is False     # needs exactly 2 `has`
    assert got[("a_bad_e", "ShapeA")] is False       # belongsTo an invalid E


def test_parser_rejects_unbound_path():
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:property [ sh:path :unknown ; sh:minCount 1 ] ."""
    )
    with pytest.raises(ValueError, match="no binding"):
        to_suite(shapes, {"S": ShapeBinding(table="t", entity_col="id")})


# ---------------------------------------------------------------------------
# the reference's JSON shape format (examples/lubm/shapes/*.json)
# ---------------------------------------------------------------------------

REF_LUBM = "/root/reference/examples/lubm/shapes"

needs_lubm = pytest.mark.skipif(
    not os.path.isdir(REF_LUBM), reason="reference LUBM shapes not available"
)


@needs_lubm
def test_parse_lubm_json_shapes():
    from shaclapi_spark.shacl import parse_json_dir

    shapes = {s.name: s for s in parse_json_dir(REF_LUBM)}
    assert set(shapes) == {"Department", "FullProfessor", "University"}
    dept = shapes["Department"]
    assert dept.target_class == "Department"
    assert dept.query_target_class() == "Department"
    # {path, min, shape} pairs become QUALIFIED counts (one per entry)
    kinds = [
        (p.path, p.min_count, p.max_count, p.qualified_shape,
         p.qualified_min, p.qualified_max)
        for p in dept.properties
    ]
    assert kinds == [
        ("name", 1, None, None, None, None),
        ("name", None, 1, None, None, None),
        ("subOrganizationOf", None, None, "University", 1, None),
        ("subOrganizationOf", None, None, "University", None, 1),
    ]
    prof = shapes["FullProfessor"]
    assert prof.properties[0].qualified_shape == "University"
    assert prof.properties[-1].qualified_shape == "Department"


@needs_lubm
def test_lubm_json_binding_produces_suite():
    """The LUBM JSON shape dir parses into a Suite through the SAME binding
    layer as the Turtle path — tc6-style structural assertions."""
    from shaclapi_spark.shacl import parse_shape_dir

    shapes = parse_shape_dir(REF_LUBM, shape_format="JSON")
    mk = lambda links: ShapeBinding(
        table="orgs", entity_col="id", class_column="cls",
        columns={"name": "name", "email": "email"}, links=links,
    )
    bindings = {
        "Department": mk({"subOrganizationOf": LinkBinding(child="sub_edges", fk="src", ref_key="dst")}),
        "University": mk({}),
        "FullProfessor": mk({
            "doctoralDegreeFrom": LinkBinding(child="degree_edges", fk="src", ref_key="dst"),
            "worksFor": LinkBinding(child="works_edges", fk="src", ref_key="dst"),
        }),
    }
    suite = to_suite(shapes, bindings)
    dept = suite.shape("Department")
    # class-pattern targetQuery realizes as the class filter, not a raise
    assert dept.target_filter == "cls = 'Department'"
    kinds = [(c.kind, c.params.get("shape")) for c in dept.constraints]
    assert kinds == [
        ("not_null", None),            # name min 1
        ("qualified_shape", "University"),
        ("qualified_shape", "University"),
    ]
    uni = suite.shape("University")
    assert [c.kind for c in uni.constraints] == ["not_null"]
    prof = suite.shape("FullProfessor")
    refs = [c.params["shape"] for c in prof.constraints if c.kind == "qualified_shape"]
    assert refs == ["University", "Department"]


def test_json_multi_conjunction_becomes_or_group():
    from shaclapi_spark.shacl import parse_shape_json

    s = parse_shape_json(
        """{"name": "S",
            "constraintDef": {"conjunctions": [
              [{"path": "ex:a", "min": 1}],
              [{"path": "ex:b", "min": 2}]
            ]}}"""
    )
    assert s.properties == []
    (branches,) = s.or_groups
    assert [(p.path, p.min_count) for p in branches] == [("a", 1), ("b", 2)]


def test_json_multi_constraint_disjunction_raises():
    from shaclapi_spark.shacl import parse_shape_json

    with pytest.raises(ValueError, match="disjunction"):
        parse_shape_json(
            """{"name": "S",
                "constraintDef": {"conjunctions": [
                  [{"path": "ex:a", "min": 1}, {"path": "ex:b", "min": 1}],
                  [{"path": "ex:c", "min": 1}]
                ]}}"""
        )


def test_non_values_target_query_raises_loudly():
    """A targetQuery that is neither a VALUES list nor a simple class
    pattern must raise AT BINDING TIME, naming the shape — silently
    validating the full table would be a wrong answer."""
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "SELECT ?x WHERE { ?x :hasFriend ?y . ?y a :Admin }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    with pytest.raises(ValueError, match="'S'.*neither a VALUES list"):
        to_suite(
            shapes,
            {"S": ShapeBinding(table="t", entity_col="id", columns={"name": "name"})},
        )
    # ... unless the caller binds an explicit target_filter override
    suite = to_suite(
        shapes,
        {"S": ShapeBinding(
            table="t", entity_col="id", columns={"name": "name"},
            target_filter="is_admin_friend",
        )},
    )
    assert suite.shape("S").target_filter == "is_admin_friend"


def test_class_pattern_target_query_is_not_an_error():
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "SELECT ?x WHERE { ?x a :Widget }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    suite = to_suite(
        shapes,
        {"S": ShapeBinding(
            table="t", entity_col="id", class_column="cls",
            columns={"name": "name"},
        )},
    )
    assert suite.shape("S").target_filter == "cls = 'Widget'"


# ---------------------------------------------------------------------------
# star-shaped target-query translator (reference query.py:96-114 star test,
# intersect :194-244; tc4 test_definitions/*.json query forms)
# ---------------------------------------------------------------------------

def _star_binding(**kw):
    from shaclapi_spark.shacl import ShapeBinding

    base = dict(
        table="t", entity_col="id", class_column="cls",
        columns={"name": "name", "status": "status", "score": "score"},
    )
    base.update(kw)
    return ShapeBinding(**base)


def test_star_query_class_plus_literal_tc4_test2():
    """The tc4 test2 form: class pattern + literal-object pattern."""
    from shaclapi_spark.shacl import star_target_filter

    q = ("PREFIX test4: <http://example.org/testGraph4#>\n"
         "SELECT ?x WHERE {\n?x a test4:classA .\n"
         "?x test4:status 'active'\n}")
    got = star_target_filter(q, _star_binding())
    assert got == "cls = 'classA' AND status = 'active'"


def test_star_query_var_object_and_filter():
    """tc6-style: variable-object patterns mean existence; a simple FILTER
    on such a variable becomes a column comparison."""
    from shaclapi_spark.shacl import star_target_filter

    q = ("SELECT DISTINCT ?x WHERE { ?x <http://ex/score> ?s . "
         "?x <http://ex/name> ?n . FILTER(?s >= 10) }")
    got = star_target_filter(q, _star_binding())
    assert got == "score IS NOT NULL AND name IS NOT NULL AND score >= 10"


def test_star_query_values_seeded():
    """The make_starshaped IRI-center form: VALUES-seeded star query."""
    from shaclapi_spark.shacl import star_target_filter

    q = ("SELECT ?x WHERE { ?x <http://ex/name> ?n . "
         "VALUES ?x { <http://ex/e1> <http://ex/e2> } }")
    got = star_target_filter(q, _star_binding())
    assert got == "id IN ('e1', 'e2') AND name IS NOT NULL"


def test_star_query_accepted_in_to_suite():
    """A star-shaped targetQuery no longer raises at binding time — it
    becomes the shape's target_filter (closes the round-4 what's-missing
    item 3)."""
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "SELECT ?x WHERE { ?x a :Widget . ?x :status 'live' . ?x :score ?s . FILTER(?s > 3) }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    suite = to_suite(shapes, {"S": _star_binding()})
    assert suite.shape("S").target_filter == (
        "cls = 'Widget' AND status = 'live' AND score IS NOT NULL AND score > 3"
    )


def test_star_query_runs_against_table(spark):
    """End-to-end: the translated filter restricts validation to the
    star-matching rows only (reference intersect semantics — entities
    outside the target query are simply not validated)."""
    from shaclapi_spark.engine import run_suite

    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "SELECT ?x WHERE { ?x a :Widget . ?x :score ?s . FILTER(?s >= 5) }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    suite = to_suite(shapes, {"S": _star_binding()})
    df = spark.createDataFrame(
        [("a", "Widget", 9, "ok"), ("b", "Widget", 9, None),
         ("c", "Widget", 1, None), ("d", "Gadget", 9, None)],
        "id string, cls string, score int, name string",
    )
    res = run_suite(spark, suite, {"t": df})
    got = {(r.entity_id, r.is_valid) for r in res.verdicts.collect()}
    assert got == {("a", True), ("b", False)}  # c, d outside the target


def test_star_query_inverse_path_raises_with_pointer():
    from shaclapi_spark.shacl import star_target_filter

    q = ("PREFIX t6: <http://example.org/testGraph6#>\n"
         "SELECT DISTINCT ?x WHERE { ?x ^t6:property2 ?p2 . }")
    with pytest.raises(ValueError, match="inverse path.*target_population"):
        star_target_filter(q, _star_binding())


def test_star_query_var_vs_var_filter_raises():
    """tc4 test1's FILTER(?y_0 != ?y_1) compares two variables — not a row
    filter; must raise, not silently drop the FILTER."""
    from shaclapi_spark.shacl import star_target_filter

    q = ("SELECT ?x ?y0 ?y1 WHERE { ?x <http://ex/name> ?y0 . "
         "?x <http://ex/status> ?y1 . FILTER(?y0 != ?y1) }")
    with pytest.raises(ValueError, match="compares two variables"):
        star_target_filter(q, _star_binding())


def test_star_query_unbound_predicate_raises():
    from shaclapi_spark.shacl import star_target_filter

    with pytest.raises(ValueError, match="not bound to a row column"):
        star_target_filter(
            "SELECT ?x WHERE { ?x <http://ex/unmapped> ?v }", _star_binding()
        )


def test_star_query_semicolon_list_raises_not_drops():
    """Predicate-object ';' lists are not consumed by the translator —
    it must RAISE (a dropped conjunct would broaden the target), never
    return a partial filter."""
    from shaclapi_spark.shacl import star_target_filter

    q = "SELECT ?x WHERE { ?x a <http://ex/Widget> ; <http://ex/status> 'live' . }"
    with pytest.raises(ValueError, match="residue"):
        star_target_filter(q, _star_binding())


def test_star_query_property_path_raises_not_drops():
    from shaclapi_spark.shacl import star_target_filter

    q = "SELECT ?x WHERE { ?x <http://ex/a>/<http://ex/b> ?v . ?x <http://ex/name> ?n }"
    with pytest.raises(ValueError, match="residue"):
        star_target_filter(q, _star_binding())


def test_values_seeded_star_query_keeps_conjuncts_in_to_suite():
    """to_suite must route a VALUES-seeded star query through the star
    translator (keeping triple conjuncts), not collapse it to the bare
    VALUES IN-list."""
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "SELECT ?x WHERE { ?x :status 'live' . VALUES ?x { <http://ex/e1> <http://ex/e2> } }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    suite = to_suite(shapes, {"S": _star_binding()})
    assert suite.shape("S").target_filter == (
        "id IN ('e1', 'e2') AND status = 'live'"
    )


def test_star_query_literal_quoting_is_sql_safe():
    """Literal content keeps embedded/other-type quotes; output uses SQL
    escaping (doubled single quotes), not Python repr."""
    from shaclapi_spark.shacl import star_target_filter

    got = star_target_filter(
        'SELECT ?x WHERE { ?x <http://ex/status> "\'beta\'" }', _star_binding()
    )
    assert got == "status = '''beta'''"  # 6-char value 'beta' incl. quotes
    got2 = star_target_filter(
        "SELECT ?x WHERE { ?x <http://ex/name> \"O'Brien\" }", _star_binding()
    )
    assert got2 == "name = 'O''Brien'"


def test_star_query_constant_center():
    """Reference make_starshaped (query.py:103-110): a star query whose
    center is a constant IRI targets exactly that entity — translated to
    an entity-equality conjunct plus the usual pattern conjuncts."""
    from shaclapi_spark.shacl import star_target_filter

    q = "SELECT ?p WHERE { <http://ex/e1> <http://ex/name> ?p . FILTER(?p != 'x') }"
    got = star_target_filter(q, _star_binding())
    assert got == "id = 'e1' AND name IS NOT NULL AND name <> 'x'"


def test_star_query_curie_and_numeric_values_entries():
    """CURIE and numeric VALUES entries are recognized (not dropped);
    an unrecognizable entry raises."""
    from shaclapi_spark.shacl import star_target_filter

    got = star_target_filter(
        "SELECT ?x WHERE { ?x <http://ex/name> ?n . VALUES ?x { ex:e1 7 } }",
        _star_binding(),
    )
    assert got == "id IN ('e1', '7') AND name IS NOT NULL"
    with pytest.raises(ValueError, match="unrecognized VALUES entry"):
        star_target_filter(
            "SELECT ?x WHERE { ?x <http://ex/name> ?n . VALUES ?x { ??bad } }",
            _star_binding(),
        )


def test_star_query_no_space_before_dot():
    """The '.' closing a triple is not part of a prefixed name: with no
    space before it, ``?x a ex:Widget.`` still targets class 'Widget'
    (a swallowed dot would target 'Widget.' and silently narrow the
    population). A '.' inside a local name stays part of it."""
    from shaclapi_spark.shacl import star_target_filter

    b = _star_binding()
    assert star_target_filter("SELECT ?x WHERE { ?x a ex:Widget. }", b) == (
        "cls = 'Widget'"
    )
    assert star_target_filter(
        "SELECT ?x WHERE { ?x a ex:Widget.?x ex:status ex:v1.2. }", b
    ) == "cls = 'Widget' AND status = 'v1.2'"
    assert star_target_filter(
        "SELECT ?x WHERE { ?x ex:name ?n . VALUES ?x { ex:e1 ex:e.2 } }", b
    ) == "id IN ('e1', 'e.2') AND name IS NOT NULL"
    with pytest.raises(ValueError, match="unrecognized VALUES entry"):
        star_target_filter("SELECT ?x WHERE { VALUES ?x { ex:e1. } }", b)


def test_class_target_query_no_space_before_dot():
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "SELECT ?x WHERE { ?x a :Widget. }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    assert shapes[0].query_target_class() == "Widget"
    suite = to_suite(shapes, {"S": _star_binding()})
    assert suite.shape("S").target_filter == "cls = 'Widget'"


def test_numeric_values_entry_matches_string_ids_exactly(spark):
    """A numeric VALUES entry is compared as a string: a string entity
    column is never cast to a number ('07' must not match 7, and 'e1'
    must not fail a numeric cast)."""
    from shaclapi_spark.shacl import star_target_filter

    where = star_target_filter(
        "SELECT ?x WHERE { VALUES ?x { ex:e1 7 } }", _star_binding()
    )
    df = spark.createDataFrame([("e1",), ("7",), ("07",), ("e2",)], "id string")
    assert {r.id for r in df.filter(where).collect()} == {"e1", "7"}


def test_star_query_solution_modifiers_raise():
    """LIMIT/OFFSET/GROUP BY after the WHERE block change the target set
    in ways a row filter cannot express — must raise, not silently
    broaden."""
    from shaclapi_spark.shacl import star_target_filter

    with pytest.raises(ValueError, match="outside the SELECT/WHERE"):
        star_target_filter(
            "SELECT ?x WHERE { ?x <http://ex/name> ?n } LIMIT 5", _star_binding()
        )


def test_bare_values_with_no_recognizable_ids_raises_in_to_suite():
    """A targetQuery that is a bare VALUES clause with no extractable
    IRIs must raise the binding-time error, not render 'id IN ()'."""
    shapes = parse_shacl(
        """@prefix : <http://example.org/> .
@prefix sh: <http://www.w3.org/ns/shacl#> .
:S a sh:NodeShape ;
  sh:targetQuery "VALUES ?x { ex:e1 }" ;
  sh:property [ sh:path :name ; sh:minCount 1 ] ."""
    )
    with pytest.raises(ValueError, match="'S'"):
        to_suite(shapes, {"S": _star_binding()})
