"""Driver-side reduction unit tests — the tc6 analog
(/root/reference/tests/test_main.py:286-403: exact surviving constraint
objects after query-driven constraint removal, incl. OR-collapse and shape
elimination)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from shaclapi_spark.compiler import (
    compile_suite,
    evaluation_order,
    prune_unreachable,
    remove_constraints,
)
from shaclapi_spark.fixtures import clip_cycle_suite, clip_suite
from shaclapi_spark.suite import Constraint, Shape, Suite


def test_reachability_prune_drops_unreferenced_shape():
    suite = clip_suite()
    suite.shapes.append(
        Shape(name="Orphan", table="clips", entity_col="clip_id", constraints=[])
    )
    reduced = prune_unreachable(suite, ["ClipShape"])
    assert set(reduced.names()) == {"ClipShape", "TranscriptShape"}


def test_prune_keeps_transitive_deps():
    reduced = prune_unreachable(clip_suite(), ["TranscriptShape"])
    assert reduced.names() == ["TranscriptShape"]


def test_constraint_removal_by_columns():
    suite = clip_suite(include_audio=False, include_drift=False)
    reduced = remove_constraints(suite, ["ClipShape"], {"sr_hz"})
    ids = [c.id for c in reduced.shape("ClipShape").constraints]
    assert "sr_not_null" in ids and "sr_range" in ids
    assert "dur_range" not in ids
    # columnless (child-level / unique) constraints always survive
    assert {"clip_unique", "tr_min1", "tr_max1", "tr_valid"} <= set(ids)
    # non-target shape untouched
    assert len(reduced.shape("TranscriptShape").constraints) == 5


def test_or_collapse_to_single_branch():
    # tc6 semantics: OR list with one surviving branch collapses to a plain
    # constraint (ReducedShapeParser.py:100-106 analog)
    suite = Suite(
        shapes=[
            Shape(
                name="S",
                table="t",
                entity_col="id",
                constraints=[
                    Constraint(
                        "g",
                        "or_group",
                        branches=[
                            Constraint("g_a", "range", {"column": "a", "min": 0}),
                            Constraint("g_b", "range", {"column": "b", "min": 0}),
                        ],
                    )
                ],
            )
        ]
    )
    reduced = remove_constraints(suite, ["S"], {"a"})
    (c,) = reduced.shape("S").constraints
    assert c.kind == "range" and c.id == "g" and c.params["column"] == "a"
    # no surviving branch → whole group dropped
    reduced = remove_constraints(suite, ["S"], {"z"})
    assert reduced.shape("S").constraints == []


def test_evaluation_order_prerequisites_first():
    _, groups = compile_suite(clip_suite(), ["ClipShape"])
    order = [g.shapes for g in groups]
    assert order.index(["TranscriptShape"]) < order.index(["ClipShape"])
    assert not any(g.cyclic for g in groups)


def test_cycle_detected_as_group():
    groups = evaluation_order(clip_cycle_suite())
    (g,) = [g for g in groups if g.cyclic]
    assert set(g.shapes) == {"ClipShape", "TranscriptShape"}


def test_self_cycle():
    suite = Suite(
        shapes=[
            Shape(
                name="S",
                table="t",
                entity_col="id",
                constraints=[
                    Constraint(
                        "self",
                        "qualified_shape",
                        {"child": "t", "fk": "parent_id", "shape": "S", "min": 1},
                    )
                ],
            )
        ]
    )
    (g,) = evaluation_order(suite)
    assert g.cyclic and g.shapes == ["S"]


# ---------------------------------------------------------------------------
# the one evaluation order: the SCC condensation, prerequisites first
# ---------------------------------------------------------------------------

def _q(cid, ref):
    return Constraint(
        cid, "qualified_shape", {"child": "t", "fk": "fk", "shape": ref, "min": 1}
    )


def _diamond():
    return Suite(
        shapes=[
            Shape("A", "t", "id", constraints=[_q("a_b", "B"), _q("a_c", "C")]),
            Shape("B", "t", "id", constraints=[_q("b_d", "D")]),
            Shape("C", "t", "id", constraints=[_q("c_d", "D")]),
            Shape("D", "t", "id", constraints=[]),
        ]
    )


def test_order_diamond():
    order = [g.shapes[0] for g in evaluation_order(_diamond())]
    assert order == ["D", "B", "C", "A"]


def test_order_is_topological():
    suite = clip_cycle_suite()
    seen = set()
    for g in evaluation_order(suite):
        for n in g.shapes:
            assert suite.shape(n).shape_refs() - set(g.shapes) <= seen, n
        seen |= set(g.shapes)


@st.composite
def _networks(draw):
    """Up to 8 shapes with random qualified_shape refs (self-loops and
    cycles included), plus the same shapes in a random order."""
    names = [f"S{i}" for i in range(draw(st.integers(1, 8)))]
    refs = {
        n: draw(st.sets(st.sampled_from(names), max_size=len(names)))
        for n in names
    }
    shapes = [
        Shape(n, "t", "id", constraints=[_q(f"{n}_{r}", r) for r in sorted(refs[n])])
        for n in names
    ]
    return refs, shapes, draw(st.permutations(shapes))


@settings(max_examples=200, deadline=None)
@given(_networks())
def test_order_is_the_scc_condensation(network):
    refs, shapes, shuffled = network
    groups = evaluation_order(Suite(shapes=shapes))

    def reach(a):
        out, stack = set(), [a]
        while stack:
            for r in refs[stack.pop()]:
                if r not in out:
                    out.add(r)
                    stack.append(r)
        return out

    reachable = {n: reach(n) for n in refs}
    # every shape lands in exactly one group
    placed = [n for g in groups for n in g.shapes]
    assert sorted(placed) == sorted(refs)
    pos = {n: i for i, g in enumerate(groups) for n in g.shapes}
    for i, g in enumerate(groups):
        # a group is a strongly connected component: its members reach each
        # other, and no outside shape is reachable both ways
        for a in g.shapes:
            for b in refs:
                mutual = b == a or (b in reachable[a] and a in reachable[b])
                assert mutual == (b in g.shapes), (a, b)
        # refs leaving a group point to an earlier group
        for a in g.shapes:
            assert all(pos[r] < i for r in refs[a] if r not in g.shapes)
        assert g.cyclic == (len(g.shapes) > 1 or g.shapes[0] in refs[g.shapes[0]])
    # the declaration order of the shapes does not matter
    assert evaluation_order(Suite(shapes=list(shuffled))) == groups
