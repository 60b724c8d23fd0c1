"""Driver-side plan assembly: derived columns go in dependency stages, the
verdict and violation columns are Spark SQL text, and a warm media build
stays within a bound of Py4J round trips."""

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from shaclapi_spark import engine, fixtures
from shaclapi_spark.ops.row_checks import describe
from shaclapi_spark.streaming.incremental import row_verdict_stream
from shaclapi_spark.suite import Constraint, Shape, Suite

# --- stage inference -----------------------------------------------------------


@st.composite
def _chains(draw):
    """An ordered derived-column chain over source columns ``a`` and ``b``:
    each column reads source or earlier columns, spelled in another case or
    backticked; ``a`` shadows its source column and ``C``/``E`` redefine
    ``c``/``e`` under another case."""
    defined = ["a", "b"]
    chain = {}
    for _ in range(draw(st.integers(1, 7))):
        name = draw(st.sampled_from(["a", "c", "d", "e", "C", "E"]))
        if name in chain:
            continue
        refs = draw(st.lists(st.sampled_from(defined), min_size=1, max_size=3))
        spelled = [draw(st.sampled_from([r, r.upper(), f"`{r}`"])) for r in refs]
        chain[name] = " + ".join(spelled) + f" * {draw(st.integers(1, 5))}"
        if name.lower() not in [d.lower() for d in defined]:
            defined.append(name)
    return chain


@given(chain=_chains())
@settings(max_examples=25, deadline=None)
def test_staged_derived_columns_equal_per_column_application(spark, chain):
    src = spark.createDataFrame([(1, 2), (3, 4), (5, None)], "a int, b int")
    ref = src
    for name, sql in chain.items():
        ref = ref.withColumn(name, F.expr(sql))
    got = engine.with_derived(src, chain)
    assert [c.lower() for c in got.columns] == [c.lower() for c in ref.columns]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.collect()), key=repr
    )
    stages = engine.derived_stages(chain)
    assert [n for s in stages for n in s] == list(chain)
    assert len(stages) <= len(chain)


def test_stage_inference_rules():
    stages = engine.derived_stages(
        {"x": "a + 1", "y": "b", "z": "`X` * 2", "X2": "x2", "w": "x + y"}
    )
    # `X` names x (case-insensitive, backticked); `x2` is not `x`
    assert stages == [{"x": "a + 1", "y": "b"}, {"z": "`X` * 2", "X2": "x2", "w": "x + y"}]
    # redefining a column of the current stage opens a new one
    assert engine.derived_stages({"a": "1", "A": "2"}) == [{"a": "1"}, {"A": "2"}]


def _projects(df) -> int:
    """Project nodes in ``df``'s analysed logical plan."""
    stack, n = [df._jdf.queryExecution().analyzed()], 0
    while stack:
        node = stack.pop()
        n += node.nodeName() == "Project"
        kids = node.children()
        stack += [kids.apply(i) for i in range(kids.size())]
    return n


@pytest.mark.parametrize(
    "shape, stages", [(fixtures.image_shape(), 6), (fixtures.video_shape(), 5)]
)
def test_media_shapes_derive_in_stages(spark, shape, stages):
    derived = shape.derived_columns
    assert len(engine.derived_stages(derived)) == stages
    src = spark.createDataFrame(
        [], "bytes binary, meta_w int, meta_h int, meta_frames int"
    )
    assert _projects(engine.with_derived(src, derived)) == stages


# --- SQL-text escaping ---------------------------------------------------------

_TEXT = st.text(alphabet=list("ab'\\%`é漢 .\"$"), min_size=1, max_size=6)


def _lit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


@given(
    names=st.lists(_TEXT, min_size=8, max_size=8, unique=True),
    vals=st.lists(_TEXT, min_size=3, max_size=3, unique=True),
)
@settings(max_examples=8, deadline=None)
def test_violation_text_round_trips(spark, names, vals):
    """Constraint ids, shape names, expr SQL, regex patterns and in_set
    values with quotes, backslashes, ``%``, backticks and non-ASCII text
    come back byte for byte in ``constraint_id``, ``detail``, ``reason``
    and ``shape``."""
    t0, t1, t2 = vals
    c_expr, c_rx, c_set, c_uniq, c_q, c_ref, shape_name, ref_name = names
    row_cs = [
        Constraint(c_expr, "expr", {"sql": f"v <> {_lit(t0)}"}),
        Constraint(c_rx, "regex", {"column": "v", "pattern": "^" + re.escape(t1) + "$"}),
        Constraint(c_set, "in_set", {"column": "v", "values": [t1, t2]}),
    ]
    top = Shape(
        shape_name,
        "t",
        "id",
        constraints=[
            *row_cs,
            Constraint(c_uniq, "unique", {"column": "id"}),
            Constraint(
                c_q, "qualified_shape",
                {"child": "t", "fk": "id", "shape": ref_name, "min": 1},
            ),
        ],
    )
    ref = Shape(
        ref_name, "t", "id",
        constraints=[Constraint(c_ref, "expr", {"sql": f"v <> {_lit(t0)}"})],
    )
    rows = [(1, t0), (2, t1), (2, t2), (3, None)]
    t = spark.createDataFrame(rows, "id int, v string")
    res = engine.run_suite(spark, Suite(shapes=[ref, top]), {"t": t})

    # expected, from the rows: per-entity bool_and of each row check
    ids = sorted({i for i, _ in rows})
    row_ok = {
        c_expr: lambda v: v is None or v != t0,
        c_rx: lambda v: v is None or v == t1,
        c_set: lambda v: v is None or v in (t1, t2),
    }
    ref_ok = {i: all(v is None or v != t0 for j, v in rows if j == i) for i in ids}
    want_viol, want_reason = set(), {}
    for i in ids:
        vs = [v for j, v in rows if j == i]
        failing = [(c.id, c.id, describe(c)) for c in row_cs
                   if not all(map(row_ok[c.id], vs))]
        if len(vs) != 1:
            failing.append((c_uniq, c_uniq, f"{describe(top.constraints[3])} [rows={len(vs)}]"))
        n_valid = sum(ref_ok[j] for j, _ in rows if j == i)
        if n_valid < 1:
            failing.append((c_q, ref_name, f"{describe(top.constraints[4])} [count={n_valid}]"))
        want_viol |= {(str(i), shape_name, cid, d) for cid, _, d in failing}
        if not ref_ok[i]:
            want_viol.add((str(i), ref_name, c_ref, describe(ref.constraints[0])))
        want_reason[(str(i), shape_name)] = failing[0][1] if failing else None
        want_reason[(str(i), ref_name)] = None if ref_ok[i] else c_ref

    got_viol = {tuple(r) for r in res.violations.collect()}
    assert got_viol == want_viol
    got_reason = {(r.entity_id, r.shape): r.reason for r in res.verdicts.collect()}
    assert got_reason == want_reason
    res.release()

    # the streaming path builds its verdict and violation text the same way
    sv, sl = row_verdict_stream(t, Shape(shape_name, "t", "id", constraints=row_cs))
    assert {tuple(r) for r in sl.collect()} == {
        (str(i), shape_name, c.id, describe(c))
        for i, v in rows for c in row_cs if not row_ok[c.id](v)
    }
    assert {r.reason for r in sv.collect()} <= {None, *(c.id for c in row_cs)}


# --- build-layer round trips ---------------------------------------------------

#: Py4J round trips of one warm image + video suite build over the 2 000-clip
#: fixture. Column-at-a-time assembly took about 3 000 (each ``F.*`` or
#: ``Column`` call also sends its call site); staged assembly with SQL-text
#: verdict and violation columns takes about 930. Garbage-collected JVM
#: handles add a varying few dozen.
MEDIA_BUILD_ROUND_TRIPS = 1_500


def test_media_build_round_trips(spark, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    from shaclapi_spark import fixture_io

    paths = fixture_io.ensure_fixture_pandas(2000)
    tables = {t: spark.read.parquet(paths[t]) for t in ("images", "videos")}
    suites = (fixtures.image_suite(), fixtures.video_suite())
    for suite in suites:  # warm: imports, the gateway, the tables' schemas
        engine.run_suite(spark, suite, tables).release()

    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls.append(1)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    results = [engine.run_suite(spark, suite, tables) for suite in suites]
    monkeypatch.undo()
    for res in results:
        res.release()
    assert 0 < len(calls) <= MEDIA_BUILD_ROUND_TRIPS, len(calls)
