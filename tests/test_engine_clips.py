"""Golden end-to-end test: engine verdicts vs an independent DuckDB oracle
over the same parquet — the rebuild of the reference's order-insensitive
(instance, shape) result-set compare (tests/test_main.py:229-246)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from shaclapi_spark import engine, fixtures, oracle
from shaclapi_spark.verdicts import verdict_sets


def _oracle_sets(fixture_dir, include_audio=True):
    con = duckdb.connect()
    clips = oracle.clips_table_expr(fixture_dir["clips"])
    trs = oracle.clips_table_expr(fixture_dir["transcripts"])
    clip_rows = con.execute(
        oracle.clip_verdict_sql(clips, trs, include_audio=include_audio)
    ).fetchall()
    tr_rows = con.execute(oracle.transcript_verdict_sql(clips, trs)).fetchall()
    valid = sorted([(e, s) for e, s, v in clip_rows + tr_rows if v])
    invalid = sorted([(e, s) for e, s, v in clip_rows + tr_rows if not v])
    return valid, invalid


@pytest.fixture(scope="module")
def suite_result(spark, fixture_tables):
    return engine.run_suite(
        spark, fixtures.clip_suite(include_drift=False), fixture_tables
    )


def test_verdict_sets_match_oracle(spark, fixture_dir, fixture_tables, suite_result):
    got_valid, got_invalid = verdict_sets(suite_result.verdicts)
    exp_valid, exp_invalid = _oracle_sets(fixture_dir)
    assert got_invalid == exp_invalid
    assert got_valid == exp_valid


def test_every_seeded_violation_class_fires(suite_result):
    cids = {
        r.constraint_id
        for r in suite_result.violations.select("constraint_id").distinct().collect()
    }
    expected = {
        "clip_unique", "sr_not_null", "sr_range", "dur_range",
        "tr_min1", "tr_max1", "tr_valid", "clip_or", "pcm_snr",
        "tr_fk", "tr_tokens", "tr_text_match",
    }
    assert expected <= cids


def test_reason_attribution(suite_result):
    # a clip whose ONLY failure is the corrupted payload → reason = pcm_snr
    # clip index 1111: %101==0, %13!=0, %997!=0, %89!=0, %127!=0, %4==3 → tr_max1 fails too.
    # index 202: %101==0, 202%4=2 → tr_max1 fails. Use 505: 505%101=0,505%4=1,
    # %13=11, %89=60, %127=125, %997=505 → only audio fails (and tr_valid may pass).
    vd = {
        r.entity_id: r
        for r in suite_result.verdicts.filter(F.col("shape") == "ClipShape")
        .filter(F.col("entity_id").isin("clip_00000505", "clip_00000004"))
        .collect()
    }
    r505 = vd["clip_00000505"]
    assert not r505.is_valid
    assert r505.reason == "pcm_snr"
    # qualified-shape failures carry the invalidating shape name (tc4 semantics)
    q = suite_result.verdicts.filter(
        (F.col("shape") == "ClipShape") & (F.col("reason") == "TranscriptShape")
    )
    assert q.count() > 0


def test_summary_totals(suite_result):
    tot = (
        suite_result.summary.groupBy("shape")
        .agg(F.sum("n_valid").alias("v"), F.sum("n_invalid").alias("i"))
        .collect()
    )
    by_shape = {r.shape: (r.v, r.i) for r in tot}
    vcounts = {
        (r.shape, r.is_valid): r["count"]
        for r in suite_result.verdicts.groupBy("shape", "is_valid").count().collect()
    }
    for shape, (v, i) in by_shape.items():
        assert v == vcounts.get((shape, True), 0)
        assert i == vcounts.get((shape, False), 0)


def test_empty_target_population(spark, fixture_tables):
    # border case: zero matching targets → empty sets, no error
    # (tc_further_border_cases/no_instances_at_all.json analog)
    suite = fixtures.clip_suite(include_drift=False)
    suite.shape("ClipShape").target_filter = "codec = 'nonexistent'"
    res = engine.run_suite(spark, suite, fixture_tables, target_shapes=["ClipShape"])
    assert res.verdicts.filter(F.col("shape") == "ClipShape").count() == 0


def _plan_nodes(node):
    """Physical operators of an executed plan, through AQE wrappers and
    query stages, but not into a cached relation: an InMemoryTableScan is
    a leaf here (its InMemoryRelation is an inner child, not a child)."""
    yield node
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_violations_read_the_persisted_entity_frame(spark, fixture_tables):
    """A shape is evaluated once per run: after the verdicts ran, the
    violations read the persisted entity-grain frames — no audio UDF and no
    clips scan outside a cached relation."""
    res = engine.run_suite(
        spark, fixtures.clip_suite(include_drift=False), fixture_tables
    )
    res.verdicts.groupBy("shape", "is_valid").count().collect()
    qe = res.violations._jdf.queryExecution()
    qe.toRdd().count()
    nodes = list(_plan_nodes(qe.executedPlan()))
    names = [n.nodeName() for n in nodes]
    assert "InMemoryTableScan" in names
    assert "ArrowEvalPython" not in names
    clip_scans = [
        n
        for n in nodes
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and "clips.parquet" in n.relation().location().rootPaths().toString()
    ]
    assert clip_scans == []
    res.release()


def test_release_unpersists_and_results_recompute(spark, fixture_tables):
    """release() drops every frame the run persisted (entity frames and the
    restricted populations); the released result still answers, without
    caching again. Checked on RDD ids: the shared session's cleaner may
    drop other tests' caches meanwhile."""
    jsc = spark.sparkContext._jsc

    def ids():
        return set(jsc.getPersistentRDDs().keySet())

    before = ids()
    res = engine.run_suite(
        spark,
        fixtures.clip_suite(include_drift=False),
        fixture_tables,
        target_shapes=["ClipShape"],
        target_population="codec <> 'flac'",
    )
    counts = res.verdicts.groupBy("shape", "is_valid").count().collect()
    held = ids() - before
    assert held
    res.release()
    assert ids() & held == set()
    again = res.verdicts.groupBy("shape", "is_valid").count().collect()
    assert sorted(again) == sorted(counts)
    assert ids() - before == set()
