"""Binding-level explanations (ref functions.py:127-151 analog): each
violation joins back to the source rows that caused it."""

import json

import pytest
from pyspark.sql import functions as F

from shaclapi_spark import engine, explain, fixtures


@pytest.fixture(scope="module")
def run(spark, fixture_tables):
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    res = engine.run_suite(spark, suite, fixture_tables)
    return suite, res


def _ev(spark, fixture_tables, run, cids):
    suite, res = run
    return explain.violation_evidence(
        spark, suite, fixture_tables, res.violations, constraint_ids=cids
    )


def test_row_constraint_evidence(spark, fixture_tables, run):
    ev = _ev(spark, fixture_tables, run, ["sr_range"]).collect()
    # exactly the clips rows with out-of-range sr (i % 89 == 0 → sr = 0)
    bad_rows = fixture_tables["clips"].filter(
        F.col("sr_hz").isNotNull() & ~F.col("sr_hz").between(8000, 48000)
    )
    assert len(ev) == bad_rows.count() > 0
    for r in ev:
        payload = json.loads(r.evidence)
        assert payload["sr_hz"] == 0
        assert r.source_table == "clips" and r.constraint_id == "sr_range"


def test_unique_evidence_has_every_dup_row(spark, fixture_tables, run):
    ev = _ev(spark, fixture_tables, run, ["clip_unique"])
    per_entity = {
        r.entity_id: r.n for r in ev.groupBy("entity_id").agg(F.count("*").alias("n")).collect()
    }
    assert per_entity and all(n == 2 for n in per_entity.values())


def test_fk_exists_evidence_is_dangling_rows(spark, fixture_tables, run):
    ev = _ev(spark, fixture_tables, run, ["tr_fk"]).collect()
    assert ev
    for r in ev:
        assert json.loads(r.evidence)["clip_id"].startswith("clip_missing_")


def test_fk_match_evidence_carries_parent_value(spark, fixture_tables, run):
    ev = _ev(spark, fixture_tables, run, ["tr_text_match"]).collect()
    assert ev
    mutated = conflicting = 0
    for r in ev:
        payload = json.loads(r.evidence)
        if payload["parent_distinct_values"] > 1:
            conflicting += 1  # the duplicated-parent seed
        else:
            assert payload["text"] != payload["parent_value"]
            mutated += 1
    assert mutated > 0 and conflicting > 0


def test_count_evidence_lists_counted_children(spark, fixture_tables, run):
    suite, res = run
    ev = _ev(spark, fixture_tables, run, ["tr_max1"])
    # for every tr_max1 violation the evidence is >= 2 transcript rows
    counts = {
        r.entity_id: r.n
        for r in ev.groupBy("entity_id").agg(F.count("*").alias("n")).collect()
    }
    bad = {
        r.entity_id
        for r in res.violations.filter(F.col("constraint_id") == "tr_max1").collect()
    }
    assert set(counts) == bad
    assert all(n >= 2 for n in counts.values())
    assert all(r.source_table == "transcripts" for r in ev.select("source_table").distinct().collect())


def test_evidence_covers_only_violating_entities(spark, fixture_tables, run):
    suite, res = run
    ev = _ev(spark, fixture_tables, run, ["sr_not_null", "dur_range"])
    pairs = {
        (r.entity_id, r.constraint_id)
        for r in ev.select("entity_id", "constraint_id").distinct().collect()
    }
    bad = {
        (r.entity_id, r.constraint_id)
        for r in res.violations.filter(
            F.col("constraint_id").isin("sr_not_null", "dur_range")
        ).collect()
    }
    assert pairs == bad


def test_no_selected_constraint_gives_typed_empty_jvm_local_rows(spark, fixture_tables, run):
    ev = _ev(spark, fixture_tables, run, ["no_such_constraint"])
    assert ev.columns == [
        "entity_id", "shape", "constraint_id", "source_table", "evidence"
    ]
    assert "Scan ExistingRDD" not in ev._jdf.queryExecution().executedPlan().toString()
    assert ev.collect() == []
