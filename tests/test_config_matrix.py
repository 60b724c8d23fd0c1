"""Config-matrix smoke — the reference runs every test file across backend ×
flag combinations asserting no exception and identical result sets
(/root/reference/tests/test_main.py:166-213). Here: engine flags ×
target restriction × constraint removal; verdict SETS for the target shape
must not depend on performance flags."""

import pytest

from shaclapi_spark import fixtures
from shaclapi_spark.engine import EngineConfig, run_suite
from shaclapi_spark.verdicts import verdict_sets


@pytest.fixture(scope="module")
def baseline_sets(spark, fixture_tables):
    res = run_suite(
        spark,
        fixtures.clip_suite(include_audio=True, include_drift=False),
        fixture_tables,
    )
    return verdict_sets(res.verdicts, ["ClipShape"])


@pytest.mark.parametrize("short_circuit", [True, False])
def test_perf_flags_do_not_change_verdicts(
    spark, fixture_tables, baseline_sets, short_circuit
):
    cfg = EngineConfig(short_circuit=short_circuit)
    res = run_suite(
        spark,
        fixtures.clip_suite(include_audio=True, include_drift=False),
        fixture_tables,
        config=cfg,
    )
    assert verdict_sets(res.verdicts, ["ClipShape"]) == baseline_sets


def test_target_restriction_and_prune(spark, fixture_tables, baseline_sets):
    res = run_suite(
        spark,
        fixtures.clip_suite(include_audio=True, include_drift=False),
        fixture_tables,
        target_shapes=["ClipShape"],
    )
    got = verdict_sets(res.verdicts, ["ClipShape"])
    assert got == baseline_sets


def test_constraint_removal_changes_only_removed(spark, fixture_tables):
    # restricting to sr_hz drops dur/transcript/audio checks from the target
    res = run_suite(
        spark,
        fixtures.clip_suite(include_audio=True, include_drift=False),
        fixture_tables,
        target_shapes=["ClipShape"],
        relevant_columns={"sr_hz"},
    )
    ids = {r.constraint_id for r in res.violations.collect()}
    assert "sr_range" in ids and "sr_not_null" in ids
    assert "dur_range" not in ids and "pcm_snr" not in ids
    # unique survives removal (entity identity is always relevant)
    assert "clip_unique" in ids


def test_empty_target_population(spark, fixture_tables):
    # border case: a target filter matching zero rows returns empty relations
    # without error (tc_further_border_cases/no_instances_at_all analog)
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    suite.shape("ClipShape").target_filter = "codec = 'nonexistent'"
    res = run_suite(spark, suite, fixture_tables, target_shapes=["ClipShape"])
    assert res.verdicts.filter("shape = 'ClipShape'").count() == 0
    assert res.violations.filter("shape = 'ClipShape'").count() == 0
