"""API facade parity with the reference's entry points (SURVEY.md §3) and
the metrics recorder (stats sink analog, statsCalculation.py:112-170)."""

from shaclapi_spark import api, fixtures
from shaclapi_spark.metrics import MetricsRecorder
from shaclapi_spark.suite import Constraint, Shape, Suite


def test_validation_summary_counts(spark, fixture_tables):
    out = api.validation_summary(
        spark,
        fixtures.clip_suite(include_audio=False, include_drift=False),
        fixture_tables,
    )
    shapes = out["shapes"]
    assert set(shapes) == {"ClipShape", "TranscriptShape"}
    n_clips = fixture_tables["clips"].select("clip_id").distinct().count()
    assert shapes["ClipShape"]["valid"] + shapes["ClipShape"]["invalid"] == n_clips
    assert shapes["ClipShape"]["invalid"] > 0


def test_explain_reduce_analog():
    suite = fixtures.clip_cycle_suite()
    ex = api.explain(suite, target_shapes=["ClipShape"])
    assert set(ex["shapes"]) == {"ClipShape", "TranscriptShape"}
    # the 2-cycle condenses into one cyclic group (tc3 analog)
    assert any(g["cyclic"] and set(g["shapes"]) == {"ClipShape", "TranscriptShape"} for g in ex["order"])

    # constraint removal: only columns the "query" touches survive on the target
    acyc = fixtures.clip_suite(include_audio=False, include_drift=False)
    ex2 = api.explain(acyc, ["ClipShape"], relevant_columns={"sr_hz"})
    kept = ex2["constraints"]["ClipShape"]
    assert "sr_range" in kept and "sr_not_null" in kept
    assert "dur_range" not in kept


def test_schema_overlap():
    a = Shape(name="A", table="t", entity_col="id", constraints=[
        Constraint("a_ref", "qualified_shape", {"child": "t2", "fk": "fk", "shape": "B", "min": 1}),
    ])
    b = Shape(name="B", table="t2", entity_col="id", constraints=[])
    c = Shape(name="C", table="t3", entity_col="id", constraints=[])
    suite = Suite(shapes=[a, b, c])
    # reduced(A) = {A, B}; reduced(C) = {C} → no overlap
    assert api.schema_overlap(suite, ["A"], ["C"]) == 0.0
    # reduced(B) = {B} ⊂ reduced(A) → overlap 1.0
    assert api.schema_overlap(suite, ["A"], ["B"]) == 1.0


def test_metrics_recorder(spark):
    rec = MetricsRecorder(run_id="r1")
    with rec.stage("phase_a") as h:
        h.record_rows(42)
    rec.record("phase_b", 0.5, 7)
    df = rec.to_df(spark)
    rows = {r.stage: r for r in df.collect()}
    assert rows["phase_a"].n_rows == 42
    assert rows["phase_b"].wall_sec == 0.5
    assert all(r.run_id == "r1" for r in rows.values())


def test_metrics_recorder_ring_buffer():
    """max_rows bounds a shared recorder: only the most recent entries
    survive (round-4 advice — the service recorder must not grow without
    limit across requests)."""
    rec = MetricsRecorder(run_id="svc", max_rows=5)
    for i in range(12):
        rec.record(f"s{i}", 0.1)
        rec.mark_emission(0.0, n_rows=1)
    assert len(rec.rows) == 5
    assert [r[1] for r in rec.rows] == ["s7", "s8", "s9", "s10", "s11"]
    assert len(rec.trace) == 5
    # cumulative answer count keeps counting across evictions
    assert rec.trace[-1][1] == 12


def test_mark_first_exactly_once_across_ring_eviction():
    """mark_first stays exactly-once after the ring buffer has evicted
    its row: a later call must not record the stage a second time."""
    rec = MetricsRecorder(run_id="svc", max_rows=3)
    rec.mark_first("first_verdict_sec", since_ts=0.0, n_rows=1)
    for i in range(5):
        rec.record(f"s{i}", 0.1)
    assert all(r[1] != "first_verdict_sec" for r in rec.rows)  # evicted
    rec.mark_first("first_verdict_sec", since_ts=0.0, n_rows=1)
    assert all(r[1] != "first_verdict_sec" for r in rec.rows)
    assert len(rec.rows) == 3


def test_run_anytime_mode(spark, fixture_tables, tmp_path):
    from shaclapi_spark import api, fixtures
    from shaclapi_spark.lineage import LineageRun

    out = str(tmp_path / "anytime")
    res = api.run(
        spark,
        fixtures.clip_suite(include_audio=False, include_drift=False),
        fixture_tables,
        target_shapes=["ClipShape"],
        mode="anytime",
        out_dir=out,
        n_waves=4,
    )
    assert isinstance(res, LineageRun)
    assert res.ran == [0, 1, 2, 3] and res.first_verdict_sec is not None
    got = spark.read.parquet(out + "/verdicts/wave=*")
    n_entities = fixture_tables["clips"].select("clip_id").distinct().count()
    assert got.filter(got.shape == "ClipShape").count() == n_entities


def test_run_anytime_cyclic_forces_blocking(spark, fixture_tables, tmp_path):
    # the reference forces blocking when anytime semantics are impossible
    # (shaclapi/api.py:144-166); a cyclic target does the same here
    from shaclapi_spark import api, fixtures
    from shaclapi_spark.engine import SuiteResult

    res = api.run(
        spark,
        fixtures.clip_cycle_suite(),
        fixture_tables,
        target_shapes=["ClipShape"],
        mode="anytime",
        out_dir=str(tmp_path / "cyc"),
    )
    assert isinstance(res, SuiteResult)
    assert res.verdicts.filter(res.verdicts.shape == "ClipShape").count() > 0


def test_enforce_splits_clean_and_quarantine(spark, fixture_tables):
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    clean, quar = api.enforce(spark, suite, fixture_tables, "ClipShape", "clip_id")
    n_total = fixture_tables["clips"].count()
    n_clean, n_quar = clean.count(), quar.count()
    assert n_clean + n_quar == n_total
    assert n_quar > 0  # the fixture seeds violations
    rows = quar.select("clip_id", "n_violations", "reasons").collect()
    for r in rows:
        assert r.n_violations >= 1
        assert r.reasons  # every quarantined row names its constraints
        assert r.reasons == ",".join(sorted(r.reasons.split(",")))
    # clean rows re-validate clean: enforcing the clean table quarantines
    # fewer (row-local constraints all pass; cross-row ones may shift)
    res = api.run(spark, suite, {**fixture_tables, "clips": clean})
    row_bad = res.verdicts.filter(
        "shape = 'ClipShape' AND entity_id != '__dataset__' AND NOT is_valid"
    ).count()
    assert row_bad <= n_quar
