import json
import os

import pytest

from perfbench import inputs
from perfbench.run import checked_op
from perfbench.stats import FailureCount
from perfbench.tracing import Tracer
from perfbench.workloads import OpResult


@pytest.fixture(scope="module")
def small_fixture(tmp_path_factory):
    from shaclapi_spark import fixture_io

    return fixture_io.ensure_fixture_pandas(2000, root=str(tmp_path_factory.mktemp("fixtures")))


@pytest.fixture(scope="module")
def oracle_clip_counts(small_fixture):
    d = os.path.dirname(small_fixture["clips"])
    sql = inputs.oracle_sqls(d, ["clip_verdicts"])["clip_verdicts"]
    assert d in sql
    return inputs.oracle_counts(sql)


def test_oracle_counts_cover_every_entity(oracle_clip_counts):
    per_shape = {}
    for (shape, _valid), n in oracle_clip_counts.items():
        per_shape[shape] = per_shape.get(shape, 0) + n
    assert per_shape == {"ClipShape": 2000, "TranscriptShape": 3000}


def run_ops(expected, observed_runs):
    failures = FailureCount()
    recs = [
        checked_op(run, expected, failures, f"op-{i}", Tracer(enabled=False))
        for i, run in enumerate(observed_runs)
    ]
    return failures, recs


def test_error_rate_is_zero_when_every_op_matches(oracle_clip_counts):
    engine_says = dict(oracle_clip_counts)
    op = lambda: OpResult(engine_says, sum(engine_says.values()))  # noqa: E731
    failures, recs = run_ops(oracle_clip_counts, [op] * 3)
    assert (failures.attempted, failures.failed, failures.error_rate) == (3, 0, 0.0)
    assert all("error" not in r for r in recs)


def test_corrupted_expectation_raises_error_rate(oracle_clip_counts):
    corrupt = dict(oracle_clip_counts)
    corrupt[("ClipShape", True)] += 1
    engine_says = dict(oracle_clip_counts)
    op = lambda: OpResult(engine_says, sum(engine_says.values()))  # noqa: E731
    failures, recs = run_ops(corrupt, [op] * 4)
    assert failures.error_rate == 1.0
    assert "('ClipShape', True)" in recs[0]["error"]


def test_raising_op_is_counted_and_the_run_goes_on(oracle_clip_counts):
    def boom():
        raise RuntimeError("executor lost")

    good = lambda: OpResult(dict(oracle_clip_counts), 1)  # noqa: E731
    failures, recs = run_ops(oracle_clip_counts, [good, boom, good])
    assert (failures.attempted, failures.failed) == (3, 1)
    assert recs[1]["error"] == "RuntimeError: executor lost"


def test_lock_mismatch_fails_loudly(small_fixture, tmp_path):
    lock = tmp_path / "lock.json"
    good = inputs.fingerprints(small_fixture)
    lock.write_text(json.dumps({"2000": good}))
    inputs.check_lock(2000, small_fixture, str(lock))
    lock.write_text(json.dumps({"2000": dict(good, clips="0" * 64)}))
    with pytest.raises(inputs.InputMismatch, match="clips"):
        inputs.check_lock(2000, small_fixture, str(lock))
    with pytest.raises(inputs.InputMismatch, match="no pinned"):
        inputs.check_lock(3000, small_fixture, str(lock))


def test_self_time_subtracts_children():
    t = Tracer(enabled=True)
    t.op_id = "op-0"
    with t.span("op"):
        with t.span("engine.build"):
            pass
        with t.span("engine.exec"):
            pass
    spans = {s["name"]: s for s in t.spans}
    assert spans["engine.exec"]["parent"] == spans["op"]["id"]
    assert {s["op"] for s in t.spans} == {"op-0"}
    self_s = t.self_times()
    op = spans["op"]["end"] - spans["op"]["start"]
    children = sum(spans[n]["end"] - spans[n]["start"] for n in ("engine.build", "engine.exec"))
    assert self_s["op"] == pytest.approx(op - children)
    off = Tracer(enabled=False)
    with off.span("op"):
        pass
    assert off.spans == []


def test_drift_oracle_follows_the_bound(small_fixture):
    from shaclapi_spark import fixtures

    d = os.path.dirname(small_fixture["clips"])
    suite = fixtures.clip_suite(include_audio=True, include_drift=True)
    drift = [c for c in suite.shapes[0].constraints if c.kind == "drift"]
    assert len(drift) == 2
    # the fixture's durations are skewed against the uniform reference, its
    # sample rates match theirs
    assert inputs.drift_counts(d, suite) == {("ClipShape", False): 1, ("ClipShape", True): 1}
    for c in drift:
        c.params["max_psi"] = 1e9
    assert inputs.drift_counts(d, suite) == {("ClipShape", True): 2}
    for c in drift:
        c.params["max_psi"] = 0.0
    assert inputs.drift_counts(d, suite) == {("ClipShape", False): 2}
    assert inputs.drift_counts(d, fixtures.clip_suite(include_drift=False)) == {}
