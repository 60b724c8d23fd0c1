import json
import os

import pytest

from perfbench.run import ROOT, declared_metrics, is_traced
from perfbench.stats import FailureCount, percentile, tail


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, want_p",
    [(10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, want_p):
    xs = [float(i) for i in range(n)]
    got = tail(xs)
    if want_p is None:
        assert got is None
        return
    p, value = got
    assert p == want_p
    assert sum(1 for x in xs if x > value) >= 10


def test_tail_with_ties_counts_ranks():
    xs = [5.0] * 30 + [100.0] * 10
    assert tail(xs) == (75.0, 5.0)


def test_error_rate_counts_failed_over_attempted():
    f = FailureCount()
    assert f.error_rate == 0.0
    for ok in (True, True, False, True):
        f.record(ok, "mismatch")
    assert (f.attempted, f.failed, f.error_rate) == (4, 1, 0.25)
    assert f.errors == ["mismatch"]


def test_traced_ops_are_abba_ordered():
    assert [is_traced(i) for i in range(8)] == [True, False, False, True] * 2


def test_metric_units_come_from_the_benchmark_declaration():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert declared_metrics(False) == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared_metrics(True)["engine.exec_s"] == "s"
    assert declared_metrics(False)["setup_s"] == "s"
