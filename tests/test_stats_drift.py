import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from shaclapi_spark import engine, fixtures, oracle
from shaclapi_spark.ops import drift as drift_ops
from shaclapi_spark.ops import stats as stats_ops


def test_column_stats_match_duckdb(spark, fixture_dir, fixture_tables):
    got = {
        r.column_name: r
        for r in stats_ops.column_stats(
            fixture_tables["clips"], ["sr_hz", "dur_ms", "codec"]
        ).collect()
    }
    con = duckdb.connect()
    clips = oracle.clips_table_expr(fixture_dir["clips"])
    n, sr_nulls, sr_min, sr_max, sr_nd = con.execute(
        f"SELECT count(*), sum(CASE WHEN sr_hz IS NULL THEN 1 ELSE 0 END),"
        f" min(sr_hz), max(sr_hz), count(DISTINCT sr_hz) FROM {clips}"
    ).fetchone()
    r = got["sr_hz"]
    assert r.n_rows == n
    assert float(r.null_rate) == pytest.approx(sr_nulls / n)
    assert int(r.min_value) == sr_min and int(r.max_value) == sr_max
    # HLL++ default rsd=0.05
    assert abs(r.approx_distinct - sr_nd) <= max(2, 0.1 * sr_nd)


def test_grouped_stats_salted(spark, fixture_dir, fixture_tables):
    got = {
        r.group: r
        for r in stats_ops.grouped_stats(
            fixture_tables["clips"], "codec", "dur_ms", n_salts=8
        ).collect()
    }
    con = duckdb.connect()
    clips = oracle.clips_table_expr(fixture_dir["clips"])
    for codec, n, mn, mx in con.execute(
        f"SELECT codec, count(*), min(dur_ms), max(dur_ms) FROM {clips} GROUP BY codec"
    ).fetchall():
        assert got[codec].n_rows == n
        assert got[codec].min_value == mn
        assert got[codec].max_value == mx
    # the fixture's codec skew: opus ≈ 70%
    total = sum(r.n_rows for r in got.values())
    assert got["opus"].n_rows / total == pytest.approx(0.7, abs=0.02)


def test_uniqueness_violation_keys(spark, fixture_tables):
    dups = stats_ops.uniqueness_violation_keys(
        fixture_tables["clips"], "clip_id"
    ).collect()
    # i % 997 == 0 within 0..1999 → i ∈ {0, 997, 1994}
    assert sorted(r.key for r in dups) == [
        "clip_00000000", "clip_00000997", "clip_00001994",
    ]
    assert all(r.n_rows == 2 for r in dups)


def test_ks_psi_math():
    ref = np.full(32, 1 / 32)
    ks, psi = drift_ops.ks_psi(ref.copy(), ref)
    assert ks == pytest.approx(0.0, abs=1e-9)
    assert psi == pytest.approx(0.0, abs=1e-9)
    shifted = np.zeros(32)
    shifted[-8:] = 1 / 8
    ks2, psi2 = drift_ops.ks_psi(shifted, ref)
    assert ks2 > 0.5 and psi2 > 1.0


def test_drift_detects_shifted_tail(spark, fixture_tables):
    ks, psi = drift_ops.drift_metrics(
        fixture_tables["clips"], "dur_ms", fixture_tables["ref_histograms"]
    )
    # 10% of rows shifted +15000 → visible drift, PSI above the 0.02 gate
    assert psi > 0.02
    # sr_hz is NOT shifted → negligible drift
    ks2, psi2 = drift_ops.drift_metrics(
        fixture_tables["clips"], "sr_hz", fixture_tables["ref_histograms"]
    )
    assert psi2 < 0.01


def test_drift_verdict_rows(spark, fixture_tables):
    res = engine.run_suite(
        spark, fixtures.clip_suite(include_audio=False), fixture_tables
    )
    drows = {
        r.reason
        for r in res.verdicts.filter(F.col("entity_id") == "__dataset__").collect()
        if not r.is_valid
    }
    assert "dur_drift" in drows  # shifted tail flagged
    assert "sr_drift" not in drows  # unshifted column passes


def test_grouped_quantiles_exact_interpolation(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(g="a", v=float(x)) for x in (10, 20, 30, 40)]
        + [Row(g="b", v=1.0)]
    )
    out = {r.g: r for r in stats_ops.grouped_quantiles(df, "g", "v").collect()}
    # 4 values: p50 = 20 + (30-20)*0.5 = 25; p90 = rank 2.7 → 30+(40-30)*0.7
    assert out["a"].p50 == 25.0
    assert abs(out["a"].p90 - 37.0) < 1e-12
    assert out["b"].p50 == 1.0 and out["b"].n_rows == 1


def test_speech_rate_check_bounds_and_nulls(spark):
    from pyspark.sql import Row

    from shaclapi_spark.ops.audio import speech_rate_check

    clips = spark.createDataFrame(
        [
            Row(clip_id="c1", dur_ms=10_000),  # 10 s
            Row(clip_id="c2", dur_ms=None),
        ]
    )
    tr = spark.createDataFrame(
        [
            Row(transcript_id="t1", clip_id="c1", n_tokens=20),  # 2 tok/s ok
            Row(transcript_id="t2", clip_id="c1", n_tokens=100),  # 10 tok/s high
            Row(transcript_id="t3", clip_id="c1", n_tokens=4),  # 0.4 tok/s low
            Row(transcript_id="t4", clip_id="c1", n_tokens=5),  # 0.5 exactly → ok
            Row(transcript_id="t5", clip_id="c2", n_tokens=7),  # null dur → unbound
        ]
    )
    out = {r.transcript_id: r.rate_ok for r in speech_rate_check(clips, tr).collect()}
    assert out == {"t1": True, "t2": False, "t3": False, "t4": True, "t5": None}


def test_quantile_anomalies(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(id=i, g="a", v=float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100])]
        + [Row(id=99, g="a", v=None), Row(id=100, g="b", v=5.0)]
    )
    out = {r.id: r for r in stats_ops.quantile_anomalies(df, "g", "v", 0.05, 0.95).collect()}
    # group a: p05/p95 of 1..9,100 — the 100 outlier is above p95
    assert out[9].is_anomaly is True
    assert out[0].is_anomaly is True  # 1 < p05 = 1.45
    assert out[4].is_anomaly is False
    assert out[99].is_anomaly is None  # null value -> unknown verdict
    # singleton group: band collapses to the value itself -> not anomalous
    assert out[100].is_anomaly is False


def test_freshness_check(spark):
    from datetime import datetime

    from pyspark.sql import Row

    rows = [
        Row(g="hot", ts=datetime(2024, 1, 1, 0, 0, 0)),
        Row(g="hot", ts=datetime(2024, 1, 1, 0, 30, 0)),
        Row(g="hot", ts=datetime(2024, 1, 1, 1, 0, 0)),
        Row(g="stale", ts=datetime(2023, 12, 31, 20, 0, 0)),
        Row(g="gappy", ts=datetime(2024, 1, 1, 0, 0, 0)),
        Row(g="gappy", ts=datetime(2024, 1, 1, 0, 59, 0)),
        Row(g="gappy", ts=datetime(2024, 1, 1, 0, 59, 30)),
    ]
    out = {
        r.g: r
        for r in stats_ops.freshness_check(
            spark.createDataFrame(rows), "g", "ts", max_lag_s=3600, max_gap_s=1800
        ).collect()
    }
    # hot: newest row IS the table max, gaps exactly at the 30-min limit
    assert out["hot"].fresh_ok and out["hot"].gap_ok
    assert out["hot"].lag_us == 0
    assert out["hot"].max_gap_us == 30 * 60 * 1_000_000
    # stale: 5h behind the table max
    assert not out["stale"].fresh_ok
    assert out["stale"].gap_ok  # single row: no gap -> coalesce(0) ok
    # gappy: 30s behind (fresh) but with a 59-minute internal gap
    assert out["gappy"].fresh_ok
    assert not out["gappy"].gap_ok


def test_grouped_quantiles_matches_builtin_percentile(spark):
    import numpy as np

    rng = np.random.default_rng(1)
    rows = [(f"g{int(i % 3)}", int(rng.integers(0, 500))) for i in range(5000)]
    rows.append(("g9", 42))  # singleton group
    df = spark.createDataFrame(rows, "codec string, dur long")
    mine = {
        r["codec"]: r
        for r in stats_ops.grouped_quantiles(df, "codec", "dur", [0.5, 0.9]).collect()
    }
    ref = df.groupBy("codec").agg(
        F.count("*").alias("n"),
        F.percentile("dur", F.lit(0.5)).alias("p50"),
        F.percentile("dur", F.lit(0.9)).alias("p90"),
    )
    for r in ref.collect():
        m = mine[r["codec"]]
        assert m["n_rows"] == r["n"]
        assert abs(m["p50"] - r["p50"]) < 1e-9
        assert abs(m["p90"] - r["p90"]) < 1e-9


def test_grouped_quantiles_value_salted_exchange(spark):
    """The first exchange must key on (group, value) — the value IS the
    salt that spreads a dominant codec group across reducers; a plain
    group-keyed sort aggregate would put 90% of rows on one task."""
    df = spark.createDataFrame([("a", 1)], "codec string, dur long")
    plan = (
        stats_ops.grouped_quantiles(df, "codec", "dur")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # Catalyst renames the cast value key `_groupingexpression`; the shape
    # that matters is a TWO-key first exchange (group col + value), not a
    # group-only sort aggregate
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert any(
        "codec" in p and len(p.split(",")) >= 3 for p in parts
    ), parts


def test_reconciliation_check_exact_and_orphans(spark):
    from shaclapi_spark.ops.stats import reconciliation_check

    parent = spark.createDataFrame(
        [(1, 100.00), (2, 55.50), (3, 10.00)], "pk long, total double"
    )
    child = spark.createDataFrame(
        [(1, 60.00), (1, 40.00), (2, 55.49)], "fk long, amt double"
    )
    out = {
        r.key: (r.expected_cents, r.actual_cents, r.diff_cents, r.n_children, r.ok)
        for r in reconciliation_check(
            parent, child, "pk", "fk",
            F.expr("CAST(round(total * 100) AS BIGINT)"),
            F.expr("CAST(round(amt * 100) AS BIGINT)"),
            tol_ppm=0,
        ).collect()
    }
    assert out[1] == (10000, 10000, 0, 2, True)      # exact match
    assert out[2] == (5550, 5549, -1, 1, False)      # off by one cent
    assert out[3] == (1000, 0, -1000, 0, False)      # childless parent
    # tolerance: 1 cent of 55.50 is ~180 ppm
    out2 = {
        r.key: r.ok
        for r in reconciliation_check(
            parent, child, "pk", "fk",
            F.expr("CAST(round(total * 100) AS BIGINT)"),
            F.expr("CAST(round(amt * 100) AS BIGINT)"),
            tol_ppm=200,
        ).collect()
    }
    assert out2 == {1: True, 2: True, 3: False}
