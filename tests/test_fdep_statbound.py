"""Engine-level tests for the two round-3 constraint kinds:

functional_dep — a column must be constant within each entity (rides the
    existing entity groupBy; 8-byte xxhash64 values cross the shuffle, never
    raw payload). Verified against an independent DuckDB count(distinct)
    oracle over the same parquet.
stat_bound — dataset-grain aggregate bounds (null-rate / row-count /
    cardinality / central-tendency), the north-star's per-column stats
    promoted to first-class pass/fail constraints; all constraints over one
    (table, target_filter) source fuse into ONE aggregate job.
"""

import duckdb
from pyspark.sql import functions as F

from shaclapi_spark import engine, fixtures, oracle
from shaclapi_spark.ops import drift as drift_ops, stats as stats_ops
from shaclapi_spark.suite import Constraint, Shape, Suite


def _fdep_suite():
    return Suite(
        shapes=[
            Shape(
                name="ClipShape",
                table="clips",
                entity_col="clip_id",
                constraints=[
                    Constraint("clip_unique", "unique", {"column": "clip_id"}),
                    Constraint(
                        "tr_constant", "functional_dep", {"column": "transcript"}
                    ),
                ],
            )
        ]
    )


def test_functional_dep_matches_duckdb_oracle(spark, fixture_dir, fixture_tables):
    res = engine.run_suite(spark, _fdep_suite(), fixture_tables)
    got_bad = sorted(
        r.entity_id
        for r in res.violations.filter(
            F.col("constraint_id") == "tr_constant"
        ).collect()
    )
    con = duckdb.connect()
    clips = oracle.clips_table_expr(fixture_dir["clips"])
    exp_bad = sorted(
        r[0]
        for r in con.execute(
            f"SELECT clip_id FROM {clips} GROUP BY clip_id "
            "HAVING count(DISTINCT transcript) > 1"
        ).fetchall()
    )
    assert got_bad == exp_bad
    assert len(exp_bad) >= 1  # the (alt)-transcript dup seeds actually fire


def test_functional_dep_all_null_is_vacuous(spark):
    df = spark.createDataFrame(
        [("e1", None), ("e1", None), ("e2", "x"), ("e2", "x"), ("e3", "x"), ("e3", None)],
        schema="eid string, v string",
    )
    suite = Suite(
        shapes=[
            Shape(
                name="S",
                table="t",
                entity_col="eid",
                constraints=[Constraint("c_fd", "functional_dep", {"column": "v"})],
            )
        ]
    )
    res = engine.run_suite(spark, suite, {"t": df})
    got = {r.entity_id: r.is_valid for r in res.verdicts.collect()}
    # e1: all NULL -> vacuous; e2: constant; e3: NULLs ignored, one value
    assert got == {"e1": True, "e2": True, "e3": True}
    # grouping happened even without a unique constraint: 3 entities, 6 rows
    assert res.verdicts.count() == 3


def test_functional_dep_groups_without_unique(spark):
    df = spark.createDataFrame(
        [("e1", 1), ("e1", 2), ("e2", 5), ("e2", 5)],
        schema="eid string, v int",
    )
    suite = Suite(
        shapes=[
            Shape(
                name="S",
                table="t",
                entity_col="eid",
                constraints=[Constraint("c_fd", "functional_dep", {"column": "v"})],
            )
        ]
    )
    res = engine.run_suite(spark, suite, {"t": df})
    got = {r.entity_id: r.is_valid for r in res.verdicts.collect()}
    assert got == {"e1": False, "e2": True}
    viol = res.violations.collect()
    assert len(viol) == 1 and viol[0].entity_id == "e1"
    assert viol[0].constraint_id == "c_fd"


def _statbound_suite(null_rate_max: float, avg_dur_max: float):
    return Suite(
        shapes=[
            Shape(
                name="ClipShape",
                table="clips",
                entity_col="clip_id",
                constraints=[
                    Constraint("dur_range", "range", {"column": "dur_ms", "min": 0}),
                    Constraint(
                        "sb_null_rate",
                        "stat_bound",
                        {
                            "metric": "avg(CASE WHEN sr_hz IS NULL THEN 1.0 ELSE 0.0 END)",
                            "max": null_rate_max,
                            "columns": ["sr_hz"],
                        },
                    ),
                    Constraint(
                        "sb_avg_dur",
                        "stat_bound",
                        {
                            "metric": "avg(dur_ms)",
                            "max": avg_dur_max,
                            "columns": ["dur_ms"],
                        },
                    ),
                ],
            )
        ]
    )


def test_stat_bound_verdicts_match_duckdb(spark, fixture_dir, fixture_tables):
    con = duckdb.connect()
    clips = oracle.clips_table_expr(fixture_dir["clips"])
    null_rate, avg_dur = con.execute(
        f"SELECT avg(CASE WHEN sr_hz IS NULL THEN 1.0 ELSE 0.0 END), avg(dur_ms) FROM {clips}"
    ).fetchone()
    # bound 1 passes (bound above the true value), bound 2 fails (below)
    res = engine.run_suite(
        spark,
        _statbound_suite(null_rate + 0.001, avg_dur - 1.0),
        fixture_tables,
    )
    ds = {
        r.reason
        for r in res.verdicts.filter(F.col("entity_id") == "__dataset__").collect()
        if not r.is_valid
    }
    assert ds == {"sb_avg_dur"}
    viols = {
        r.constraint_id
        for r in res.violations.filter(F.col("entity_id") == "__dataset__").collect()
    }
    assert viols == {"sb_avg_dur"}
    # entity verdicts are untouched by dataset constraints (no unique/
    # functional_dep constraint -> entity-grain fast path -> one verdict/row)
    n_entities = res.verdicts.filter(F.col("entity_id") != "__dataset__").count()
    assert n_entities == fixture_tables["clips"].count()


def test_stat_bound_empty_source_is_vacuous(spark):
    df = spark.createDataFrame([("e1", 10)], schema="eid string, v int")
    suite = Suite(
        shapes=[
            Shape(
                name="S",
                table="t",
                entity_col="eid",
                target_filter="v > 100",  # empty source -> NULL avg -> valid
                constraints=[
                    Constraint(
                        "sb",
                        "stat_bound",
                        {"metric": "avg(v)", "min": 0, "max": 1, "columns": ["v"]},
                    )
                ],
            )
        ]
    )
    res = engine.run_suite(spark, suite, {"t": df})
    row = res.verdicts.filter(F.col("entity_id") == "__dataset__").collect()
    assert len(row) == 1 and row[0].is_valid


def test_stat_bound_min_violation_detail(spark):
    df = spark.createDataFrame(
        [("e1", 10), ("e2", 20)], schema="eid string, v int"
    )
    suite = Suite(
        shapes=[
            Shape(
                name="S",
                table="t",
                entity_col="eid",
                constraints=[
                    Constraint(
                        "sb_lo",
                        "stat_bound",
                        {"metric": "count(*)", "min": 5, "columns": []},
                    )
                ],
            )
        ]
    )
    res = engine.run_suite(spark, suite, {"t": df})
    viol = res.violations.collect()
    assert len(viol) == 1
    assert viol[0].constraint_id == "sb_lo"
    assert "value=2.0" in viol[0].detail and "min=5" in viol[0].detail


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_stat_bound_rows_scan_no_python_rdd(spark, fixture_tables):
    res = engine.run_suite(spark, _statbound_suite(1.0, 0.0), fixture_tables)
    for df in (res.verdicts, res.violations):
        assert "Scan ExistingRDD" not in _plan(df)


def test_stat_bound_rows_round_trip_quotes_and_backslashes(spark):
    df = spark.createDataFrame(
        [("e1", "opus"), ("e2", "opus"), ("e3", "flac")],
        schema="eid string, codec string",
    )
    name, cid = "O'Brien\\Shape", "sb_'q\\"
    metric = "count(CASE WHEN codec = 'opus' THEN 1 END)"
    suite = Suite(
        shapes=[
            Shape(
                name=name,
                table="t",
                entity_col="eid",
                constraints=[
                    Constraint(
                        cid, "stat_bound", {"metric": metric, "max": 1, "columns": ["codec"]}
                    )
                ],
            )
        ]
    )
    res = engine.run_suite(spark, suite, {"t": df})
    (v,) = res.verdicts.filter(F.col("entity_id") == "__dataset__").collect()
    assert (v.shape, v.is_valid, v.reason) == (name, False, cid)
    (x,) = res.violations.collect()
    assert (x.shape, x.constraint_id) == (name, cid)
    assert x.detail == f"stat_bound({metric}) value=2.0 min=None max=1"


def test_dataset_rows_without_violations_are_typed_empty(spark, fixture_tables):
    lax = fixtures.clip_suite(include_audio=False, include_drift=True)
    for shape in lax.shapes:
        for c in shape.constraints:
            if c.kind == "drift":
                c.params["max_psi"] = 1e9
    for vd, vl in (
        drift_ops.evaluate_drift_constraints(spark, lax, fixture_tables),
        stats_ops.evaluate_stat_bound_constraints(
            spark, _statbound_suite(1.0, 1e12), fixture_tables
        ),
    ):
        assert vd.count() == 2 and vd.filter("is_valid").count() == 2
        assert vl.schema.simpleString() == (
            "struct<entity_id:string,shape:string,constraint_id:string,detail:string>"
        )
        assert vl.collect() == []
