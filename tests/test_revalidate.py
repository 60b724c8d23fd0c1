"""Incremental revalidation: merged (old verdicts − affected ∪ fresh) must
equal a full run on the new table version — the reference's semantics are a
full re-validation per request (ref shaclapi/reduction/Reduction.py:25-64
only restricts by the caller's query); the incremental path must be an
invisible optimization.
"""

import pytest
from pyspark.sql import functions as F

from shaclapi_spark import fixtures, revalidate
from shaclapi_spark.engine import EngineConfig, run_suite

CFG = EngineConfig(short_circuit=True)


@pytest.fixture(scope="module")
def versions(fixture_tables):
    old = dict(fixture_tables)
    nc, nt = fixtures.mutate_clip_tables(old["clips"], old["transcripts"])
    new = dict(old)
    new["clips"] = nc
    new["transcripts"] = nt
    return old, new


def _sets(verdicts):
    # multiset, not set: a duplicate (entity, shape) row in the merge is a
    # bug a set-compare would hide
    from collections import Counter

    return Counter(
        (r.entity_id, r.shape, r.is_valid)
        for r in verdicts.select("entity_id", "shape", "is_valid").collect()
    )


def test_incremental_equals_full_run(spark, versions):
    old, new = versions
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts, config=CFG
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)


def test_affected_population_is_a_strict_subset(spark, versions):
    old, new = versions
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    pops = revalidate.affected_populations(suite, old, new)
    n_clips = new["clips"].select("clip_id").distinct().count()
    n_aff = pops["ClipShape"].count()
    # the mutation touches a bounded slice (~1/23 + 1/17 own + fk fan-in);
    # incrementality is pointless unless the affected set is well under half
    assert 0 < n_aff < 0.5 * n_clips


def test_affected_covers_every_flip(spark, versions):
    # every entity whose verdict differs between old and new full runs must
    # be inside the affected population (soundness of the superset)
    old, new = versions
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    old_v = _sets(run_suite(spark, suite, old, config=CFG).verdicts)
    new_v = _sets(run_suite(spark, suite, new, config=CFG).verdicts)
    pops = revalidate.affected_populations(suite, old, new)
    affected = {
        "ClipShape": {r[0] for r in pops["ClipShape"].collect()},
        "TranscriptShape": {
            r[0] for r in pops["TranscriptShape"].collect()
        },
    }
    flips = set(new_v) ^ set(old_v)
    for entity_id, shape, _ in flips:
        assert entity_id in affected[shape], (entity_id, shape)


def test_violations_merge_matches_full_run(spark, versions):
    old, new = versions
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental(
        spark,
        suite,
        old,
        new,
        old_res.verdicts,
        old_violations=old_res.violations,
        config=CFG,
    )
    from collections import Counter

    cols = ["entity_id", "shape", "constraint_id"]
    got = Counter(tuple(r) for r in inc.violations.select(*cols).collect())
    exp = Counter(tuple(r) for r in full_new.violations.select(*cols).collect())
    assert got == exp


def test_changed_entity_keys_multiset_sensitivity(spark):
    # two identical rows -> one: XOR-style fingerprints would cancel; the
    # (count, hash-sum) fingerprint must flag it
    old = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], ["k", "v"]
    )
    new = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    got = {
        r[0]
        for r in revalidate.changed_entity_keys(old, new, "k").collect()
    }
    assert got == {"a"}


def test_cyclic_incremental_equals_full_run(spark, versions):
    # tc3-style 2-cycle (ClipShape <-> TranscriptShape): the incremental
    # merge must equal a full fixpoint run on the new version
    old, new = versions
    suite = fixtures.clip_cycle_suite()
    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts, config=CFG
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)


def test_cyclic_affected_closed_and_restricted(spark, versions):
    # the SCC closure produces a strict subset, and the seeded engine
    # fixpoint evaluates ONLY that subset (no full-population rescan)
    old, new = versions
    suite = fixtures.clip_cycle_suite()
    pops = revalidate.affected_populations(suite, old, new)
    n_clips = new["clips"].select("clip_id").distinct().count()
    n_aff = pops["ClipShape"].count()
    assert 0 < n_aff < 0.5 * n_clips
    old_res = run_suite(spark, suite, old, config=CFG)
    res = run_suite(
        spark,
        suite,
        new,
        target_population={n: pops[n] for n in pops},
        config=CFG,
        cyclic_seed_verdicts=old_res.verdicts,
    )
    fresh_clip = res.verdicts_by_shape["ClipShape"].count()
    # restricted fixpoint: emitted verdicts bounded by the affected
    # population, far from the full table
    assert fresh_clip <= n_aff < 0.5 * n_clips


def test_drift_suite_rejected(spark, versions):
    old, new = versions
    with pytest.raises(ValueError, match="drift"):
        revalidate.affected_populations(
            fixtures.clip_suite(include_audio=False, include_drift=True),
            old,
            new,
        )


def test_incremental_three_level_dag(spark):
    # TPC-H 3-level DAG (Customer -> Order -> Lineitem): a lineitem change
    # must propagate up TWO qualified-shape levels; keys are native ints
    # (exercises the cast-to-string merge path)
    import __spark_entry__ as entry

    sf_dir = "/root/testdata/sf0.001"
    suite = entry._tpch_suite()
    old = entry._tpch_tables(spark, sf_dir)
    li = old["lineitem"]
    lk = F.col("l_orderkey")
    new = dict(old)
    # flip li_qty out of range for a slice; delete a slice of orders
    new["lineitem"] = li.withColumn(
        "l_quantity",
        F.when(lk % 31 == 2, F.lit(99)).otherwise(F.col("l_quantity")),
    )
    new["orders"] = old["orders"].filter(~(F.col("o_orderkey") % 37 == 3))

    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts, config=CFG
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)

    pops = revalidate.affected_populations(suite, old, new)
    n_cust = old["customer"].count()
    # upward propagation reached customers, but only a bounded slice
    n_aff_cust = pops["CustomerShape"].count()
    assert 0 < n_aff_cust < n_cust


def test_compare_cols_narrowing(spark, versions):
    # dropping the payload column from the diff (no constraint reads bytes
    # in the audio-less suite) must not change the result
    old, new = versions
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    cc = {
        "clips": ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"],
        "transcripts": ["transcript_id", "clip_id", "text", "lang", "n_tokens"],
    }
    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts, config=CFG, compare_cols=cc
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)


def test_changelog_path_equals_full_rerun(spark, versions):
    # Iceberg-changelog-shaped change relations (synthesized here from the
    # two parquet versions) must drive the SAME result as the full re-run;
    # the affected populations must also match the two-version diff's
    old, new = versions
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    cls = {
        t: revalidate.synthesize_changelog(old[t], new[t])
        for t in ("clips", "transcripts")
    }
    # the synthesized changelog carries _change_type alongside table columns
    assert "_change_type" in cls["clips"].columns
    assert set(cls["clips"].columns) - {"_change_type"} == set(old["clips"].columns)

    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental_from_changelogs(
        spark, suite, cls, new, old_res.verdicts, config=CFG
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)

    pops_cl = revalidate.affected_populations_from_changelogs(suite, cls, new)
    pops_2v = revalidate.affected_populations(suite, old, new)
    for shape in pops_2v:
        a = {r["__pop_id"] for r in pops_cl[shape].collect()}
        b = {r["__pop_id"] for r in pops_2v[shape].collect()}
        assert a == b, shape


def test_changelog_cyclic_equals_full_rerun(spark, versions):
    # cyclic SCC driven from changelog relations: delta-cost population
    # derivation + seeded restricted fixpoint == full re-run
    old, new = versions
    suite = fixtures.clip_cycle_suite()
    cls = {
        t: revalidate.synthesize_changelog(old[t], new[t])
        for t in ("clips", "transcripts")
    }
    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental_from_changelogs(
        spark, suite, cls, new, old_res.verdicts, config=CFG
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)


def test_changelog_missing_table_raises(spark, versions):
    # an absent changelog for a table the suite reads must fail loudly —
    # silently assuming "no changes" would miss verdict flips
    old, new = versions
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    cls = {"clips": revalidate.synthesize_changelog(old["clips"], new["clips"])}
    with pytest.raises(KeyError):
        revalidate.affected_populations_from_changelogs(suite, cls, new)


def test_cyclic_group_with_outside_referrer(spark):
    # round-4 review repro: shape X references INTO a cyclic group {A, B};
    # only X's own row changes, so A/B's affected populations are empty —
    # the seeded fixpoint must still publish verdicts for A's unaffected
    # entities or X's qualified_shape join coalesces the gap to valid
    from shaclapi_spark.suite import Constraint, Shape, Suite

    suite = Suite(
        shapes=[
            Shape(
                name="A",
                table="a",
                entity_col="aid",
                constraints=[
                    Constraint("a_flag", "expr", {"sql": "flag = 1"}),
                    Constraint(
                        "a_b",
                        "qualified_shape",
                        {"child": "b", "fk": "aid", "shape": "B", "min": 1},
                    ),
                ],
            ),
            Shape(
                name="B",
                table="b",
                entity_col="bid",
                constraints=[
                    Constraint("b_flag", "expr", {"sql": "bflag = 1"}),
                    Constraint(
                        "b_a",
                        "qualified_shape",
                        {
                            "child": "a",
                            "fk": "aid",
                            "local_key": "aid",
                            "shape": "A",
                            "min": 1,
                        },
                    ),
                ],
            ),
            Shape(
                name="X",
                table="x",
                entity_col="xid",
                constraints=[
                    Constraint("x_val", "expr", {"sql": "xval > 0"}),
                    Constraint(
                        "x_a",
                        "qualified_shape",
                        {
                            "child": "a",
                            "fk": "aid",
                            "local_key": "aid",
                            "shape": "A",
                            "min": 1,
                        },
                    ),
                ],
            ),
        ]
    )
    a = spark.createDataFrame([("a1", 0), ("a2", 1)], "aid string, flag int")
    b = spark.createDataFrame(
        [("b1", "a1", 1), ("b2", "a2", 1)], "bid string, aid string, bflag int"
    )
    x_old = spark.createDataFrame(
        [("x1", "a1", 1), ("x2", "a2", 1)], "xid string, aid string, xval int"
    )
    # only X's table changes; x1 still passes its own expr but its
    # referenced A entity (a1) remains invalid
    x_new = spark.createDataFrame(
        [("x1", "a1", 2), ("x2", "a2", 1)], "xid string, aid string, xval int"
    )
    old = {"a": a, "b": b, "x": x_old}
    new = {"a": a, "b": b, "x": x_new}
    old_res = run_suite(spark, suite, old, config=CFG)
    full_new = run_suite(spark, suite, new, config=CFG)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts, config=CFG
    )
    assert _sets(inc.verdicts) == _sets(full_new.verdicts)
    # the specific verdict the pre-fix engine flipped:
    got = {
        (r.entity_id, r.shape): r.is_valid for r in inc.verdicts.collect()
    }
    assert got[("x1", "X")] is False


def test_release_drops_every_frame_the_call_persisted(spark, fixture_dir, tmp_path):
    """The result owns the inner run's frames, the affected populations and
    the per-(table, key) diffs behind them: after release() no persisted
    RDD id is added. The tables are private copies, so no other test's
    cached plan can match these frames'."""
    import shutil

    old = {}
    for t in ("clips", "transcripts"):
        shutil.copy(fixture_dir[t], tmp_path / t)
        old[t] = spark.read.parquet(str(tmp_path / t))
    nc, nt = fixtures.mutate_clip_tables(old["clips"], old["transcripts"])
    new = {"clips": nc, "transcripts": nt}
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with run_suite(spark, suite, old, config=CFG) as old_res:
        with revalidate.revalidate_incremental(
            spark, suite, old, new, old_res.verdicts, config=CFG
        ) as inc:
            assert inc.verdicts.count() > 0
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
