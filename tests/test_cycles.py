"""Cyclic shape-network fixpoint — tc3 analog (A→C→D→A,
/root/reference/tests/tc3/shapes/full/), terminated by the unbound⇒valid
rule (ValidationResultStreaming.py:25-26).

The engine iterates Jacobi-style from the all-valid initialization with
simultaneous updates per pass; the DuckDB oracle below replicates exactly
that recurrence and both must land on the same fixpoint."""

import duckdb
import pytest

from shaclapi_spark import engine, fixtures, oracle
from shaclapi_spark.suite import Constraint, Shape, Suite


@pytest.fixture(scope="module")
def cycle_result(spark, fixture_tables):
    return engine.run_suite(spark, fixtures.clip_cycle_suite(), fixture_tables)


def test_cycle_terminates_and_matches_oracle_fixpoint(cycle_result, fixture_dir):
    con = duckdb.connect()
    clips = oracle.clips_table_expr(fixture_dir["clips"])
    trs = oracle.clips_table_expr(fixture_dir["transcripts"])
    con.execute(f"CREATE VIEW clips AS SELECT * FROM {clips}")
    con.execute(f"CREATE VIEW tr AS SELECT * FROM {trs}")
    con.execute("""
        CREATE TABLE tr_base AS
        SELECT tr.transcript_id, tr.clip_id,
          ((tr.clip_id IS NULL OR tr.clip_id IN (SELECT clip_id FROM clips))
           AND coalesce(tr.text IS NOT NULL AND length(tr.text)>0, TRUE)
           AND (tr.n_tokens IS NULL OR tr.n_tokens >= 0)
           AND (tr.lang IS NULL OR tr.lang IN ('en','de','es'))
           AND (tr.clip_id IS NULL OR tr.text IS NULL OR p.mx IS NULL OR tr.text = p.mx)) AS base_ok
        FROM tr LEFT JOIN (SELECT clip_id, max(transcript) AS mx FROM clips GROUP BY clip_id) p
          ON p.clip_id = tr.clip_id""")
    con.execute("""
        CREATE TABLE clip_base AS
        SELECT c.clip_id,
          count(*) = 1 AS uniq,
          bool_and(c.sr_hz IS NOT NULL) AS sr_nn,
          bool_and(c.sr_hz IS NULL OR c.sr_hz BETWEEN 8000 AND 48000) AS sr_rng,
          bool_and(c.dur_ms IS NULL OR c.dur_ms BETWEEN 500 AND 30000) AS dur_ok,
          bool_and(coalesce(c.codec='pcm_s16le',TRUE)) AS or_codec,
          bool_and(coalesce(c.dur_ms<=30000,TRUE)) AS or_dur
        FROM clips c GROUP BY c.clip_id""")
    con.execute("CREATE TABLE tv AS SELECT transcript_id, clip_id, TRUE AS ok FROM tr_base")
    con.execute("CREATE TABLE cv AS SELECT clip_id, TRUE AS ok FROM clip_base")
    for _ in range(10):
        con.execute("""
            CREATE OR REPLACE TABLE cv2 AS
            SELECT b.clip_id,
              (b.uniq AND b.sr_nn AND b.sr_rng AND b.dur_ok
               AND coalesce(a.n_tr,0) >= 1 AND coalesce(a.n_tr,0) <= 1
               AND coalesce(a.n_valid,0) >= 1
               AND (b.or_codec OR coalesce(a.n_tok,0) >= 1 OR b.or_dur)) AS ok
            FROM clip_base b
            LEFT JOIN (
              SELECT t.clip_id, count(*) AS n_tr,
                     sum(CASE WHEN coalesce(v.ok,TRUE) THEN 1 ELSE 0 END) AS n_valid,
                     sum(CASE WHEN t.n_tokens >= 1 THEN 1 ELSE 0 END) AS n_tok
              FROM tr t
              LEFT JOIN tv v ON v.transcript_id = t.transcript_id
              GROUP BY t.clip_id) a ON a.clip_id = b.clip_id""")
        con.execute("""
            CREATE OR REPLACE TABLE tv2 AS
            SELECT tb.transcript_id, tb.clip_id,
              (tb.base_ok AND coalesce(
                 (SELECT sum(CASE WHEN cv.ok THEN 1 ELSE 0 END)
                  FROM clips c LEFT JOIN cv ON cv.clip_id = c.clip_id
                  WHERE c.clip_id = tb.clip_id), 0) >= 1) AS ok
            FROM tr_base tb""")
        ch = con.execute("""
            SELECT (SELECT count(*) FROM cv JOIN cv2 USING(clip_id) WHERE cv.ok<>cv2.ok)
                 + (SELECT count(*) FROM tv JOIN tv2 USING(transcript_id) WHERE tv.ok<>tv2.ok)
        """).fetchone()[0]
        con.execute("CREATE OR REPLACE TABLE cv AS SELECT * FROM cv2")
        con.execute("CREATE OR REPLACE TABLE tv AS SELECT * FROM tv2")
        if ch == 0:
            break
    exp_clip = dict(con.execute("SELECT clip_id, ok FROM cv").fetchall())
    exp_tr = dict(con.execute("SELECT transcript_id, ok FROM tv").fetchall())

    got = cycle_result.verdicts.collect()
    got_clip = {r.entity_id: r.is_valid for r in got if r.shape == "ClipShape"}
    got_tr = {r.entity_id: r.is_valid for r in got if r.shape == "TranscriptShape"}
    assert got_clip == exp_clip
    assert got_tr == exp_tr
    # the cycle must actually invalidate something beyond the acyclic run
    assert sum(1 for v in got_tr.values() if not v) > 0


def test_cycle_verdicts_complete(cycle_result, fixture_tables):
    n_clips = fixture_tables["clips"].select("clip_id").distinct().count()
    n_tr = fixture_tables["transcripts"].count()
    counts = {
        r.shape: r["count"]
        for r in cycle_result.verdicts.groupBy("shape").count().collect()
    }
    assert counts["ClipShape"] == n_clips
    assert counts["TranscriptShape"] == n_tr


def _self_ref_suite(**bounds):
    return Suite(
        shapes=[
            Shape(
                "S",
                "t",
                "id",
                constraints=[
                    Constraint(
                        "kids",
                        "qualified_shape",
                        {"child": "t", "fk": "parent_id", "shape": "S", **bounds},
                    )
                ],
            )
        ]
    )


def test_long_chain_reaches_the_greatest_fixpoint(spark):
    # e_i.parent_id = e_{i-1}: each round invalidates one more link, from
    # the childless tail e14 up to e0 — more rounds than any fixed cap
    n = 15
    parent = {f"e{i}": (f"e{i - 1}" if i else None) for i in range(n)}
    t = spark.createDataFrame(
        list(parent.items()), "id string, parent_id string"
    )
    res = engine.run_suite(spark, _self_ref_suite(min=1), {"t": t})
    got = {r.entity_id: r.is_valid for r in res.verdicts.collect()}

    # greatest fixpoint in plain Python: from all-valid, an entity stays
    # valid while at least one child is valid
    valid = dict.fromkeys(parent, True)
    while True:
        nxt = {
            e: any(valid[c] for c, p in parent.items() if p == e) for e in parent
        }
        if nxt == valid:
            break
        valid = nxt
    assert got == valid
    assert not any(valid.values())


def test_oscillating_cycle_raises(spark):
    # a and b are each other's only child; with max=0 an entity is valid
    # iff its child is invalid, so the pair flips every round
    t = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "id string, parent_id string"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        engine.run_suite(spark, _self_ref_suite(max=0), {"t": t})
