"""Driver contract for the spark-graft builder (PySpark target).

Exposes the shaclapi_spark engine (constraint validation over the
audio-clips table mandated by BASELINE.json) plus the training-data
pipeline operators (dedup / similarity / text / multimodal) over the
driver-provided TPC-H-ish tables.

Clips-table queries read a deterministic fixture written with pandas
(shaclapi_spark.fixture_io) so the DuckDB oracle reads the *exact same
parquet files* via read_parquet(); it is materialized at import time.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaclapi_spark import fixture_io, fixtures, oracle
from shaclapi_spark import verdicts as V
from shaclapi_spark.datagen import fixture_n_clips
from shaclapi_spark.engine import EngineConfig, run_suite
from shaclapi_spark.ops import diff as diff_ops
from shaclapi_spark.ops import drift as drift_ops
from shaclapi_spark.ops import privacy as privacy_ops
from shaclapi_spark.ops import stats as stats_ops
from shaclapi_spark.pipeline import cluster as cl
from shaclapi_spark.pipeline import corpus
from shaclapi_spark.pipeline import scrub
from shaclapi_spark.pipeline import chunk as ck
from shaclapi_spark.pipeline import dedup as dd
from shaclapi_spark.pipeline import sampling as sp
from shaclapi_spark.pipeline import sessions as sess
from shaclapi_spark.pipeline import audio_analysis as aa
from shaclapi_spark.pipeline import audio_transform as at
from shaclapi_spark.pipeline import imagery as ig
from shaclapi_spark.pipeline import multimodal as mm
from shaclapi_spark.pipeline import asr_qa
from shaclapi_spark.pipeline import shards
from shaclapi_spark.pipeline import similarity as sim
from shaclapi_spark.pipeline import text as tx
from shaclapi_spark.pipeline import webclean as wc
from shaclapi_spark.suite import Constraint, Shape, Suite

# ---------------------------------------------------------------------------
# fixture plumbing — materialize at import so oracle SQL paths always exist
# ---------------------------------------------------------------------------

_ORACLE_N = 20000  # fixture scale at the driver's correctness sf (0.01)

try:  # pragma: no cover - insurance; queries also ensure lazily
    fixture_io.ensure_fixture_pandas(_ORACLE_N)
    fixture_io.ensure_fixture_pandas(2000)
except Exception:
    pass


def _clip_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    n = fixture_n_clips(sf_dir)
    paths = fixture_io.ensure_fixture_pandas(n)
    return {
        name: spark.read.parquet(paths[name])
        for name in ("clips", "transcripts", "ref_histograms")
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _clips_pq(table: str) -> str:
    path = fixture_io.fixture_paths(_ORACLE_N)[table]
    return f"read_parquet('{path}')"


_CFG = EngineConfig(short_circuit=True)

# stopword list literals shared between Spark and oracle text queries
_STOP_EN = tx.LANG_PROFILES["en"]

# deterministic ANN/top-k query vector (dim matches the embeddings table)
_QUERY_VEC = [math.sin(1.0 + i) for i in range(64)]


# ---------------------------------------------------------------------------
# TPC-H constraint suite: 3-level shape DAG over driver-provided tables
# ---------------------------------------------------------------------------

def _tpch_suite() -> Suite:
    lineitem = Shape(
        name="LineitemShape",
        table="lineitem",
        entity_col="li_id",
        constraints=[
            Constraint("li_qty", "range", {"column": "l_quantity", "min": 1, "max": 50}),
            Constraint("li_disc", "range", {"column": "l_discount", "min": 0.0, "max": 0.1}),
            Constraint("li_price", "expr", {"sql": "l_extendedprice > 0"}),
            Constraint(
                "li_part",
                "fk_exists",
                {"column": "l_partkey", "parent": "part", "parent_col": "p_partkey"},
            ),
        ],
    )
    orders = Shape(
        name="OrderShape",
        table="orders",
        entity_col="o_orderkey",
        constraints=[
            Constraint("o_cust_nn", "not_null", {"column": "o_custkey"}),
            Constraint(
                "o_cust_fk",
                "fk_exists",
                {"column": "o_custkey", "parent": "customer", "parent_col": "c_custkey"},
            ),
            Constraint("o_price", "expr", {"sql": "o_totalprice > 0"}),
            Constraint(
                "o_li_min",
                "min_count",
                {"child": "lineitem", "fk": "l_orderkey", "min": 1},
            ),
            Constraint(
                "o_li_valid",
                "qualified_shape",
                {"child": "lineitem", "fk": "l_orderkey", "shape": "LineitemShape", "min": 1},
            ),
        ],
    )
    customer = Shape(
        name="CustomerShape",
        table="customer",
        entity_col="c_custkey",
        constraints=[
            Constraint("c_name_nn", "not_null", {"column": "c_name"}),
            Constraint(
                "c_nat_fk",
                "fk_exists",
                {"column": "c_nationkey", "parent": "nation", "parent_col": "n_nationkey"},
            ),
            Constraint(
                "c_ord_min",
                "min_count",
                {"child": "orders", "fk": "o_custkey", "min": 1},
            ),
            Constraint(
                "c_ord_valid",
                "qualified_shape",
                {"child": "orders", "fk": "o_custkey", "shape": "OrderShape", "min": 1},
            ),
        ],
    )
    return Suite(shapes=[lineitem, orders, customer])


def _tpch_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "li_id",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string"),
    )
    return {
        "lineitem": li,
        "orders": _t(spark, sf_dir, "orders"),
        "customer": _t(spark, sf_dir, "customer"),
        "part": _t(spark, sf_dir, "part"),
        "nation": _t(spark, sf_dir, "nation"),
    }


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_clip_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    res = run_suite(
        spark, fixtures.clip_suite(include_audio=True, include_drift=False), t, config=_CFG
    )
    return res.verdicts.select("entity_id", "shape", "is_valid")


def q_clip_verdicts_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    # query-driven target restriction (Reduction.replace_target_query analog):
    # validate only the flac sub-population; helper verdicts restricted by
    # propagation, output filtered to the target shape
    t = _clip_tables(spark, sf_dir)
    res = run_suite(
        spark,
        fixtures.clip_suite(include_audio=True, include_drift=False),
        t,
        target_shapes=["ClipShape"],
        target_population="codec = 'flac'",
        config=_CFG,
    )
    return res.verdicts.filter(F.col("shape") == "ClipShape").select(
        "entity_id", "shape", "is_valid"
    )


def q_clip_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    res = run_suite(
        spark, fixtures.clip_suite(include_audio=True, include_drift=False), t, config=_CFG
    )
    return res.violations.select("entity_id", "shape", "constraint_id")


def q_clips_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # enforcement split: the invalid clip rows annotated with their
    # recorded constraint failures — the audit relation api.enforce
    # produces between validate and write
    from shaclapi_spark import api as api_mod

    t = _clip_tables(spark, sf_dir)
    _clean, quar = api_mod.enforce(
        spark,
        fixtures.clip_suite(include_audio=True, include_drift=False),
        t,
        "ClipShape",
        "clip_id",
        config=_CFG,
    )
    return quar.select("clip_id", "codec", "n_violations", "reasons")


def q_shacl_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # W3C ValidationReport rows from the clip-suite violations; the
    # component CASE in the oracle is generated from the SAME
    # report.component_map, so Spark and DuckDB share one mapping
    from shaclapi_spark import report

    t = _clip_tables(spark, sf_dir)
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    res = run_suite(spark, suite, t, config=_CFG)
    return report.validation_report(res.violations, suite).select(
        "focus_node", "source_shape", "constraint_id", "component", "severity"
    )


def q_violation_evidence_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # binding-level explanation (ref functions.py:127-151 analog): the
    # dangling source rows behind every tr_fk referential violation
    from shaclapi_spark import explain

    t = _clip_tables(spark, sf_dir)
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    res = run_suite(spark, suite, t, config=_CFG)
    ev = explain.violation_evidence(
        spark, suite, t, res.violations, constraint_ids=["tr_fk"]
    )
    return ev.select(
        "entity_id",
        "shape",
        "constraint_id",
        "source_table",
        F.get_json_object("evidence", "$.clip_id").alias("dangling_clip_id"),
    )


def q_verdict_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        q_clip_verdicts(spark, sf_dir)
        .groupBy("shape")
        .agg(
            F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
            F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
        )
    )


def q_clip_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    res = run_suite(
        spark, fixtures.clip_suite(include_audio=True, include_drift=False), t, config=_CFG
    )
    return res.summary


def q_clip_cycle_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    res = run_suite(spark, fixtures.clip_cycle_suite(), t, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid")


def q_fdep_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # functional_dep: transcript must be constant within each clip entity
    # (the %997 duplicate rows carry a conflicting '(alt)' transcript).
    # Rides the same single entity groupBy as `unique`, shuffling 8-byte
    # xxhash64 values instead of raw transcripts.
    t = _clip_tables(spark, sf_dir)
    suite = Suite(
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
    res = run_suite(spark, suite, t, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def q_reconcile_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reconcile as a first-class constraint kind: per-order verdicts that
    # the recorded total matches the exact-cents sum of line amounts
    # within 5% — fused into the engine's child-aggregate machinery
    suite = Suite(
        shapes=[
            Shape(
                name="OrderShape",
                table="orders",
                entity_col="o_orderkey",
                constraints=[
                    Constraint(
                        "o_total",
                        "reconcile",
                        {
                            "child": "lineitem",
                            "fk": "l_orderkey",
                            "expected": "CAST(round(o_totalprice * 100) AS BIGINT)",
                            "amount": (
                                "CAST(round(l_extendedprice * (1 - l_discount)"
                                " * (1 + l_tax) * 100) AS BIGINT)"
                            ),
                            "tol_ppm": 50_000,
                            "columns": ["o_totalprice"],
                        },
                    ),
                ],
            )
        ]
    )
    tables = {
        "orders": _t(spark, sf_dir, "orders"),
        "lineitem": _t(spark, sf_dir, "lineitem"),
    }
    res = run_suite(spark, suite, tables, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def q_stat_bound_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dataset-grain aggregate bounds (null-rate / central tendency /
    # row count / minimum) — all four fused into ONE aggregate job over the
    # clips scan; sb_avg_dur is seeded to fail (fixture avg dur ≈ 16.7 s).
    t = _clip_tables(spark, sf_dir)
    suite = Suite(
        shapes=[
            Shape(
                name="ClipShape",
                table="clips",
                entity_col="clip_id",
                constraints=[
                    Constraint(
                        "sb_null_rate",
                        "stat_bound",
                        {
                            "metric": "avg(CASE WHEN sr_hz IS NULL THEN 1.0 ELSE 0.0 END)",
                            "max": 0.02,
                            "columns": ["sr_hz"],
                        },
                    ),
                    Constraint(
                        "sb_avg_dur",
                        "stat_bound",
                        {"metric": "avg(dur_ms)", "max": 10000, "columns": ["dur_ms"]},
                    ),
                    Constraint(
                        "sb_rows",
                        "stat_bound",
                        {"metric": "count(*)", "min": 100, "columns": []},
                    ),
                    Constraint(
                        "sb_min_dur",
                        "stat_bound",
                        {"metric": "min(dur_ms)", "min": 400, "columns": ["dur_ms"]},
                    ),
                ],
            )
        ]
    )
    res = run_suite(spark, suite, t, config=_CFG)
    return res.verdicts.filter(F.col("entity_id") == "__dataset__").select(
        "entity_id", "shape", "is_valid", "reason"
    )


def q_monotonic_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # monotonic constraint kind: per user, event ids must be assigned in
    # event-time order (ingestion-order vs event-time consistency) and the
    # value column must be non-decreasing over time (seeded to fail for most
    # users — mixed verdicts). Both constraints share order plumbing; each
    # distinct order_by gets ONE (entity, order_key) pre-aggregate + window.
    events = _t(spark, sf_dir, "events")
    suite = Suite(
        shapes=[
            Shape(
                name="EventShape",
                table="events",
                entity_col="user_id",
                constraints=[
                    Constraint(
                        "mono_ts",
                        "monotonic",
                        {"order_by": "event_id", "column": "ts"},
                    ),
                    Constraint(
                        "mono_val",
                        "monotonic",
                        {"order_by": "ts", "column": "value"},
                    ),
                ],
            )
        ]
    )
    res = run_suite(spark, suite, {"events": events}, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def q_blocklist_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fk_not_exists (blocklist/disjointness): clips must NOT appear in the
    # quarantine relation (here derived deterministically from the clips
    # table itself: long flac clips). The blocklist parent aggregates to
    # distinct keys before the join — at 10^12 rows the quarantine side is
    # tiny and broadcast; the clip side never shuffles payload bytes.
    t = _clip_tables(spark, sf_dir)
    t["quarantine"] = (
        t["clips"]
        .filter((F.col("codec") == "flac") & (F.col("dur_ms") > 25000))
        .select("clip_id")
    )
    suite = Suite(
        shapes=[
            Shape(
                name="ClipShape",
                table="clips",
                entity_col="clip_id",
                constraints=[
                    Constraint("clip_unique", "unique", {"column": "clip_id"}),
                    Constraint(
                        "not_quarantined",
                        "fk_not_exists",
                        {
                            "column": "clip_id",
                            "parent": "quarantine",
                            "parent_col": "clip_id",
                        },
                    ),
                ],
            )
        ]
    )
    res = run_suite(spark, suite, t, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def _mutated_clip_versions(spark: SparkSession, sf_dir: str):
    """(old tables, new tables) for the incremental-revalidation queries —
    the deterministic mutation is fixtures.mutate_clip_tables, mirrored in
    SQL by oracle.mutated_clips_sql/mutated_transcripts_sql."""
    old = _clip_tables(spark, sf_dir)
    nc, nt = fixtures.mutate_clip_tables(old["clips"], old["transcripts"])
    new = dict(old)
    new["clips"] = nc
    new["transcripts"] = nt
    return old, new


def q_incremental_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # validate v1 fully, mutate to v2, re-validate ONLY the affected entity
    # populations (revalidate.py), merge with the v1 verdicts — the result
    # must equal a full validation of v2, which is exactly what the DuckDB
    # oracle computes (verdict union SQL over the mutated CTEs)
    from shaclapi_spark import revalidate

    old, new = _mutated_clip_versions(spark, sf_dir)
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    old_res = run_suite(spark, suite, old, config=_CFG)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts, config=_CFG
    )
    return inc.verdicts.select("entity_id", "shape", "is_valid")


def q_incremental_changelog_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same invariant as incremental_verdicts, but the affected populations
    # come from Iceberg-changelog-shaped change relations (INSERT/DELETE rows
    # only — neither version is scanned for the diff); synthesized here from
    # the two parquet versions, read from the snapshot changelog on Iceberg
    from shaclapi_spark import revalidate

    old, new = _mutated_clip_versions(spark, sf_dir)
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    cls = {
        t: revalidate.synthesize_changelog(old[t], new[t])
        for t in ("clips", "transcripts")
    }
    old_res = run_suite(spark, suite, old, config=_CFG)
    inc = revalidate.revalidate_incremental_from_changelogs(
        spark, suite, cls, new, old_res.verdicts, config=_CFG
    )
    return inc.verdicts.select("entity_id", "shape", "is_valid")


def q_verdict_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-(shape, transition) rollup of verdict flips between two table
    # versions — the promotion-gate readout (ops/diff.verdict_diff)
    old, new = _mutated_clip_versions(spark, sf_dir)
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    old_v = run_suite(spark, suite, old, config=_CFG).verdicts
    new_v = run_suite(spark, suite, new, config=_CFG).verdicts
    return diff_ops.verdict_diff_summary(old_v, new_v)


def q_clip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    return stats_ops.column_profile(
        t["clips"], ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
    )


def q_grouped_stats_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    g = stats_ops.grouped_stats(t["clips"], "codec", "dur_ms")
    return g.select(
        F.col("group"),
        F.col("n_rows"),
        F.col("n_nulls"),
        F.col("min_value").cast("long").alias("min_value"),
        F.col("max_value").cast("long").alias("max_value"),
    )


def q_dup_clip_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    return stats_ops.uniqueness_violation_keys(t["clips"], "clip_id")


def q_drift_hist_dur(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    col = F.col("dur_ms").cast("double")
    width = (30000.0 - 500.0) / 32.0
    bin_expr = F.least(
        F.lit(31), F.greatest(F.lit(0), F.floor((col - F.lit(500.0)) / F.lit(width)).cast("int"))
    )
    return (
        t["clips"]
        .filter(col.isNotNull())
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_tpch_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = run_suite(spark, _tpch_suite(), _tpch_tables(spark, sf_dir), config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid")


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _docs_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.unionByName(d.filter(F.col("doc_id") % 7 == 0))


def q_doc_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dup_groups(_docs_augmented(spark, sf_dir), "doc_id")


def q_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2)


def q_dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup pairs → connected components → (doc, survivor, cluster size);
    # pairs come from the same exact-Jaccard relation as jaccard_pairs_docs
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    pairs = dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2)
    return cl.dedup_clusters(pairs).select(
        "doc",
        "cluster_rep",
        F.col("cluster_size").cast("long").alias("cluster_size"),
    )


def q_interleave_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # proportional source-interleave schedule: rank-within-source by a
    # deterministic md5 draw, key = rank * (lcm // weight) — consuming by
    # ascending key visits src1 4x and src0 2x as often as the rest
    return sp.interleave_sources(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "source",
        weights={"src0": 2, "src1": 4},
    ).select("doc_id", "source", "interleave_key")


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # product-quantization ADC top-10 with the deterministic synthetic
    # codebooks (m=8, ksub=16): encode + LUT-sum are exact fixed-point
    # integers, so the oracle replays them from codebook literals
    from shaclapi_spark.pipeline import pq

    books = pq.synthetic_codebooks(8, 16, 8)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    enc = emb.select("vec_id", pq.encode_column(books, "embedding").alias("codes"))
    return pq.pq_topk(enc, books, _QUERY_VEC, "vec_id", k=10)


def _PQ_BATCH_QUERIES() -> list:
    # 5 deterministic 64-dim query vectors shared by Spark and the oracle
    return [
        (j, [math.sin(1.0 + 0.5 * j + i) for i in range(64)]) for j in range(5)
    ]


def q_pq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-job ADC top-k for a RELATION of 5 queries: per-batch top-k
    # candidates only (k·Q rows per batch), then a per-query window
    from shaclapi_spark.pipeline import pq

    books = pq.synthetic_codebooks(8, 16, 8)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    enc = emb.select("vec_id", pq.encode_column(books, "embedding").alias("codes"))
    qdf = spark.createDataFrame(_PQ_BATCH_QUERIES(), "qid long, qvec array<double>")
    return pq.pq_topk_batch(enc, books, qdf, "qid", "qvec", "vec_id", k=10)


def q_precedence_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # source-precedence near-dup survivor selection: within each cluster
    # keep the lowest-priority-source member (priority = src number % 4,
    # ties by doc_id) — the keep-curated-drop-crawl policy
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    pairs = dd.jaccard_pairs(d, "doc_id", "text", k=5, threshold=0.2)
    prio = F.substring(F.col("source"), 4, 10).cast("int") % 4
    return cl.survivors_by_precedence(d, pairs, "doc_id", prio).select(
        "doc_id", "source"
    )


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # data-mixing knob: per-language keep rates, deterministic by md5 hash
    d = _t(spark, sf_dir, "documents")
    return sp.hash_sample(
        d,
        "doc_id",
        rate=0.5,
        strata_col="lang",
        strata_rates={"en": 0.1, "zh": 1.0},
    ).select("doc_id", "lang")


def q_stratified_quota_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exactly 20 docs per language, deterministic uniform draw by hash rank
    d = _t(spark, sf_dir, "documents")
    return sp.stratified_quota(d, "doc_id", "lang", quota=20).select(
        "doc_id", "lang"
    )


def q_budget_cut_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token-budget corpus cut: highest-priority docs (priority = n_chars,
    # ties by id) until the cumulative char budget; explicit bucket
    # boundaries keep the two-phase plan engine-independent
    d = _t(spark, sf_dir, "documents")
    return sp.budget_cut(
        d.withColumn("prio", F.col("n_chars")),
        "doc_id",
        "n_chars",
        "prio",
        budget=200_000,
        boundaries=[800, 400, 300, 250, 200, 150, 100, 50],
    ).select("doc_id", F.col("n_chars").cast("long").alias("n_chars"), "cum_tokens")


def q_leakage_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup-aware train/val/test split: every doc in a jaccard
    # connected component is assigned by its component representative's
    # hash, so near-copies can never straddle splits
    d = _t(spark, sf_dir, "documents")
    d120 = d.filter(F.col("doc_id") < 120)
    pairs = dd.jaccard_pairs(d120, "doc_id", "text", k=5, threshold=0.2)
    return cl.leakage_free_split(
        d, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


def q_chi2_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-sample chi-square homogeneity between src0 docs and the rest on
    # the n_chars distribution — exact integer ppm contributions per bin
    d = _t(spark, sf_dir, "documents")
    return drift_ops.chi2_groups(
        d, "n_chars", F.col("source") == "src0", lo=0.0, hi=2000.0, n_bins=16
    )


_ZDIMS = [
    ("CAST(l_quantity AS BIGINT)", 1, 50),
    ("CAST(round(l_extendedprice * 100) AS BIGINT)", 90000, 10500000),
]


def q_zorder_prune_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    # z-order file layout on (quantity, price-cents) + the data-skipping
    # report for a 2-D box predicate: per file, manifest-style min/max
    # stats, rows matching, and whether stats-based pruning must scan it
    from shaclapi_spark.pipeline import layout

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rid", F.expr("l_orderkey * 10 + l_linenumber")
    )
    assigned = layout.zorder_file_assignment(li, _ZDIMS, "rid", n_files=32, bits=8)
    return layout.zorder_pruning_report(
        assigned,
        [(_ZDIMS[0][0], "qty"), (_ZDIMS[1][0], "cents")],
        box={"qty": (10, 20), "cents": (1000000, 2000000)},
    )


def q_audio_fp_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gain/codec-invariant acoustic fingerprint matching on a 1/8 id
    # slice; a lossless flac->pcm transcode slice is unioned in and must
    # match its source through the fingerprint (content identity survives
    # the container change)
    from shaclapi_spark.pipeline import audio_analysis as aa_mod

    c = _uniq_clips(spark, sf_dir).filter(
        F.substring("clip_id", 6, 12).cast("long") % 32 == 0
    )
    xcoded = at.transcode(c.filter(F.col("codec") == "flac"), "pcm_s16le").withColumn(
        "clip_id", F.concat(F.lit("xcode_"), F.col("clip_id"))
    )
    unioned = c.select("clip_id", "bytes").unionByName(
        xcoded.select("clip_id", "bytes")
    )
    # 16-sample frames: the fixture stores ~256-sample payloads, so the
    # sr-derived 20 ms grid would never complete a frame
    fp = aa_mod.audio_fingerprint(unioned, frame_samples=16)
    pairs = aa_mod.fingerprint_matches(fp, min_shared=5)
    # the sine fixture has large identical-content twin groups, so the raw
    # pair relation is quadratic; the contract reports the per-clip match
    # degree (one row per matched clip) — the pair op itself is the
    # library surface
    sym = pairs.select(
        F.col("a").alias("clip_id"), F.col("b").alias("other"), "n_shared"
    ).unionByName(
        pairs.select(
            F.col("b").alias("clip_id"), F.col("a").alias("other"), "n_shared"
        )
    )
    return sym.groupBy("clip_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.sum("n_shared").cast("long").alias("sum_shared"),
        F.min("other").alias("first_match"),
        F.max("other").alias("last_match"),
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    # contrastive-training mining: per query, the 10 most-similar vectors
    # with a DIFFERENT label (label mismatch filters before the rank cut)
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    hn = sim.hard_negatives(
        e, q, "vec_id", "embedding", "vec_id", "embedding", "label", "label", k=10
    )
    return hn.select(
        "q_id",
        "vec_id",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # truncated-embedding retrieval eval: per query x prefix-dim, overlap
    # of the truncated top-10 with the full-dim top-10
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return sim.matryoshka_recall(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        dims=[8, 16, 32, 64], full_dim=64, k=10,
    )


def q_quality_budget_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold-sweep curve: cutting at each length-quality bucket keeps
    # cum_docs docs / cum_tokens chars — the relation that picks the
    # budget_cut threshold
    from shaclapi_spark.pipeline import curate as cu

    d = _t(spark, sf_dir, "documents")
    return cu.quality_budget_curve(
        d.withColumn("score", F.col("n_chars") / F.lit(2000.0)),
        "score",
        "n_chars",
        n_buckets=20,
    )


def q_minhash_neardups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_neardups(d, "doc_id", "text", n_hashes=32, n_bands=8, k=5, threshold=0.5)


def q_simhash_neardups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5_60 hash: byte-identical to the DuckDB oracle's hash, and the
    # pigeonhole blocking is lossless, so the whole relation has an exact
    # ANSI-SQL oracle (brute-force bit_count(xor) <= k over all pairs).
    d = _t(spark, sf_dir, "documents")
    return dd.simhash_neardups(d, "doc_id", "text", max_hamming=3, bits=60, hash_fn="md5_60")


def q_curation_dispositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row-level funnel debugger: the FIRST stage that dropped each doc
    # (or 'kept') over the same planted-duplicate corpus as the funnel
    from shaclapi_spark.pipeline import curate as cu

    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    corpus = d.unionByName(dup)
    bench = sp.hash_sample(d, "doc_id", rate=0.05, salt="bench")
    return cu.curate_dispositions(
        corpus, bench, keep_langs=("en", "de"), min_tokens=25,
        max_token_len=30, n=8,
    )


def q_orders_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # aggregate reconciliation: each order's recorded total vs the exact-
    # cents sum of its line amounts, 5% tolerance — the classic warehouse
    # consistency check fk_match can't express (the synthetic totals are
    # random, so the check correctly flags most orders)
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return stats_ops.reconciliation_check(
        o,
        li,
        "o_orderkey",
        "l_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"),
        F.expr(
            "CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)"
            " AS BIGINT)"
        ),
        tol_ppm=50_000,
    )


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # end-to-end curation composition: quality → lang → exact dedup →
    # decontamination, reported as the per-stage funnel counts every
    # production curation job materializes
    from shaclapi_spark.pipeline import curate as cu

    d = _t(spark, sf_dir, "documents")
    # plant exact duplicates with DISTINCT ids (id+100000 copies of every
    # 11th doc) so the dedup stage demonstrably drops rows — the raw table
    # has near-dups but no exact text dups under different ids
    dup = d.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    corpus = d.unionByName(dup)
    bench = sp.hash_sample(d, "doc_id", rate=0.05, salt="bench")
    _, funnel = cu.curate(
        corpus, bench, keep_langs=("en", "de"), min_tokens=25, max_token_len=30, n=8
    )
    return funnel


def q_curation_funnel_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 6-stage funnel: quality → lang → exact dedup → MinHash-LSH
    near-dedup (cluster losers dropped, min-id representative survives) →
    decontamination. The near-dup stage composes minhash_lsh_neardups →
    connected components → survivor resolution; at (k=5, threshold=0.5)
    LSH recall on this fixture is 1.0 (the minhash_neardups_docs
    justification — survivor pairs are a subset of the full-table pairs),
    so the exact-Jaccard pair graph + recursive-CTE components is a full
    value oracle."""
    from shaclapi_spark.pipeline import curate as cu

    d = _t(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    corpus = d.unionByName(dup)
    bench = sp.hash_sample(d, "doc_id", rate=0.05, salt="bench")
    _, funnel = cu.curate(
        corpus, bench, keep_langs=("en", "de"), min_tokens=25, max_token_len=30,
        n=8, near_dup=True, minhash_threshold=0.5, minhash_k=5,
    )
    return funnel


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data path in one relation: curate (quality →
    lang → dedup → decontaminate) → weighted mix (2 epochs of en) →
    sequence packing at 256 tokens / 4 shards. Replicas get a composite
    mix_id (doc:copy) so packing decorrelates copies by hash. Every stage
    is individually oracled elsewhere; this query pins their COMPOSITION
    value-for-value against one DuckDB SQL."""
    from shaclapi_spark.pipeline import curate as cu

    d = _t(spark, sf_dir, "documents")
    bench = sp.hash_sample(d, "doc_id", rate=0.05, salt="bench")
    curated, _ = cu.curate(
        d, bench, keep_langs=("en", "de"), min_tokens=25, max_token_len=30, n=8
    )
    mixed = sp.weighted_mix(
        curated, "doc_id", weight=1.0, strata_col="lang",
        strata_weights={"en": 2.0}, salt="mix2",
    ).withColumn(
        "mix_id",
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("copy").cast("string")
        ),
    )
    toks = mixed.withColumn("n_tok", tx.bpe_ish_token_count(F.col("text")))
    return sp.pack_sequences(toks, "mix_id", "n_tok", capacity=256, n_shards=4)


def q_weighted_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # upsampling mixing knob: 2.5 epochs of en, 0.25 of zh, 1.0 elsewhere —
    # deterministic fractional replication by hash
    d = _t(spark, sf_dir, "documents")
    return sp.weighted_mix(
        d,
        "doc_id",
        weight=1.0,
        strata_col="lang",
        strata_weights={"en": 2.5, "zh": 0.25},
        salt="mix",
    ).select("doc_id", "lang", "copy")


def q_pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic sequence packing: BPE-ish token counts → 256-token
    # training sequences across 8 shards; bin assignment is a pure function
    # of the corpus, exactly reproducible in SQL (window cumsum + int DIV)
    d = _t(spark, sf_dir, "documents")
    toks = d.withColumn("n_tok", tx.bpe_ish_token_count(F.col("text")))
    return sp.pack_sequences(toks, "doc_id", "n_tok", capacity=256, n_shards=8)


def q_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # intra-doc 2-gram repetition counts (Gopher/C4 quality rule) —
    # integer outputs, exact oracle
    d = _t(spark, sf_dir, "documents")
    return tx.with_repetition(d, "text", n=2).select(
        "doc_id", "n_grams", "n_distinct_grams"
    )


def q_decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # benchmark decontamination: flag every doc sharing a word 8-gram with
    # the (deterministic, hash-drawn) benchmark slice. Benchmark members
    # flag themselves by construction; near-dups of members are the
    # interesting positives.
    d = _t(spark, sf_dir, "documents")
    bench = sp.hash_sample(d, "doc_id", rate=0.05, salt="bench")
    bad = dd.contaminated_ids(d, bench, "doc_id", "text", n=8)
    return d.join(
        bad.withColumn("contaminated", F.lit(True)), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
    )


def q_text_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tx.with_quality(_t(spark, sf_dir, "documents"), "text")
    return d.select(
        "doc_id",
        *[
            F.col(c).cast("long").alias(c)
            for c in (
                "n_chars",
                "n_tokens",
                "n_punct",
                "n_digit",
                "n_stopword_en",
                "max_token_len",
            )
        ],
    )


def q_token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token counting both ways: plain whitespace tokens and the BPE-ish
    # sub-word proxy (whitespace + punctuation + digit boundaries)
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        tx.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


def q_lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", tx.lang_id(F.col("text")).alias("lang_pred"))


def q_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text")


def q_top_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-wide frequent-span report (boilerplate discovery): top-25 word
    # bigrams by total occurrences, doc frequency alongside; total order
    # (n_occurrences DESC, n_docs DESC, ngram ASC) keeps the top-k boundary
    # tie-stable across engines.
    return corpus.top_ngrams(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=2, k=25
    )


def q_boilerplate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc boilerplate exposure: fraction of the doc's distinct bigrams
    # whose corpus doc-frequency is >= 40 (the Zipf head).
    return corpus.boilerplate_score(
        _t(spark, sf_dir, "documents"), "doc_id", "text", n=2, min_df=40
    )


def q_encoding_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mojibake / replacement-char / control-byte scoring over
    # deterministically-augmented text (raw docs are clean ASCII, so the
    # query plants artifacts: doc_id%3 'Ã©'s, 'â€™' on %4, '�' on %7, a
    # bell byte on %11 — both engines build the identical text)
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.repeat(F.lit("Ã©"), (F.col("doc_id") % 3).cast("int")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("â€™")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("�")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("\x07")).otherwise(F.lit("")),
    )
    out = wc.with_encoding_quality(
        d.select("doc_id", aug.alias("text")), max_per_kchar=2
    )
    return out.select("doc_id", "n_mojibake", "n_repl", "n_ctrl", "enc_ok")


def q_domain_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-domain URL statistics + blocklist flag over augmented text (raw
    # docs carry no URLs: one rotating site link per doc, an ad-tracker
    # link on every 6th)
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.com/p/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 6 == 0, F.lit(" http://ads.spam.bad/x")).otherwise(
            F.lit("")
        ),
    )
    return wc.domain_stats(
        d.select("doc_id", aug.alias("text")), blocklist=("ads.spam.bad",)
    )


def q_substring_decontam_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # verbatim canary-string contamination: needles are 40-char substrings
    # of every 97th doc; any doc containing one verbatim is flagged with
    # its distinct-needle hit count (docs 0 mod 97 self-match by design)
    d = _t(spark, sf_dir, "documents")
    needles = d.filter(
        (F.col("doc_id") % 97 == 0) & (F.length("text") >= 60)
    ).select(F.substring("text", 10, 40).alias("needle"))
    return dd.substring_contaminated(d, needles)


def q_pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII redaction over deterministically-augmented text (the raw docs
    # carry no PII, so the query plants one email + one phone per doc and a
    # card + IP on every 5th doc — both engines build the identical text).
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" reach u"),
        F.col("doc_id").cast("string"),
        F.lit("@ex.org or +1 555-867-5309"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit(" card 4242-4242-4242-4242 at 10.0.0.1"),
        ).otherwise(F.lit("")),
    )
    out = scrub.scrub(d.select("doc_id", aug.alias("text")), "text")
    return out.select(
        "doc_id",
        F.col("text_redacted"),
        *[F.col(f"n_{n}").cast("long").alias(f"n_{n}") for n, _, _ in scrub.PII_PATTERNS],
    )


def q_epoch_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic global training shuffle, epoch 1: two-phase rank (range
    # buckets + broadcast prefix offsets), no single-partition window.
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return sp.epoch_shuffle(d, "doc_id", epoch=1, n_buckets=16).select(
        "doc_id", "shuffle_rank"
    )


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # in-document repeated-line removal (first occurrence kept in place).
    # The docs corpus is single-line, so both engines view each word as a
    # "line" (space -> \n translate) — docs repeat words, so the dedup is
    # real. n_dup_lines is the count of removed (repeated) lines.
    d = _t(spark, sf_dir, "documents")
    as_lines = F.translate(F.col("text"), " ", "\n")
    out = scrub.with_line_dedup(
        d.select("doc_id", as_lines.alias("text")), "text"
    )
    return out.select("doc_id", "text_deduped", "n_dup_lines")


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    top = sim.brute_force_topk(e, "vec_id", "embedding", _QUERY_VEC, k=10)
    return top.select(
        "vec_id",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
    )


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-the-fly single-query ANN. Registered at multiprobe=None (probe
    all 2^n_planes buckets), where the op provably degenerates to exact
    brute force — so the brute-force ranking is a full value oracle for
    the bucket-hash → probe-filter → top-k machinery (same justification
    as ivf_topk at nprobe=n_cells and ann_batch_topk at multiprobe=None).
    Small-multiprobe recall/pruning is pinned in tests/test_pipeline.py."""
    e = _t(spark, sf_dir, "embeddings")
    top = sim.ann_lsh_topk(
        e, "vec_id", "embedding", _QUERY_VEC, k=10, n_planes=6, multiprobe=None
    )
    return top.select(
        "vec_id", F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6")
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k through the IVF-Flat index (pipeline/ivf.py): spherical
    k-means cells, corpus written partitioned by cell, probes read only the
    probed cells' files. Registered at nprobe=n_cells, where IVF provably
    degenerates to exact brute force over the index — so the brute-force SQL
    is a full value oracle for the whole build→assign→partition→probe→top-k
    machinery. Small-nprobe approximation quality is pinned in
    tests/test_ivf.py (recall + partition-pruning plan assertions)."""
    import tempfile

    from shaclapi_spark.pipeline import ivf

    e = _t(spark, sf_dir, "embeddings")
    idx = os.path.join(
        tempfile.gettempdir(), f"ivf_idx_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    ivf.build_ivf_index(
        e, "vec_id", "embedding", idx, dim=64, n_cells=16, train_rows=20_000
    )
    top = ivf.ivf_index_topk(spark, idx, _QUERY_VEC, k=10, nprobe=16)
    return top.select(
        "vec_id", F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6")
    )


def q_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch probing of the persisted IVF index: top-5 for query vectors
    5..9 in ONE job. Registered at nprobe=n_cells (exact degenerate mode,
    same justification as ivf_topk), so per-query brute-force SQL is a
    full value oracle; small-nprobe parity with per-query probes is pinned
    in tests/test_ivf.py."""
    import tempfile

    from shaclapi_spark.pipeline import ivf

    e = _t(spark, sf_dir, "embeddings")
    idx = os.path.join(
        tempfile.gettempdir(), f"ivf_idx_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    ivf.build_ivf_index(
        e, "vec_id", "embedding", idx, dim=64, n_cells=16, train_rows=20_000
    )
    q = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    top = ivf.ivf_index_topk_batch(
        spark, idx, q, "vec_id", "embedding", k=5, nprobe=16
    )
    return top.select(
        "q_id",
        "vec_id",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_ann_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN: top-10 neighbors for a relation of query vectors in ONE
    job. Registered at multiprobe=None (probe all buckets), where the op
    provably degenerates to exact brute force — so per-query brute-force
    SQL is a full value oracle for the whole bucket→probe-explode→join→
    window machinery (same justification as ivf_topk at nprobe=n_cells).
    Small-multiprobe recall is pinned in tests/test_pipeline.py."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    top = sim.ann_lsh_topk_batch(
        e, q, "vec_id", "embedding", "vec_id", "embedding",
        dim=64, k=10, n_planes=6, seed=42, multiprobe=None,
    )
    return top.select(
        "q_id",
        "vec_id",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded hyperplane-LSH blocking +
    exact cosine verification. Precision is 1.0 by construction; with
    (seed=42, 32 bands x 4 bits) LSH recall at cosine>=0.4 is 1.0 on every
    driver fixture (verified against the exact all-pairs relation at
    sf 0.001/0.01/0.1), so the brute-force SQL is a full value oracle —
    same justification as minhash_neardups_docs."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = sim.embedding_neardups(
        e, "vec_id", "embedding", dim=64, threshold=0.4,
        n_bands=32, band_bits=4, seed=42,
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
    )


def q_embedding_neardups_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB scale path of embedding near-dup: corpus-derived band
    geometry (neardup_band_geometry — band_bits grows ~log2(n) so random
    candidates stay ~linear) + the drop_hot_groups stop-bucket cap.
    Precision 1.0 by construction (exact-cosine verification); with
    seed=7, LSH recall at cosine>=0.5 is 1.0 on every driver fixture
    (verified against the exact all-pairs relation at sf
    0.001/0.01/0.1), so the brute-force SQL is a full value oracle —
    same justification as embedding_neardups."""
    e = _t(spark, sf_dir, "embeddings")
    pairs = sim.embedding_neardups(
        e, "vec_id", "embedding", dim=64, threshold=0.5,
        max_bucket=4096, seed=7,
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(F.col("cosine") * 1e6).cast("long").alias("cosine_e6"),
    )


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    meta = mm.audio_metadata(t["clips"])
    return meta.select(
        "clip_id",
        "hdr_codec",
        F.col("hdr_sr_hz").cast("long").alias("hdr_sr_hz"),
        F.col("hdr_n_samples").cast("long").alias("hdr_n_samples"),
    )


def uniq_clips_of(c: DataFrame) -> DataFrame:
    """Non-duplicated clip_ids only: the frame/loudness operators are per
    physical row, but SQL's GROUP BY clip_id would merge the fixture's
    seeded duplicate rows — the oracles encode the same HAVING count=1.
    Shared with bench.py so the timed population and the contract
    population stay the same relation."""
    uniq = (
        c.groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == 1)
        .select("clip_id")
    )
    return c.join(uniq, "clip_id")


def _uniq_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return uniq_clips_of(_clip_tables(spark, sf_dir)["clips"])


def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frame-sample every clip into 20 ms windows with integer-exact
    # features; the oracle re-decodes all three codecs (pcm passthrough,
    # flac cumulative-XOR, opus dequantize x64) from the container bytes
    # in pure SQL.
    return mm.audio_frame_features(_uniq_clips(spark, sf_dir), frame_ms=20)


def q_clip_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-clip loudness rollup over the 20 ms frame relation, all-integer
    # (silence test in exact integer/decimal arithmetic — see
    # loudness_counts), so the DuckDB oracle is a plain GROUP BY over the
    # frames-decode SQL.
    return mm.loudness_counts(_uniq_clips(spark, sf_dir), frame_ms=20)


def q_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sample-level audio QA: clipping detection (count + longest run at
    # |s| >= 26000 — the 0.8-amplitude sine tops actually cross it, so the
    # detector fires), exact signed DC sum, sample range. All integers;
    # the oracle re-decodes the container bytes in pure SQL.
    return mm.audio_sample_quality(
        _uniq_clips(spark, sf_dir), clip_thresh=26000
    )


def q_audio_bandwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # upsample detection: whole-clip zero-crossing rate as an effective-
    # bandwidth proxy; integer cross-multiplication (zc*4 < (n-1)) flags
    # content below a quarter of Nyquist — sr cancels, all int64
    return aa.bandwidth_verdicts(_uniq_clips(spark, sf_dir))


def q_audio_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer autocorrelation pitch estimate (normalized-score smallest
    # near-max local max — see pipeline/audio_analysis.pitch_period) on a
    # deterministic 1/16 subsample: the O(n_lags * window) self-join makes
    # the full table an audit-scale relation in the SQL oracle
    c = _uniq_clips(spark, sf_dir).filter(
        F.expr("TRY_CAST(substr(clip_id, 6) AS BIGINT) % 16 = 0")
    )
    return aa.pitch_period(c)


def q_audio_container_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # container-integrity accounting parsed with JVM built-ins only; the
    # fixture's containers are all well-formed, so both engines apply the
    # same deterministic tampering first (NULL / truncate / magic / codec
    # corruption by id index) to exercise every status
    c = _clip_tables(spark, sf_dir)["clips"]
    idx = F.expr("TRY_CAST(substr(clip_id, 6) AS BIGINT)")
    tampered = (
        F.when(idx % 17 == 2, F.lit(None).cast("binary"))
        .when(idx % 7 == 0, F.expr("substring(bytes, 1, 30)"))
        .when(idx % 11 == 3, F.expr("concat(X'58', substring(bytes, 2))"))
        .when(
            idx % 13 == 5,
            F.expr("concat(substring(bytes, 1, 4), X'09', substring(bytes, 6))"),
        )
        .otherwise(F.col("bytes"))
    )
    return aa.container_summary(c.withColumn("bytes", tampered))


def q_audio_speed_perturb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1.1x speed perturbation (ASR augmentation) in its exactly-reproducible
    # zero-order-hold form: out[j] = s[j*11 DIV 10], digest-verified
    return at.speed_perturb(_uniq_clips(spark, sf_dir), num=11, den=10)


def q_audio_pad_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-shape batching: every clip becomes exactly 400 samples
    # (head-trim / tail-zero-pad), digest-verified
    return at.pad_or_trim(_uniq_clips(spark, sf_dir), target_samples=400)


def q_audio_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic noise-injection augmentation: each clip mixed -6 dB
    # with the next same-sr clip (id order, wraparound); floor((a+b)/2)
    # integer mix, digest-verified. 1/8 id subsample: the oracle's
    # per-sample pair join is audit-scale, like audio_pitch
    c = _uniq_clips(spark, sf_dir).filter(
        F.expr("TRY_CAST(substr(clip_id, 6) AS BIGINT) % 8 = 0")
        & F.col("bytes").isNotNull()
        & (F.substring(F.hex(F.col("bytes")), 1, 8) == "53474131")
    )
    return at.mix_clips(c)


def q_padding_stats_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    # padding-efficiency report for duration-bucketed ASR batching: how many
    # pad-frames the bucket boundaries [2s, 5s, 10s, 20s] would burn
    return sp.length_bucket_padding(
        _clip_tables(spark, sf_dir)["clips"],
        "dur_ms",
        [2000, 5000, 10000, 20000],
    )


def q_shard_manifest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # training-output shard manifest: deterministic md5-mod assignment,
    # per-shard count + payload bytes + order-insensitive bit_xor
    # fingerprint (one map-combinable groupBy over 32 keys)
    return shards.shard_manifest(
        _t(spark, sf_dir, "documents"), n_shards=32, id_col="doc_id", text_col="text"
    )


def q_vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc OOV rate vs the corpus' own top-500 vocabulary (total-ordered
    # cut: count desc, word asc) — the natural-language-vs-garbage signal
    return corpus.vocab_coverage(_t(spark, sf_dir, "documents"), vocab_size=500)


def q_bigram_surprisal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CCNet-style perplexity filter with the surprisal quantized to the
    # integer floor(log2(ctx/cnt)) == length(bin(ctx DIV cnt)) - 1 — exact
    # in both engines, no libm log (see corpus.bigram_surprisal)
    return corpus.bigram_surprisal(_t(spark, sf_dir, "documents"))


def q_source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-source duplication matrix over normalized-content digests —
    # which source mirrors which, the input to source-precedence dedup.
    # The synthetic corpus has no cross-source exact copies, so both engines
    # first add the same deterministic re-crawl: every doc_id % 7 == 0 row
    # duplicated under source 'mirror' (same tamper-first pattern as
    # audio_container_summary)
    d = _t(spark, sf_dir, "documents")
    mirror = d.filter(F.col("doc_id") % 7 == 0).withColumn("source", F.lit("mirror"))
    return corpus.source_overlap(d.unionByName(mirror))


def q_bpe_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE tokenizer training step 1: adjacent char-pair counts over the
    # corpus word-frequency dict; top 40 merge candidates in rank order
    return corpus.bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=40)


def q_pack_clips_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # audio batch packing: clips into 60-second training batches by dur_ms
    # cumsum (pack_sequences assignment), rolled up per batch with the
    # transcript token total riding along — duration-bounded AND
    # token-observable batches
    t = _clip_tables(spark, sf_dir)
    tok = (
        t["transcripts"]
        .groupBy("clip_id")
        .agg(F.sum("n_tokens").alias("tok"))
    )
    j = (
        t["clips"]
        .select("clip_id", "dur_ms")
        .join(tok, "clip_id", "left")
        .select("clip_id", "dur_ms", F.coalesce("tok", F.lit(0)).alias("tok"))
    )
    out = sp.packed_batch_stats(
        j, "clip_id", "dur_ms", capacity=60_000, n_shards=8, sum_cols=("tok",)
    )
    return out.select(
        "shard",
        "seq_in_shard",
        F.col("n_items").alias("n_clips"),
        F.col("total_weight").alias("total_dur_ms"),
        F.col("sum_tok").alias("total_tokens"),
    )


def q_k_anonymity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k-anonymity verdicts: quasi-identifier = (lang, source, n_chars//100);
    # docs in a cell of fewer than 3 rows are re-identifiable -> invalid
    d = _t(spark, sf_dir, "documents").withColumn(
        "chars_bin", F.expr("n_chars DIV 100")
    )
    return privacy_ops.k_anonymity_verdicts(
        d, "doc_id", ["lang", "source", "chars_bin"], k=3
    )


def q_snapshot_diff_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed snapshot diff between two table versions, rolled up per codec:
    # the "old" snapshot is simulated deterministically from the current
    # one (every 31st key deleted, every 17th dur_ms bumped) so both
    # engines derive the identical churn
    c = _uniq_clips(spark, sf_dir).withColumn(
        "__i", F.substring("clip_id", 6, 8).cast("long")
    )
    old = c.filter(F.col("__i") % 31 != 0).withColumn(
        "dur_ms",
        F.when(F.col("__i") % 17 == 0, F.col("dur_ms") + 1).otherwise(
            F.col("dur_ms")
        ),
    )
    return diff_ops.snapshot_diff_summary(
        old,
        c,
        ["clip_id"],
        ["sr_hz", "dur_ms", "codec", "transcript"],
        "codec",
    )


def q_dur_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-entity anomaly verdicts against the row's own codec's exact
    # [p05, p95] dur_ms band (null dur -> unknown verdict)
    out = stats_ops.quantile_anomalies(
        _uniq_clips(spark, sf_dir).select("clip_id", "codec", "dur_ms"),
        "codec",
        "dur_ms",
        0.05,
        0.95,
    )
    return out.select(
        "clip_id", "codec", "dur_ms", "band_lo", "band_hi", "is_anomaly"
    )


def q_events_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-event-type freshness/completeness: newest row within 30 min of
    # the table's newest, largest internal gap under 10000 s — integer-
    # microsecond arithmetic, exact across engines
    return stats_ops.freshness_check(
        _t(spark, sf_dir, "events"), "event_type", "ts",
        max_lag_s=1800, max_gap_s=10000,
    )


def q_audio_trim_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # silence-trim bounds per clip (|s| < 500 = silent): integer-exact
    # lead/trail runs, total silent count, post-trim length
    return at.trim_silence(_uniq_clips(spark, sf_dir), thresh=500)


def q_audio_content_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # decoded-PCM content dedup incl. cross-container dups: a lossless
    # flac -> pcm transcode slice is unioned in (ids prefixed), and the
    # fingerprint groups catch it where byte-level dedup cannot
    c = _uniq_clips(spark, sf_dir)
    xcode_src = c.filter(
        (F.col("codec") == "flac")
        & (F.substring("clip_id", 6, 8).cast("long") % 7 == 0)
    )
    xcoded = at.transcode(xcode_src, "pcm_s16le").withColumn(
        "clip_id", F.concat(F.lit("xcode_"), F.col("clip_id"))
    )
    unioned = c.select("clip_id", "bytes").unionByName(
        xcoded.select("clip_id", "bytes")
    )
    return at.content_dup_groups(unioned)


def q_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # integer-factor decimation resample: every 4th sample, sr/4 — the
    # exactly-reproducible "resample to model rate" normalization step
    return at.decimate(_uniq_clips(spark, sf_dir), factor=4)


def q_audio_gain_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # peak normalization to 26000: Q15 integer gain + canonical digest of
    # the gained samples (floor((s*g)/2^15) — exact on both engines)
    return at.normalize_gain(_uniq_clips(spark, sf_dir), target_peak=26000)


def q_audio_time_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SpecAugment-style deterministic time masking: two 200 ms spans per
    # clip, positions hashed from the clip id, digest of the masked signal
    return at.time_mask(_uniq_clips(spark, sf_dir), mask_ms=200, n_masks=2)


def q_multimodal_byte_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _clip_tables(spark, sf_dir)
    per_row = mm.byte_histogram_counts(t["clips"], "clip_id", "bytes", n_bins=16)
    return per_row.groupBy("clip_id", "bin").agg(F.sum("n_bytes").alias("n_bytes"))


def _av_tables(spark: SparkSession, sf_dir: str) -> tuple:
    n = fixture_n_clips(sf_dir)
    paths = fixture_io.ensure_fixture_pandas(n)
    return (
        spark.read.parquet(paths["images"]),
        spark.read.parquet(paths["videos"]),
    )


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # real-container (BMP/PPM) image metadata with JVM built-ins only —
    # the still-image analog of audio_container_summary; the oracle
    # re-parses the identical header bytes with hex arithmetic
    images, _ = _av_tables(spark, sf_dir)
    return ig.image_meta(images)


def q_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # full pixel decode (numpy BMP/PPM readers in one Arrow pass) ->
    # integer-exact channel sums / min / max / luma; the oracle re-decodes
    # every payload byte from hex (stride-aware, BGR vs RGB)
    images, _ = _av_tables(spark, sf_dir)
    return ig.image_pixel_stats(images)


def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest-neighbor thumbnail by exact integer index math + a
    # position-weighted checksum, so the oracle byte-addresses exactly the
    # pixels the resample must have selected
    images, _ = _av_tables(spark, sf_dir)
    return ig.image_resize_stats(images, 8, 6)


def q_image_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the CONSTRAINT ENGINE validating an image table: container
    # integrity + dims-vs-catalog-metadata as pure-builtin expr
    # constraints (fixtures.image_suite) — zero UDFs in the constraint
    # path, first-fail reason attribution like every other shape
    images, _ = _av_tables(spark, sf_dir)
    res = run_suite(spark, fixtures.image_suite(), {"images": images}, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # perceptual difference-hash per decodable image — exact integer luma
    # + integer-division thumbnail + strict neighbor compare, so the
    # oracle rebuilds the identical 64-bit hash from the container bytes
    images, _ = _av_tables(spark, sf_dir)
    return ig.image_dhash(images)


def q_image_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # perceptual near-dup pairs at hamming <= 2 via lossless pigeonhole
    # blocking + exact bit_count verify; the oracle is brute-force
    # all-pairs over the SQL-rebuilt hashes — equality proves the
    # blocked join loses nothing. 1/16 id slice: the gradient fixture
    # makes "all smooth increasing gradients" one perceptual mega-group
    # (hash 0), so the full-table pair relation is quadratically
    # degenerate — the slice keeps the contract relation audit-sized
    # while still spanning every hash group
    images, _ = _av_tables(spark, sf_dir)
    sl = images.filter(F.expr("CAST(substr(img_id, 5) AS BIGINT) % 16 = 0"))
    return ig.dhash_neardups(sl, max_hamming=2)


def q_image_thumb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # thumbnail EXPORT closed-loop: decode -> exact-integer resize ->
    # re-encode as real BMP -> decode the EMITTED blob -> pixel stats;
    # the oracle predicts every value from the ORIGINAL bytes via the
    # resample's byte addressing, so the thumbnail encoder must be
    # bit-exact (the image analog of wav_roundtrip)
    images, _ = _av_tables(spark, sf_dir)
    return ig.image_pixel_stats(ig.thumbnail_bmp(images, 8, 6))


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SGV1 concatenated-frame container metadata, JVM built-ins only
    _, videos = _av_tables(spark, sf_dir)
    return ig.video_meta(videos)


def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # frame sampling (every 2nd frame) + per-frame integer stats + motion
    # energy vs the previous sampled frame — one shuffle-free Arrow pass;
    # the oracle re-reads the sampled frames' bytes and the motion pairs
    _, videos = _av_tables(spark, sf_dir)
    return ig.video_frame_stats(videos, every_n=2)


def q_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL audio container end-to-end: SGA1 decode -> canonical PCM-WAV
    # (RIFF) encode -> WAV decode (chunk walk) -> integer sample stats
    # with a position-weighted checksum. The oracle predicts every value
    # from the ORIGINAL SGA1 bytes, so the WAV encode/decode pair must be
    # bit-exact in the right order to hash-match.
    c = _uniq_clips(spark, sf_dir)
    return at.wav_sample_stats(at.transcode_wav(c))


def q_mixed_container_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    # heterogeneous-lake ingestion router: magic-sniff a mixed binary
    # corpus (audio SGA1 + BMP/PPM stills + SGV1 video, incl. the seeded
    # corrupt rows) and roll up counts/bytes per container kind — pure
    # builtins, one ~7-key groupBy
    t = _clip_tables(spark, sf_dir)
    images, videos = _av_tables(spark, sf_dir)
    return mm.container_census(
        [t["clips"], images, videos], ["clip_id", "img_id", "vid_id"]
    )


def q_video_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the constraint engine validating the video table: SGV1 integrity +
    # frame-count-vs-catalog-metadata as pure-builtin expr constraints
    _, videos = _av_tables(spark, sf_dir)
    res = run_suite(spark, fixtures.video_suite(), {"videos": videos}, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def q_video_excerpt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # temporal-downsample EXPORT closed-loop: keep every 2nd frame,
    # re-encode as a new SGV1 blob, decode the EMITTED blob and take
    # per-frame stats — the oracle predicts them from the ORIGINAL bytes
    # (excerpt frame j carries original frame 2j), so the excerpt encoder
    # must be bit-exact (the video analog of image_thumb_roundtrip)
    _, videos = _av_tables(spark, sf_dir)
    return ig.video_frame_stats(ig.video_excerpt(videos, 2), every_n=1)


def q_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-frame perceptual hash tokens (grayscale dHash) — the video
    # analog of the audio PCM fingerprint; oracle rebuilds every frame's
    # hash from the SGV1 bytes
    _, videos = _av_tables(spark, sf_dir)
    return ig.video_fingerprint(videos, every_n=1)


def q_video_content_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-duplicate videos by shared frame-hash tokens (>= 2 distinct),
    # position-independent; 1/8 id slice for the same degenerate-
    # mega-group reason as image_dhash_dups
    _, videos = _av_tables(spark, sf_dir)
    sl = videos.filter(F.expr("CAST(substr(vid_id, 5) AS BIGINT) % 8 = 0"))
    return ig.video_content_matches(sl, min_shared=2, every_n=1)


def q_speech_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VAD-style speech/silence segmentation: contiguous runs of
    # active/silent 20 ms frames (integer-exact energy test), oracled by
    # the same gaps-and-islands SQL over the shared frame-decode CTEs.
    return mm.speech_segments(_uniq_clips(spark, sf_dir), frame_ms=20)


def q_speech_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-clip rollup of the segmentation: segment counts, speech-frame
    # totals, longest speech/silence runs. All integers.
    return mm.speech_activity(_uniq_clips(spark, sf_dir), frame_ms=20)


def q_align_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # forced-alignment-lite: proportional token spans over VAD speech frames
    # (exact integer division; silence gaps skipped via segment offsets).
    # 1/5 clip subsample keeps the oracle's per-token range join audit-scale
    # (NOT % 4: the fixture seeds clip i with i % 4 transcripts, so a % 4 == 0
    # cut selects exactly the transcript-less clips)
    t = _clip_tables(spark, sf_dir)
    c = _uniq_clips(spark, sf_dir).filter(
        F.expr("TRY_CAST(substr(clip_id, 6) AS BIGINT) % 5 = 0")
    )
    return mm.align_tokens(c, t["transcripts"])


def q_transcript_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # character edit distance + exact-ppm CER per (transcript, owning clip)
    # pair — the graded form of the exact-equality invariant (fk_match).
    # Full clips relation on purpose: seeded duplicate clips (i % 17) yield
    # one report row per observed pair in both engines.
    t = _clip_tables(spark, sf_dir)
    return asr_qa.pair_cer(t["clips"], t["transcripts"])


def q_transcript_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # token (word) edit distance via the per-pair token→ASCII-char encoding
    # reduction to built-in levenshtein — no Python in the plan; the DuckDB
    # oracle replicates the identical encoding with list lambdas.
    t = _clip_tables(spark, sf_dir)
    return asr_qa.pair_wer(t["clips"], t["transcripts"])


def q_cer_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fk_near_match end-to-end: transcript text must be within 6 edits of
    # EVERY owning clip row's inline transcript. k=6 exactly forgives the
    # seeded dup-parent " (alt)" conflicts (distance 6) that exact fk_match
    # flags, while still flagging the j%41 MUTATED rows — so the verdict
    # set differs from tr_text_match in a seeded, oracle-checkable way.
    t = _clip_tables(spark, sf_dir)
    s = Suite(
        shapes=[
            Shape(
                name="TranscriptNear",
                table="transcripts",
                entity_col="transcript_id",
                constraints=[
                    Constraint(
                        "tr_near",
                        "fk_near_match",
                        {
                            "key": "clip_id",
                            "parent": "clips",
                            "parent_key": "clip_id",
                            "column": "text",
                            "parent_col": "transcript",
                            "max_edits": 6,
                        },
                    )
                ],
            )
        ]
    )
    res = run_suite(spark, s, {"transcripts": t["transcripts"], "clips": t["clips"]}, config=_CFG)
    return res.verdicts.select("entity_id", "shape", "is_valid", "reason")


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps-and-islands sessionization of the event log (30 min gap):
    # integer-microsecond boundaries so the relation hashes identically
    # cross-engine; n_purchase counts one event type inside each session.
    ev = _t(spark, sf_dir, "events")
    return sess.session_rollup(ev, gap_minutes=30, count_type="purchase")


def q_codec_dur_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact per-codec p50/p90 of dur_ms: linear-interpolated percentile
    # (both engines interpolate lo + (hi-lo)*frac in IEEE double).
    t = _clip_tables(spark, sf_dir)
    return stats_ops.grouped_quantiles(
        t["clips"].where(F.col("dur_ms").isNotNull()), "codec", "dur_ms"
    )


def q_speech_rate_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cross-shape plausibility: transcript tokens-per-second against its
    # clip duration in [0.5, 8.0] tok/s — integer cross-multiplied test.
    from shaclapi_spark.ops.audio import speech_rate_check

    t = _clip_tables(spark, sf_dir)
    return speech_rate_check(t["clips"], t["transcripts"])


def q_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of attribution: each purchase joined to the user's most recent
    # view at-or-before it (union + window, one exchange, no join node).
    # Views are pre-deduped to one row per (user, us) — max event_id — so
    # right-side timestamp ties are deterministic in BOTH engines (DuckDB's
    # ASOF JOIN picks an arbitrary tie otherwise).
    from shaclapi_spark.pipeline import asof
    from shaclapi_spark.pipeline.sessions import _micros

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", _micros(ev, "ts"))
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "us")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    return asof.asof_join(
        purchases, views, "user_id", "us", ["view_event_id"], prefix="r_"
    ).select(
        "event_id",
        "user_id",
        "us",
        F.col("r_view_event_id").alias("view_event_id"),
        F.col("r_ts").alias("view_us"),
        "asof_gap",
    )


def q_purchases_in_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # interval-containment join: incidents are global sessions of error
    # events (10 min gap); emit every purchase that happened inside one.
    # Bucketized equi-join (1 h buckets) — never a nested loop.
    from shaclapi_spark.pipeline import interval
    from shaclapi_spark.pipeline.sessions import _micros, session_rollup

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", _micros(ev, "ts"))
    incidents = session_rollup(
        ev.where(F.col("event_type") == "error").withColumn(
            "__g", F.lit(0)
        ),
        user_col="__g",
        ts_col="ts",
        gap_minutes=10,
    ).select(
        F.col("session_idx").alias("incident_idx"), "start_us", "end_us"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "us"
    )
    return interval.interval_join(
        purchases, incidents, "us", "start_us", "end_us", bucket_us=3_600_000_000
    )


def q_distinctive_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc top-3 distinctive terms: tf * (N/df) exact-rational TF-IDF,
    # rank tie-broken by term — WindowGroupLimit top-k per doc.
    d = _t(spark, sf_dir, "documents")
    return corpus.distinctive_terms(d, k=3, min_tf=2)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # overlapping token-window chunking (16-token chunks, stride 12 → 4
    # tokens of overlap), the long-document preprocessing step before
    # sequence packing.
    d = _t(spark, sf_dir, "documents")
    return ck.chunk_documents(d, chunk_tokens=16, stride=12)


def q_top_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-group top-k: 3 longest docs per source, deterministic tiebreak
    # by doc_id; WindowGroupLimit keeps a k-row heap per task instead of
    # sorting whole groups.
    d = _t(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    return sp.top_per_group(
        d,
        "source",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=3,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full clip constraint suite (audio SNR + drift) at sf0.001,
    unioned with the TPC-H 3-shape DAG verdicts on the driver tables."""
    sf_dir = "/root/testdata/sf0.001"
    t = _clip_tables(spark, sf_dir)
    clip_res = run_suite(
        spark, fixtures.clip_suite(include_audio=True, include_drift=True), t, config=_CFG
    )
    tpch_res = run_suite(spark, _tpch_suite(), _tpch_tables(spark, sf_dir), config=_CFG)
    return clip_res.verdicts.unionByName(tpch_res.verdicts)


# Driver-verification rotation (round-3 review; made DATA-DRIVEN in round
# 5 per the round-4 verdict): the driver's correctness gate oracle-checks
# only the FIRST 50 queries() entries per round, so the dict is reordered
# before return — the 9 core validation queries stay pinned up front, then
# everything else by STALENESS, derived at import time from the
# CORRECTNESS_r*.json files the driver itself writes next to this file:
# never-driver-verified entries first (registration order), then
# oldest-verified-round first. No hand-maintained set literals — adding a
# query or a new round's correctness file reorders the window
# automatically, so every entry eventually cycles through the gate.
_PINNED_CORE = [
    "clip_verdicts",
    "clip_verdicts_pop",
    "violation_evidence_fk",
    "clip_violations",
    "shacl_report",
    "clips_quarantine",
    "verdict_counts",
    "clip_summary",
    "clip_cycle_verdicts",
]


def _driver_verified_rounds(root: str | None = None) -> dict[str, int]:
    """{query_key: latest round whose CORRECTNESS_r*.json has it GREEN}.

    A key whose LATEST check is red (rows/schema/hash mismatch or err)
    is dropped entirely — a known regression must re-enter the 50-query
    window immediately (rank = never-verified), not sit behind the
    backlog at its last-green round's rank. ``root`` defaults to this
    file's directory (where the driver writes the correctness files);
    injectable for tests.
    """
    import glob
    import json
    import re

    here = root or os.path.dirname(os.path.abspath(__file__))
    latest_green: dict[str, int] = {}
    latest_seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            latest_seen[key] = max(rnd, latest_seen.get(key, -1))
            green = (
                row.get("rows_match") is True
                and row.get("schema_match", True) is not False
                and row.get("hash_match", True) is not False
                and not row.get("err")
            )
            if green and rnd >= latest_green.get(key, -1):
                latest_green[key] = rnd
    return {
        k: r for k, r in latest_green.items() if latest_seen[k] == r
    }


def _rotate_for_driver_window(q: dict) -> dict:
    verified = _driver_verified_rounds()
    order = [k for k in _PINNED_CORE if k in q]
    # never driver-verified, in registration order
    order += [k for k in q if k not in verified and k not in order]
    # then stalest-first (ties broken by registration order, which sorted
    # respects because Python sort is stable)
    rest = [k for k in q if k not in order]
    order += sorted(rest, key=lambda k: verified.get(k, -1))
    return {k: q[k] for k in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate_for_driver_window({
        "clip_verdicts": q_clip_verdicts,
        "clip_verdicts_pop": q_clip_verdicts_pop,
        "violation_evidence_fk": q_violation_evidence_fk,
        "clip_violations": q_clip_violations,
        "shacl_report": q_shacl_report,
        "clips_quarantine": q_clips_quarantine,
        "verdict_counts": q_verdict_counts,
        "clip_summary": q_clip_summary,
        "clip_cycle_verdicts": q_clip_cycle_verdicts,
        "fdep_verdicts": q_fdep_verdicts,
        "monotonic_verdicts": q_monotonic_verdicts,
        "blocklist_verdicts": q_blocklist_verdicts,
        "stat_bound_verdicts": q_stat_bound_verdicts,
        "incremental_verdicts": q_incremental_verdicts,
        "incremental_changelog_verdicts": q_incremental_changelog_verdicts,
        "verdict_regression": q_verdict_regression,
        "clip_stats": q_clip_stats,
        "grouped_stats_codec": q_grouped_stats_codec,
        "dup_clip_ids": q_dup_clip_ids,
        "drift_hist_dur": q_drift_hist_dur,
        "tpch_verdicts": q_tpch_verdicts,
        "events_hourly": q_events_hourly,
        "doc_dedup_groups": q_doc_dedup_groups,
        "jaccard_pairs_docs": q_jaccard_pairs_docs,
        "dedup_clusters_docs": q_dedup_clusters_docs,
        "precedence_dedup_docs": q_precedence_dedup_docs,
        "interleave_docs": q_interleave_docs,
        "pq_topk": q_pq_topk,
        "pq_batch_topk": q_pq_batch_topk,
        "budget_cut_docs": q_budget_cut_docs,
        "zorder_prune_lineitem": q_zorder_prune_lineitem,
        "audio_fp_matches": q_audio_fp_matches,
        "hard_negatives_emb": q_hard_negatives,
        "matryoshka_recall_emb": q_matryoshka_recall,
        "quality_budget_docs": q_quality_budget_docs,
        "leakage_split_docs": q_leakage_split_docs,
        "chi2_drift_docs": q_chi2_drift_docs,
        "stratified_sample_docs": q_stratified_sample_docs,
        "stratified_quota_docs": q_stratified_quota_docs,
        "curation_funnel": q_curation_funnel,
        "curation_dispositions": q_curation_dispositions,
        "orders_reconciliation": q_orders_reconciliation,
        "reconcile_verdicts": q_reconcile_verdicts,
        "curation_funnel_neardup": q_curation_funnel_neardup,
        "pipeline_e2e": q_pipeline_e2e,
        "weighted_mix_docs": q_weighted_mix_docs,
        "pack_sequences_docs": q_pack_sequences_docs,
        "repetition_docs": q_repetition_docs,
        "decontam_docs": q_decontam_docs,
        "minhash_neardups_docs": q_minhash_neardups_docs,
        "simhash_neardups_docs": q_simhash_neardups_docs,
        "text_quality_docs": q_text_quality_docs,
        "token_stats_docs": q_token_stats_docs,
        "lang_id_docs": q_lang_id_docs,
        "fingerprint_docs": q_fingerprint_docs,
        "top_ngrams_docs": q_top_ngrams_docs,
        "boilerplate_docs": q_boilerplate_docs,
        "speech_segments": q_speech_segments,
        "speech_activity": q_speech_activity,
        "sessionize_events": q_sessionize_events,
        "codec_dur_quantiles": q_codec_dur_quantiles,
        "speech_rate_check": q_speech_rate_check,
        "asof_purchase_view": q_asof_purchase_view,
        "purchases_in_error_windows": q_purchases_in_error_windows,
        "distinctive_terms_docs": q_distinctive_terms_docs,
        "chunk_docs": q_chunk_docs,
        "top_docs_per_source": q_top_docs_per_source,
        "pii_scrub_docs": q_pii_scrub_docs,
        "encoding_quality_docs": q_encoding_quality_docs,
        "domain_stats_docs": q_domain_stats_docs,
        "substring_decontam_docs": q_substring_decontam_docs,
        "line_dedup_docs": q_line_dedup_docs,
        "epoch_shuffle_docs": q_epoch_shuffle_docs,
        "topk_cosine": q_topk_cosine,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "ann_batch_topk": q_ann_batch_topk,
        "ivf_batch_topk": q_ivf_batch_topk,
        "embedding_neardups": q_embedding_neardups,
        "embedding_neardups_auto": q_embedding_neardups_auto,
        "audio_meta": q_audio_meta,
        "audio_frames": q_audio_frames,
        "clip_loudness": q_clip_loudness,
        "clip_sample_quality": q_sample_quality,
        "snapshot_diff_codec": q_snapshot_diff_codec,
        "k_anonymity_docs": q_k_anonymity_docs,
        "dur_anomalies": q_dur_anomalies,
        "events_freshness": q_events_freshness,
        "audio_trim_silence": q_audio_trim_silence,
        "audio_content_dups": q_audio_content_dups,
        "audio_decimate": q_audio_decimate,
        "audio_gain_norm": q_audio_gain_norm,
        "audio_time_mask": q_audio_time_mask,
        "audio_bandwidth": q_audio_bandwidth,
        "audio_pitch": q_audio_pitch,
        "audio_container_summary": q_audio_container_summary,
        "bpe_pairs_docs": q_bpe_pairs_docs,
        "pack_clips_duration": q_pack_clips_duration,
        "audio_speed_perturb": q_audio_speed_perturb,
        "audio_pad_trim": q_audio_pad_trim,
        "vocab_coverage_docs": q_vocab_coverage_docs,
        "shard_manifest_docs": q_shard_manifest_docs,
        "bigram_surprisal_docs": q_bigram_surprisal_docs,
        "source_overlap_docs": q_source_overlap_docs,
        "audio_mix": q_audio_mix,
        "padding_stats_clips": q_padding_stats_clips,
        "align_tokens": q_align_tokens,
        "transcript_cer": q_transcript_cer,
        "transcript_wer": q_transcript_wer,
        "cer_verdicts": q_cer_verdicts,
        "multimodal_byte_hist": q_multimodal_byte_hist,
        "wav_roundtrip": q_wav_roundtrip,
        "image_verdicts": q_image_verdicts,
        "image_dhash": q_image_dhash,
        "image_dhash_dups": q_image_dhash_dups,
        "image_meta": q_image_meta,
        "image_pixel_stats": q_image_pixel_stats,
        "image_resize_stats": q_image_resize_stats,
        "image_thumb_roundtrip": q_image_thumb_roundtrip,
        "video_meta": q_video_meta,
        "video_frame_stats": q_video_frame_stats,
        "video_fingerprint": q_video_fingerprint,
        "video_content_matches": q_video_content_matches,
        "video_verdicts": q_video_verdicts,
        "mixed_container_census": q_mixed_container_census,
        "video_excerpt_roundtrip": q_video_excerpt_roundtrip,
    })


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

def _clip_verdict_union_sql() -> str:
    c = _clips_pq("clips")
    t = _clips_pq("transcripts")
    return (
        f"SELECT * FROM ({oracle.clip_verdict_sql(c, t, include_audio=True)})"
        f" UNION ALL SELECT * FROM ({oracle.transcript_verdict_sql(c, t)})"
    )


def _clip_violations_sql() -> str:
    c = _clips_pq("clips")
    t = _clips_pq("transcripts")
    return f"""
WITH clips AS (SELECT *, CAST(substr(clip_id, 6) AS BIGINT) AS i FROM {c}),
tr AS (SELECT * FROM {t}),
tr_verdict AS (
  SELECT entity_id AS transcript_id, is_valid
  FROM ({oracle.transcript_verdict_sql("clips", "tr")})
),
child AS (
  SELECT t2.clip_id,
         count(*) AS n_tr,
         sum(CASE WHEN t2.n_tokens >= 1 THEN 1 ELSE 0 END) AS n_tok,
         sum(CASE WHEN coalesce(v.is_valid, TRUE) THEN 1 ELSE 0 END) AS n_valid_tr
  FROM tr t2 LEFT JOIN tr_verdict v ON v.transcript_id = t2.transcript_id
  GROUP BY t2.clip_id
),
ent AS (
  SELECT c2.clip_id,
         count(*) AS n_rows,
         bool_and(c2.sr_hz IS NOT NULL) AS b_srnn,
         bool_and(c2.sr_hz IS NULL OR c2.sr_hz BETWEEN 8000 AND 48000) AS b_srrng,
         bool_and(c2.dur_ms IS NULL OR c2.dur_ms BETWEEN 500 AND 30000) AS b_dur,
         bool_and(coalesce(c2.codec = 'pcm_s16le', TRUE)) AS b_orc,
         bool_and(coalesce(c2.dur_ms <= 30000, TRUE)) AS b_ord,
         coalesce(bool_and(c2.i % 101 <> 0) FILTER (WHERE
             c2.sr_hz IS NOT NULL
             AND c2.sr_hz BETWEEN 8000 AND 48000
             AND (c2.dur_ms IS NULL OR c2.dur_ms BETWEEN 500 AND 30000)
         ), TRUE) AS b_audio
  FROM clips c2 GROUP BY c2.clip_id
),
j AS (
  SELECT e.*, coalesce(a.n_tr, 0) AS n_tr, coalesce(a.n_tok, 0) AS n_tok,
         coalesce(a.n_valid_tr, 0) AS n_valid_tr
  FROM ent e LEFT JOIN child a ON a.clip_id = e.clip_id
)
SELECT clip_id AS entity_id, 'ClipShape' AS shape, 'clip_unique' AS constraint_id FROM j WHERE n_rows > 1
UNION ALL SELECT clip_id, 'ClipShape', 'sr_not_null' FROM j WHERE NOT b_srnn
UNION ALL SELECT clip_id, 'ClipShape', 'sr_range' FROM j WHERE NOT b_srrng
UNION ALL SELECT clip_id, 'ClipShape', 'dur_range' FROM j WHERE NOT b_dur
UNION ALL SELECT clip_id, 'ClipShape', 'tr_min1' FROM j WHERE n_tr < 1
UNION ALL SELECT clip_id, 'ClipShape', 'tr_max1' FROM j WHERE n_tr > 1
UNION ALL SELECT clip_id, 'ClipShape', 'tr_valid' FROM j WHERE n_valid_tr < 1
UNION ALL SELECT clip_id, 'ClipShape', 'clip_or' FROM j WHERE NOT (b_orc OR n_tok >= 1 OR b_ord)
UNION ALL SELECT clip_id, 'ClipShape', 'pcm_snr' FROM j WHERE NOT b_audio
UNION ALL SELECT transcript_id, 'TranscriptShape', 'tr_fk' FROM tr
  WHERE NOT (clip_id IS NULL OR clip_id IN (SELECT clip_id FROM clips))
UNION ALL SELECT transcript_id, 'TranscriptShape', 'tr_text' FROM tr
  WHERE NOT coalesce(text IS NOT NULL AND length(text) > 0, TRUE)
UNION ALL SELECT transcript_id, 'TranscriptShape', 'tr_tokens' FROM tr
  WHERE NOT (n_tokens IS NULL OR n_tokens >= 0)
UNION ALL SELECT transcript_id, 'TranscriptShape', 'tr_lang' FROM tr
  WHERE NOT (lang IS NULL OR lang IN ('en', 'de', 'es'))
UNION ALL SELECT tr.transcript_id, 'TranscriptShape', 'tr_text_match' FROM tr
  LEFT JOIN (SELECT clip_id, count(DISTINCT transcript) AS nd, max(transcript) AS mx
             FROM clips GROUP BY clip_id) p
    ON p.clip_id = tr.clip_id
  WHERE NOT (tr.clip_id IS NULL OR tr.text IS NULL OR p.nd IS NULL OR p.nd = 0
             OR (p.nd = 1 AND tr.text = p.mx))
"""


def _clip_stats_sql() -> str:
    c = _clips_pq("clips")
    parts = []
    for col in ("clip_id", "sr_hz", "dur_ms", "codec", "transcript"):
        parts.append(
            f"SELECT '{col}' AS column_name,"
            f" CAST(min({col}) AS VARCHAR) AS min_value,"
            f" CAST(max({col}) AS VARCHAR) AS max_value,"
            f" count(*) - count({col}) AS n_nulls,"
            f" count(DISTINCT {col}) AS n_distinct,"
            f" count(*) AS n_rows FROM {c}"
        )
    return " UNION ALL ".join(parts)


def _tpch_verdicts_sql() -> str:
    return """
WITH li AS (
  SELECT *, CAST(l_orderkey * 10 + l_linenumber AS VARCHAR) AS li_id FROM lineitem
),
li_v AS (
  SELECT li_id AS entity_id, 'LineitemShape' AS shape,
    ((l_quantity IS NULL OR l_quantity BETWEEN 1 AND 50)
     AND (l_discount IS NULL OR l_discount BETWEEN 0 AND 0.1)
     AND coalesce(l_extendedprice > 0, TRUE)
     AND (l_partkey IS NULL OR l_partkey IN (SELECT p_partkey FROM part))) AS is_valid
  FROM li
),
ord_child AS (
  SELECT li.l_orderkey, count(*) AS n_li,
         sum(CASE WHEN coalesce(v.is_valid, TRUE) THEN 1 ELSE 0 END) AS n_valid_li
  FROM li LEFT JOIN li_v v ON v.entity_id = li.li_id
  GROUP BY li.l_orderkey
),
ord_v AS (
  SELECT CAST(o.o_orderkey AS VARCHAR) AS entity_id, 'OrderShape' AS shape,
    (o.o_custkey IS NOT NULL
     AND (o.o_custkey IS NULL OR o.o_custkey IN (SELECT c_custkey FROM customer))
     AND coalesce(o.o_totalprice > 0, TRUE)
     AND coalesce(c.n_li, 0) >= 1
     AND coalesce(c.n_valid_li, 0) >= 1) AS is_valid
  FROM orders o LEFT JOIN ord_child c ON c.l_orderkey = o.o_orderkey
),
cust_child AS (
  SELECT o.o_custkey, count(*) AS n_o,
         sum(CASE WHEN coalesce(v.is_valid, TRUE) THEN 1 ELSE 0 END) AS n_valid_o
  FROM orders o LEFT JOIN ord_v v ON v.entity_id = CAST(o.o_orderkey AS VARCHAR)
  GROUP BY o.o_custkey
),
cust_v AS (
  SELECT CAST(c.c_custkey AS VARCHAR) AS entity_id, 'CustomerShape' AS shape,
    (c.c_name IS NOT NULL
     AND (c.c_nationkey IS NULL OR c.c_nationkey IN (SELECT n_nationkey FROM nation))
     AND coalesce(cc.n_o, 0) >= 1
     AND coalesce(cc.n_valid_o, 0) >= 1) AS is_valid
  FROM customer c LEFT JOIN cust_child cc ON cc.o_custkey = c.c_custkey
)
SELECT * FROM li_v UNION ALL SELECT * FROM ord_v UNION ALL SELECT * FROM cust_v
"""


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = "list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')"


def _simhash_sql(bits: int = 60, max_hamming: int = 3) -> str:
    """Exact DuckDB replica of dedup.simhash_neardups(hash_fn="md5_60"):
    same normalization/tokenization, same 60-bit md5 token hash, sign-sum
    per bit, then brute-force all-pairs hamming (blocking in the Spark path
    is lossless, so brute force is the correct oracle)."""
    sums = ",\n  ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
toks AS (
  SELECT DISTINCT doc_id AS doc, tok
  FROM d, LATERAL (SELECT unnest(string_split(norm, ' ')) AS tok) u
  WHERE tok <> ''
),
h AS (SELECT doc, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bitsums AS (SELECT doc, {sums} FROM h GROUP BY doc),
sig AS (SELECT doc, ({sig}) AS simhash FROM bitsums)
SELECT a.doc AS a, b.doc AS b,
  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def _text_quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in _STOP_EN)
    return f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS n_punct,
  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
  CAST(len(list_filter({_TOKS}, x -> list_contains([{stop}], x))) AS BIGINT) AS n_stopword_en,
  CAST(coalesce(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'max'), 0) AS BIGINT) AS max_token_len
FROM documents
"""


def _token_stats_sql() -> str:
    # whitespace tokens: Spark counts split(trim(text), '\s+') elements with
    # an explicit 0 for all-whitespace text; BPE-ish tokens: split on
    # whitespace + ASCII punctuation + digits (Java \p{Punct} == RE2
    # [:punct:] — both are the ASCII punctuation set), drop empties.
    bpe = (
        "list_filter(string_split_regex(trim(lower(text)),"
        " '[\\s[:punct:][:digit:]]+'), x -> x <> '')"
    )
    return f"""
SELECT doc_id,
  CAST(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_ws_tokens,
  CAST(len({bpe}) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def _lang_id_sql() -> str:
    score = {
        lang: f"len(list_filter({_TOKS}, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in tx.LANG_PROFILES[lang])
        + "], x)))"
        for lang in tx.LANG_ORDER
    }
    cases = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in tx.LANG_ORDER
    )
    scores_sel = ", ".join(f"{expr} AS s_{lang}" for lang, expr in score.items())
    greatest = ", ".join(f"s_{lang}" for lang in tx.LANG_ORDER)
    return f"""
WITH scored AS (SELECT doc_id, {scores_sel} FROM documents),
best AS (SELECT *, greatest({greatest}) AS best FROM scored)
SELECT doc_id, CASE WHEN best > 0 THEN CASE {cases} END ELSE 'und' END AS lang_pred
FROM best
"""


def _topk_cosine_sql() -> str:
    vec = ", ".join(repr(v) for v in _QUERY_VEC)
    cos = f"list_cosine_similarity(embedding::DOUBLE[], [{vec}]::DOUBLE[])"
    return f"""
SELECT vec_id, CAST(round({cos} * 1000000) AS BIGINT) AS cosine_e6
FROM embeddings
WHERE {cos} IS NOT NULL
ORDER BY {cos} DESC, vec_id
LIMIT 10
"""


def _audio_meta_sql() -> str:
    c = _clips_pq("clips")
    return f"""
SELECT clip_id,
  CASE WHEN i % 10 <= 6 THEN 'opus' WHEN i % 10 <= 8 THEN 'flac' ELSE 'pcm_s16le' END AS hdr_codec,
  CAST(CASE i % 5 WHEN 0 THEN 8000 WHEN 1 THEN 16000 WHEN 2 THEN 22050 WHEN 3 THEN 44100 ELSE 48000 END AS BIGINT) AS hdr_sr_hz,
  CAST(256 + (i % 256) AS BIGINT) AS hdr_n_samples
FROM (SELECT clip_id, CAST(substr(clip_id, 6) AS BIGINT) AS i FROM {c})
"""


def _byte_hist_sql() -> str:
    c = _clips_pq("clips")
    return f"""
WITH c AS (
  SELECT clip_id, upper(hex(bytes)) AS h, octet_length(bytes) AS n
  FROM {c} WHERE bytes IS NOT NULL
),
e AS (
  SELECT clip_id,
    unnest(list_transform(range(0, n), i -> substr(h, CAST(2*i+1 AS INT), 1))) AS d
  FROM c
),
cnt AS (
  SELECT clip_id, strpos('0123456789ABCDEF', d) - 1 AS bin, count(*) AS n_bytes
  FROM e GROUP BY 1, 2
),
bins AS (SELECT unnest(range(0, 16)) AS bin),
grid AS (SELECT DISTINCT clip_id FROM c)
SELECT g.clip_id, CAST(b.bin AS INT) AS bin,
  CAST(coalesce(cnt.n_bytes, 0) AS BIGINT) AS n_bytes
FROM grid g CROSS JOIN bins b
LEFT JOIN cnt ON cnt.clip_id = g.clip_id AND cnt.bin = b.bin
"""


def _audio_decode_ctes() -> str:
    """The shared SGA1 decode CTE chain (ends at relation ``dec``:
    clip_id, flen, i, val) — header fields from little-endian hex bytes,
    samples as u16 pairs, codec decode (0=pcm passthrough, 1=flac
    cumulative-XOR window, 2=opus dequantize *64 — q in [-512,511] so no
    int16 wrap). Both the frames oracle and the sample-quality oracle
    build on it."""
    c = _clips_pq("clips")
    return f"""uniq AS (
  SELECT clip_id FROM {c} GROUP BY 1 HAVING count(*) = 1
),
c AS (
  SELECT clip_id, upper(hex(bytes)) AS h
  FROM {c} JOIN uniq USING (clip_id)
  WHERE bytes IS NOT NULL AND substr(upper(hex(bytes)), 1, 8) = '53474131'
),
hdr AS (
  SELECT clip_id, h,
    ('0x' || substr(h, 9, 2))::INT AS codec_id,
    ('0x' || substr(h, 17, 2) || substr(h, 15, 2)
          || substr(h, 13, 2) || substr(h, 11, 2))::BIGINT AS sr,
    ('0x' || substr(h, 25, 2) || substr(h, 23, 2)
          || substr(h, 21, 2) || substr(h, 19, 2))::BIGINT AS n
  FROM c
),
raw AS (
  -- decode_clip parity: reject unknown codec ids and truncated payloads
  SELECT clip_id, codec_id, (sr * 20) // 1000 AS flen,
    unnest(range(0, n)) AS i,
    unnest(list_transform(range(0, n), i ->
      ('0x' || substr(h, CAST(45 + 4 * i AS INT), 2)
            || substr(h, CAST(43 + 4 * i AS INT), 2))::BIGINT)) AS u16
  FROM hdr
  WHERE codec_id IN (0, 1, 2) AND length(h) >= 42 + 4 * n
),
dec0 AS (
  SELECT clip_id, codec_id, flen, i, u16,
    bit_xor(u16) OVER (PARTITION BY clip_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM raw
),
dec AS (
  -- opus dequantize wraps like numpy's (q << 6).astype(int16): x64 then
  -- mod 2^16 (sign-agnostic), THEN sign-extend
  SELECT clip_id, flen, i,
    CASE WHEN m >= 32768 THEN m - 65536 ELSE m END AS val
  FROM (
    SELECT clip_id, flen, i,
      (CASE WHEN codec_id = 1 THEN cum ELSE u16 END
       * CASE WHEN codec_id = 2 THEN 64 ELSE 1 END) % 65536 AS m
    FROM dec0
  )
)"""


def _audio_frames_sql() -> str:
    """20 ms frame features over the shared decode CTEs, integer-exact:
    matches the Spark mapInPandas output value-for-value."""
    return f"""
WITH {_audio_decode_ctes()},
p AS (
  SELECT clip_id, i // flen AS frame_idx, i % flen AS pos, val,
    lag(val) OVER (PARTITION BY clip_id ORDER BY i) AS pv
  FROM dec
)
SELECT clip_id,
  CAST(frame_idx AS INT) AS frame_idx,
  CAST(count(*) AS INT) AS n_samples,
  CAST(sum(abs(val)) AS BIGINT) AS sum_abs,
  CAST(max(abs(val)) AS INT) AS peak_abs,
  CAST(sum(val * val) AS BIGINT) AS sum_sq,
  CAST(sum(CASE WHEN pos <> 0 AND (val < 0) <> (pv < 0) THEN 1 ELSE 0 END)
       AS INT) AS zero_crossings
FROM p GROUP BY 1, 2
"""


def _sample_quality_sql(clip_thresh: int) -> str:
    """Sample-level audio QA over the shared decode CTEs: clipping count,
    longest consecutive clipped run (gaps-and-islands: i minus per-class
    row_number groups each run), signed DC sum, sample min/max. All
    integers — exact value-hash parity with audio_sample_quality."""
    return f"""
WITH {_audio_decode_ctes()},
m AS (
  SELECT clip_id, i, val,
    CASE WHEN abs(val) >= {clip_thresh} THEN 1 ELSE 0 END AS c
  FROM dec
),
r AS (
  SELECT clip_id, c,
    i - row_number() OVER (PARTITION BY clip_id, c ORDER BY i) AS g
  FROM m
),
runs AS (SELECT clip_id, count(*) AS rl FROM r WHERE c = 1 GROUP BY clip_id, g),
agg AS (
  SELECT clip_id,
    CAST(count(*) AS BIGINT) AS n_samples,
    CAST(sum(c) AS BIGINT) AS n_clipped,
    CAST(sum(val) AS BIGINT) AS dc_sum,
    CAST(min(val) AS INT) AS min_s,
    CAST(max(val) AS INT) AS max_s
  FROM m GROUP BY 1
)
SELECT agg.clip_id, agg.n_samples, agg.n_clipped,
  CAST(COALESCE(mx.mr, 0) AS INT) AS max_clip_run,
  agg.dc_sum, agg.min_s, agg.max_s
FROM agg LEFT JOIN
  (SELECT clip_id, max(rl) AS mr FROM runs GROUP BY 1) mx USING (clip_id)
"""


def _trim_silence_sql(thresh: int) -> str:
    """Silence-trim bounds over the shared decode CTEs: leading run =
    first active index (whole clip when none), trailing run = samples
    after the last active index. All integers — exact parity with
    audio_transform.trim_silence."""
    return f"""
WITH {_audio_decode_ctes()},
m AS (
  SELECT clip_id, i,
    CASE WHEN abs(val) >= {thresh} THEN 1 ELSE 0 END AS a
  FROM dec
),
b AS (
  SELECT clip_id,
    count(*) AS n,
    sum(1 - a) AS n_silent,
    min(CASE WHEN a = 1 THEN i END) AS first_a,
    max(CASE WHEN a = 1 THEN i END) AS last_a
  FROM m GROUP BY 1
)
SELECT clip_id,
  CAST(n AS BIGINT) AS n_samples,
  CAST(COALESCE(first_a, n) AS BIGINT) AS lead_sil,
  CAST(CASE WHEN last_a IS NULL THEN 0 ELSE n - 1 - last_a END AS BIGINT)
    AS trail_sil,
  CAST(n_silent AS BIGINT) AS n_silent,
  CAST(CASE WHEN first_a IS NULL THEN 0 ELSE last_a - first_a + 1 END AS BIGINT)
    AS n_kept
FROM b
"""


def _audio_fingerprint_ctes() -> str:
    """Decoded-PCM fingerprint relation ``fp`` on top of the decode CTEs:
    md5 over the canonical str(int)-comma-joined sample vector — the same
    digest audio_transform._canonical_md5 derives from numpy."""
    return f"""{_audio_decode_ctes()},
fp0 AS (
  SELECT clip_id,
    count(*) AS n_samples,
    md5(string_agg(CAST(val AS VARCHAR), ',' ORDER BY i)) AS pcm_md5
  FROM dec GROUP BY 1
),
fp AS (
  SELECT fp0.clip_id,
    CASE h.codec_id WHEN 0 THEN 'pcm_s16le' WHEN 1 THEN 'flac'
                    ELSE 'opus' END AS codec,
    fp0.n_samples, fp0.pcm_md5
  FROM fp0 JOIN hdr h USING (clip_id)
)"""


def _audio_fp_matches_sql(min_shared: int = 5) -> str:
    """Acoustic fingerprint tokens replayed in SQL over the shared decode
    CTEs (integer block energies → comparison-bit words → 32-bit paired
    tokens), with the transcoded slice modeled by re-labeling (lossless
    transcode ⇒ identical samples ⇒ identical tokens)."""
    return f"""
WITH {_audio_decode_ctes()},
sl AS (
  SELECT clip_id FROM hdr
  WHERE CAST(substr(clip_id, 6) AS BIGINT) % 32 = 0
),
d2 AS (SELECT dec.* FROM dec JOIN sl USING (clip_id)),
-- fixed 16-sample frames (frame_samples=16): 16 one-sample bands per
-- frame; complete frames only
fcomp AS (
  SELECT clip_id, i // 16 AS f
  FROM d2 GROUP BY clip_id, i // 16 HAVING count(*) = 16
),
e AS (
  SELECT d2.clip_id, i // 16 AS f, i % 16 AS b, abs(val) AS e
  FROM d2 JOIN fcomp ON fcomp.clip_id = d2.clip_id AND fcomp.f = i // 16
),
w AS (
  SELECT a.clip_id, a.f,
    CAST(sum(CASE WHEN b2.e > a.e THEN (1::BIGINT << a.b) ELSE 0 END)
         AS BIGINT) AS w
  FROM e a JOIN e b2
    ON b2.clip_id = a.clip_id AND b2.f = a.f + 1 AND b2.b = a.b
  GROUP BY 1, 2
),
tok AS (
  SELECT w1.clip_id, ((w1.w << 16) | w2.w) AS token
  FROM w w1 JOIN w w2 ON w2.clip_id = w1.clip_id AND w2.f = w1.f + 1
),
xc AS (
  SELECT 'xcode_' || t.clip_id AS clip_id, t.token
  FROM tok t JOIN hdr h ON h.clip_id = t.clip_id
  WHERE h.codec_id = 1
),
td AS (
  SELECT DISTINCT clip_id, token
  FROM (SELECT clip_id, token FROM tok UNION ALL SELECT * FROM xc)
),
pairs AS (
  SELECT a.clip_id AS a, b.clip_id AS b, count(*) AS n_shared
  FROM td a JOIN td b ON a.token = b.token AND a.clip_id < b.clip_id
  GROUP BY 1, 2 HAVING count(*) >= {int(min_shared)}
),
sym AS (
  SELECT a AS clip_id, b AS other, n_shared FROM pairs
  UNION ALL
  SELECT b, a, n_shared FROM pairs
)
SELECT clip_id, CAST(count(*) AS BIGINT) AS n_matches,
  CAST(sum(n_shared) AS BIGINT) AS sum_shared,
  min(other) AS first_match, max(other) AS last_match
FROM sym GROUP BY 1
"""


def _content_dups_sql() -> str:
    """Cross-container content-dup groups: a lossless flac -> pcm
    transcode decodes bit-identically, so the oracle models the query's
    transcoded slice by re-labeling fp rows — no second decode needed."""
    return f"""
WITH {_audio_fingerprint_ctes()},
xc AS (
  SELECT 'xcode_' || clip_id AS clip_id, 'pcm_s16le' AS codec,
         n_samples, pcm_md5
  FROM fp
  WHERE codec = 'flac' AND CAST(substr(clip_id, 6) AS BIGINT) % 7 = 0
),
fpu AS (SELECT * FROM fp UNION ALL SELECT * FROM xc)
SELECT pcm_md5,
  CAST(max(n_samples) AS BIGINT) AS n_samples,
  CAST(count(*) AS BIGINT) AS n_clips,
  CAST(count(DISTINCT codec) AS BIGINT) AS n_codecs,
  min(clip_id) AS first_clip,
  max(clip_id) AS last_clip
FROM fpu GROUP BY 1 HAVING count(*) > 1
"""


def _decimate_sql(factor: int) -> str:
    """Every ``factor``-th decoded sample, digested with the same
    canonical md5; sr_out is integer division of the header rate."""
    return f"""
WITH {_audio_decode_ctes()},
dm AS (SELECT clip_id, i, val FROM dec WHERE i % {factor} = 0)
SELECT dm.clip_id,
  CAST(h.sr // {factor} AS INT) AS sr_out,
  CAST(count(*) AS BIGINT) AS n_out,
  md5(string_agg(CAST(dm.val AS VARCHAR), ',' ORDER BY dm.i)) AS dec_md5
FROM dm JOIN hdr h ON h.clip_id = dm.clip_id
GROUP BY dm.clip_id, h.sr
"""


def _encoding_quality_sql() -> str:
    """Artifact counts generated from webclean.ARTIFACT_PATTERNS — the SQL
    derives from the same registry the Spark path uses (no drift), with
    the identical deterministic augmentation."""
    aug = (
        "text || repeat('Ã©', CAST(doc_id % 3 AS INT)) || "
        "CASE WHEN doc_id % 4 = 0 THEN 'â€™' ELSE '' END || "
        "CASE WHEN doc_id % 7 = 0 THEN '�' ELSE '' END || "
        "CASE WHEN doc_id % 11 = 0 THEN chr(7) ELSE '' END"
    )
    count_cols = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in wc.ARTIFACT_PATTERNS
    )
    total = " + ".join(f"n_{name}" for name, _ in wc.ARTIFACT_PATTERNS)
    return f"""
WITH aug AS (SELECT doc_id, {aug} AS text FROM documents),
c AS (SELECT doc_id, {count_cols}, length(text) AS n FROM aug)
SELECT doc_id, n_mojibake, n_repl, n_ctrl,
  ({total}) * 1000 < n * 2 AS enc_ok
FROM c
"""


def _domain_stats_sql() -> str:
    """URL extraction + per-domain rollup from the same URL_PATTERN
    literal the Spark path compiles (quote-escaped for SQL)."""
    pat = wc.URL_PATTERN.replace("'", "''")
    host = wc.HOST_PATTERN.replace("'", "''")
    aug = (
        "text || ' see https://site' || CAST(doc_id % 10 AS VARCHAR) || "
        "'.example.com/p/' || CAST(doc_id AS VARCHAR) || "
        "CASE WHEN doc_id % 6 = 0 THEN ' http://ads.spam.bad/x' ELSE '' END"
    )
    return f"""
WITH aug AS (SELECT doc_id, {aug} AS text FROM documents),
u AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS url FROM aug
),
d AS (SELECT doc_id, regexp_extract(url, '{host}', 1) AS domain FROM u)
SELECT domain,
  CAST(count(*) AS BIGINT) AS n_urls,
  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
  bool_or(domain = 'ads.spam.bad') AS blocked
FROM d GROUP BY 1
"""


def _substring_decontam_sql() -> str:
    return """
WITH needles AS (
  SELECT DISTINCT substr(text, 10, 40) AS needle
  FROM documents WHERE doc_id % 97 = 0 AND length(text) >= 60
)
SELECT d.doc_id, CAST(count(DISTINCT n.needle) AS BIGINT) AS n_hits
FROM documents d JOIN needles n ON strpos(d.text, n.needle) > 0
GROUP BY 1
"""


def _gain_norm_sql(target_peak: int) -> str:
    """Q15 peak-normalization gain + digest of the gained samples.
    floor(val*g/32768.0) is exact in IEEE double (|val*g| < 2^53, power-
    of-two divisor) and matches numpy's arithmetic right shift."""
    return f"""
WITH {_audio_decode_ctes()},
mx AS (SELECT clip_id, CAST(max(abs(val)) AS INT) AS max_abs FROM dec GROUP BY 1),
gg AS (
  SELECT clip_id, max_abs,
    CAST(CASE WHEN max_abs = 0 THEN 32768
              ELSE ({target_peak} * 32768) // max_abs END AS BIGINT) AS gain_q15
  FROM mx
),
n AS (
  SELECT d.clip_id, d.i,
    CAST(floor(d.val * g.gain_q15 / 32768.0) AS BIGINT) AS nv
  FROM dec d JOIN gg g USING (clip_id)
)
SELECT g.clip_id, g.max_abs, g.gain_q15,
  md5(string_agg(CAST(n.nv AS VARCHAR), ',' ORDER BY n.i)) AS norm_md5
FROM n JOIN gg g USING (clip_id)
GROUP BY 1, 2, 3
"""


def _time_mask_sql(mask_ms: int = 200, n_masks: int = 2) -> str:
    """Deterministic SpecAugment time-mask mirror: span length from the
    TABLE sr column (scan-side geometry, like the Spark op), start m =
    uint32(md5('<id>:<m>')[:8]) mod (n - L + 1), samples zeroed where any
    span covers them. The mask-condition SQL is generated from range(
    n_masks) so Spark and oracle share one definition of the spans."""
    c = _clips_pq("clips")
    start_cols = ", ".join(
        f"('0x' || substr(md5(clip_id || ':{m}'), 1, 8))::BIGINT % (n - L + 1) AS s{m}"
        for m in range(n_masks)
    )
    covered = " OR ".join(
        f"(d.i >= s.s{m} AND d.i < s.s{m} + s.L)" for m in range(n_masks)
    )
    starts_str = " || ',' || ".join(f"s.s{m}::VARCHAR" for m in range(n_masks))
    return f"""
WITH {_audio_decode_ctes()},
meta AS (
  SELECT clip_id, sr_hz FROM {c} JOIN uniq USING (clip_id)
  WHERE sr_hz IS NOT NULL AND sr_hz > 0
),
nn AS (
  SELECT d.clip_id, max(d.i) + 1 AS n, any_value(m.sr_hz) AS sr_hz
  FROM dec d JOIN meta m USING (clip_id) GROUP BY 1
),
geo AS (
  SELECT clip_id, n,
    GREATEST(LEAST((sr_hz * {mask_ms}) // 1000, n), 1) AS L
  FROM nn
),
st AS (SELECT clip_id, n, L, {start_cols} FROM geo),
mskd AS (
  SELECT d.clip_id, d.i, s.n, s.L, {starts_str} AS mask_starts,
    CASE WHEN {covered} THEN 0 ELSE d.val END AS nv,
    CASE WHEN {covered} THEN 1 ELSE 0 END AS z
  FROM dec d JOIN st s USING (clip_id)
)
SELECT clip_id, n AS n_samples, L AS mask_len, mask_starts,
  CAST(sum(z) AS BIGINT) AS n_zeroed,
  md5(string_agg(nv::VARCHAR, ',' ORDER BY i)) AS masked_md5
FROM mskd GROUP BY 1, 2, 3, 4
"""


def _pii_scrub_sql() -> str:
    """Progressive per-kind redaction generated from scrub.PII_PATTERNS —
    the SQL is derived from the same registry the Spark path uses, so the
    two sides cannot drift. Each stage counts on the PREVIOUS stage's
    redacted text (mirrors pii_counts attribution)."""
    aug = (
        "text || ' reach u' || CAST(doc_id AS VARCHAR) || "
        "'@ex.org or +1 555-867-5309' || "
        "CASE WHEN doc_id % 5 = 0 "
        "THEN ' card 4242-4242-4242-4242 at 10.0.0.1' ELSE '' END"
    )
    ctes = [f"s0 AS (SELECT doc_id, {aug} AS r0 FROM documents)"]
    count_cols = []
    for i, (name, pattern, tag) in enumerate(scrub.PII_PATTERNS):
        p = pattern  # written in the Java-regex ∩ RE2 common subset, no quotes
        prev_counts = ", ".join(count_cols)
        sep = ", " if prev_counts else ""
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id{sep}{prev_counts}, "
            f"CAST(len(regexp_extract_all(r{i}, '{p}')) AS BIGINT) AS n_{name}, "
            f"regexp_replace(r{i}, '{p}', '{tag}', 'g') AS r{i + 1} FROM s{i})"
        )
        count_cols.append(f"n_{name}")
    last = len(scrub.PII_PATTERNS)
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT doc_id, r{last} AS text_redacted, "
        + ", ".join(count_cols) + f" FROM s{last}"
    )


def _decontam_sql(n: int = 8, rate: float = 0.05, salt: str = "bench") -> str:
    """Word-n-gram decontamination flags. The benchmark draw is the same
    md5_60 cutoff as hash_sample (exact integer arithmetic, no float
    boundary); grams are md5 of space-joined word windows — DuckDB list
    slicing words[i:i+n-1] is 1-based INCLUSIVE (n elements)."""
    cutoff = int(rate * (1 << 60))
    return f"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - {n - 1}, 0) + 1),
           i -> md5(array_to_string(words[i:i+{n - 1}], ' ')))) AS gram
  FROM w
),
bench AS (
  SELECT DISTINCT gram FROM g
  WHERE ('0x' || substring(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        < {cutoff}
),
bad AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (gram))
SELECT w.doc_id, (bad.doc_id IS NOT NULL) AS contaminated
FROM w LEFT JOIN bad USING (doc_id)
"""


def _clip_loudness_sql() -> str:
    """Integer-exact loudness rollup over the frames-decode SQL. Silence
    test mirrors loudness_counts: sum_sq * 100^2 < n_samples * 32767^2
    (exact int64 form of frame_rms_db < -40 dB). DuckDB's sum() yields
    HUGEINT — cast back to BIGINT to hash-match Spark's long."""
    return f"""
WITH frames AS ({_audio_frames_sql()})
SELECT clip_id,
  CAST(count(*) AS INT) AS n_frames,
  CAST(sum(n_samples) AS BIGINT) AS n_samples,
  CAST(sum(sum_abs) AS BIGINT) AS sum_abs,
  CAST(sum(sum_sq) AS BIGINT) AS sum_sq,
  CAST(max(peak_abs) AS INT) AS peak_abs,
  CAST(sum(CASE WHEN sum_sq * 10000 < CAST(n_samples AS BIGINT) * 1073676289
            THEN 1 ELSE 0 END) AS INT) AS n_silent,
  CAST(sum(zero_crossings) AS BIGINT) AS zero_crossings
FROM frames GROUP BY 1
"""


def _speech_segments_sql() -> str:
    """Gaps-and-islands speech/silence segmentation over the shared
    frame-decode CTEs: a frame is active iff its integer RMS test says
    non-silent (same exact arithmetic as the loudness oracle), segment
    boundaries via lag-change flag + running sum. Integer/boolean outputs
    → exact value-hash parity with mm.speech_segments."""
    return f"""
WITH frames AS ({_audio_frames_sql()}),
a AS (
  SELECT clip_id, frame_idx, n_samples,
    CASE WHEN sum_sq * 10000 < CAST(n_samples AS BIGINT) * 1073676289
         THEN 0 ELSE 1 END AS act
  FROM frames
),
l AS (
  SELECT *, lag(act) OVER (PARTITION BY clip_id ORDER BY frame_idx) AS pact
  FROM a
),
s AS (
  SELECT clip_id, frame_idx, n_samples, act,
    sum(CASE WHEN pact IS NULL THEN 0 WHEN pact <> act THEN 1 ELSE 0 END)
      OVER (PARTITION BY clip_id ORDER BY frame_idx
            ROWS UNBOUNDED PRECEDING) AS seg_idx
  FROM l
)
SELECT clip_id, CAST(seg_idx AS INT) AS seg_idx,
  (max(act) = 1) AS is_speech,
  CAST(min(frame_idx) AS INT) AS start_frame,
  CAST(max(frame_idx) AS INT) AS end_frame,
  CAST(count(*) AS INT) AS n_frames,
  CAST(sum(n_samples) AS BIGINT) AS n_samples
FROM s GROUP BY 1, 2
"""


def _audio_bandwidth_sql() -> str:
    """Whole-clip zero-crossing count + quarter-Nyquist bandwidth verdict
    over the shared decode CTEs — mirrors pipeline/audio_analysis
    bandwidth_verdicts (num=1, den=4) value-for-value."""
    return f"""
WITH {_audio_decode_ctes()},
p AS (
  SELECT clip_id, i, val,
    lag(val) OVER (PARTITION BY clip_id ORDER BY i) AS pv
  FROM dec
),
z AS (
  SELECT clip_id,
    CAST(count(*) AS INT) AS n_samples,
    CAST(sum(CASE WHEN i <> 0 AND (val < 0) <> (pv < 0) THEN 1 ELSE 0 END)
         AS INT) AS zero_crossings
  FROM p GROUP BY 1
)
SELECT z.clip_id, CAST(h.sr AS INT) AS sr_hz, z.n_samples, z.zero_crossings,
  (CAST(z.zero_crossings AS BIGINT) * 4
     < (CAST(z.n_samples AS BIGINT) - 1) * 1) AS low_bandwidth
FROM z JOIN hdr h USING (clip_id)
"""


def _audio_pitch_sql() -> str:
    """Autocorrelation pitch over the shared decode CTEs, 1/16 id
    subsample: centered <=4096-sample window, R(l) via a lag self-join,
    exact normalized score max(R,0)*1024 // (m-l), smallest near-max
    (>= 99.5% of best) local max, fallback smallest global argmax —
    the same integer selection rule as pitch_period."""
    return f"""
WITH {_audio_decode_ctes()},
meta AS (
  SELECT h.clip_id, CAST(h.sr AS BIGINT) AS sr, CAST(h.n AS BIGINT) AS n
  FROM hdr h
  WHERE CAST(substr(h.clip_id, 6) AS BIGINT) % 16 = 0
    AND h.codec_id IN (0, 1, 2) AND length(h.h) >= 42 + 4 * h.n
),
lagdef AS (
  SELECT clip_id, sr, n,
    greatest(0, (n - 4096) // 2) AS off,
    least(n, 4096) AS m,
    greatest(2, sr // 2000) AS lag_min,
    least(least(n, 4096) // 2, sr // 100) AS lag_max
  FROM meta
  WHERE least(least(n, 4096) // 2, sr // 100) >= greatest(2, sr // 2000)
),
wsamp AS (
  SELECT d.clip_id, d.i - l.off AS j, d.val
  FROM dec d JOIN lagdef l USING (clip_id)
  WHERE d.i >= l.off AND d.i < l.off + l.m
),
lags AS (
  SELECT clip_id, unnest(range(lag_min, lag_max + 1)) AS l FROM lagdef
),
r AS (
  SELECT lg.clip_id, lg.l, sum(a.val * b.val) AS rv
  FROM lags lg
  JOIN wsamp a ON a.clip_id = lg.clip_id
  JOIN wsamp b ON b.clip_id = lg.clip_id AND b.j = a.j + lg.l
  GROUP BY 1, 2
),
sc AS (
  SELECT r.clip_id, r.l, r.rv,
    (greatest(r.rv, 0) * 1024) // (w.m - r.l) AS score
  FROM r JOIN lagdef w USING (clip_id)
),
best AS (SELECT clip_id, max(score) AS best FROM sc GROUP BY 1),
loc AS (
  SELECT clip_id, l, rv, score,
    lag(score) OVER (PARTITION BY clip_id ORDER BY l) AS sp,
    lead(score) OVER (PARTITION BY clip_id ORDER BY l) AS sn
  FROM sc
),
pick AS (
  SELECT loc.clip_id, loc.l, loc.rv, 1 AS pri
  FROM loc JOIN best USING (clip_id)
  WHERE sp IS NOT NULL AND sn IS NOT NULL
    AND score >= sp AND score >= sn
    AND score * 1000 >= best * 995
  UNION ALL
  SELECT sc.clip_id, sc.l, sc.rv, 2 AS pri
  FROM sc JOIN best ON sc.clip_id = best.clip_id AND sc.score = best.best
),
chosen AS (
  SELECT clip_id, l, rv FROM (
    SELECT pick.*,
      row_number() OVER (PARTITION BY clip_id ORDER BY pri, l) AS rn
    FROM pick
  ) WHERE rn = 1
),
r0t AS (SELECT clip_id, sum(val * val) AS r0 FROM wsamp GROUP BY 1)
SELECT ch.clip_id,
  CAST(w.sr AS INT) AS sr_hz,
  CAST(w.n AS INT) AS n_samples,
  CAST(ch.l AS INT) AS best_lag,
  CAST(ch.rv AS BIGINT) AS r_best,
  CAST(z.r0 AS BIGINT) AS r0,
  CAST((1000 * w.sr) // ch.l AS BIGINT) AS pitch_mhz,
  (2 * ch.rv * w.m > z.r0 * (w.m - ch.l)) AS periodic
FROM chosen ch
JOIN lagdef w USING (clip_id)
JOIN r0t z USING (clip_id)
"""


def _speed_perturb_sql(num: int, den: int) -> str:
    """Zero-order-hold rational resample over the shared decode CTEs:
    out[j] = s[(j*num) DIV den], n_out = n*den DIV num — identical
    integer index math to speed_perturb; digest over the output order."""
    return f"""
WITH {_audio_decode_ctes()},
cnt AS (SELECT clip_id, count(*) AS n FROM dec GROUP BY 1),
g AS (
  SELECT clip_id, unnest(range(0, (n * {den}) // {num})) AS j FROM cnt
),
sel AS (
  SELECT g.clip_id, g.j, d.val
  FROM g JOIN dec d ON d.clip_id = g.clip_id AND d.i = (g.j * {num}) // {den}
)
SELECT sel.clip_id,
  CAST(h.sr AS INT) AS sr_hz,
  CAST(count(*) AS BIGINT) AS n_out,
  md5(string_agg(CAST(sel.val AS VARCHAR), ',' ORDER BY sel.j)) AS sp_md5
FROM sel JOIN hdr h USING (clip_id)
GROUP BY sel.clip_id, h.sr
"""


def _pad_trim_sql(target: int) -> str:
    """Head-trim / tail-zero-pad to exactly ``target`` samples over the
    shared decode CTEs; digest over the padded vector."""
    return f"""
WITH {_audio_decode_ctes()},
cnt AS (SELECT clip_id, count(*) AS n FROM dec GROUP BY 1),
pz AS (
  SELECT clip_id, i, val FROM dec WHERE i < {target}
  UNION ALL
  SELECT c.clip_id, unnest(range(c.n, {target})) AS i, 0 AS val
  FROM cnt c WHERE c.n < {target}
)
SELECT pz.clip_id,
  CAST(c.n AS BIGINT) AS n_in,
  CAST(greatest({target} - c.n, 0) AS BIGINT) AS n_pad,
  md5(string_agg(CAST(pz.val AS VARCHAR), ',' ORDER BY pz.i)) AS pad_md5
FROM pz JOIN cnt c USING (clip_id)
GROUP BY pz.clip_id, c.n
"""


def _container_summary_sql() -> str:
    """Container-integrity rollup with the SAME deterministic tampering as
    q_audio_container_summary, done in the hex/length domain (the status
    logic only consumes the hex string and the byte length, so corrupting
    h/blen is equivalent to corrupting the blob)."""
    c = _clips_pq("clips")
    return f"""
WITH raw0 AS (
  SELECT clip_id, codec, upper(hex(bytes)) AS h0,
    octet_length(bytes) AS bl0,
    CAST(substr(clip_id, 6) AS BIGINT) AS idx
  FROM {c}
),
t AS (
  SELECT clip_id, codec,
    CASE
      WHEN idx % 17 = 2 THEN NULL
      WHEN idx % 7 = 0 THEN substr(h0, 1, 60)
      WHEN idx % 11 = 3 THEN '58' || substr(h0, 3)
      WHEN idx % 13 = 5 THEN substr(h0, 1, 8) || '09' || substr(h0, 11)
      ELSE h0 END AS h,
    CASE
      WHEN idx % 17 = 2 THEN NULL
      WHEN idx % 7 = 0 THEN least(bl0, 30)
      ELSE bl0 END AS blen
  FROM raw0
),
st AS (
  SELECT clip_id, codec, h, blen,
    ('0x' || substr(h, 25, 2) || substr(h, 23, 2)
          || substr(h, 21, 2) || substr(h, 19, 2))::BIGINT AS n,
    (h IS NOT NULL AND blen >= 21
       AND substr(h, 1, 8) = '53474131') AS parseable
  FROM t
),
pc AS (
  SELECT clip_id, codec, parseable, n, blen,
    CASE
      WHEN h IS NULL THEN 'null'
      WHEN blen < 21 THEN 'bad_magic'
      WHEN substr(h, 1, 8) <> '53474131' THEN 'bad_magic'
      WHEN ('0x' || substr(h, 9, 2))::INT NOT IN (0, 1, 2) THEN 'bad_codec'
      WHEN blen < 21 + 2 * n THEN 'truncated'
      ELSE 'ok' END AS status
  FROM st
)
SELECT codec, status,
  CAST(count(*) AS BIGINT) AS n_clips,
  CAST(sum(CASE WHEN parseable THEN blen - 21 END) AS BIGINT) AS payload_bytes,
  CAST(sum(CASE WHEN parseable THEN 2 * n END) AS BIGINT) AS raw_bytes
FROM pc GROUP BY 1, 2
"""


def _wav_roundtrip_sql() -> str:
    """Predicts the WAV-export round trip from the ORIGINAL SGA1 bytes:
    the shared decode CTEs produce every sample value, so n / sum / min /
    max / Σ(i+1)·val and the canonical WAV size 44 + 2n are all known
    before the WAV is ever built — only a bit-exact encode_wav/decode_wav
    pair can reproduce them."""
    return f"""
WITH {_audio_decode_ctes()},
agg AS (
  SELECT clip_id,
    CAST(count(*) AS BIGINT) AS n_samples,
    CAST(sum(val) AS BIGINT) AS sum_val,
    CAST(min(val) AS INT) AS min_val,
    CAST(max(val) AS INT) AS max_val,
    CAST(sum((i + 1) * val) AS BIGINT) AS checksum
  FROM dec GROUP BY 1
)
SELECT a.clip_id, CAST(h.sr AS INT) AS sr_hz, a.n_samples,
  CAST(44 + 2 * a.n_samples AS BIGINT) AS wav_bytes,
  a.sum_val, a.min_val, a.max_val, a.checksum
FROM agg a JOIN hdr h USING (clip_id)
"""


def _image_meta_ctes() -> str:
    """Shared image header-parse CTE chain (ends at relation ``meta``) —
    the BMP/PPM analog of ``_audio_decode_ctes``: every field is read
    from the REAL container bytes with hex substring arithmetic (BMP
    little-endian u32/u16 fields; the fixture's fixed-width 19-byte PPM
    header), and ``status`` replays imagery.image_meta's rejection
    order exactly."""
    i = _clips_pq("images")
    return f"""raw AS (
  SELECT img_id, meta_w, meta_h, upper(hex(bytes)) AS h,
    octet_length(bytes) AS blen, bytes IS NULL AS is_null
  FROM {i}
),
flags AS (
  SELECT *, substr(h, 1, 4) = '424D' AS is_bmp,
    substr(h, 1, 4) = '5036' AS is_ppm
  FROM raw
),
fields AS (
  SELECT *,
    CASE WHEN is_bmp AND blen >= 54 THEN ('0x' || substr(h,43,2) ||
      substr(h,41,2) || substr(h,39,2) || substr(h,37,2))::BIGINT END AS bmp_w,
    -- height is SIGNED i32 (negative = spec top-down marker): sign-extend,
    -- keep the magnitude, mirroring imagery.image_meta
    CASE WHEN is_bmp AND blen >= 54 THEN abs(
      CASE WHEN ('0x' || substr(h,51,2) || substr(h,49,2) || substr(h,47,2)
                 || substr(h,45,2))::BIGINT >= 2147483648
           THEN ('0x' || substr(h,51,2) || substr(h,49,2) || substr(h,47,2)
                 || substr(h,45,2))::BIGINT - 4294967296
           ELSE ('0x' || substr(h,51,2) || substr(h,49,2) || substr(h,47,2)
                 || substr(h,45,2))::BIGINT END) END AS bmp_h,
    CASE WHEN is_bmp AND blen >= 54 THEN ('0x' || substr(h,59,2) ||
      substr(h,57,2))::BIGINT END AS bmp_bpp,
    CASE WHEN is_bmp AND blen >= 54 THEN ('0x' || substr(h,67,2) ||
      substr(h,65,2) || substr(h,63,2) || substr(h,61,2))::BIGINT END AS bmp_comp,
    CASE WHEN is_bmp AND blen >= 54 THEN ('0x' || substr(h,27,2) ||
      substr(h,25,2) || substr(h,23,2) || substr(h,21,2))::BIGINT END AS data_off,
    CASE WHEN is_ppm AND blen >= 19
      THEN TRY_CAST(trim(CAST(unhex(substr(h, 7, 10)) AS VARCHAR)) AS BIGINT)
      END AS ppm_w,
    CASE WHEN is_ppm AND blen >= 19
      THEN TRY_CAST(trim(CAST(unhex(substr(h, 19, 10)) AS VARCHAR)) AS BIGINT)
      END AS ppm_h
  FROM flags
),
sanef AS (
  SELECT *,
    (bmp_w BETWEEN 1 AND 1048576 AND bmp_h BETWEEN 1 AND 1048576
     AND data_off <= 1048576) AS bmp_sane,
    (ppm_w IS NOT NULL AND ppm_h IS NOT NULL
     AND ppm_w >= 1 AND ppm_h >= 1) AS ppm_sane
  FROM fields
),
meta AS (
  SELECT img_id, meta_w, meta_h, h, blen, is_bmp, is_ppm, data_off,
    CASE WHEN is_bmp THEN bmp_w ELSE ppm_w END AS w,
    CASE WHEN is_bmp THEN bmp_h ELSE ppm_h END AS hh,
    CASE WHEN is_bmp THEN bmp_bpp WHEN is_ppm THEN 24 END AS bpp,
    CASE WHEN is_bmp THEN ((3 * bmp_w + 3) // 4) * 4 END AS stride,
    -- size arithmetic guarded on sane dims, mirroring image_meta's
    -- overflow protection
    CASE WHEN is_bmp AND bmp_sane
           THEN data_off + ((3 * bmp_w + 3) // 4) * 4 * bmp_h
         WHEN is_ppm AND ppm_sane THEN 19 + 3 * ppm_w * ppm_h END AS need,
    CASE
      WHEN is_null THEN 'null'
      WHEN NOT (is_bmp OR is_ppm) THEN 'bad_magic'
      WHEN is_bmp AND blen < 54 THEN 'truncated'
      WHEN is_ppm AND blen < 19 THEN 'truncated'
      WHEN is_bmp AND (bmp_bpp <> 24 OR bmp_comp <> 0) THEN 'unsupported'
      WHEN is_bmp AND NOT bmp_sane THEN 'unsupported'
      WHEN is_ppm AND NOT ppm_sane THEN 'unsupported'
      -- maxval (bytes 16-18) other than '255': decode_image rejects it
      WHEN is_ppm AND substr(h, 31, 6) <> '323535' THEN 'unsupported'
      -- separators (bytes 3, 9, 15, 19) other than the fixed layout's
      WHEN is_ppm AND (substr(h, 5, 2) <> '0A' OR substr(h, 17, 2) <> '20'
        OR substr(h, 29, 2) <> '0A' OR substr(h, 37, 2) <> '0A') THEN 'unsupported'
      WHEN blen < (CASE WHEN is_bmp
                        THEN data_off + ((3 * bmp_w + 3) // 4) * 4 * bmp_h
                        ELSE 19 + 3 * ppm_w * ppm_h END) THEN 'truncated'
      ELSE 'ok' END AS status,
    (NOT is_null AND ((is_bmp AND blen >= 54) OR (is_ppm AND blen >= 19)))
      AS parseable
  FROM sanef
)"""


def _image_meta_sql() -> str:
    return f"""
WITH {_image_meta_ctes()}
SELECT img_id, status,
  CASE WHEN parseable THEN (CASE WHEN is_bmp THEN 'bmp' ELSE 'ppm' END)
    END AS fmt,
  CAST(CASE WHEN parseable THEN w END AS BIGINT) AS width,
  CAST(CASE WHEN parseable THEN hh END AS BIGINT) AS height,
  CAST(CASE WHEN parseable THEN bpp END AS BIGINT) AS bpp,
  CAST(CASE WHEN parseable THEN need END AS BIGINT) AS need_bytes,
  CAST(blen AS BIGINT) AS actual_bytes
FROM meta
"""


def _image_pixel_stats_sql() -> str:
    """Full per-pixel re-decode from hex: payload byte k of a decodable
    image maps to its stored offset (stride-aware rows for BMP, flat for
    PPM) and its channel (BGR for BMP payload order, RGB for PPM); sums
    / min / max are position-independent so stored row order (BMP
    bottom-up) needs no flip."""
    return f"""
WITH {_image_meta_ctes()},
ok AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride
  FROM meta WHERE status = 'ok'
),
px AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride,
    unnest(range(0, 3 * w * hh)) AS k
  FROM ok
),
v AS (
  SELECT img_id, w, hh, is_bmp, k % 3 AS c,
    ('0x' || substr(h, CAST(2 * (CASE WHEN is_bmp
        THEN data_off + (k // (3 * w)) * stride + (k % (3 * w))
        ELSE 19 + k END) + 1 AS INT), 2))::INT AS val
  FROM px
)
SELECT img_id,
  CAST(max(w) AS INT) AS width, CAST(max(hh) AS INT) AS height,
  CAST(sum(CASE WHEN (is_bmp AND c = 2) OR (NOT is_bmp AND c = 0)
           THEN val END) AS BIGINT) AS sum_r,
  CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_g,
  CAST(sum(CASE WHEN (is_bmp AND c = 0) OR (NOT is_bmp AND c = 2)
           THEN val END) AS BIGINT) AS sum_b,
  CAST(min(val) AS INT) AS min_px, CAST(max(val) AS INT) AS max_px,
  CAST(299 * sum(CASE WHEN (is_bmp AND c = 2) OR (NOT is_bmp AND c = 0)
                 THEN val END)
     + 587 * sum(CASE WHEN c = 1 THEN val END)
     + 114 * sum(CASE WHEN (is_bmp AND c = 0) OR (NOT is_bmp AND c = 2)
                 THEN val END) AS BIGINT) AS luma_sum
FROM v GROUP BY img_id
"""


def _resample_rgb_ctes(out_w: int, out_h: int) -> str:
    """Shared resample byte-addressing CTE chain (ends at relation ``v``:
    img_id, j, r, g, b): for each output cell j (row-major), byte-address
    the EXACT source pixel the integer-division resample rule selects —
    BMP pixels live at data_off + (hh-1-sy)*stride + 3*sx in BGR order,
    PPM at 19 + 3*(sy*w+sx) in RGB. Both the resize-stats and the
    thumbnail-round-trip oracles aggregate over this ONE chain, so the
    addressing rule has a single maintained copy."""
    return f"""{_image_meta_ctes()},
ok AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride
  FROM meta WHERE status = 'ok'
),
g AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride,
    unnest(range(0, {out_w * out_h})) AS j
  FROM ok
),
m AS (
  SELECT img_id, h, is_bmp, j,
    CASE WHEN is_bmp
      THEN data_off + (hh - 1 - (((j // {out_w}) * hh) // {out_h})) * stride
           + 3 * (((j % {out_w}) * w) // {out_w})
      ELSE 19 + 3 * ((((j // {out_w}) * hh) // {out_h}) * w
           + ((j % {out_w}) * w) // {out_w}) END AS base
  FROM g
),
v AS (
  SELECT img_id, j,
    ('0x' || substr(h, CAST(2 * (base + CASE WHEN is_bmp THEN 2 ELSE 0 END)
      + 1 AS INT), 2))::INT AS r,
    ('0x' || substr(h, CAST(2 * (base + 1) + 1 AS INT), 2))::INT AS g,
    ('0x' || substr(h, CAST(2 * (base + CASE WHEN is_bmp THEN 0 ELSE 2 END)
      + 1 AS INT), 2))::INT AS b
  FROM m
)"""


def _image_resize_stats_sql(out_w: int = 8, out_h: int = 6) -> str:
    """Resample oracle over the shared byte-addressing chain: channel
    sums + the position-weighted luma checksum."""
    return f"""
WITH {_resample_rgb_ctes(out_w, out_h)}
SELECT img_id, CAST({out_w} AS INT) AS out_w, CAST({out_h} AS INT) AS out_h,
  CAST(sum(r) AS BIGINT) AS sum_r,
  CAST(sum(g) AS BIGINT) AS sum_g,
  CAST(sum(b) AS BIGINT) AS sum_b,
  CAST(sum((1 + j) * (299 * r + 587 * g + 114 * b)) AS BIGINT) AS checksum
FROM v GROUP BY img_id
"""


def _image_verdicts_sql() -> str:
    """ImageShape verdicts from the meta CTE: is_valid ⇔ the container is
    structurally ok AND (when ok) the header dims equal the catalog
    metadata; reason = first failing constraint in declaration order
    (img_unique and img_w_meta never fail in the fixture)."""
    return f"""
WITH {_image_meta_ctes()}
SELECT img_id AS entity_id, 'ImageShape' AS shape,
  (status = 'ok'
   AND (w = CAST(meta_w AS BIGINT) AND hh = CAST(meta_h AS BIGINT)))
    AS is_valid,
  CASE
    WHEN status <> 'ok' THEN 'img_decodable'
    WHEN NOT (w = CAST(meta_w AS BIGINT) AND hh = CAST(meta_h AS BIGINT))
      THEN 'img_dims'
    ELSE NULL END AS reason
FROM meta
"""


def _image_dhash_ctes() -> str:
    """dHash rebuilt from the container bytes: per ok image, per bit
    j ∈ [0,64): thumbnail cells (x, y) = (j%8, j//8) and (x+1, y) map to
    source pixels via the exact resize rule, each pixel's integer luma is
    read from its 3 bytes (BGR for BMP storage order, RGB for PPM), and
    bit j is set iff luma_a > luma_b — bit 63 contributes -2^63 so the
    assembled value is the same SIGNED 64-bit hash Spark emits. Ends at
    relation ``dh`` (img_id, dhash)."""

    def lum(base: str, fmt_r: str, fmt_b: str) -> str:
        def byte(k: str) -> str:
            return (
                f"('0x' || substr(h, CAST(2 * ({base} + {k}) + 1 AS INT), 2))"
                "::BIGINT"
            )

        return (
            f"((299 * {byte(fmt_r)} + 587 * {byte('1')} + 114 * {byte(fmt_b)})"
            " // 1000)"
        )

    base_a = (
        "CASE WHEN is_bmp THEN data_off + (hh - 1 - sy) * stride + 3 * sxa"
        " ELSE 19 + 3 * (sy * w + sxa) END"
    )
    base_b = (
        "CASE WHEN is_bmp THEN data_off + (hh - 1 - sy) * stride + 3 * sxb"
        " ELSE 19 + 3 * (sy * w + sxb) END"
    )
    r_off = "CASE WHEN is_bmp THEN 2 ELSE 0 END"
    b_off = "CASE WHEN is_bmp THEN 0 ELSE 2 END"
    return f"""{_image_meta_ctes()},
ok AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride
  FROM meta WHERE status = 'ok'
),
bits AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride,
    unnest(range(0, 64)) AS j
  FROM ok
),
coords AS (
  SELECT img_id, h, is_bmp, w, hh, data_off, stride, j,
    ((j % 8) * w) // 9 AS sxa,
    (((j % 8) + 1) * w) // 9 AS sxb,
    ((j // 8) * hh) // 8 AS sy
  FROM bits
),
lums AS (
  SELECT img_id, j,
    {lum(f'({base_a})', f'({r_off})', f'({b_off})')} AS la,
    {lum(f'({base_b})', f'({r_off})', f'({b_off})')} AS lb
  FROM coords
),
dh AS (
  SELECT img_id,
    CAST(sum(CASE WHEN la > lb THEN
      (CASE WHEN j = 63 THEN -9223372036854775807 - 1
            ELSE (1::BIGINT << CAST(j AS INT)) END)
      ELSE 0 END) AS BIGINT) AS dhash
  FROM lums GROUP BY img_id
)"""


def _image_dhash_sql() -> str:
    return f"WITH {_image_dhash_ctes()}\nSELECT img_id, dhash FROM dh"


def _image_dhash_dups_sql(max_hamming: int = 2) -> str:
    """Brute-force all-pairs hamming over the SQL-rebuilt hashes — the
    recall oracle for the pigeonhole-blocked Spark join."""
    return f"""
WITH {_image_dhash_ctes()},
dsl AS (
  SELECT * FROM dh WHERE CAST(substr(img_id, 5) AS BIGINT) % 16 = 0
)
SELECT a.img_id AS a, b.img_id AS b,
  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
FROM dsl a JOIN dsl b ON a.img_id < b.img_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= {int(max_hamming)}
"""


def _image_thumb_roundtrip_sql(out_w: int = 8, out_h: int = 6) -> str:
    """Predicts image_pixel_stats OVER THE EXPORTED THUMBNAIL from the
    original container bytes: the shared resample chain byte-addresses
    exactly the source pixels the thumbnail carries, so per-channel sums,
    global min/max and the luma sum are all known before the BMP is ever
    built."""
    return f"""
WITH {_resample_rgb_ctes(out_w, out_h)}
SELECT img_id,
  CAST({out_w} AS INT) AS width, CAST({out_h} AS INT) AS height,
  CAST(sum(r) AS BIGINT) AS sum_r,
  CAST(sum(g) AS BIGINT) AS sum_g,
  CAST(sum(b) AS BIGINT) AS sum_b,
  CAST(least(min(r), min(g), min(b)) AS INT) AS min_px,
  CAST(greatest(max(r), max(g), max(b)) AS INT) AS max_px,
  CAST(299 * sum(r) + 587 * sum(g) + 114 * sum(b) AS BIGINT) AS luma_sum
FROM v GROUP BY img_id
"""


def _video_meta_ctes() -> str:
    v = _clips_pq("videos")
    return f"""raw AS (
  SELECT vid_id, meta_frames, upper(hex(bytes)) AS h,
    octet_length(bytes) AS blen, bytes IS NULL AS is_null
  FROM {v}
),
meta AS (
  SELECT vid_id, meta_frames, h, blen,
    ('0x' || substr(h,11,2) || substr(h,9,2))::BIGINT AS w,
    ('0x' || substr(h,15,2) || substr(h,13,2))::BIGINT AS hh,
    ('0x' || substr(h,19,2) || substr(h,17,2))::BIGINT AS n,
    ('0x' || substr(h,21,2))::BIGINT AS fps,
    CASE
      WHEN is_null THEN 'null'
      WHEN blen < 11 THEN 'bad_magic'
      WHEN substr(h, 1, 8) <> '53475631' THEN 'bad_magic'
      WHEN blen < 11 + ('0x' || substr(h,19,2) || substr(h,17,2))::BIGINT
           * ('0x' || substr(h,15,2) || substr(h,13,2))::BIGINT
           * ('0x' || substr(h,11,2) || substr(h,9,2))::BIGINT
        THEN 'truncated'
      ELSE 'ok' END AS status,
    (NOT is_null AND blen >= 11 AND substr(h, 1, 8) = '53475631')
      AS parseable
  FROM raw
)"""


def _video_meta_sql() -> str:
    return f"""
WITH {_video_meta_ctes()}
SELECT vid_id, status,
  CAST(CASE WHEN parseable THEN w END AS BIGINT) AS width,
  CAST(CASE WHEN parseable THEN hh END AS BIGINT) AS height,
  CAST(CASE WHEN parseable THEN n END AS BIGINT) AS n_frames,
  CAST(CASE WHEN parseable THEN fps END AS BIGINT) AS fps,
  CAST(CASE WHEN parseable THEN 11 + n * hh * w END AS BIGINT) AS need_bytes,
  CAST(blen AS BIGINT) AS actual_bytes
FROM meta
"""


def _video_frame_stats_sql(every_n: int = 2, renumber: bool = False) -> str:
    """Sampled-frame oracle: frame t = every_n·j lives at byte offset
    11 + t·w·h; each of its w·h bytes is re-read from hex, and the motion
    term pairs byte k with the same k in the previously SAMPLED frame
    (offset lag every_n·w·h). ``renumber=True`` emits the sample ordinal j
    as frame_idx instead of the original index every_n·j — the relation
    video_frame_stats produces over an EXCERPT blob (video_excerpt), whose
    frames are physically renumbered 0,1,2,..."""
    idx = "j" if renumber else f"{every_n} * j"
    return f"""
WITH {_video_meta_ctes()},
ok AS (SELECT vid_id, h, w, hh, n FROM meta WHERE status = 'ok'),
fr AS (
  SELECT vid_id, h, w, hh,
    unnest(range(0, CAST((n + {every_n} - 1) // {every_n} AS BIGINT))) AS j
  FROM ok
),
px AS (
  SELECT vid_id, h, w, hh, j, unnest(range(0, w * hh)) AS k
  FROM fr
),
v AS (
  SELECT vid_id, j, w, hh,
    ('0x' || substr(h,
      CAST(2 * (11 + {every_n} * j * w * hh + k) + 1 AS INT), 2))::INT AS val,
    CASE WHEN j > 0 THEN ('0x' || substr(h,
      CAST(2 * (11 + {every_n} * (j - 1) * w * hh + k) + 1 AS INT), 2))::INT
    END AS pval
  FROM px
)
SELECT vid_id,
  CAST({idx} AS INT) AS frame_idx,
  CAST(max(w * hh) AS INT) AS n_px,
  CAST(sum(val) AS BIGINT) AS sum_val,
  CAST(min(val) AS INT) AS min_val,
  CAST(max(val) AS INT) AS max_val,
  CAST(coalesce(sum(abs(val - pval)), 0) AS BIGINT) AS motion_abs
FROM v GROUP BY vid_id, j
"""


def _video_fp_ctes() -> str:
    """Per-frame grayscale dHash rebuilt from the SGV1 bytes: frame t's
    pixel (x, y) lives at byte 11 + t·w·h + y·w + x; the thumbnail /
    neighbor-compare / signed-bit rules are identical to the image dHash
    oracle (single channel — the luma step is the identity). Ends at
    relation ``vfp`` (vid_id, frame_idx, fhash)."""

    def px(sx: str, sy: str) -> str:
        off = f"(11 + t * w * hh + ({sy}) * w + ({sx}))"
        return f"('0x' || substr(h, CAST(2 * {off} + 1 AS INT), 2))::BIGINT"

    return f"""{_video_meta_ctes()},
okv AS (SELECT vid_id, h, w, hh, n FROM meta WHERE status = 'ok'),
vt AS (
  SELECT vid_id, h, w, hh, unnest(range(0, n)) AS t FROM okv
),
vb AS (
  SELECT vid_id, h, w, hh, t, unnest(range(0, 64)) AS j FROM vt
),
vc AS (
  SELECT vid_id, h, w, hh, t, j,
    ((j % 8) * w) // 9 AS sxa,
    (((j % 8) + 1) * w) // 9 AS sxb,
    ((j // 8) * hh) // 8 AS sy
  FROM vb
),
vl AS (
  SELECT vid_id, t, j,
    {px('sxa', 'sy')} AS la,
    {px('sxb', 'sy')} AS lb
  FROM vc
),
vfp AS (
  SELECT vid_id, CAST(t AS INT) AS frame_idx,
    CAST(sum(CASE WHEN la > lb THEN
      (CASE WHEN j = 63 THEN -9223372036854775807 - 1
            ELSE (1::BIGINT << CAST(j AS INT)) END)
      ELSE 0 END) AS BIGINT) AS fhash
  FROM vl GROUP BY vid_id, t
)"""


def _mixed_container_census_sql() -> str:
    """Union of the three fixture binary tables, magic-sniffed with the
    identical hex-prefix rules as multimodal.container_kind."""
    c = _clips_pq("clips")
    i = _clips_pq("images")
    v = _clips_pq("videos")

    def sniff(src: str, idc: str) -> str:
        return f"""
SELECT {idc} AS id,
  CASE
    WHEN bytes IS NULL THEN 'null'
    WHEN substr(upper(hex(bytes)), 1, 8) = '53474131' THEN 'sga1'
    WHEN substr(upper(hex(bytes)), 1, 8) = '52494646'
     AND substr(upper(hex(bytes)), 17, 8) = '57415645' THEN 'wav'
    WHEN substr(upper(hex(bytes)), 1, 8) = '53475631' THEN 'sgv1'
    WHEN substr(upper(hex(bytes)), 1, 4) = '424D' THEN 'bmp'
    WHEN substr(upper(hex(bytes)), 1, 4) = '5036' THEN 'ppm'
    ELSE 'unknown' END AS kind,
  COALESCE(octet_length(bytes), 0) AS n_bytes
FROM {src}"""

    return f"""
WITH routed AS (
  {sniff(c, "clip_id")}
  UNION ALL {sniff(i, "img_id")}
  UNION ALL {sniff(v, "vid_id")}
)
SELECT kind, CAST(count(*) AS BIGINT) AS n,
  CAST(sum(n_bytes) AS BIGINT) AS total_bytes
FROM routed GROUP BY kind
"""


def _video_verdicts_sql() -> str:
    return f"""
WITH {_video_meta_ctes()}
SELECT vid_id AS entity_id, 'VideoShape' AS shape,
  (status = 'ok' AND n = CAST(meta_frames AS BIGINT)) AS is_valid,
  CASE
    WHEN status <> 'ok' THEN 'vid_decodable'
    WHEN n <> CAST(meta_frames AS BIGINT) THEN 'vid_frames'
    ELSE NULL END AS reason
FROM meta
"""


def _video_fingerprint_sql() -> str:
    return f"WITH {_video_fp_ctes()}\nSELECT vid_id, frame_idx, fhash FROM vfp"


def _video_content_matches_sql(min_shared: int = 2) -> str:
    return f"""
WITH {_video_fp_ctes()},
tok AS (
  SELECT DISTINCT vid_id, fhash FROM vfp
  WHERE CAST(substr(vid_id, 5) AS BIGINT) % 8 = 0
)
SELECT a.vid_id AS a, b.vid_id AS b,
  CAST(count(*) AS BIGINT) AS n_shared
FROM tok a JOIN tok b ON a.fhash = b.fhash AND a.vid_id < b.vid_id
GROUP BY 1, 2
HAVING count(*) >= {int(min_shared)}
"""


def _align_tokens_sql(frame_ms: int = 20) -> str:
    """Proportional token-time alignment over the segments CTE — exact
    mirror of mm.align_tokens: token j of t owns speech ordinals
    [j*s//t, (j+1)*s//t) (floored to one frame when s < t), mapped to real
    frames through the speech segments' running offsets."""
    return f"""
WITH seg AS ({_speech_segments_sql()}),
spn AS (
  SELECT clip_id, start_frame, n_frames,
    COALESCE(sum(n_frames) OVER (PARTITION BY clip_id ORDER BY seg_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM seg
  WHERE is_speech AND CAST(substr(clip_id, 6) AS BIGINT) % 5 = 0
),
tot AS (SELECT clip_id, CAST(sum(n_frames) AS BIGINT) AS s FROM spn GROUP BY 1),
tr AS (
  SELECT transcript_id, clip_id, CAST(n_tokens AS BIGINT) AS t
  FROM {_clips_pq("transcripts")} WHERE n_tokens > 0
),
tk AS (
  SELECT tr.transcript_id, tr.clip_id, tot.s, tr.t,
    unnest(range(0, tr.t)) AS token_idx
  FROM tr JOIN tot USING (clip_id)
),
b AS (
  SELECT *, (token_idx * s) // t AS s_lo,
    greatest((token_idx * s) // t, ((token_idx + 1) * s) // t - 1) AS s_hi
  FROM tk
)
SELECT b.clip_id, b.transcript_id, CAST(b.token_idx AS BIGINT) AS token_idx,
  CAST((s1.start_frame + b.s_lo - s1.cum_before) * {frame_ms} AS BIGINT)
    AS start_ms,
  CAST((s2.start_frame + b.s_hi - s2.cum_before + 1) * {frame_ms} AS BIGINT)
    AS end_ms
FROM b
JOIN spn s1 ON b.clip_id = s1.clip_id
  AND b.s_lo >= s1.cum_before AND b.s_lo < s1.cum_before + s1.n_frames
JOIN spn s2 ON b.clip_id = s2.clip_id
  AND b.s_hi >= s2.cum_before AND b.s_hi < s2.cum_before + s2.n_frames
"""


def _shacl_report_sql() -> str:
    """ValidationReport rows over the clip-suite violations: wraps the
    violations oracle with the component CASE generated from
    report.component_map(clip_suite) — one mapping, two engines."""
    from shaclapi_spark import report

    cmap = report.component_map(
        fixtures.clip_suite(include_audio=True, include_drift=False)
    )
    whens = "\n    ".join(
        f"WHEN '{cid}' THEN '{comp}'" for cid, comp in sorted(cmap.items())
    )
    return f"""
SELECT entity_id AS focus_node, shape AS source_shape, constraint_id,
  CASE constraint_id
    {whens}
    ELSE '{report.FALLBACK_COMPONENT}' END AS component,
  'sh:Violation' AS severity
FROM ({_clip_violations_sql()})
"""


def _pq_topk_sql(k: int = 10) -> str:
    """PQ ADC oracle: codebook int literals from the same
    synthetic_codebooks the Spark query uses; quantization, encode
    (argmin with ties to lowest code), and the ADC sum are all replayed
    in exact integer SQL — the query vector enters as raw float literals
    and is quantized BY THE SQL, so the whole fixed-point path is
    independently recomputed."""
    from shaclapi_spark.pipeline import pq

    books = pq.synthetic_codebooks(8, 16, 8)
    m, ksub, dsub = books.shape
    cb_vals = ", ".join(
        f"({mi}, {j}, {ki}, {int(books[mi, j, ki])})"
        for mi in range(m)
        for j in range(ksub)
        for ki in range(dsub)
    )
    qv_vals = ", ".join(f"({d}, {_QUERY_VEC[d]!r})" for d in range(m * dsub))
    return f"""
WITH cb(m, j, k, c) AS (SELECT * FROM (VALUES {cb_vals})),
qv(d, val) AS (SELECT * FROM (VALUES {qv_vals})),
v AS (
  SELECT vec_id, i AS d,
    CAST(floor(embedding[i + 1]::DOUBLE * {pq.SCALE} + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i) u
  WHERE embedding IS NOT NULL
),
sd AS (
  SELECT v.vec_id, cb.m, cb.j, sum((v.q - cb.c) * (v.q - cb.c)) AS d2
  FROM v JOIN cb ON cb.m = v.d // {dsub} AND cb.k = v.d % {dsub}
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rk
    FROM sd
  ) WHERE rk = 1
),
qq AS (SELECT d, CAST(floor(val * {pq.SCALE} + 0.5) AS BIGINT) AS q FROM qv),
qd AS (
  SELECT cb.m, cb.j, sum((qq.q - cb.c) * (qq.q - cb.c)) AS qdist
  FROM qq JOIN cb ON cb.m = qq.d // {dsub} AND cb.k = qq.d % {dsub}
  GROUP BY 1, 2
),
adc AS (
  SELECT codes.vec_id, CAST(sum(qd.qdist) AS BIGINT) AS pq_dist
  FROM codes JOIN qd ON qd.m = codes.m AND qd.j = codes.j
  GROUP BY 1
)
SELECT vec_id, pq_dist,
  CAST(row_number() OVER (ORDER BY pq_dist, vec_id) AS INT) AS rank
FROM adc ORDER BY pq_dist, vec_id LIMIT {k}
"""


def _pq_batch_topk_sql(k: int = 10) -> str:
    """Batch-ADC oracle: the corpus codes CTE is computed ONCE; the 5
    query vectors enter as raw float literals keyed by qid, each
    quantized and LUT-summed in SQL, ranked per query."""
    from shaclapi_spark.pipeline import pq

    books = pq.synthetic_codebooks(8, 16, 8)
    m, ksub, dsub = books.shape
    cb_vals = ", ".join(
        f"({mi}, {j}, {ki}, {int(books[mi, j, ki])})"
        for mi in range(m)
        for j in range(ksub)
        for ki in range(dsub)
    )
    qv_vals = ", ".join(
        f"({qid}, {d}, {vec[d]!r})"
        for qid, vec in _PQ_BATCH_QUERIES()
        for d in range(m * dsub)
    )
    return f"""
WITH cb(m, j, k, c) AS (SELECT * FROM (VALUES {cb_vals})),
qv(qid, d, val) AS (SELECT * FROM (VALUES {qv_vals})),
v AS (
  SELECT vec_id, i AS d,
    CAST(floor(embedding[i + 1]::DOUBLE * {pq.SCALE} + 0.5) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i) u
  WHERE embedding IS NOT NULL
),
sd AS (
  SELECT v.vec_id, cb.m, cb.j, sum((v.q - cb.c) * (v.q - cb.c)) AS d2
  FROM v JOIN cb ON cb.m = v.d // {dsub} AND cb.k = v.d % {dsub}
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, j FROM (
    SELECT vec_id, m, j,
      row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, j) AS rk
    FROM sd
  ) WHERE rk = 1
),
qq AS (SELECT qid, d, CAST(floor(val * {pq.SCALE} + 0.5) AS BIGINT) AS q FROM qv),
qd AS (
  SELECT qq.qid, cb.m, cb.j, sum((qq.q - cb.c) * (qq.q - cb.c)) AS qdist
  FROM qq JOIN cb ON cb.m = qq.d // {dsub} AND cb.k = qq.d % {dsub}
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT qd.qid, codes.vec_id, CAST(sum(qd.qdist) AS BIGINT) AS pq_dist
  FROM codes JOIN qd ON qd.m = codes.m AND qd.j = codes.j
  GROUP BY 1, 2
)
SELECT CAST(qid AS VARCHAR) AS qid, vec_id, pq_dist,
  CAST(rank AS INT) AS rank
FROM (
  SELECT qid, vec_id, pq_dist,
    row_number() OVER (PARTITION BY qid ORDER BY pq_dist, vec_id) AS rank
  FROM adc
) WHERE rank <= {k}
"""


def _clips_quarantine_sql() -> str:
    """Enforcement audit relation: invalid ClipShape entities (from the
    verdict oracle) joined back to their table rows, annotated from the
    violations oracle — mirrors api.enforce's verdict-driven split."""
    c = _clips_pq("clips")
    t = _clips_pq("transcripts")
    return f"""
WITH verd AS ({oracle.clip_verdict_sql(c, t, include_audio=True)}),
viol AS (
  SELECT entity_id, CAST(count(*) AS BIGINT) AS n_violations,
         string_agg(DISTINCT constraint_id, ',' ORDER BY constraint_id) AS reasons
  FROM ({_clip_violations_sql()}) WHERE shape = 'ClipShape' GROUP BY 1
),
bad AS (
  SELECT entity_id FROM verd
  WHERE NOT is_valid AND entity_id != '__dataset__'
)
SELECT c.clip_id, c.codec,
  CAST(coalesce(v.n_violations, 0) AS BIGINT) AS n_violations,
  coalesce(v.reasons, '') AS reasons
FROM {c} c
JOIN bad b ON CAST(c.clip_id AS VARCHAR) = b.entity_id
LEFT JOIN viol v ON v.entity_id = b.entity_id
"""


def _zorder_prune_sql() -> str:
    """DuckDB replay of the z-order layout + pruning report: the SAME
    generator (layout.zorder_sql) emits the key formula in the duckdb
    dialect — one formula, two engines."""
    from shaclapi_spark.pipeline import layout

    zsql = layout.zorder_sql(_ZDIMS, 8, "duckdb")
    return f"""
WITH k AS (
  SELECT l_orderkey*10 + l_linenumber AS rid, {zsql} AS zkey,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice*100) AS BIGINT) AS p
  FROM lineitem
), r AS (
  SELECT *, row_number() OVER (ORDER BY zkey, rid) - 1 AS r0,
         count(*) OVER () AS n FROM k
), a AS (SELECT *, (r0 * 32) // n AS file FROM r)
SELECT file, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(min(q) AS BIGINT) AS min_qty, CAST(max(q) AS BIGINT) AS max_qty,
  CAST(min(p) AS BIGINT) AS min_cents, CAST(max(p) AS BIGINT) AS max_cents,
  CAST(sum(CASE WHEN q BETWEEN 10 AND 20
                 AND p BETWEEN 1000000 AND 2000000
            THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
  (min(q) <= 20 AND max(q) >= 10
   AND min(p) <= 2000000 AND max(p) >= 1000000) AS would_scan
FROM a GROUP BY 1
"""


def _jaccard_cluster_ctes() -> str:
    """Shared CTE chain for the near-dup cluster oracles (docs < 120):
    char-5-shingle exact Jaccard pairs → undirected edges → recursive
    min-label reachability → comp(node, cluster_rep). Mirrors
    dd.jaccard_pairs(k=5, threshold=0.2) ∘ cl.connected_components."""
    return f"""d AS (SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 120),
sh AS (
  SELECT DISTINCT doc_id AS doc, substring(norm, i, 5) AS shingle
  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i) u
  WHERE length(substring(norm, i, 5)) >= 1
),
sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS a, b.doc AS b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sz sa ON sa.doc = i.a JOIN sz sb ON sb.doc = i.b
  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.2
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, min(comp) AS cluster_rep FROM reach GROUP BY node)"""


def _transcript_pairs_sql() -> str:
    """The (transcript row, owning clip row) join both transcript-QA
    oracles share — mirrors asr_qa's inner join + non-null filters."""
    c = _clips_pq("clips")
    t = _clips_pq("transcripts")
    return f"""
SELECT t.transcript_id, t.clip_id, c.transcript AS ref, t.text AS hyp
FROM {t} t JOIN {c} c ON t.clip_id = c.clip_id
WHERE t.text IS NOT NULL AND t.clip_id IS NOT NULL AND c.transcript IS NOT NULL
"""


def _cer_verdicts_sql(max_edits: int = 6) -> str:
    # mirror of the fk_near_match verdict semantics: valid iff within
    # max_edits of EVERY owning clip row's non-null transcript; vacuous
    # (true) when the local key/text is NULL, no parent row exists, or all
    # parent values are NULL — bool_and skips NULL per-row predicates and
    # coalesce(. , true) covers the no-row / all-null cases.
    c = _clips_pq("clips")
    t = _clips_pq("transcripts")
    return f"""
SELECT t.transcript_id AS entity_id, 'TranscriptNear' AS shape,
  coalesce(bool_and(
    CASE WHEN t.text IS NULL OR c.transcript IS NULL THEN NULL
         ELSE t.text = c.transcript
              OR (abs(length(t.text) - length(c.transcript)) <= {max_edits}
                  AND levenshtein(t.text, c.transcript) <= {max_edits}) END
  ), true) AS is_valid,
  CASE WHEN NOT coalesce(bool_and(
    CASE WHEN t.text IS NULL OR c.transcript IS NULL THEN NULL
         ELSE t.text = c.transcript
              OR (abs(length(t.text) - length(c.transcript)) <= {max_edits}
                  AND levenshtein(t.text, c.transcript) <= {max_edits}) END
  ), true) THEN 'tr_near' END AS reason
FROM {t} t LEFT JOIN {c} c ON t.clip_id = c.clip_id
GROUP BY t.transcript_id, t.clip_id, t.text
"""


def _transcript_cer_sql() -> str:
    # exact mirror of asr_qa.pair_cer: equal-string short-circuit, integer
    # ppm via `//`. levenshtein here is byte-level but the fixture text is
    # ASCII (pinned by tests/test_asr_qa.py), so it equals Spark codepoints.
    return f"""
WITH p AS ({_transcript_pairs_sql()}),
d AS (SELECT *, CASE WHEN ref = hyp THEN 0 ELSE levenshtein(ref, hyp) END AS edit_dist FROM p)
SELECT transcript_id, clip_id, edit_dist,
  length(ref) AS ref_chars, length(hyp) AS hyp_chars,
  CASE WHEN length(ref) > 0 THEN (1000000 * edit_dist) // length(ref) END AS cer_ppm
FROM d
"""


def _transcript_wer_sql() -> str:
    # exact mirror of asr_qa.pair_wer's token→ASCII-char encoding reduction:
    # per-pair distinct-token vocab, each token becomes one single-byte char
    # (byte-level levenshtein == token-level distance, bijective per pair).
    alpha = asr_qa.ALPHABET
    assert "'" not in alpha and "\\" not in alpha
    return f"""
WITH p AS ({_transcript_pairs_sql()}),
tok AS (
  SELECT transcript_id, clip_id,
    list_filter(string_split(ref, ' '), x -> x != '') AS ta,
    list_filter(string_split(hyp, ' '), x -> x != '') AS tb
  FROM p
),
v AS (SELECT *, list_distinct(list_concat(ta, tb)) AS vocab FROM tok),
d AS (
  SELECT *, len(vocab) > {len(alpha)} AS vocab_overflow,
    CASE WHEN len(vocab) > {len(alpha)} THEN NULL ELSE levenshtein(
      array_to_string(list_transform(ta, t -> substr('{alpha}', list_position(vocab, t), 1)), ''),
      array_to_string(list_transform(tb, t -> substr('{alpha}', list_position(vocab, t), 1)), ''))
    END AS token_dist
  FROM v
)
SELECT transcript_id, clip_id, token_dist,
  len(ta) AS ref_tokens, len(tb) AS hyp_tokens,
  CASE WHEN len(ta) > 0 AND NOT vocab_overflow
       THEN (1000000 * token_dist) // len(ta) END AS wer_ppm,
  vocab_overflow
FROM d
"""


def _speech_activity_sql() -> str:
    return f"""
WITH seg AS ({_speech_segments_sql()})
SELECT clip_id,
  CAST(count(*) AS INT) AS n_segments,
  CAST(sum(CASE WHEN is_speech THEN 1 ELSE 0 END) AS INT)
    AS n_speech_segments,
  CAST(sum(CASE WHEN is_speech THEN n_frames ELSE 0 END) AS INT)
    AS speech_frames,
  CAST(sum(n_frames) AS INT) AS total_frames,
  CAST(max(CASE WHEN is_speech THEN n_frames ELSE 0 END) AS INT)
    AS longest_speech_frames,
  CAST(max(CASE WHEN NOT is_speech THEN n_frames ELSE 0 END) AS INT)
    AS longest_silence_frames
FROM seg GROUP BY 1
"""


def _sessionize_sql(gap_minutes: int = 30) -> str:
    """Gaps-and-islands sessionization in integer microseconds (epoch_us ≡
    Spark's unix_micros under the UTC session tz this harness runs in)."""
    gap_us = gap_minutes * 60_000_000
    return f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
l AS (
  SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
  FROM e
),
s AS (
  SELECT *,
    sum(CASE WHEN pus IS NULL THEN 0
             WHEN us - pus > {gap_us} THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM l
)
SELECT user_id, CAST(session_idx AS INT) AS session_idx,
  CAST(min(us) AS BIGINT) AS start_us,
  CAST(max(us) AS BIGINT) AS end_us,
  CAST(max(us) - min(us) AS BIGINT) AS duration_us,
  count(*) AS n_events,
  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_purchase
FROM s GROUP BY 1, 2
"""


_ASOF_SQL = """
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
),
v AS (
  SELECT user_id, us, max(event_id) AS view_event_id
  FROM e WHERE event_type = 'view' GROUP BY 1, 2
),
p AS (
  SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.us,
  v.view_event_id, v.us AS view_us, p.us - v.us AS asof_gap
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.us >= v.us
"""


_INCIDENT_SQL = """
WITH err AS (
  SELECT epoch_us(ts) AS us FROM events WHERE event_type = 'error'
),
l AS (
  SELECT us, lag(us) OVER (ORDER BY us) AS pus FROM err
),
s AS (
  SELECT us,
    sum(CASE WHEN pus IS NULL THEN 0
             WHEN us - pus > 600000000 THEN 1 ELSE 0 END)
      OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS incident_idx
  FROM l
),
iv AS (
  SELECT CAST(incident_idx AS INT) AS incident_idx,
    min(us) AS start_us, max(us) AS end_us
  FROM s GROUP BY 1
)
SELECT e.event_id, epoch_us(e.ts) AS us,
  iv.incident_idx, iv.start_us, iv.end_us
FROM events e JOIN iv
  ON epoch_us(e.ts) >= iv.start_us AND epoch_us(e.ts) <= iv.end_us
WHERE e.event_type = 'purchase'
"""


def _distinctive_terms_sql(k: int = 3, min_tf: int = 2) -> str:
    """Exact-rational TF-IDF: score = tf * (N/df) evaluated in the same
    IEEE double expression shape as the Spark side (correctly-rounded
    mul/div → bit-identical; ln would not be)."""
    return f"""
WITH tf AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tfc AS (
  SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2
  HAVING count(*) >= {min_tf}
),
dfc AS (
  SELECT term, count(*) AS df FROM tfc GROUP BY 1
),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
scored AS (
  SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
    CAST(tfc.tf AS DOUBLE) * (n.nd / CAST(dfc.df AS DOUBLE)) AS score
  FROM tfc JOIN dfc USING (term) CROSS JOIN n
),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
            ORDER BY score DESC, term ASC) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= {k}
"""


def _chunk_docs_sql(c: int = 16, s: int = 12) -> str:
    """Token-window chunking: identical integer chunk grammar as
    chunk_documents (n_chunks = 1 + ceil(max(n-c,0)/s)); DuckDB list
    slicing words[a:b] is 1-based inclusive → b = a + c - 1 gives c
    elements."""
    return f"""
WITH w AS (
  SELECT doc_id, {_TOKS} AS words FROM documents
),
b AS (
  SELECT doc_id, words, len(words) AS n,
    1 + CAST(floor((greatest(len(words) - {c}, 0) + {s - 1}) / {s}) AS INT)
      AS n_chunks
  FROM w WHERE len(words) > 0
),
g AS (
  SELECT doc_id, words, n,
    CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_idx
  FROM b
)
SELECT doc_id, chunk_idx,
  CAST(least({c}, n - chunk_idx * {s}) AS INT) AS n_tokens,
  array_to_string(words[chunk_idx * {s} + 1 : chunk_idx * {s} + {c}], ' ')
    AS chunk_text
FROM g
"""


def _mutated_verdict_union_sql() -> str:
    """Full-validation verdicts of the MUTATED table version (the oracle for
    incremental revalidation: merged-incremental == full-on-new)."""
    mc = f"({oracle.mutated_clips_sql(_clips_pq('clips'))})"
    mt = f"({oracle.mutated_transcripts_sql(_clips_pq('transcripts'))})"
    return (
        f"SELECT * FROM ({oracle.clip_verdict_sql(mc, mt, include_audio=True)})"
        f" UNION ALL SELECT * FROM ({oracle.transcript_verdict_sql(mc, mt)})"
    )


def oracle_sql() -> dict[str, str]:
    c = _clips_pq("clips")
    verdict_union = _clip_verdict_union_sql()
    return {
        "clip_verdicts": verdict_union,
        "incremental_verdicts": _mutated_verdict_union_sql(),
        "incremental_changelog_verdicts": _mutated_verdict_union_sql(),
        "verdict_regression": f"""
WITH o AS ({verdict_union}),
     n AS ({_mutated_verdict_union_sql()}),
j AS (
  SELECT coalesce(o.entity_id, n.entity_id) AS entity_id,
         coalesce(o.shape, n.shape) AS shape,
         o.is_valid AS ov, n.is_valid AS nv
  FROM o FULL OUTER JOIN n
    ON o.entity_id = n.entity_id AND o.shape = n.shape
)
SELECT shape,
  CASE WHEN ov IS NULL THEN 'appeared'
       WHEN nv IS NULL THEN 'removed'
       WHEN ov AND NOT nv THEN 'regressed'
       WHEN nv AND NOT ov THEN 'repaired'
       ELSE 'unchanged' END AS transition,
  count(*) AS n
FROM j GROUP BY shape, transition
""",
        # restricted run: verdict VALUES are population-independent (helper
        # propagation covers every transcript a restricted clip needs), so
        # the oracle is the full verdict relation filtered to the restricted
        # entity set
        "clip_verdicts_pop": f"""
SELECT * FROM ({verdict_union})
WHERE shape = 'ClipShape'
  AND entity_id IN (SELECT clip_id FROM {c} WHERE codec = 'flac')
""",
        "violation_evidence_fk": f"""
SELECT transcript_id AS entity_id, 'TranscriptShape' AS shape,
  'tr_fk' AS constraint_id, 'transcripts' AS source_table,
  clip_id AS dangling_clip_id
FROM {_clips_pq("transcripts")}
WHERE clip_id IS NOT NULL
  AND clip_id NOT IN (SELECT clip_id FROM {c})
""",
        "clip_violations": _clip_violations_sql(),
        "shacl_report": _shacl_report_sql(),
        "fdep_verdicts": f"""
SELECT clip_id AS entity_id, 'ClipShape' AS shape,
  (count(*) = 1 AND count(DISTINCT transcript) <= 1) AS is_valid,
  CASE WHEN count(*) > 1 THEN 'clip_unique'
       WHEN count(DISTINCT transcript) > 1 THEN 'tr_constant'
       ELSE NULL END AS reason
FROM {c} GROUP BY clip_id
""",
        "monotonic_verdicts": """
WITH g1 AS (
  SELECT user_id, event_id, min(ts) AS lo, max(ts) AS hi
  FROM events WHERE event_id IS NOT NULL GROUP BY 1, 2
), m1 AS (
  SELECT user_id, coalesce(bool_and(lo IS NULL OR pm IS NULL OR lo >= pm), TRUE) AS ok
  FROM (
    SELECT user_id, lo,
      max(hi) OVER (PARTITION BY user_id ORDER BY event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM g1
  ) GROUP BY 1
), g2 AS (
  SELECT user_id, ts, min(value) AS lo, max(value) AS hi
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), m2 AS (
  SELECT user_id, coalesce(bool_and(lo IS NULL OR pm IS NULL OR lo >= pm), TRUE) AS ok
  FROM (
    SELECT user_id, lo,
      max(hi) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
    FROM g2
  ) GROUP BY 1
), ents AS (SELECT DISTINCT user_id FROM events)
SELECT CAST(ents.user_id AS VARCHAR) AS entity_id, 'EventShape' AS shape,
  (coalesce(m1.ok, TRUE) AND coalesce(m2.ok, TRUE)) AS is_valid,
  CASE WHEN NOT coalesce(m1.ok, TRUE) THEN 'mono_ts'
       WHEN NOT coalesce(m2.ok, TRUE) THEN 'mono_val'
       ELSE NULL END AS reason
FROM ents
LEFT JOIN m1 ON ents.user_id = m1.user_id
LEFT JOIN m2 ON ents.user_id = m2.user_id
""",
        "blocklist_verdicts": f"""
WITH quarantine AS (
  SELECT DISTINCT clip_id FROM {c}
  WHERE codec = 'flac' AND dur_ms > 25000
), ent AS (
  SELECT clip_id, count(*) AS n FROM {c} GROUP BY 1
)
SELECT ent.clip_id AS entity_id, 'ClipShape' AS shape,
  (n = 1 AND q.clip_id IS NULL) AS is_valid,
  CASE WHEN n <> 1 THEN 'clip_unique'
       WHEN q.clip_id IS NOT NULL THEN 'not_quarantined'
       ELSE NULL END AS reason
FROM ent LEFT JOIN quarantine q ON ent.clip_id = q.clip_id
""",
        "stat_bound_verdicts": f"""
WITH m AS (
  SELECT avg(CASE WHEN sr_hz IS NULL THEN 1.0 ELSE 0.0 END) AS null_rate,
         avg(dur_ms) AS avg_dur,
         count(*) AS n,
         min(dur_ms) AS min_dur
  FROM {c}
)
SELECT '__dataset__' AS entity_id, 'ClipShape' AS shape,
       (null_rate <= 0.02) AS is_valid,
       CASE WHEN null_rate <= 0.02 THEN NULL ELSE 'sb_null_rate' END AS reason
FROM m
UNION ALL
SELECT '__dataset__', 'ClipShape', (avg_dur <= 10000),
       CASE WHEN avg_dur <= 10000 THEN NULL ELSE 'sb_avg_dur' END FROM m
UNION ALL
SELECT '__dataset__', 'ClipShape', (n >= 100),
       CASE WHEN n >= 100 THEN NULL ELSE 'sb_rows' END FROM m
UNION ALL
SELECT '__dataset__', 'ClipShape', (min_dur >= 400),
       CASE WHEN min_dur >= 400 THEN NULL ELSE 'sb_min_dur' END FROM m
""",
        "verdict_counts": f"""
SELECT shape,
  CAST(sum(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
  CAST(sum(CASE WHEN is_valid THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
FROM ({verdict_union}) GROUP BY shape
""",
        "clip_stats": _clip_stats_sql(),
        "grouped_stats_codec": f"""
SELECT codec AS "group", count(*) AS n_rows,
  count(*) - count(dur_ms) AS n_nulls,
  CAST(min(dur_ms) AS BIGINT) AS min_value,
  CAST(max(dur_ms) AS BIGINT) AS max_value
FROM {c} GROUP BY codec
""",
        "dup_clip_ids": f"""
SELECT clip_id AS key, count(*) AS n_rows FROM {c}
GROUP BY clip_id HAVING count(*) > 1
""",
        "drift_hist_dur": f"""
SELECT CAST(least(31, greatest(0, floor((CAST(dur_ms AS DOUBLE) - 500.0) / 921.875))) AS INT) AS bin,
  count(*) AS n_rows
FROM {c} WHERE dur_ms IS NOT NULL GROUP BY 1
""",
        "tpch_verdicts": _tpch_verdicts_sql(),
        "events_hourly": """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start, event_type,
  count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
        "doc_dedup_groups": f"""
WITH d AS (SELECT * FROM documents UNION ALL SELECT * FROM documents WHERE doc_id % 7 = 0),
k AS (SELECT doc_id, md5({_NORM}) AS content_md5 FROM d)
SELECT content_md5, count(*) AS n_docs, min(doc_id) AS keep_id
FROM k GROUP BY 1 HAVING count(*) > 1
""",
        "jaccard_pairs_docs": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents WHERE doc_id < 120),
sh AS (
  SELECT DISTINCT doc_id AS doc, substring(norm, i, 5) AS shingle
  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i) u
  WHERE length(substring(norm, i, 5)) >= 1
),
sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS a, b.doc AS b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.a, i.b, i.inter, sa.sz AS size_a, sb.sz AS size_b
FROM inter i JOIN sz sa ON sa.doc = i.a JOIN sz sb ON sb.doc = i.b
WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.2
""",
        "dedup_clusters_docs": f"""
WITH RECURSIVE {_jaccard_cluster_ctes()}
SELECT c.node AS doc, c.cluster_rep,
  CAST(s.n AS BIGINT) AS cluster_size
FROM comp c
JOIN (SELECT cluster_rep, count(*) AS n FROM comp GROUP BY 1) s USING (cluster_rep)
""",
        "pq_topk": _pq_topk_sql(k=10),
        "pq_batch_topk": _pq_batch_topk_sql(k=10),
        "interleave_docs": """
WITH h AS (
  SELECT doc_id, source,
    ('0x' || substr(md5('interleave::' || doc_id), 1, 15))::BIGINT AS key
  FROM documents
),
r AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn
  FROM h
)
SELECT doc_id, source,
  CAST(rn * CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 ELSE 4 END AS BIGINT)
    AS interleave_key
FROM r
""",
        "precedence_dedup_docs": f"""
WITH RECURSIVE {_jaccard_cluster_ctes()},
m AS (
  SELECT c.node AS doc, c.cluster_rep,
    (substr(any_value(dd.source), 4))::INT % 4 AS prio
  FROM comp c JOIN documents dd ON dd.doc_id = c.node
  GROUP BY 1, 2
),
losers AS (
  SELECT doc FROM (
    SELECT doc, row_number() OVER (
      PARTITION BY cluster_rep ORDER BY prio ASC, doc ASC) AS rk
    FROM m
  ) WHERE rk > 1
)
SELECT doc_id, source FROM documents
WHERE doc_id < 120 AND doc_id NOT IN (SELECT doc FROM losers)
""",
        "zorder_prune_lineitem": _zorder_prune_sql(),
        "clips_quarantine": _clips_quarantine_sql(),
        "hard_negatives_emb": """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv, label AS ql
  FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT q.q_id, e.vec_id,
    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS c
  FROM embeddings e JOIN q ON e.label <> q.ql
),
r AS (
  SELECT q_id, vec_id, c,
    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rank
  FROM s WHERE c IS NOT NULL
)
SELECT q_id, vec_id, CAST(round(c * 1000000) AS BIGINT) AS cosine_e6,
  CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""",
        "matryoshka_recall_emb": """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5
),
dims AS (SELECT unnest([8, 16, 32, 64]) AS dim),
s AS (
  SELECT q.q_id, d.dim, e.vec_id,
    list_cosine_similarity((e.embedding::DOUBLE[])[1:d.dim],
                           (q.qv)[1:d.dim]) AS c
  FROM embeddings e, q, dims d
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id, dim
                               ORDER BY c DESC, vec_id) AS rk
  FROM s WHERE c IS NOT NULL
),
top AS (SELECT q_id, dim, vec_id FROM r WHERE rk <= 10),
full_t AS (SELECT q_id, vec_id FROM top WHERE dim = 64),
hits AS (
  SELECT t.q_id, t.dim, count(*) AS overlap
  FROM top t JOIN full_t f ON f.q_id = t.q_id AND f.vec_id = t.vec_id
  GROUP BY 1, 2
)
SELECT q.q_id, CAST(d.dim AS INT) AS dim,
  CAST(coalesce(h.overlap, 0) AS BIGINT) AS overlap
FROM q CROSS JOIN dims d
LEFT JOIN hits h ON h.q_id = q.q_id AND h.dim = d.dim
""",
        "quality_budget_docs": """
WITH a AS (
  SELECT LEAST(19, GREATEST(0,
           CAST(floor((CAST(n_chars AS DOUBLE) / 2000.0) / 0.05) AS INT))) AS bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_tokens
  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
)
SELECT bucket, CAST(bucket * 1000 / 20 AS BIGINT) AS score_lo_permille,
  n_docs, n_tokens,
  CAST(sum(n_docs) OVER (ORDER BY bucket DESC
       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
  CAST(sum(n_tokens) OVER (ORDER BY bucket DESC
       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
FROM a
""",
        "budget_cut_docs": """
WITH c AS (
  SELECT doc_id, n_chars,
    sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id ASC
                       ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM documents
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 200000
""",
        "leakage_split_docs": f"""
WITH RECURSIVE {_jaccard_cluster_ctes()},
g AS (
  SELECT d.doc_id,
    coalesce(CAST(c.cluster_rep AS VARCHAR), CAST(d.doc_id AS VARCHAR)) AS gk
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
),
hs AS (
  SELECT doc_id,
    ('0x' || substring(md5('split::' || gk), 1, 15))::BIGINT AS hv
  FROM g
)
SELECT doc_id,
  CASE WHEN hv >= 0 AND hv < {100000 * (1 << 60) // 1000000} THEN 'test'
       WHEN hv >= {100000 * (1 << 60) // 1000000}
            AND hv < {900000 * (1 << 60) // 1000000} THEN 'train'
       ELSE 'val' END AS split
FROM hs
""",
        "chi2_drift_docs": """
WITH b AS (
  SELECT LEAST(15, GREATEST(0,
           CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 125.0) AS INT))) AS bin,
         CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS a
  FROM documents WHERE n_chars IS NOT NULL
),
c AS (SELECT bin, sum(a) AS n_a, count(*) - sum(a) AS n_b FROM b GROUP BY 1),
t AS (SELECT c.*, sum(n_a) OVER () AS N, sum(n_b) OVER () AS M FROM c),
dd AS (
  SELECT t.*, (n_a*M - n_b*N)::HUGEINT AS d,
         (N::HUGEINT * M::HUGEINT * (n_a + n_b)::HUGEINT) AS den
  FROM t
)
-- ppm scaling staged after the division (floor(1e6 d^2/D) = 1e6*(d^2//D)
-- + (1e6*(d^2 % D))//D) — mirrors the Spark side's overflow staging
SELECT bin, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(CASE WHEN n_a + n_b = 0 OR N = 0 OR M = 0 THEN 0 ELSE
    1000000::HUGEINT * ((d * d) // den)
    + (1000000::HUGEINT * ((d * d) % den)) // den END AS BIGINT) AS chi2_ppm
FROM dd
""",
        "stratified_sample_docs": f"""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT <
  CASE lang WHEN 'en' THEN {int(0.1 * (1 << 60))}
            WHEN 'zh' THEN {int(1.0 * (1 << 60))}
            ELSE {int(0.5 * (1 << 60))} END
""",
        "stratified_quota_docs": """
WITH h AS (
  SELECT doc_id, lang,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
  FROM documents
), r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
  FROM h
)
SELECT doc_id, lang FROM r WHERE rk <= 20
""",
        "text_quality_docs": _text_quality_sql(),
        "token_stats_docs": _token_stats_sql(),
        "lang_id_docs": _lang_id_sql(),
        "fingerprint_docs": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents)
SELECT doc_id, md5(norm) AS fp_md5,
  list_aggregate(list_transform(list_filter(string_split(norm, ' '), x -> x <> ''), x -> md5(x)), 'min') AS min_word_hash
FROM d
""",
        "top_ngrams_docs": f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
           i -> array_to_string(words[i:i+1], ' '))) AS ngram
  FROM w
),
per AS (SELECT ngram, doc_id, count(*) AS cnt FROM g GROUP BY 1, 2),
stats AS (
  SELECT ngram, CAST(sum(cnt) AS BIGINT) AS n_occurrences,
         count(*) AS n_docs
  FROM per GROUP BY 1
)
SELECT ngram, n_docs, n_occurrences FROM stats
ORDER BY n_occurrences DESC, n_docs DESC, ngram ASC LIMIT 25
""",
        "boilerplate_docs": f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
           i -> array_to_string(words[i:i+1], ' '))) AS ngram
  FROM w
),
boiler AS (
  SELECT ngram FROM (SELECT ngram, count(*) AS df FROM g GROUP BY 1)
  WHERE df >= 40
),
scored AS (
  SELECT g.doc_id, count(*) AS n_grams,
         CAST(count(*) FILTER (boiler.ngram IS NOT NULL) AS BIGINT) AS n_boiler
  FROM g LEFT JOIN boiler USING (ngram) GROUP BY 1
)
SELECT w.doc_id,
  CAST(coalesce(scored.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(scored.n_boiler, 0) AS BIGINT) AS n_boiler,
  CASE WHEN scored.n_grams > 0
       THEN scored.n_boiler / CAST(scored.n_grams AS DOUBLE) END
    AS boilerplate_frac
FROM w LEFT JOIN scored USING (doc_id)
""",
        "pii_scrub_docs": _pii_scrub_sql(),
        "encoding_quality_docs": _encoding_quality_sql(),
        "domain_stats_docs": _domain_stats_sql(),
        "substring_decontam_docs": _substring_decontam_sql(),
        "line_dedup_docs": """
WITH lns AS (
  SELECT doc_id, l, l[i] AS line, i
  FROM (SELECT doc_id, str_split(replace(text, ' ', chr(10)), chr(10)) AS l
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i)
),
firsts AS (SELECT doc_id, line, min(i) AS fi FROM lns GROUP BY 1, 2)
SELECT f.doc_id,
       string_agg(f.line, chr(10) ORDER BY f.fi) AS text_deduped,
       any_value(n.n_all) - COUNT(*) AS n_dup_lines
FROM firsts f
JOIN (SELECT doc_id, COUNT(*) AS n_all FROM lns GROUP BY 1) n USING (doc_id)
GROUP BY f.doc_id
""",
        "epoch_shuffle_docs": """
SELECT doc_id,
  ROW_NUMBER() OVER (
    ORDER BY ('0x' || substring(md5('epoch1::' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
             doc_id
  ) AS shuffle_rank
FROM documents
""",
        "topk_cosine": _topk_cosine_sql(),
        # ivf_topk runs at nprobe=n_cells (exact-degenerate, see q_ivf_topk):
        # the brute-force ranking is the oracle for the index machinery.
        "ivf_topk": _topk_cosine_sql(),
        "ivf_batch_topk": """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id >= 5 AND vec_id < 10
),
s AS (
  SELECT q.q_id, e.vec_id,
    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
  FROM q, embeddings e
),
r AS (
  SELECT q_id, vec_id, cosine,
    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
  FROM s WHERE cosine IS NOT NULL
)
SELECT q_id, vec_id,
  CAST(round(cosine * 1000000) AS BIGINT) AS cosine_e6,
  CAST(rnk AS INT) AS rank
FROM r WHERE rnk <= 5
""",
        "ann_batch_topk": """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT q.q_id, e.vec_id,
    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
  FROM q, embeddings e
),
r AS (
  SELECT q_id, vec_id, cosine,
    row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rnk
  FROM s WHERE cosine IS NOT NULL
)
SELECT q_id, vec_id,
  CAST(round(cosine * 1000000) AS BIGINT) AS cosine_e6,
  CAST(rnk AS INT) AS rank
FROM r WHERE rnk <= 10
""",
        # embedding_neardups: LSH blocking + exact-cosine verification;
        # recall 1.0 on the driver fixtures (see q_embedding_neardups), so
        # the exact all-pairs relation IS the oracle.
        "embedding_neardups": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1000000) AS BIGINT) AS cosine_e6
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
""",
        # embedding_neardups_auto: the auto-geometry + stop-bucket scale
        # path; recall 1.0 at cosine>=0.5 with seed=7 on the driver
        # fixtures (see q_embedding_neardups_auto), so exact all-pairs is
        # again a full value oracle.
        "embedding_neardups_auto": """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1000000) AS BIGINT) AS cosine_e6
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.5
""",
        "audio_meta": _audio_meta_sql(),
        "clip_summary": f"""
SELECT CAST({V.bucket_sql('entity_id', 64)} AS INT) AS bucket, shape,
  CAST(sum(CASE WHEN is_valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
  CAST(sum(CASE WHEN is_valid THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
FROM ({verdict_union}) GROUP BY 1, 2
""",
        "clip_cycle_verdicts": oracle.cycle_verdict_union_sql(
            _clips_pq("clips"), _clips_pq("transcripts"), iters=6
        ),
        "multimodal_byte_hist": _byte_hist_sql(),
        "audio_frames": _audio_frames_sql(),
        "clip_loudness": _clip_loudness_sql(),
        "clip_sample_quality": _sample_quality_sql(clip_thresh=26000),
        "k_anonymity_docs": """
WITH b AS (
  SELECT doc_id, lang, source, n_chars // 100 AS chars_bin FROM documents
),
c AS (
  SELECT lang, source, chars_bin, CAST(count(*) AS BIGINT) AS cell_n
  FROM b GROUP BY 1, 2, 3
)
SELECT b.doc_id, b.lang, b.source, b.chars_bin, c.cell_n,
  c.cell_n >= 3 AS is_valid
FROM b JOIN c USING (lang, source, chars_bin)
""",
        "snapshot_diff_codec": f"""
WITH u AS (
  SELECT clip_id, sr_hz, dur_ms, codec, transcript,
    CAST(substr(clip_id, 6) AS BIGINT) AS i
  FROM {c}
  WHERE clip_id IN (SELECT clip_id FROM {c} GROUP BY 1 HAVING count(*) = 1)
),
fp_new AS (
  SELECT clip_id, codec, md5(concat_ws(chr(0)||'|',
    coalesce(CAST(sr_hz AS VARCHAR), chr(0)||'N'),
    coalesce(CAST(dur_ms AS VARCHAR), chr(0)||'N'),
    coalesce(codec, chr(0)||'N'),
    coalesce(transcript, chr(0)||'N'))) AS fp
  FROM u
),
fp_old AS (
  SELECT clip_id, codec, md5(concat_ws(chr(0)||'|',
    coalesce(CAST(sr_hz AS VARCHAR), chr(0)||'N'),
    coalesce(CAST(CASE WHEN i % 17 = 0 THEN dur_ms + 1 ELSE dur_ms END
                  AS VARCHAR), chr(0)||'N'),
    coalesce(codec, chr(0)||'N'),
    coalesce(transcript, chr(0)||'N'))) AS fp
  FROM u WHERE i % 31 <> 0
),
d AS (
  SELECT coalesce(n.codec, o.codec) AS codec,
    CASE WHEN o.fp IS NULL THEN 'added'
         WHEN n.fp IS NULL THEN 'removed'
         WHEN o.fp <> n.fp THEN 'changed'
         ELSE 'unchanged' END AS status
  FROM fp_old o FULL OUTER JOIN fp_new n USING (clip_id)
),
s AS (
  SELECT codec,
    CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
    CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
    CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
    CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM d GROUP BY 1
)
SELECT codec, n_added, n_removed, n_changed, n_unchanged,
  n_removed + n_changed + n_unchanged AS n_old,
  n_added + n_changed + n_unchanged AS n_new
FROM s
""",
        "dur_anomalies": f"""
WITH u AS (
  SELECT clip_id, codec, dur_ms FROM {c}
  WHERE clip_id IN (SELECT clip_id FROM {c} GROUP BY 1 HAVING count(*) = 1)
),
b AS (
  SELECT codec,
    quantile_cont(dur_ms, 0.05) AS band_lo,
    quantile_cont(dur_ms, 0.95) AS band_hi
  FROM u WHERE dur_ms IS NOT NULL GROUP BY 1
)
SELECT u.clip_id, u.codec, u.dur_ms, b.band_lo, b.band_hi,
  CASE WHEN u.dur_ms IS NULL THEN NULL
       ELSE u.dur_ms < b.band_lo OR u.dur_ms > b.band_hi END AS is_anomaly
FROM u LEFT JOIN b USING (codec)
""",
        "events_freshness": """
WITH g AS (
  SELECT event_type,
    epoch_us(ts) - lag(epoch_us(ts))
      OVER (PARTITION BY event_type ORDER BY ts) AS gap
  FROM events
),
per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, max(ts) AS max_ts
  FROM events GROUP BY 1
),
ga AS (SELECT event_type, max(gap) AS max_gap_us FROM g GROUP BY 1),
gl AS (SELECT max(epoch_us(ts)) AS glob_us FROM events)
SELECT per.event_type, per.n_events, per.max_ts,
  CAST(gl.glob_us - epoch_us(per.max_ts) AS BIGINT) AS lag_us,
  gl.glob_us - epoch_us(per.max_ts) <= CAST(1800 AS BIGINT) * 1000000 AS fresh_ok,
  CAST(ga.max_gap_us AS BIGINT) AS max_gap_us,
  COALESCE(ga.max_gap_us, 0) <= CAST(10000 AS BIGINT) * 1000000 AS gap_ok
FROM per LEFT JOIN ga USING (event_type) CROSS JOIN gl
""",
        "audio_trim_silence": _trim_silence_sql(thresh=500),
        "audio_content_dups": _content_dups_sql(),
        "audio_fp_matches": _audio_fp_matches_sql(min_shared=5),
        "audio_decimate": _decimate_sql(factor=4),
        "audio_gain_norm": _gain_norm_sql(target_peak=26000),
        "audio_time_mask": _time_mask_sql(mask_ms=200, n_masks=2),
        "audio_bandwidth": _audio_bandwidth_sql(),
        "audio_pitch": _audio_pitch_sql(),
        "audio_container_summary": _container_summary_sql(),
        "wav_roundtrip": _wav_roundtrip_sql(),
        "image_verdicts": _image_verdicts_sql(),
        "image_dhash": _image_dhash_sql(),
        "image_dhash_dups": _image_dhash_dups_sql(),
        "image_meta": _image_meta_sql(),
        "image_pixel_stats": _image_pixel_stats_sql(),
        "image_resize_stats": _image_resize_stats_sql(),
        "image_thumb_roundtrip": _image_thumb_roundtrip_sql(),
        "video_meta": _video_meta_sql(),
        "video_frame_stats": _video_frame_stats_sql(),
        "video_fingerprint": _video_fingerprint_sql(),
        "video_content_matches": _video_content_matches_sql(),
        "video_verdicts": _video_verdicts_sql(),
        "mixed_container_census": _mixed_container_census_sql(),
        "video_excerpt_roundtrip": _video_frame_stats_sql(
            every_n=2, renumber=True
        ),
        "audio_speed_perturb": _speed_perturb_sql(num=11, den=10),
        "audio_pad_trim": _pad_trim_sql(target=400),
        "shard_manifest_docs": """
SELECT CAST(('0x' || substr(md5('shard' || doc_id), 1, 15))::BIGINT % 32 AS INT) AS shard,
  count(*) AS n_docs,
  CAST(coalesce(sum(strlen(text)), 0) AS BIGINT) AS n_bytes,
  bit_xor(('0x' || substr(md5(doc_id || ':' || coalesce(text, '')), 1, 15))::BIGINT) AS content_fp
FROM documents
GROUP BY 1
""",
        "vocab_coverage_docs": f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
tk AS (SELECT doc_id, unnest(words) AS word FROM w),
wf AS (SELECT word, count(*) AS n_word FROM tk GROUP BY 1),
v AS (SELECT word, TRUE AS in_vocab FROM wf
      ORDER BY n_word DESC, word ASC LIMIT 500)
SELECT tk.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM tk LEFT JOIN v USING (word) GROUP BY 1
""",
        "padding_stats_clips": f"""
WITH r AS (
  SELECT CAST(dur_ms AS BIGINT) AS len,
    CASE WHEN dur_ms <= 2000 THEN 0 WHEN dur_ms <= 5000 THEN 1
         WHEN dur_ms <= 10000 THEN 2 WHEN dur_ms <= 20000 THEN 3
         ELSE 4 END AS bucket_idx,
    CASE WHEN dur_ms <= 2000 THEN 2000 WHEN dur_ms <= 5000 THEN 5000
         WHEN dur_ms <= 10000 THEN 10000 WHEN dur_ms <= 20000 THEN 20000
    END AS bmax
  FROM {_clips_pq("clips")}
  WHERE dur_ms IS NOT NULL AND dur_ms >= 0
),
g AS (
  SELECT bucket_idx,
    CAST(COALESCE(max(bmax), max(len)) AS BIGINT) AS bucket_max,
    CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(len) AS BIGINT) AS sum_len
  FROM r GROUP BY 1
)
SELECT bucket_idx, bucket_max, n_rows, sum_len,
  CAST(n_rows * bucket_max AS BIGINT) AS padded_total,
  CAST(n_rows * bucket_max - sum_len AS BIGINT) AS pad_waste
FROM g
""",
        "audio_mix": f"""
WITH {_audio_decode_ctes()},
pu AS (
  SELECT c2.clip_id, c2.sr_hz
  FROM {_clips_pq("clips")} c2 JOIN uniq USING (clip_id)
  WHERE CAST(substr(c2.clip_id, 6) AS BIGINT) % 8 = 0
    AND c2.bytes IS NOT NULL AND c2.sr_hz IS NOT NULL
    AND substr(upper(hex(c2.bytes)), 1, 8) = '53474131'
),
pb AS (
  -- pairing order = md5_60('mix:' || id) hash order (the Spark op's
  -- deterministic shuffle; its two-phase bucketed rank reduces to this
  -- single window because bucket order IS key order)
  SELECT clip_id, sr_hz,
    row_number() OVER (PARTITION BY sr_hz
      ORDER BY ('0x' || substr(md5('mix:' || clip_id), 1, 15))::BIGINT,
               clip_id) AS rn,
    count(*) OVER (PARTITION BY sr_hz) AS m
  FROM pu
),
pair AS (
  SELECT a.clip_id, b.clip_id AS noise_id
  FROM pb a JOIN pb b ON a.sr_hz = b.sr_hz AND b.rn = (a.rn % a.m) + 1
),
mix AS (
  SELECT p.clip_id, p.noise_id, da.i,
    CAST(floor((da.val + db.val) / 2.0) AS BIGINT) AS mval
  FROM pair p
  JOIN dec da ON da.clip_id = p.clip_id
  JOIN dec db ON db.clip_id = p.noise_id AND db.i = da.i
)
SELECT clip_id, noise_id, CAST(count(*) AS BIGINT) AS n_out,
  md5(string_agg(CAST(mval AS VARCHAR), ',' ORDER BY i)) AS mix_md5
FROM mix GROUP BY 1, 2
""",
        "bigram_surprisal_docs": f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
bg AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 1, 0) + 1),
           i -> array_to_string(words[i:i+1], ' '))) AS bigram
  FROM w
),
tf AS (SELECT doc_id, bigram, count(*) AS n FROM bg GROUP BY 1, 2),
model AS (
  SELECT bigram, CAST(sum(n) AS BIGINT) AS cnt,
         string_split(bigram, ' ')[1] AS w1
  FROM tf GROUP BY 1
),
ctx AS (SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_n FROM model GROUP BY 1),
sc AS (
  SELECT tf.doc_id, tf.n,
    CAST(length(bin(ctx.ctx_n // model.cnt)) - 1 AS BIGINT) AS sur
  FROM tf JOIN model USING (bigram) JOIN ctx ON model.w1 = ctx.w1
),
pd AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         CAST(sum(n * sur) AS BIGINT) AS surprisal_sum
  FROM sc GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(pd.n_bigrams, 0) AS n_bigrams,
  COALESCE(pd.surprisal_sum, 0) AS surprisal_sum,
  CASE WHEN COALESCE(pd.n_bigrams, 0) > 0
       THEN CAST(pd.surprisal_sum AS DOUBLE) / CAST(pd.n_bigrams AS DOUBLE)
  END AS mean_surprisal
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN pd USING (doc_id)
""",
        "source_overlap_docs": f"""
WITH aug AS (
  SELECT text, source FROM documents
  UNION ALL
  SELECT text, 'mirror' AS source FROM documents WHERE doc_id % 7 = 0
),
ds AS (
  SELECT DISTINCT md5({_NORM}) AS digest, source AS src FROM aug
)
SELECT a.src AS source_a, b.src AS source_b,
  CAST(count(*) AS BIGINT) AS n_shared_digests
FROM ds a JOIN ds b ON a.digest = b.digest AND a.src < b.src
GROUP BY 1, 2
""",
        "bpe_pairs_docs": f"""
WITH w AS (
  SELECT list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
wx AS (SELECT unnest(words) AS word FROM w),
wf AS (
  SELECT word, count(*) AS n_word FROM wx GROUP BY 1
  HAVING length(word) >= 2
),
p AS (
  SELECT word, n_word,
    unnest(list_transform(range(1, length(word)),
           i -> substr(word, CAST(i AS INT), 2))) AS pair
  FROM wf
)
SELECT pair,
  CAST(sum(n_word) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT word) AS BIGINT) AS n_distinct_words
FROM p GROUP BY 1
ORDER BY n_occurrences DESC, pair ASC LIMIT 40
""",
        "pack_clips_duration": f"""
WITH tok AS (
  SELECT clip_id, sum(n_tokens) AS tok
  FROM {_clips_pq("transcripts")} GROUP BY 1
),
t AS (
  SELECT c.clip_id, c.dur_ms, COALESCE(tok.tok, 0) AS tok,
    ('0x' || substring(md5(CAST(c.clip_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM {_clips_pq("clips")} c LEFT JOIN tok USING (clip_id)
),
a AS (
  SELECT clip_id, dur_ms, tok, CAST(h % 8 AS INT) AS shard, h,
    COALESCE(sum(dur_ms) OVER (PARTITION BY CAST(h % 8 AS INT)
      ORDER BY h, clip_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT shard,
  CAST(cum // 60000 AS BIGINT) AS seq_in_shard,
  CAST(count(*) AS BIGINT) AS n_clips,
  CAST(sum(dur_ms) AS BIGINT) AS total_dur_ms,
  CAST(sum(tok) AS BIGINT) AS total_tokens
FROM a GROUP BY 1, 2
""",
        "speech_segments": _speech_segments_sql(),
        "align_tokens": _align_tokens_sql(frame_ms=20),
        "transcript_cer": _transcript_cer_sql(),
        "transcript_wer": _transcript_wer_sql(),
        "cer_verdicts": _cer_verdicts_sql(max_edits=6),
        "speech_activity": _speech_activity_sql(),
        "sessionize_events": _sessionize_sql(gap_minutes=30),
        "codec_dur_quantiles": f"""
SELECT codec, count(*) AS n_rows,
  quantile_cont(dur_ms, 0.5) AS p50,
  quantile_cont(dur_ms, 0.9) AS p90
FROM {c} WHERE dur_ms IS NOT NULL GROUP BY codec
""",
        "speech_rate_check": f"""
SELECT t.transcript_id, t.clip_id, t.n_tokens, c.dur_ms,
  CASE WHEN t.n_tokens IS NULL OR c.dur_ms IS NULL OR c.dur_ms <= 0
       THEN NULL
       ELSE t.n_tokens * 10000 >= c.dur_ms * 5
            AND t.n_tokens * 10000 <= c.dur_ms * 80
  END AS rate_ok
FROM {_clips_pq("transcripts")} t JOIN {c} c USING (clip_id)
""",
        "asof_purchase_view": _ASOF_SQL,
        "purchases_in_error_windows": _INCIDENT_SQL,
        "distinctive_terms_docs": _distinctive_terms_sql(k=3, min_tf=2),
        "chunk_docs": _chunk_docs_sql(c=16, s=12),
        "top_docs_per_source": """
WITH r AS (
  SELECT source, doc_id, n_chars,
    CAST(row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS INT)
      AS rank
  FROM documents
)
SELECT source, doc_id, n_chars, rank FROM r WHERE rank <= 3
""",
        # minhash_neardups_docs: the LSH path verifies every candidate with
        # exact shingle Jaccard, and at this fixture LSH recall is 1.0
        # (checked: LSH output == exact all-pairs relation), so the exact
        # k-gram Jaccard relation IS the oracle — same SQL shape as
        # jaccard_pairs_docs at k=5, threshold=0.5, full table.
        "reconcile_verdicts": """
WITH a AS (
  SELECT l_orderkey AS k,
    sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
             AS BIGINT)) AS actual
  FROM lineitem GROUP BY 1
),
v AS (
  SELECT o_orderkey,
    CAST(round(o_totalprice * 100) AS BIGINT) AS exp,
    coalesce(a.actual, 0) AS act
  FROM orders o LEFT JOIN a ON a.k = o.o_orderkey
)
SELECT CAST(o_orderkey AS VARCHAR) AS entity_id, 'OrderShape' AS shape,
  (exp IS NULL OR abs(act - exp) * 1000000 <= 50000 * abs(exp)) AS is_valid,
  CASE WHEN NOT (exp IS NULL OR abs(act - exp) * 1000000 <= 50000 * abs(exp))
       THEN 'o_total' ELSE NULL END AS reason
FROM v
""",
        "orders_reconciliation": """
WITH a AS (
  SELECT l_orderkey AS k,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)
                  AS BIGINT)) AS BIGINT) AS actual_cents,
    CAST(count(*) AS BIGINT) AS n_children
  FROM lineitem GROUP BY 1
),
p AS (
  SELECT o_orderkey AS key,
    CAST(round(o_totalprice * 100) AS BIGINT) AS expected_cents
  FROM orders
)
SELECT p.key, p.expected_cents,
  CAST(coalesce(a.actual_cents, 0) AS BIGINT) AS actual_cents,
  CAST(coalesce(a.n_children, 0) AS BIGINT) AS n_children,
  CAST(coalesce(a.actual_cents, 0) - p.expected_cents AS BIGINT) AS diff_cents,
  (p.expected_cents IS NULL OR
   abs(coalesce(a.actual_cents, 0) - p.expected_cents) * 1000000
     <= 50000 * abs(p.expected_cents)) AS ok
FROM p LEFT JOIN a ON a.k = p.key
""",
        "curation_dispositions": f"""
WITH corpus AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 11 = 0
),
quality AS (
  SELECT * FROM corpus
  WHERE len({_TOKS}) >= 25
    AND coalesce(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'max'), 0) <= 30
),
lng AS (SELECT * FROM quality WHERE lang IN ('en', 'de')),
surv AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM}) AS h FROM lng)
  GROUP BY h
),
dedup AS (SELECT l.* FROM lng l JOIN surv USING (doc_id)),
w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM dedup
),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM w
),
bw AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
  WHERE ('0x' || substring(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        < {int(0.05 * (1 << 60))}
),
bg AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM bw
),
bad AS (SELECT DISTINCT doc_id FROM g JOIN bg USING (gram)),
decontam AS (
  SELECT d.doc_id FROM dedup d LEFT JOIN bad USING (doc_id)
  WHERE bad.doc_id IS NULL
)
SELECT c.doc_id,
  CASE WHEN q.doc_id IS NULL THEN 'quality'
       WHEN l.doc_id IS NULL THEN 'lang'
       WHEN dd.doc_id IS NULL THEN 'dedup'
       WHEN bad.doc_id IS NOT NULL THEN 'decontam'
       ELSE 'kept' END AS disposition
FROM corpus c
LEFT JOIN (SELECT doc_id FROM quality) q USING (doc_id)
LEFT JOIN (SELECT doc_id FROM lng) l USING (doc_id)
LEFT JOIN (SELECT doc_id FROM dedup) dd USING (doc_id)
LEFT JOIN bad USING (doc_id)
""",
        "curation_funnel": f"""
WITH corpus AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 11 = 0
),
quality AS (
  SELECT * FROM corpus
  WHERE len({_TOKS}) >= 25
    AND coalesce(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'max'), 0) <= 30
),
lng AS (SELECT * FROM quality WHERE lang IN ('en', 'de')),
surv AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM}) AS h FROM lng)
  GROUP BY h
),
dedup AS (SELECT l.* FROM lng l JOIN surv USING (doc_id)),
w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM dedup
),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM w
),
bw AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
  WHERE ('0x' || substring(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        < {int(0.05 * (1 << 60))}
),
bg AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM bw
),
bad AS (SELECT DISTINCT doc_id FROM g JOIN bg USING (gram)),
decontam AS (
  SELECT d.doc_id FROM dedup d LEFT JOIN bad USING (doc_id)
  WHERE bad.doc_id IS NULL
)
SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM corpus
UNION ALL SELECT 1, 'quality', count(*) FROM quality
UNION ALL SELECT 2, 'lang', count(*) FROM lng
UNION ALL SELECT 3, 'dedup', count(*) FROM dedup
UNION ALL SELECT 4, 'decontam', count(*) FROM decontam
""",
        "curation_funnel_neardup": f"""
WITH RECURSIVE corpus AS (
  SELECT * FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
  FROM documents WHERE doc_id % 11 = 0
),
quality AS (
  SELECT * FROM corpus
  WHERE len({_TOKS}) >= 25
    AND coalesce(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'max'), 0) <= 30
),
lng AS (SELECT * FROM quality WHERE lang IN ('en', 'de')),
surv AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM}) AS h FROM lng)
  GROUP BY h
),
dedup AS (SELECT l.* FROM lng l JOIN surv USING (doc_id)),
dn AS (SELECT doc_id, {_NORM} AS norm FROM dedup),
sh AS (
  SELECT DISTINCT doc_id AS doc, substring(norm, i, 5) AS shingle
  FROM dn, LATERAL (SELECT unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i) u
  WHERE length(substring(norm, i, 5)) >= 1
),
sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS a, b.doc AS b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sz sa ON sa.doc = i.a JOIN sz sb ON sb.doc = i.b
  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.5
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
reach(node, comp) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.comp FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node, min(comp) AS rep FROM reach GROUP BY node),
neardup AS (
  SELECT d.* FROM dedup d LEFT JOIN comp c ON c.node = d.doc_id
  WHERE c.node IS NULL OR c.rep = d.doc_id
),
w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM neardup
),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM w
),
bw AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
  WHERE ('0x' || substring(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        < {int(0.05 * (1 << 60))}
),
bg AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM bw
),
bad AS (SELECT DISTINCT doc_id FROM g JOIN bg USING (gram)),
decontam AS (
  SELECT n.doc_id FROM neardup n LEFT JOIN bad USING (doc_id)
  WHERE bad.doc_id IS NULL
)
SELECT CAST(0 AS INT) AS stage_idx, 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM corpus
UNION ALL SELECT 1, 'quality', count(*) FROM quality
UNION ALL SELECT 2, 'lang', count(*) FROM lng
UNION ALL SELECT 3, 'dedup', count(*) FROM dedup
UNION ALL SELECT 4, 'neardup', count(*) FROM neardup
UNION ALL SELECT 5, 'decontam', count(*) FROM decontam
""",
        "pipeline_e2e": f"""
WITH quality AS (
  SELECT * FROM documents
  WHERE len({_TOKS}) >= 25
    AND coalesce(list_aggregate(list_transform({_TOKS}, x -> length(x)), 'max'), 0) <= 30
),
lng AS (SELECT * FROM quality WHERE lang IN ('en', 'de')),
surv AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM}) AS h FROM lng)
  GROUP BY h
),
dedup AS (SELECT l.* FROM lng l JOIN surv USING (doc_id)),
w AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM dedup
),
g AS (
  SELECT doc_id,
    unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM w
),
bw AS (
  SELECT doc_id, list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
  WHERE ('0x' || substring(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        < {int(0.05 * (1 << 60))}
),
bg AS (
  SELECT DISTINCT unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
           i -> md5(array_to_string(words[i:i+7], ' ')))) AS gram
  FROM bw
),
bad AS (SELECT DISTINCT doc_id FROM g JOIN bg USING (gram)),
decontam AS (
  SELECT d.* FROM dedup d LEFT JOIN bad USING (doc_id)
  WHERE bad.doc_id IS NULL
),
mixed AS (
  SELECT doc_id, text,
    unnest(range(0, CASE WHEN lang = 'en' THEN 2 ELSE 1 END)) AS copy
  FROM decontam
),
m2 AS (
  SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR) AS mix_id,
    CAST(len(list_filter(string_split_regex(trim(lower(text)),
         '[\\s[:punct:][:digit:]]+'), x -> x <> '')) AS BIGINT) AS n_tok,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':'
         || CAST(copy AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM mixed
),
c AS (
  SELECT mix_id, CAST(h % 4 AS INT) AS shard, n_tok, h,
    COALESCE(sum(n_tok) OVER (PARTITION BY CAST(h % 4 AS INT)
      ORDER BY h, mix_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM m2
)
SELECT mix_id, shard,
  CAST(cum // 256 AS BIGINT) AS seq_in_shard,
  CAST(cum % 256 AS BIGINT) AS offset,
  n_tok AS n_tokens
FROM c
""",
        "weighted_mix_docs": f"""
WITH d AS (
  SELECT doc_id, lang,
    ('0x' || substring(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
),
n AS (
  SELECT doc_id, lang,
    CASE
      WHEN lang = 'en' THEN 2 + CASE WHEN h < {int(0.5 * (1 << 60))} THEN 1 ELSE 0 END
      WHEN lang = 'zh' THEN 0 + CASE WHEN h < {int(0.25 * (1 << 60))} THEN 1 ELSE 0 END
      ELSE 1
    END AS k
  FROM d
)
SELECT doc_id, lang, CAST(unnest(range(0, k)) AS INT) AS copy
FROM n WHERE k > 0
""",
        "pack_sequences_docs": """
WITH t AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(lower(text)),
         '[\\s[:punct:][:digit:]]+'), x -> x <> '')) AS BIGINT) AS n_tok,
    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM documents
),
c AS (
  SELECT doc_id, CAST(h % 8 AS INT) AS shard, n_tok, h,
    COALESCE(sum(n_tok) OVER (PARTITION BY CAST(h % 8 AS INT)
      ORDER BY h, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
  FROM t
)
SELECT doc_id, shard,
  CAST(cum // 256 AS BIGINT) AS seq_in_shard,
  CAST(cum % 256 AS BIGINT) AS offset,
  n_tok AS n_tokens
FROM c
""",
        "repetition_docs": f"""
WITH w AS (
  SELECT doc_id,
    list_filter(string_split({_NORM}, ' '), t -> t <> '') AS words
  FROM documents
),
g AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 2
      THEN list_transform(range(1, len(words)),
           i -> array_to_string(words[i:i+1], ' '))
      ELSE []::VARCHAR[] END AS grams
  FROM w
)
SELECT doc_id,
  CAST(len(grams) AS INT) AS n_grams,
  CAST(len(list_distinct(grams)) AS INT) AS n_distinct_grams
FROM g
""",
        "decontam_docs": _decontam_sql(),
        "minhash_neardups_docs": f"""
WITH d AS (SELECT doc_id, {_NORM} AS norm FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS doc, substring(norm, i, 5) AS shingle
  FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i) u
  WHERE length(substring(norm, i, 5)) >= 1
),
sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS a, b.doc AS b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT i.a, i.b, i.inter, sa.sz AS size_a, sb.sz AS size_b
FROM inter i JOIN sz sa ON sa.doc = i.a JOIN sz sb ON sb.doc = i.b
WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.5
""",
        # simhash_neardups_docs: md5_60 token hash is byte-identical across
        # engines and pigeonhole blocking is lossless, so brute-force
        # all-pairs hamming is an exact oracle.
        "simhash_neardups_docs": _simhash_sql(),
        # ann_lsh_topk runs at multiprobe=None (probe-all = exact
        # degenerate, see q_ann_lsh_topk): the brute-force ranking is the
        # oracle for the bucket/probe/top-k machinery.
        "ann_lsh_topk": _topk_cosine_sql(),
    }
