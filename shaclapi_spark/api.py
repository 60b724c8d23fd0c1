"""Public API facade — the analog of the reference's three HTTP entry points
(SURVEY.md §3), minus Flask: callers get DataFrames, not JSON.

reference                                   here
------------------------------------------  ------------------------------------
POST /multiprocessing (api.py:29-46 flow:   :func:`run` — full suite evaluation
  rewrite → validate ∥ query → join →        with target restriction, constraint
  post-process → output)                      removal, verdict/violation/summary
POST /validation (api.py:324-387: per-      :func:`validation_summary` — per-
  shape valid/invalid counts + rows)          shape counts + verdicts
POST /reduce (api.py:265-283: reduced       :func:`explain` — compile-only dry
  shape-name list, no data touched)           run: surviving shapes/constraints,
                                              evaluation order, cyclic groups
GET /schema-overlap-like metric             :func:`schema_overlap`
  (api.py:286-321)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaclapi_spark.compiler import compile_suite
from shaclapi_spark.engine import EngineConfig, SuiteResult, run_suite
from shaclapi_spark.suite import Suite


def run(
    spark: SparkSession,
    suite: Suite,
    tables: dict[str, DataFrame],
    target_shapes: list[str] | None = None,
    relevant_columns: set[str] | None = None,
    config: EngineConfig | None = None,
    target_population: "str | DataFrame | None" = None,
    mode: str = "blocking",
    out_dir: str | None = None,
    n_waves: int = 8,
):
    """Flagship entry point (POST /multiprocessing analog): validate the
    target shapes, with the reference's metadata reductions applied
    (reachability pruning always; query-driven constraint removal when
    ``relevant_columns`` is given — ReducedShapeParser.py:78-110 analog;
    query-driven target restriction when ``target_population`` is given —
    Reduction.replace_target_query analog).

    ``mode`` — the collect_all_validation_results toggle
    (ref shaclapi/config.py:312-317):

    * "blocking" (default): evaluate everything, return a SuiteResult.
    * "anytime": durable incremental emission — verdicts land wave by wave
      under ``out_dir`` (consumable while later waves still run, resumable
      from the manifest; first-wave latency on the result). Requires
      exactly one target shape and ``out_dir``; a CYCLIC target forces the
      blocking path instead (the batch analog of the reference's forced-
      blocking fallback, ref shaclapi/api.py:144-166) and returns a
      SuiteResult. Returns a lineage.LineageRun otherwise.
    """
    if mode not in ("blocking", "anytime"):
        raise ValueError(f"unknown mode {mode!r} (blocking|anytime)")
    if mode == "anytime":
        from shaclapi_spark import lineage

        targets = target_shapes or suite.names()
        if len(targets) != 1 or out_dir is None:
            raise ValueError(
                "mode='anytime' needs exactly one target shape and out_dir"
            )
        try:
            return lineage.run_with_lineage(
                spark,
                suite,
                tables,
                targets[0],
                out_dir,
                n_waves=n_waves,
                config=config,
            )
        except ValueError as e:
            if "cyclic" not in str(e):
                raise
            # forced-blocking fallback: cross-wave fixpoints are impossible
    return run_suite(
        spark,
        suite,
        tables,
        target_shapes=target_shapes,
        relevant_columns=relevant_columns,
        config=config,
        target_population=target_population,
    )


def validation_summary(
    spark: SparkSession,
    suite: Suite,
    tables: dict[str, DataFrame],
    target_shapes: list[str] | None = None,
    config: EngineConfig | None = None,
) -> dict:
    """POST /validation analog: {shape: {valid: n, invalid: n}} plus the
    verdict DataFrame for callers that want rows (api.py:372-387 drains the
    queue into exactly this structure). ``result`` is the run's
    SuiteResult: release it once the rows are consumed."""
    res = run_suite(
        spark, suite, tables, target_shapes=target_shapes, config=config
    )
    counts = (
        res.verdicts.groupBy("shape")
        .agg(
            F.sum(F.col("is_valid").cast("long")).alias("valid"),
            F.sum((~F.col("is_valid")).cast("long")).alias("invalid"),
        )
        .collect()
    )
    return {
        "shapes": {
            r.shape: {"valid": int(r.valid), "invalid": int(r.invalid)}
            for r in counts
        },
        "verdicts": res.verdicts,
        "violations": res.violations,
        "result": res,
    }


def explain(
    suite: Suite,
    target_shapes: list[str] | None = None,
    relevant_columns: set[str] | None = None,
) -> dict:
    """POST /reduce analog — compile-only, no data touched: the reduced
    shape network, its evaluation order, and exactly what the
    reduction PRUNED (shapes unreachable from the targets; constraint ids
    dropped by column-relevance narrowing) — the reference's /reduce
    returns the reduced schema, this adds the audit of the reduction
    itself."""
    reduced, groups = compile_suite(
        suite, target_shapes or suite.names(), relevant_columns=relevant_columns
    )
    kept = {s.name: {c.id for c in s.constraints} for s in reduced.shapes}
    pruned_shapes = [n for n in suite.names() if n not in kept]
    pruned_constraints = {
        s.name: sorted(
            {c.id for c in s.constraints} - kept.get(s.name, set())
        )
        for s in suite.shapes
        if s.name in kept and {c.id for c in s.constraints} - kept[s.name]
    }
    return {
        "shapes": reduced.names(),
        "order": [
            {"shapes": g.shapes, "cyclic": g.cyclic} for g in groups
        ],
        "constraints": {
            s.name: [c.id for c in s.constraints] for s in reduced.shapes
        },
        "pruned_shapes": pruned_shapes,
        "pruned_constraints": pruned_constraints,
    }


def schema_overlap(
    suite: Suite, targets_a: list[str], targets_b: list[str]
) -> float:
    """|reduced(A) ∩ reduced(B)| / min(|reduced(A)|, |reduced(B)|) — the
    reference's schema-overlap metric (api.py:286-321) over this engine's
    reachability reduction."""
    a, _ = compile_suite(suite, targets_a)
    b, _ = compile_suite(suite, targets_b)
    sa, sb = set(a.names()), set(b.names())
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / min(len(sa), len(sb))


def enforce(
    spark: SparkSession,
    suite: Suite,
    tables: dict[str, DataFrame],
    shape_name: str,
    id_col: str,
    config: EngineConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The pipeline ending validation exists for: split a shape's table
    into ``(clean, quarantine)`` by its per-entity verdicts — the
    expectations-style enforcement step (drop-invalid + audit) a
    production job runs between validate and write.

    ``clean`` is the input table minus invalid entities (anti-join on the
    invalid id set — the dominant valid population never shuffles);
    ``quarantine`` is the invalid rows annotated with ``n_violations``
    and ``reasons`` (comma-joined sorted distinct constraint ids — under
    short-circuit evaluation this lists the RECORDED failures, which may
    be a prefix of all failures; run with short_circuit=False for the
    exhaustive list). Dataset-level verdicts (``__dataset__`` rows, e.g.
    drift) describe the whole table, not a row, and never quarantine
    rows — read them off :func:`run`'s result instead.

    Reference parity: the reference reports verdicts and stops
    (shaclapi/api.py:324-387); enforcement is the engine-original step
    mandated by the training-pipeline brief (quarantined rows feed the
    curation audit; clean rows feed the writer)."""
    shape = suite.shape(shape_name)
    res = run_suite(
        spark, suite, tables, target_shapes=[shape_name], config=config
    )
    table = tables[shape.table]
    # both derived relations are bounded by the invalid-entity count and
    # are eagerly checkpointed: validation runs once HERE (the first
    # checkpoint fills the run's persisted entity frames, the second reads
    # them; a cyclic target re-derives its violations from the last
    # fixpoint round), the run's caches are then released, and no action
    # on clean/quarantine re-evaluates the suite
    bad = (
        res.verdicts.filter(
            (F.col("shape") == shape_name)
            & (F.col("entity_id") != "__dataset__")
            & ~F.col("is_valid")
        )
        .select(F.col("entity_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    key = table[id_col].cast("string")
    clean = table.join(bad, key == bad["entity_id"], "left_anti")
    reasons = (
        res.violations.filter(
            (F.col("shape") == shape_name)
            & (F.col("entity_id") != "__dataset__")
        )
        .groupBy("entity_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_violations"),
            F.concat_ws(
                ",", F.array_sort(F.collect_set("constraint_id"))
            ).alias("reasons"),
        )
        .localCheckpoint(eager=True)
    )
    res.release()
    quarantine = (
        table.join(bad, key == bad["entity_id"])
        .drop(bad["entity_id"])
        .join(reasons, key == reasons["entity_id"], "left")
        .drop(reasons["entity_id"])
        .withColumn(
            "n_violations", F.coalesce("n_violations", F.lit(0).cast("long"))
        )
        .withColumn("reasons", F.coalesce("reasons", F.lit("")))
    )
    return clean, quarantine
