"""Structured-Streaming incremental validation — the Spark recast of the
reference's *anytime* delivery (verdicts stream out while validation still
runs: shaclapi/multiprocessing/functions.py:77-83, non-blocking switch
shaclapi/config.py:312-317).

Batch Spark replaced per-tuple streaming with per-wave incremental emission
(lineage.py). This module adds the true streaming path for the constraint
subset that is decidable per row: a clips file-stream is validated micro-
batch by micro-batch, verdict/violation rows appended as each batch lands,
and the streaming checkpoint makes restarts resume exactly where they left
off (files already processed are never re-read) — the streaming analog of
the lineage manifest.

Entity-crossing constraints (unique, min/max-count, qualified-shape,
drift) need the whole entity group and are deliberately NOT evaluated here
— they run in the batch/lineage path, mirroring the reference's forced-
blocking fallback when per-tuple decisions are impossible
(shaclapi/api.py:144-166).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from shaclapi_spark.engine import (
    EngineConfig,
    sql_ident,
    verdict_sql,
    violations_sql,
    with_derived,
)
from shaclapi_spark.ops import audio as audio_ops
from shaclapi_spark.ops.row_checks import describe, row_predicate
from shaclapi_spark.suite import ROW_KINDS, Constraint, Shape, Suite
from shaclapi_spark.verdicts import sql_str


def _row_constraints(shape: Shape) -> list[Constraint]:
    """Top-level constraints decidable on a single row (no OR-groups with
    non-row branches, no entity aggregation). audio_valid branches are
    excluded from OR-group admissibility: row_predicate cannot evaluate the
    Arrow-UDF check inside a disjunction (it is handled as a standalone
    column via with_audio_check only)."""
    out: list[Constraint] = []
    for c in shape.constraints:
        if c.kind in ROW_KINDS or c.kind == "audio_valid":
            out.append(c)
        elif c.kind == "or_group" and all(
            b.kind in ROW_KINDS and b.kind != "audio_valid" for b in c.branches
        ):
            out.append(c)
    return out


def row_verdict_stream(
    df: DataFrame, shape: Shape, config: EngineConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """Per-row (verdicts, violations) for the row-decidable subset of
    ``shape`` — a pure map-side plan (no shuffle), valid on both batch and
    streaming DataFrames. Audio checks short-circuit on rows already
    invalidated by cheap checks, the streaming analog of the reference's
    early-fail propagation."""
    cfg = config or EngineConfig()
    cs = _row_constraints(shape)
    if shape.target_filter:
        df = df.filter(F.expr(shape.target_filter))
    # derived columns (Shape.derived_columns): the batch engine's staged
    # projection, so expr constraints referencing them (e.g. the image
    # suite's __img_ok) stream unchanged
    df = with_derived(df, shape.derived_columns)

    def predicate(c: Constraint) -> Column:
        if c.kind != "or_group":
            return row_predicate(c)
        pred = F.lit(False)
        for b in c.branches:
            pred = pred | F.coalesce(row_predicate(b), F.lit(True))
        return pred

    cheap = [c for c in cs if c.kind != "audio_valid"]
    if cheap:
        df = df.withColumns({f"b_{c.id}": predicate(c) for c in cheap})
    # each constraint's bool, never NULL (unbound ⇒ valid)
    oks = [f"coalesce({sql_ident(f'b_{c.id}')}, true)" for c in cs]
    precond = " AND ".join(
        ok for c, ok in zip(cs, oks) if c.kind != "audio_valid" and cfg.short_circuit
    )
    for c in cs:
        if c.kind == "audio_valid":
            df = audio_ops.with_audio_check(
                df,
                f"b_{c.id}",
                c.params["column"],
                float(c.params.get("min_snr_db", audio_ops.MIN_SNR_DB)),
                precondition=F.expr(precond or "true"),
            )

    valid, reason = verdict_sql(cs, oks)
    entity_id = f"CAST({sql_ident(shape.entity_col)} AS STRING) AS entity_id"
    shape_name = f"{sql_str(shape.name)} AS shape"
    verdicts = df.selectExpr(
        entity_id, shape_name, f"{valid} AS is_valid", f"{reason} AS reason"
    )
    details = [sql_str(describe(c)) for c in cs]
    violations = df.selectExpr(entity_id, shape_name, violations_sql(cs, oks, details))
    return verdicts, violations


def write_batch_outputs(
    out_dir: str,
    batch_df: DataFrame,
    shape: Shape,
    batch_id: int,
    config: EngineConfig | None = None,
) -> int:
    """IDEMPOTENT per-batch output: foreachBatch gives at-least-once
    delivery (a crash after the write but before the checkpoint commit
    re-runs the micro-batch on restart), so every output is partitioned by
    batch_id and written with DYNAMIC partition overwrite — a replay
    replaces its own batch_id partition instead of appending duplicate
    rows, yielding exactly-once output. Returns the batch's verdict row
    count, observed as a side effect of the verdict write job (no extra
    count action)."""
    from pyspark.sql import Observation

    vd, vl = row_verdict_stream(batch_df, shape, config)
    vd = vd.withColumn("batch_id", F.lit(batch_id))
    vl = vl.withColumn("batch_id", F.lit(batch_id))

    def write(df: DataFrame, sub: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, sub))
        )

    obs = Observation(f"batch_{batch_id}_verdicts")
    write(vd.observe(obs, F.count(F.lit(1)).alias("n")), "verdicts")
    write(vl, "violations")
    write(
        vd.groupBy("shape")
        .agg(
            F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
            F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
        )
        .withColumn("batch_id", F.lit(batch_id)),
        "batch_summary",
    )
    return int(obs.get["n"])


def validate_stream(
    spark: SparkSession,
    suite: Suite,
    shape_name: str,
    source_dir: str,
    schema,
    out_dir: str,
    config: EngineConfig | None = None,
    max_files_per_trigger: int | None = None,
    metrics: "MetricsRecorder | None" = None,
) -> int:
    """Drain all currently-available files under ``source_dir`` through
    micro-batch row validation (Trigger.AvailableNow), appending
    ``verdicts/`` and ``violations/`` parquet plus a per-batch summary under
    ``out_dir``. The streaming checkpoint (``out_dir/_checkpoint``) persists
    progress: a later call only processes files added since — idempotent
    incremental catch-up, resumable after a crash mid-stream.

    ``metrics``: optional MetricsRecorder — records a per-batch stage row,
    `first_verdict_sec` (the wall time from stream start until the first
    micro-batch's verdicts were durably written — the reference's
    first-result timestamp, ValidationResultTransmitter.py:21-24), and one
    per-answer trace row per micro-batch (``MetricsRecorder.trace``:
    cumulative verdict count + offset, the reference's emission trace,
    statsCalculation.py:43-68).

    Returns the number of micro-batches executed in this call."""
    import time as _time

    shape = suite.shape(shape_name)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    n_batches = {"n": 0}
    t0 = _time.time()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tb = _time.time()
        n_rows = write_batch_outputs(out_dir, batch_df, shape, batch_id, config)
        if metrics is not None:
            metrics.record(f"batch_{batch_id}", _time.time() - tb, n_rows)
            metrics.mark_first("first_verdict_sec", since_ts=t0, n_rows=n_rows)
            # per-answer trace: cumulative verdicts delivered vs offset
            metrics.mark_emission(since_ts=t0, n_rows=n_rows)
        n_batches["n"] += 1

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches["n"]
