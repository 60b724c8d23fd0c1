"""Continuous distribution-drift monitoring: per-event-time-window PSI of
a streamed numeric column against a broadcast reference histogram — the
streaming counterpart of ``ops.drift`` (KS/PSI vs the T3 reference table),
which the north rule mandates as a batch constraint kind.

Why it looks like this: Structured Streaming allows ONE stateful
aggregation per query in append mode, so the per-window histogram is
built as a single ``groupBy(window)`` whose aggregate emits every bin
count at once (one conditional-sum column per bin — n_bins is a small
literal, 32 here, and the whole expression stays in codegen). The PSI is
then a stateless projection over those counts against the reference
fractions baked in as literals: no second aggregation, no driver-side
collect, no Python in the stream.

The smoothing matches ``ops.drift.ks_psi`` exactly: obs fractions and ref
fractions each get +eps then renormalize, psi = sum((p-q) * ln(p/q)).
Windows close when the watermark passes, so each verdict row is emitted
once, late data inside the watermark still counts, and state is bounded
by (windows in flight) x n_bins.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from shaclapi_spark.ops.drift import bin_index


def windowed_psi(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    lo: float,
    hi: float,
    ref_fracs: list[float],
    window: str = "1 hour",
    watermark: str = "2 hours",
    eps: float = 1e-6,
    psi_threshold: float = 0.25,
) -> DataFrame:
    """Per-window drift verdicts: (window_start, window_end, n_rows, psi,
    drifted). Bins are equal-width over [lo, hi) with edge clamping and
    NULL exclusion — identical to ``ops.drift.observed_histogram``.
    ``ref_fracs`` is the reference histogram (one fraction per bin, e.g.
    the T3 ``ref_histograms`` rows for the column); it is normalized with
    the same eps smoothing as the observed side."""
    n_bins = len(ref_fracs)
    if n_bins < 2:
        raise ValueError("need at least 2 reference bins")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    qsum = sum(ref_fracs) + n_bins * eps
    q = [(f + eps) / qsum for f in ref_fracs]

    col = F.col(value_col).cast("double")
    bin_expr = bin_index(col, lo, hi, n_bins)
    counts = [
        F.sum(F.when(F.col("__bin") == i, 1).otherwise(0)).alias(f"__c{i}")
        for i in range(n_bins)
    ]
    hist = (
        stream.filter(col.isNotNull())
        .withColumn("__bin", bin_expr)
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("__w"))
        .agg(F.count(F.lit(1)).alias("n_rows"), *counts)
    )
    # stateless PSI projection: p_i = (c_i/N + eps) / (1 + n_bins*eps)
    denom = 1.0 + n_bins * eps
    p = [
        ((F.col(f"__c{i}") / F.col("n_rows")) + F.lit(eps)) / F.lit(denom)
        for i in range(n_bins)
    ]
    psi = None
    for i in range(n_bins):
        term = (p[i] - F.lit(q[i])) * (F.log(p[i]) - F.lit(math.log(q[i])))
        psi = term if psi is None else psi + term
    # chi-square goodness-of-fit rides the same stateful aggregate for
    # free: chi2 = sum_i (c_i - N q_i)^2 / (N q_i) — unlike PSI it scales
    # with N, so its verdict catches small persistent shifts that the
    # fraction-based PSI smooths away on big windows (the batch
    # counterpart is ops.drift.chi2_gof)
    chi2 = None
    for i in range(n_bins):
        e_i = F.col("n_rows") * F.lit(q[i])
        term = (F.col(f"__c{i}") - e_i) * (F.col(f"__c{i}") - e_i) / e_i
        chi2 = term if chi2 is None else chi2 + term
    return hist.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        F.col("n_rows").cast("long").alias("n_rows"),
        psi.alias("psi"),
        (psi > F.lit(psi_threshold)).alias("drifted"),
        chi2.alias("chi2"),
    )
