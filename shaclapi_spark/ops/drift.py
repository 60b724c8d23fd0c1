"""Distribution-drift checks: KS statistic + PSI vs a broadcast reference
histogram (the T3 fixture table). New capability mandated by BASELINE.json —
not present in the reference, which has no numeric operators at all
(SURVEY.md §2.7).

Physical plan: one map-side bin assignment (equal-width, arithmetic only) +
one tiny groupBy(bin) — a 32-row shuffle regardless of input size; the
ref histogram and the observed histogram are driver-side numpy after that,
and the verdict rows go back as JVM-local relations (verdicts.local_rows),
so no action over them starts a Python worker.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from shaclapi_spark.suite import Suite
from shaclapi_spark.verdicts import VERDICT_SCHEMA, VIOLATION_SCHEMA, local_rows


def bin_index(col: Column, lo: float, hi: float, n_bins: int) -> Column:
    """The equal-width bin of ``col`` over [lo, hi), out-of-range values
    clamped to the edge bins (standard PSI practice)."""
    width = F.lit((hi - lo) / n_bins)
    floor = F.floor((col - F.lit(lo)) / width).cast("int")
    return F.least(F.lit(n_bins - 1), F.greatest(F.lit(0), floor))


def _fractions(rows, n_bins: int) -> np.ndarray:
    """Per-bin fractions of (bin, n) count rows."""
    counts = np.zeros(n_bins, dtype=np.float64)
    for r in rows:
        counts[int(r.bin)] = float(r.n)
    total = counts.sum()
    return counts / total if total > 0 else counts


def _ref_bins(rows) -> tuple[float, float, np.ndarray]:
    """(lo, hi, fractions) of one column's reference histogram rows."""
    rs = sorted(rows, key=lambda r: r.bin_lo)
    ref = np.array([r.ref_frac for r in rs], dtype=np.float64)
    return float(rs[0].bin_lo), float(rs[-1].bin_hi), ref


def observed_histogram(df: DataFrame, column: str, lo: float, hi: float, n_bins: int) -> np.ndarray:
    """Fractions per equal-width bin (:func:`bin_index`); NULLs excluded."""
    col = F.col(column).cast("double")
    rows = (
        df.filter(col.isNotNull())
        .groupBy(bin_index(col, lo, hi, n_bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return _fractions(rows, n_bins)


def ks_psi(obs: np.ndarray, ref: np.ndarray, eps: float = 1e-6) -> tuple[float, float]:
    p = obs + eps
    q = np.asarray(ref, dtype=np.float64) + eps
    p = p / p.sum()
    q = q / q.sum()
    psi = float(np.sum((p - q) * np.log(p / q)))
    ks = float(np.max(np.abs(np.cumsum(p) - np.cumsum(q))))
    return ks, psi


def drift_metrics(
    df: DataFrame, column: str, ref_hist: DataFrame
) -> tuple[float, float]:
    """(ks, psi) of df[column] vs the reference histogram rows for `column`.
    The reference table is tiny (n_bins rows per column) — collected driver-side."""
    ref_rows = ref_hist.filter(F.col("column_name") == column).collect()
    if not ref_rows:
        raise ValueError(f"no reference histogram for column {column!r}")
    lo, hi, ref = _ref_bins(ref_rows)
    return ks_psi(observed_histogram(df, column, lo, hi, len(ref)), ref)


def evaluate_drift_constraints(
    spark: SparkSession, suite: Suite, tables: dict[str, DataFrame]
):
    """Dataset-level verdict rows (entity_id='__dataset__') for every `drift`
    constraint in the suite. Returns (verdicts_df|None, violations_df|None).

    ALL drift constraints over the same (table, target_filter) source run in
    ONE Spark job: per-row the bin of every profiled column is emitted via a
    single explode, then one groupBy(column, bin) — an N-constraint suite
    costs one scan + one (n_columns × n_bins)-row shuffle, not N sequential
    jobs."""
    # gather specs first: (shape, constraint, column, lo, hi, ref_fracs)
    specs = []  # (source_key, shape, c, column, lo, hi, ref)
    ref_cache: dict[int, dict[str, tuple[float, float, np.ndarray]]] = {}
    for shape in suite.shapes:
        for c in shape.constraints:
            if c.kind != "drift":
                continue
            p = c.params
            ref_df = tables[p.get("ref_table", "ref_histograms")]
            key = id(ref_df)
            if key not in ref_cache:
                rows = ref_df.collect()  # tiny: n_bins rows per column
                ref_cache[key] = {
                    cn: _ref_bins([r for r in rows if r.column_name == cn])
                    for cn in {r.column_name for r in rows}
                }
            if p["column"] not in ref_cache[key]:
                raise ValueError(
                    f"no reference histogram for column {p['column']!r}"
                )
            lo, hi, ref = ref_cache[key][p["column"]]
            specs.append(
                ((shape.table, shape.target_filter), shape, c, p["column"], lo, hi, ref)
            )

    # one fused histogram job per distinct source
    obs_by_spec: dict[tuple, np.ndarray] = {}
    by_source: dict[tuple, list] = {}
    for s in specs:
        by_source.setdefault(s[0], []).append(s)
    for (table, tfilter), ss in by_source.items():
        df = tables[table]
        if tfilter:
            df = df.filter(F.expr(tfilter))
        structs = []
        for _, _shape, c, column, lo, hi, ref in ss:
            col = F.col(column).cast("double")
            structs.append(
                F.struct(
                    F.lit(c.id).alias("cid"),
                    F.when(col.isNotNull(), bin_index(col, lo, hi, len(ref)))
                    .alias("bin"),
                )
            )
        rows = (
            df.select(F.explode(F.array(*structs)).alias("p"))
            .select("p.cid", "p.bin")
            .filter(F.col("bin").isNotNull())
            .groupBy("cid", "bin")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for _, _shape, c, column, lo, hi, ref in ss:
            obs_by_spec[(table, tfilter, c.id)] = _fractions(
                [r for r in rows if r.cid == c.id], len(ref)
            )

    vrows, xrows = [], []
    for (table, tfilter), shape, c, column, lo, hi, ref in specs:
        p = c.params
        obs = obs_by_spec[(table, tfilter, c.id)]
        ks, psi = ks_psi(obs, ref)
        ok = True
        if p.get("max_psi") is not None and psi > float(p["max_psi"]):
            ok = False
        if p.get("max_ks") is not None and ks > float(p["max_ks"]):
            ok = False
        detail = f"drift({column}) ks={ks:.4f} psi={psi:.4f}"
        vrows.append(("__dataset__", shape.name, ok, None if ok else c.id))
        if not ok:
            xrows.append(("__dataset__", shape.name, c.id, detail))
    if not vrows:
        return None, None
    vd = local_rows(spark, vrows, VERDICT_SCHEMA)
    vl = local_rows(spark, xrows, VIOLATION_SCHEMA)
    return vd, vl


def chi2_gof(obs_counts: np.ndarray, ref_fracs: np.ndarray, eps: float = 1e-9) -> float:
    """Pearson goodness-of-fit statistic of observed bin COUNTS vs reference
    bin fractions: chi2 = sum_i (n_i - N q_i)^2 / (N q_i). Complements
    KS (worst-bin CDF gap) and PSI (information divergence) with the
    classic count-scaled test; unlike those two it grows with N, so the
    threshold encodes sample size (use the chi2 distribution's critical
    value for n_bins-1 dof)."""
    n = np.asarray(obs_counts, dtype=np.float64)
    q = np.asarray(ref_fracs, dtype=np.float64)
    q = q / max(q.sum(), eps)
    total = n.sum()
    if total <= 0:
        return 0.0
    e = total * np.clip(q, eps, None)
    return float(np.sum((n - e) ** 2 / e))


def chi2_groups(
    df: DataFrame,
    column: str,
    group_pred: Column,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Two-sample Pearson chi-square (homogeneity) between the rows where
    ``group_pred`` holds (population A) and the rest (population B), binned
    on ``column`` — "did the dur_ms distribution of the 16 kHz clips drift
    away from everything else?". Exact integer output so the relation
    value-hashes across engines: with per-bin counts (n_a, n_b), totals
    (N, M) and t = n_a + n_b, the textbook two-sample term
    (n_a - N t/T)^2/(N t/T) + (n_b - M t/T)^2/(M t/T) simplifies to
    d^2 / (N M t) with d = n_a*M - n_b*N; we emit
    ``chi2_ppm = floor(10^6 d^2 / (N M t))`` per bin (DECIMAL(38,0)
    intermediates — d^2 can pass 2^63 long before any count does).
    Sum(chi2_ppm)/10^6 ~ the statistic, off by < n_bins/10^6.

    Physical plan: one scan emitting (bin, is_a) + one n_bins-row groupBy;
    totals ride a window over the n_bins-row aggregate — no second scan,
    no driver round-trip. NULLs excluded, out-of-range clamped to the edge
    bins (same convention as observed_histogram)."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    col = F.col(column).cast("double")
    bin_expr = bin_index(col, lo, hi, n_bins)
    counts = (
        df.filter(col.isNotNull())
        .select(bin_expr.alias("bin"), group_pred.cast("int").alias("__a"))
        .groupBy("bin")
        .agg(
            F.sum("__a").cast("long").alias("n_a"),
            (F.count(F.lit(1)) - F.sum("__a")).cast("long").alias("n_b"),
        )
    )
    w = Window.partitionBy()  # n_bins rows — a tiny single-node window
    dec = "decimal(38,0)"
    return (
        counts.withColumn("__N", F.sum("n_a").over(w))
        .withColumn("__M", F.sum("n_b").over(w))
        .withColumn(
            # operands cast to decimal BEFORE the products (long*long wraps
            # past 2^63 at corpus scale), and the 10^6 ppm scaling is staged
            # AFTER the division — floor(10^6 d^2/D) = 10^6*(d^2 div D)
            # + (10^6*(d^2 mod D)) div D — because 10^6*d^2 itself passes
            # DECIMAL(38,0)'s ceiling once d ~ 5e16 (every intermediate here
            # stays <= ~1e34 for N, M up to ~5e8 rows per side)
            "__d",
            F.expr(
                f"CAST(n_a AS {dec}) * CAST(__M AS {dec})"
                f" - CAST(n_b AS {dec}) * CAST(__N AS {dec})"
            ),
        )
        .withColumn(
            "__den",
            F.expr(
                f"CAST(__N AS {dec}) * CAST(__M AS {dec})"
                f" * CAST(n_a + n_b AS {dec})"
            ),
        )
        .withColumn(
            "chi2_ppm",
            F.expr(
                f"CAST(CASE WHEN n_a + n_b = 0 OR __N = 0 OR __M = 0 THEN 0 "
                f"ELSE CAST(1000000 AS {dec}) * ((__d * __d) div __den)"
                f" + (CAST(1000000 AS {dec}) * ((__d * __d) % __den)) div __den "
                f"END AS BIGINT)"
            ),
        )
        .select("bin", "n_a", "n_b", "chi2_ppm")
    )
