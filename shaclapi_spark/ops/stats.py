"""Per-column statistics: min / max / null-rate / approx-distinct (HLL).

New capability mandated by BASELINE.json (the reference has no numeric
operators — SURVEY.md §2.4 'Not present'). All built-in JVM aggregates:
``approx_count_distinct`` is Spark's HyperLogLog++, map-side mergeable, so
the whole stats pass is ONE partial-agg job with no wide rows.

``grouped_stats`` handles skewed group keys (the 70%-'opus' codec column of
the fixture) with a two-phase salted aggregation: partial per (key, salt)
then final per key — the shuffle fan-in per reducer drops from
|biggest group| to |biggest group| / n_salts. For the global (ungrouped)
variant salting is unnecessary: Spark's partial aggregation already combines
map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from shaclapi_spark.verdicts import VERDICT_SCHEMA, VIOLATION_SCHEMA, local_rows


def column_stats(df: DataFrame, columns: list[str]) -> DataFrame:
    """One row per column: (column_name, min, max, null_rate, approx_distinct,
    n_rows). Values stringified for min/max so heterogeneous column types fit
    one relation."""
    total = F.count(F.lit(1))
    aggs = [total.alias("__n")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.min(col).cast("string").alias(f"min_{c}"),
            F.max(col).cast("string").alias(f"max_{c}"),
            F.sum(col.isNull().cast("long")).alias(f"nulls_{c}"),
            F.approx_count_distinct(col).alias(f"adist_{c}"),
        ]
    wide = df.agg(*aggs)
    # melt the single wide row into one row per column (tiny, driver-safe)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"min_{c}").alias("min_value"),
            F.col(f"max_{c}").alias("max_value"),
            (F.col(f"nulls_{c}") / F.col("__n")).alias("null_rate"),
            F.col(f"adist_{c}").alias("approx_distinct"),
            F.col("__n").alias("n_rows"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def column_profile(df: DataFrame, columns: list[str]) -> DataFrame:
    """Exact profile: (column_name, min_value, max_value, n_nulls, n_distinct,
    n_rows) — the oracle-checkable variant of :func:`column_stats` (exact
    COUNT(DISTINCT) instead of HLL; at 100 TB use ``column_stats``, whose
    approx_count_distinct is one map-side-mergeable pass)."""
    total = F.count(F.lit(1))
    aggs = [total.alias("__n")]
    for c in columns:
        col = F.col(c)
        aggs += [
            F.min(col).cast("string").alias(f"min_{c}"),
            F.max(col).cast("string").alias(f"max_{c}"),
            F.sum(col.isNull().cast("long")).alias(f"nulls_{c}"),
            F.count_distinct(col).alias(f"dist_{c}"),
        ]
    wide = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"min_{c}").alias("min_value"),
            F.col(f"max_{c}").alias("max_value"),
            F.col(f"nulls_{c}").alias("n_nulls"),
            F.col(f"dist_{c}").alias("n_distinct"),
            F.col("__n").alias("n_rows"),
        )
        for c in columns
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


def grouped_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Per-group min/max/count/null-count of ``value_col`` with salt-and-merge
    for skewed group keys. Output: (group, n_rows, n_nulls, min_value,
    max_value). Counts/min/max are algebraic → exact after the merge."""
    val = F.col(value_col)
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    partial = salted.groupBy(F.col(group_col).alias("group"), "__salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(val.isNull().cast("long")).alias("nn"),
        F.min(val).alias("mn"),
        F.max(val).alias("mx"),
    )
    return (
        partial.groupBy("group")
        .agg(
            F.sum("n").alias("n_rows"),
            F.sum("nn").alias("n_nulls"),
            F.min("mn").alias("min_value"),
            F.max("mx").alias("max_value"),
        )
    )


def uniqueness_violation_keys(df: DataFrame, key_col: str) -> DataFrame:
    """Exact duplicate-key relation: (key, n_rows) for keys appearing more
    than once. Map-side combinable count; the result is typically tiny and
    broadcast-joinable back to the fact table."""
    return (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def grouped_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: list[float] = (0.5, 0.9),
) -> DataFrame:
    """Exact per-group quantiles (linear interpolation) of a numeric
    column: one row per group with ``p<q>`` columns plus n_rows — the
    distribution summary the drift checks read thresholds from when a
    sketch (HLL/KLL) is too coarse to pin a bound.

    Exactness matters here: ``percentile_approx``'s error bound is rank-
    based, so a long-tailed dur_ms distribution can misplace p90 by whole
    histogram bins; the exact form is cross-engine reproducible (both
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` interpolate
    ``lo + (hi-lo)*frac`` in IEEE double).

    Scale shape — salted repartitioning for skewed groups (the north
    star's "skewed codec groups" case, where one codec is 90 % of a
    10^12-row table): a naive ``percentile`` aggregate is sort-based with
    per-group memory O(group rows) — the dominant group lands on ONE
    reducer. Here the first exchange keys on (group, VALUE) instead: the
    value acts as the salt, spreading the dominant group across all
    reducers, and map-side combine collapses each partition to its
    distinct values before anything shuffles. Exact quantiles then come
    from cumulative counts over the per-group value HISTOGRAM — a
    relation bounded by distinct values per group (dur_ms: ≤ ~30k rows
    per codec regardless of row count), over which the rank window is
    safe. Works for any discrete/bounded-cardinality column; for
    continuous unbounded columns fall back to ``approx_percentile`` and
    accept the rank error."""
    g, v = F.col(group_col), F.col(value_col)
    hist = (
        df.filter(v.isNotNull())
        .groupBy(g.alias("__g"), v.cast("double").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("__g")
    hist = (
        hist.withColumn("__cum", F.sum("__cnt").over(w_cum))
        .withColumn("__n", F.sum("__cnt").over(w_all))
        .withColumn("__start", F.col("__cum") - F.col("__cnt"))
    )
    aggs = [F.first("__n").alias("n_rows")]
    for q in quantiles:
        name = f"p{int(round(q * 100)):02d}"
        # 0-based target rank r = (n-1)*q; the value at position p is the
        # unique histogram row whose [start, cum) interval contains p =
        # max(value | start <= p). Linear interpolation between the floor
        # and ceil ranks matches Spark `percentile` / DuckDB quantile_cont.
        r = (F.col("__n") - 1) * F.lit(float(q))
        lo_pos, hi_pos = F.floor(r), F.ceil(r)
        lo = F.max(F.when(F.col("__start") <= lo_pos, F.col("__v")))
        hi = F.max(F.when(F.col("__start") <= hi_pos, F.col("__v")))
        aggs.append((lo + (hi - lo) * F.max(r - lo_pos)).alias(name))
    return (
        hist.groupBy(F.col("__g").alias(group_col))
        .agg(*aggs)
        .withColumn("n_rows", F.col("n_rows").cast("long"))
    )


def freshness_check(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    max_lag_s: int = 3600,
    max_gap_s: int = 3600,
) -> DataFrame:
    """Per-group data-freshness / completeness verdicts over an event-time
    column: is each group's newest row close enough to the table's newest
    row (``lag_us`` vs ``max_lag_s``), and is the largest gap between
    consecutive rows within the group bounded (``max_gap_us`` vs
    ``max_gap_s``)? A silent upstream producer shows up as a stale or
    gappy group long before row counts drift.

    All arithmetic is integer microseconds — exact cross-engine.

    Output: (group, n_events, max_ts, lag_us, fresh_ok, max_gap_us,
    gap_ok).

    Scale shape: ONE table scan, and — like grouped_quantiles — no
    window partitioned by the low-cardinality group alone (a dominant
    event type would sort on one task). The consecutive-gap maximum is
    computed two-phase over ordered TIME buckets: a 1-row min/max
    aggregate sizes ~1024 uniform time slices, the intra-slice lag
    window partitions by (group, slice), and slice-boundary gaps come
    from a lag over the tiny per-(group, slice) rollup (min/max us per
    slice — consecutive NON-EMPTY slices, so empty slices cost nothing).
    max_gap = max(intra, boundary) is exactly the single-window answer.
    The per-group aggregate rides the (group, slice) partitioning; the
    table-wide max derives from the per-group maxes.
    """
    from shaclapi_spark.pipeline.sessions import _micros

    us = _micros(df, ts_col)
    lo_hi = df.select(
        F.min(us).alias("lo"), F.max(us).alias("hi")
    ).collect()[0]
    if lo_hi["lo"] is None:
        width = 1
    else:
        width = max((int(lo_hi["hi"]) - int(lo_hi["lo"])) // 1024, 1)
    b = ((us - F.lit(int(lo_hi["lo"] or 0))) / F.lit(width)).cast("long")
    w_intra = Window.partitionBy(group_col, "__b").orderBy("__us")
    base = df.select(
        F.col(group_col), F.col(ts_col), us.alias("__us"), b.alias("__b")
    ).withColumn("__gap", F.col("__us") - F.lag("__us").over(w_intra))
    per_gb = base.groupBy(group_col, "__b").agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(F.col(ts_col)).alias("__max_ts"),
        F.min("__us").alias("__mn"),
        F.max("__us").alias("__mx"),
        F.max("__gap").alias("__g"),
    )
    w_bnd = Window.partitionBy(group_col).orderBy("__b")
    per_gb = per_gb.withColumn(
        "__bnd", F.col("__mn") - F.lag("__mx").over(w_bnd)
    )
    per = per_gb.groupBy(group_col).agg(
        F.sum("__n").alias("n_events"),
        F.max("__max_ts").alias("max_ts"),
        F.max("__mx").alias("__max_us"),
        F.greatest(F.max("__g"), F.max("__bnd")).alias("max_gap_us"),
    )
    out = per.withColumn(
        "__glob_us", F.max("__max_us").over(Window.partitionBy())
    ).withColumn("lag_us", F.col("__glob_us") - F.col("__max_us"))
    return out.select(
        group_col,
        "n_events",
        "max_ts",
        "lag_us",
        (F.col("lag_us") <= F.lit(int(max_lag_s) * 1_000_000)).alias("fresh_ok"),
        "max_gap_us",
        (F.coalesce(F.col("max_gap_us"), F.lit(0))
         <= F.lit(int(max_gap_s) * 1_000_000)).alias("gap_ok"),
    )


def quantile_anomalies(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-row anomaly verdicts against each row's OWN group's exact
    quantile band: value outside [p<lo>, p<hi>] of its group ⇒ anomaly.

    This is the per-entity form of the suite's distribution checks — the
    reference's per-entity verdict tuples (shaclapi/multiprocessing/
    functions.py:13-16) where the "shape" is membership in the group's
    central band. NULL values get a NULL verdict (unknown, not violated —
    the engine's unbound⇒valid convention leaves policy to the caller).

    Output: (group, id columns passed through, value, lo, hi, is_anomaly).

    Scale shape: the quantile relation is one row per group — BROADCAST
    back onto the fact scan, so the verdict pass adds no second shuffle
    beyond the quantile aggregate itself.
    """
    bands = grouped_quantiles(df, group_col, value_col, [lo_q, hi_q])
    lo_name = f"p{int(round(lo_q * 100)):02d}"
    hi_name = f"p{int(round(hi_q * 100)):02d}"
    bands = bands.select(
        group_col,
        F.col(lo_name).alias("__lo"),
        F.col(hi_name).alias("__hi"),
    )
    out = df.join(F.broadcast(bands), group_col, "left")
    return out.withColumn(
        "is_anomaly",
        F.when(F.col(value_col).isNull(), F.lit(None).cast("boolean")).otherwise(
            (F.col(value_col) < F.col("__lo")) | (F.col(value_col) > F.col("__hi"))
        ),
    ).withColumnRenamed("__lo", "band_lo").withColumnRenamed("__hi", "band_hi")


def evaluate_stat_bound_constraints(spark, suite, tables: dict[str, DataFrame]):
    """Dataset-level verdict rows (entity_id='__dataset__') for every
    ``stat_bound`` constraint in the suite — the north-star's per-column
    stats (null-rate, row-count, cardinality, central tendency) promoted
    from a report to first-class pass/fail constraints. Returns
    (verdicts_df|None, violations_df|None), the same contract as
    ops/drift.evaluate_drift_constraints.

    ALL stat_bound constraints over the same (table, target_filter) source
    are fused into ONE aggregate job: an N-metric suite costs one scan and
    one single-row partial-agg exchange, never N sequential jobs. The
    collected result is one row per source — driver-side work is O(metrics),
    and the verdict rows go back as JVM-local relations
    (verdicts.local_rows), so no action over them starts a Python worker.

    Semantics: the metric is any aggregate SQL expression over the source;
    the constraint holds iff min <= metric <= max (either bound optional).
    A NULL metric (e.g. avg() of an empty source) is vacuously valid —
    the engine's unbound-implies-valid convention.
    """
    by_source: dict[tuple, list] = {}
    for shape in suite.shapes:
        for c in shape.constraints:
            if c.kind != "stat_bound":
                continue
            by_source.setdefault((shape.table, shape.target_filter), []).append(
                (shape, c)
            )
    if not by_source:
        return None, None

    vrows, xrows = [], []
    for (table, tfilter), ss in sorted(by_source.items(), key=lambda kv: kv[0][0]):
        df = tables[table]
        if tfilter:
            df = df.filter(F.expr(tfilter))
        aggs = [
            F.expr(c.params["metric"]).cast("double").alias(f"m_{i}")
            for i, (_s, c) in enumerate(ss)
        ]
        row = df.agg(*aggs).collect()[0]
        for i, (shape, c) in enumerate(ss):
            p = c.params
            v = row[f"m_{i}"]
            ok = True
            if v is not None:
                if p.get("min") is not None and v < float(p["min"]):
                    ok = False
                if p.get("max") is not None and v > float(p["max"]):
                    ok = False
            vrows.append(("__dataset__", shape.name, ok, None if ok else c.id))
            if not ok:
                xrows.append(
                    (
                        "__dataset__",
                        shape.name,
                        c.id,
                        f"stat_bound({p['metric']}) value={v} "
                        f"min={p.get('min')} max={p.get('max')}",
                    )
                )
    vd = local_rows(spark, vrows, VERDICT_SCHEMA)
    vl = local_rows(spark, xrows, VIOLATION_SCHEMA)
    return vd, vl


def reconciliation_check(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_key: str,
    parent_cents,
    child_cents,
    tol_ppm: int = 0,
) -> DataFrame:
    """Cross-table aggregate reconciliation — the classic warehouse
    validation fk_match cannot express: does each parent's recorded total
    equal the SUM over its children? (order total vs line amounts,
    account balance vs ledger entries, clip duration vs segment spans.)
    Output per parent: (key, expected_cents, actual_cents, diff_cents,
    n_children, ok) with ok ⇔ |diff| * 10^6 <= tol_ppm * |expected|,
    evaluated in DECIMAL(38,0) (the raw BIGINT product wraps past 2^63
    once |diff| or |expected| exceeds ~9.2e12 cents in non-ANSI Spark).
    A NULL ``expected_cents`` is vacuously valid (ok = true), matching
    the engine's ``reconcile`` constraint kind (engine.py reconcile
    branch: ``exp.isNull() | ...``) — no recorded total means nothing
    to reconcile against.

    ``parent_cents`` / ``child_cents`` are Column expressions already
    scaled to EXACT INTEGERS (e.g. round(amount * 100)): the per-row
    rounding is a fixed IEEE expression both engines evaluate identically,
    and integer sums are order-independent — so the relation value-hashes
    cross-engine where a double sum (whose result depends on reduction
    order) cannot.

    Scale shape: one map-combinable child aggregation (the shuffle moves
    one partial row per (task, parent)) + a key equi-join against the
    parent relation; parents without children reconcile against 0."""
    actual = child.groupBy(F.col(child_key).alias("__k")).agg(
        F.sum(child_cents.cast("long")).cast("long").alias("actual_cents"),
        F.count(F.lit(1)).cast("long").alias("n_children"),
    )
    out = (
        parent.select(
            F.col(parent_key).alias("key"),
            parent_cents.cast("long").alias("expected_cents"),
        )
        .join(actual, F.col("key") == F.col("__k"), "left")
        .drop("__k")
        .withColumn(
            "actual_cents", F.coalesce("actual_cents", F.lit(0).cast("long"))
        )
        .withColumn(
            "n_children", F.coalesce("n_children", F.lit(0).cast("long"))
        )
        .withColumn(
            "diff_cents",
            (F.col("actual_cents") - F.col("expected_cents")).cast("long"),
        )
        .withColumn(
            "ok",
            F.col("expected_cents").isNull()
            | (
                F.abs(F.col("diff_cents")).cast("decimal(38,0)")
                * F.lit(1_000_000).cast("decimal(38,0)")
                <= F.lit(int(tol_ppm)).cast("decimal(38,0)")
                * F.abs(F.col("expected_cents")).cast("decimal(38,0)")
            ),
        )
    )
    return out
