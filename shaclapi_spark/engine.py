"""The validation engine: shape sub-DAGs as declarative DataFrame plans.

Per-shape physical shape (SURVEY.md §7, scale-first):

  table ──filter(target)──► row-check columns (map-side, codegen)
        ──audio UDF column (Arrow batch; short-circuited by cheap checks)
        ──fk_exists marker joins (broadcast when parent keys are small)
        ──ONE groupBy(entity): n_rows + bool_and of every row bool   ← the
          only full-table shuffle, map-side combinable partial agg
        ──left join per (child_table, fk): child groupBy(fk) computing ALL
          count / qualified-valid-count columns for that child in one pass
        ──AND/OR combine + reason attribution (map-side)
        ──persisted ONCE per run (entity id, verdict, reason, bools, counts)
        ──verdicts / violations / dependent shapes read that one frame

Shapes that declare no `unique` constraint are treated as entity-grain and
skip the groupBy entirely (zero-shuffle fast path — e.g. TranscriptShape).

The plan is assembled by stage, not by column (each DataFrame or Column
call is a JVM round trip, and each DataFrame call re-analyses the plan):
one ``withColumns`` per derived-column dependency stage, for the row bools
and per parent group's fk bools; verdict, reason and violation columns are
SQL text, one ``selectExpr`` apiece. The summary is built when read.

Cyclic shape groups (tc3 analog) run to fixpoint from the all-valid
(unbound⇒valid) initialization; invalidation through qualified-min
constraints is monotone, and convergence is detected with a cheap
order-insensitive hash aggregate instead of a full diff.
"""

from __future__ import annotations

import functools
import itertools
import re
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from shaclapi_spark import verdicts as V
from shaclapi_spark.verdicts import sql_str
from shaclapi_spark.compiler import EvalGroup, compile_suite
from shaclapi_spark.ops import audio as audio_ops
from shaclapi_spark.ops import drift as drift_ops
from shaclapi_spark.ops import stats as stats_ops
from shaclapi_spark.ops.row_checks import describe, row_predicate
from shaclapi_spark.suite import (
    CHILD_KINDS,
    DATASET_KINDS,
    ROW_KINDS,
    Constraint,
    Shape,
    Suite,
)


@dataclass
class EngineConfig:
    short_circuit: bool = True          # early-fail: skip audio decode for rows already invalid


@dataclass
class SuiteResult:
    """One run's verdicts and violations; the per-bucket ``summary`` is
    built from the verdicts when first read. The run persisted the
    entity-grain frame of every acyclic shape (and every restricted
    population); the result owns those caches until :meth:`release`, which
    is also called on leaving a ``with`` block."""

    verdicts: DataFrame
    violations: DataFrame
    shapes_evaluated: list[str] = field(default_factory=list)
    verdicts_by_shape: dict[str, DataFrame] = field(default_factory=dict)
    _cached: list[DataFrame] = field(default_factory=list, repr=False)

    @functools.cached_property
    def summary(self) -> DataFrame | None:
        return V.summarize(self.verdicts) if self.verdicts is not None else None

    def release(self) -> None:
        """Unpersist every frame this run persisted. Result frames stay
        usable: their next action recomputes from the sources.
        ``localCheckpoint`` data (cyclic fixpoints) is not touched."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def __enter__(self) -> "SuiteResult":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def sql_ident(name: str) -> str:
    """``name`` as a backticked Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _col(name: str) -> Column:
    """The column literally named ``name`` (dots and backticks included,
    which ``F.col`` would parse)."""
    return F.col(sql_ident(name))


def derived_stages(derived: dict[str, str]) -> list[dict[str, str]]:
    """Ordered ``Shape.derived_columns`` cut into dependency stages. A
    column opens a new stage iff its SQL names a column the current stage
    defines (a case-insensitive whole-word match, so backticked names
    match too) or it redefines one. Each stage then reads only the source
    and earlier stages, as the columns applied one at a time would."""
    stages: list[dict[str, str]] = []
    for name, sql in derived.items():
        if not stages or any(
            n.lower() == name.lower()
            or re.search(rf"(?<!\w){re.escape(n)}(?!\w)", sql, re.IGNORECASE)
            for n in stages[-1]
        ):
            stages.append({})
        stages[-1][name] = sql
    return stages


def with_derived(df: DataFrame, derived: dict[str, str] | None) -> DataFrame:
    """``derived`` (``Shape.derived_columns``) projected with one
    ``withColumns`` per dependency stage: derive-once-check-many, so each
    constraint reading a derived column compiles to a plain column read
    instead of re-expanding its (possibly huge) expression tree."""
    for stage in derived_stages(derived or {}):
        df = df.withColumns({n: F.expr(sql) for n, sql in stage.items()})
    return df


def verdict_sql(cs: list[Constraint], oks: list[str]) -> tuple[str, str]:
    """(``is_valid``, ``reason``) as SQL over ``oks``, the non-NULL bool
    of each top-level constraint in ``cs``: reason names the first failing
    constraint in declaration order (a qualified_shape names its referenced
    shape, tc4 semantics), NULL for a valid entity."""
    valid = " AND ".join(oks) or "true"
    whens = " ".join(
        f"WHEN NOT {ok} THEN "
        + sql_str(c.params["shape"] if c.kind == "qualified_shape" else c.id)
        for c, ok in zip(cs, oks)
    )
    reason = f"CASE {whens} END" if whens else "CAST(NULL AS STRING)"
    return valid, reason


def violations_sql(cs: list[Constraint], oks: list[str], details: list[str]) -> str:
    """A generator over one row per failing constraint, columns
    (constraint_id, detail): ``details`` are SQL string expressions."""
    if not cs:
        typ = "ARRAY<STRUCT<constraint_id: STRING, detail: STRING>>"
        return f"inline(CAST(array() AS {typ}))"
    structs = ", ".join(
        f"CASE WHEN NOT {ok} THEN named_struct('constraint_id', {sql_str(c.id)},"
        f" 'detail', {d}) END"
        for c, ok, d in zip(cs, oks, details)
    )
    return f"inline(filter(array({structs}), x -> x IS NOT NULL))"


class _ShapeEvaluator:
    """Builds the DataFrame plan for one shape given prerequisite verdicts."""

    def __init__(
        self,
        shape: Shape,
        tables: dict[str, DataFrame],
        prereq_verdicts: dict[str, DataFrame],
        config: EngineConfig,
        entity_col_by_shape: dict[str, str] | None = None,
        population: DataFrame | None = None,
    ):
        self.shape = shape
        self.tables = tables
        self.prereq = prereq_verdicts
        self.cfg = config
        # join key of a qualified ref: the referenced shape's entity column
        # (the referenced shape's table is the child table)
        self._ref_entity_cols = entity_col_by_shape or {}
        # entity-id restriction (one column `__pop_id`): validate only these
        # entities — the batch analog of the reference's replaced target query
        self.population = population
        self.row_cs: list[Constraint] = []
        self.audio_cs: list[Constraint] = []
        self.fk_cs: list[Constraint] = []
        self.child_cs: list[Constraint] = []
        self.unique_cs: list[Constraint] = []
        self.fdep_cs: list[Constraint] = []
        self.mono_cs: list[Constraint] = []
        self.dataset_cs: list[Constraint] = []
        self.or_groups: list[Constraint] = []
        self._classify()

    def _classify(self) -> None:
        def walk(c: Constraint) -> None:
            if c.kind == "or_group":
                for b in c.branches:
                    walk(b)
            elif c.kind == "audio_valid":
                self.audio_cs.append(c)
            elif c.kind in ("fk_exists", "fk_not_exists", "fk_match", "fk_near_match"):
                self.fk_cs.append(c)
            elif c.kind in ROW_KINDS:
                self.row_cs.append(c)
            elif c.kind == "unique":
                self.unique_cs.append(c)
            elif c.kind == "functional_dep":
                self.fdep_cs.append(c)
            elif c.kind == "monotonic":
                self.mono_cs.append(c)
            elif c.kind in CHILD_KINDS:
                self.child_cs.append(c)
            elif c.kind in DATASET_KINDS:
                self.dataset_cs.append(c)
            else:  # pragma: no cover
                raise ValueError(c.kind)

        for c in self.shape.constraints:
            if c.kind == "or_group":
                self.or_groups.append(c)
            walk(c)

    # ---- plan assembly ----------------------------------------------------

    def entity_bools(self) -> tuple[DataFrame, dict[str, str]]:
        """Returns (entity-grain DF with one `b_<cid>` column per leaf
        constraint, {cid: entity-level bool as Spark SQL text})."""
        shape = self.shape
        df = self.tables[shape.table]
        if shape.target_filter:
            df = df.filter(F.expr(shape.target_filter))
        if self.population is not None:
            # entity-grain semi-join: ALL rows of each restricted entity
            # survive (a row filter would corrupt uniqueness/count semantics)
            df = df.join(
                self.population,
                df[shape.entity_col] == self.population["__pop_id"],
                "leftsemi",
            )

        # derived columns, projected once (measured 5x on the image suite,
        # whose container-header parse is ~100 expression nodes)
        df = with_derived(df, shape.derived_columns)

        # monotonic constraints re-aggregate the filtered source at
        # (entity, order_by) grain — capture it before the narrow projection
        # below drops their order/value columns
        mono_src = df if self.mono_cs else None

        top_level_ids = {c.id for c in shape.constraints}
        row_bool_names = [f"b_{c.id}" for c in self.row_cs]
        if self.row_cs:
            df = df.withColumns({f"b_{c.id}": row_predicate(c) for c in self.row_cs})
        # only top-level row checks may short-circuit
        precond = " AND ".join(
            f"coalesce({sql_ident('b_' + c.id)}, true)"  # unbound ⇒ valid
            for c in self.row_cs
            if c.id in top_level_ids and self.cfg.short_circuit
        )

        # audio UDF runs SCAN-SIDE, before any join/shuffle — the payload
        # bytes column is consumed here and pruned from everything downstream
        # (shuffling 10^12 audio blobs through a join would be the whole job).
        # Short-circuited by the cheap top-level row bools; parent-join bools
        # don't exist yet, so rows failing only an fk constraint do decode —
        # their entity verdict is already invalid either way, and the scan-side
        # placement is the 100-TB win.
        for c in self.audio_cs:
            df = audio_ops.with_audio_check(
                df,
                f"b_{c.id}",
                c.params["column"],
                float(c.params.get("min_snr_db", audio_ops.MIN_SNR_DB)),
                precondition=F.expr(precond or "true"),
            )

        # child-side join keys that live on the shape's own table (inverse-path
        # refs, tc4 sh:inversePath analog) must survive the entity groupBy
        local_keys = sorted(
            {
                c.params.get("local_key")
                for c in self.child_cs
                if c.params.get("local_key") not in (None, shape.entity_col)
            }
        )

        # ---- narrow projection: everything after this point shuffles (parent
        # joins, entity groupBy) — keep only the entity id, join keys, the
        # fk_match comparison values (hashed to 8 bytes), and the
        # boolean columns. Payload columns (audio bytes, transcript text)
        # never cross a shuffle.
        fk_keys = set()
        for c in self.fk_cs:
            fk_keys.add(
                c.params["key"]
                if c.kind in ("fk_match", "fk_near_match")
                else c.params["column"]
            )
        keep = {shape.entity_col, *fk_keys, *local_keys}
        proj: list[Column] = [F.col(n) for n in sorted(keep)]
        match_col: dict[str, str] = {}  # constraint id -> child-side value (SQL)
        for c in self.fk_cs:
            if c.kind == "fk_near_match":
                # edit distance needs the raw chars — no hash shortcut;
                # the local text column rides to the parent join as-is
                if c.params["column"] not in keep:
                    keep.add(c.params["column"])
                    proj.append(F.col(c.params["column"]))
                match_col[c.id] = sql_ident(c.params["column"])
                continue
            if c.kind != "fk_match":
                continue
            # fk_match compares xxhash64 of both sides: the parent agg and
            # the child-side join shuffle fixed 8-byte hashes instead of raw
            # payload values (transcripts are ~100-300 B each — at 10^12 rows
            # the raw-string min/max shuffle IS the job). A comparison
            # false-accepts with probability ~2^-64 (an xxhash64 collision).
            raw = F.col(c.params["column"])
            proj.append(
                F.when(raw.isNotNull(), F.xxhash64(raw)).alias(f"__lh_{c.id}")
            )
            match_col[c.id] = sql_ident(f"__lh_{c.id}")
        # functional_dep carries xxhash64(column) (8 B per row) across the
        # entity groupBy instead of the raw value — constancy is decidable
        # from the hash alone (min==max), and payload-width columns
        # (transcripts) never cross the shuffle
        for c in self.fdep_cs:
            raw = F.col(c.params["column"])
            proj.append(
                F.when(raw.isNotNull(), F.xxhash64(raw)).alias(f"__fd_{c.id}")
            )
        # reconcile constraints: the parent-side integer `expected`
        # expression is computed scan-side (it reads payload-width parent
        # columns) and only the 8-byte result crosses the shuffles; with
        # duplicate entity rows the entity grain takes MAX (deterministic)
        rec_cs = [c for c in self.child_cs if c.kind == "reconcile"]
        for c in rec_cs:
            proj.append(
                F.expr(c.params["expected"]).cast("long").alias(f"__exp_{c.id}")
            )
        all_row_names = row_bool_names + [f"b_{c.id}" for c in self.audio_cs]
        proj += [_col(n) for n in all_row_names]
        df = df.select(*proj)

        # parent joins: fk_exists (marker) and fk_match (parent-value
        # equality) against the same parent/key are FUSED into one
        # aggregated-parent join — one shuffle per (parent, key) total
        by_parent: dict[tuple[str, str, str], list[Constraint]] = {}
        for c in self.fk_cs:
            p = c.params
            if c.kind in ("fk_match", "fk_near_match"):
                key = (p["parent"], p["key"], p["parent_key"])
            else:  # fk_exists / fk_not_exists share the aggregated-parent join
                key = (p["parent"], p["column"], p["parent_col"])
            by_parent.setdefault(key, []).append(c)
        for gi, ((parent_name, local_key, parent_key), cs) in enumerate(
            sorted(by_parent.items())
        ):
            parent = self.tables[parent_name]
            marker = f"__pex_{gi}"
            aggs = [F.count(F.lit(1)).alias(marker)]
            for c in cs:
                if c.kind == "fk_match":
                    # multi-parent semantics: the child value must equal EVERY
                    # parent row's (non-null) value — bool_and over parent
                    # rows, fused into the same single parent shuffle. Encoded
                    # with single-phase aggregates only (count/min/max — NOT
                    # count_distinct, whose partial-distinct expand doubles
                    # the shuffle over the big parent):  count == 0 ⇒ vacuous,
                    # min == max ⇒ exactly one distinct value ⇒ compare,
                    # min != max ⇒ >=2 distinct values ⇒ unsatisfiable.
                    # The aggregated value is xxhash64(parent_col): the
                    # parent shuffle carries 3×8 B per key instead of two
                    # raw payload values (the child side hashes likewise).
                    pv_raw = F.col(c.params["parent_col"])
                    pv_val = F.when(pv_raw.isNotNull(), F.xxhash64(pv_raw))
                    aggs.append(F.count(pv_val).alias(f"__pnn_{c.id}"))
                    aggs.append(F.min(pv_val).alias(f"__plo_{c.id}"))
                    aggs.append(F.max(pv_val).alias(f"__pv_{c.id}"))
                elif c.kind == "fk_near_match":
                    # edit-distance tolerance can't pre-reduce the parent
                    # side to min/max hashes — the raw values must meet the
                    # child string. collect_list (null-skipping, partial-agg
                    # mergeable) carries each key's parent values once; fk
                    # keys have bounded multiplicity so the list stays small
                    aggs.append(
                        F.collect_list(F.col(c.params["parent_col"])).alias(
                            f"__pl_{c.id}"
                        )
                    )
            pagg = parent.groupBy(
                F.col(parent_key).alias(f"__pjk_{gi}")
            ).agg(*aggs)
            df = df.join(
                pagg, df[local_key] == pagg[f"__pjk_{gi}"], "left"
            ).drop(f"__pjk_{gi}")
            lk, mk = sql_ident(local_key), sql_ident(marker)
            fk_bools: dict[str, str] = {}
            for c in cs:
                if c.kind == "fk_exists":
                    b = f"CASE WHEN {lk} IS NULL THEN true ELSE {mk} IS NOT NULL END"
                elif c.kind == "fk_not_exists":
                    # blocklist semantics: valid iff the key hit NO parent row
                    b = f"CASE WHEN {lk} IS NULL THEN true ELSE {mk} IS NULL END"
                elif c.kind == "fk_near_match":
                    lv, pl = match_col[c.id], sql_ident(f"__pl_{c.id}")
                    k = c.params.get("max_edits")
                    ppm = c.params.get("max_cer_ppm")
                    v = "__parent_v"  # the lambda variable over parent values
                    if ppm is None:
                        # absolute tolerance only: length-gap short circuit +
                        # thresholded levenshtein (O(k·len), returns -1 past
                        # the threshold — never O(n·m))
                        near = (
                            f"{lv} = {v} OR (abs(length({lv}) - length({v}))"
                            f" <= {int(k)} AND levenshtein({lv}, {v}, {int(k)}) >= 0)"
                        )
                    else:
                        dist = (
                            f"CASE WHEN {lv} = {v} THEN 0"
                            f" ELSE levenshtein({lv}, {v}) END"
                        )
                        near = (
                            f"1000000 * CAST({dist} AS BIGINT)"
                            f" <= {int(ppm)} * CAST(length({v}) AS BIGINT)"
                        )
                        if k is not None:
                            near += f" AND {dist} <= {int(k)}"
                    # all parent values NULL (empty list) ⇒ vacuous
                    b = (
                        f"CASE WHEN {lk} IS NULL OR {mk} IS NULL OR {lv} IS NULL"
                        f" OR size({pl}) = 0 THEN true"
                        f" ELSE forall({pl}, {v} -> {near}) END"
                    )
                else:
                    lv = match_col[c.id]
                    pv, lo, nn = (
                        sql_ident(f"{p}_{c.id}") for p in ("__pv", "__plo", "__pnn")
                    )
                    # all parent values NULL (nn = 0) ⇒ vacuous
                    b = (
                        f"CASE WHEN {lk} IS NULL OR {mk} IS NULL OR {lv} IS NULL"
                        f" OR {nn} = 0 THEN true ELSE {lo} = {pv} AND {lv} = {pv} END"
                    )
                fk_bools[f"b_{c.id}"] = b
            df = df.withColumns({n: F.expr(b) for n, b in fk_bools.items()})
            row_bool_names += fk_bools
            df = df.drop(
                marker,
                *[f"__pv_{c.id}" for c in cs if c.kind == "fk_match"],
                *[f"__plo_{c.id}" for c in cs if c.kind == "fk_match"],
                *[f"__pnn_{c.id}" for c in cs if c.kind == "fk_match"],
                *[f"__lh_{c.id}" for c in cs if c.kind == "fk_match"],
                *[f"__pl_{c.id}" for c in cs if c.kind == "fk_near_match"],
            )

        all_row_names = row_bool_names + [f"b_{c.id}" for c in self.audio_cs]

        # entity-grain reduction: one shuffle, or zero if no uniqueness /
        # per-entity-constancy demanded (functional_dep rides the same
        # single groupBy as unique — min/max over the 8-byte value hash)
        entity = shape.entity_col
        grouped = bool(self.unique_cs or self.fdep_cs or self.mono_cs)
        if grouped:
            aggs = [
                "count(1) AS __n_rows",
                *[f"bool_and({sql_ident(n)}) AS {sql_ident(n)}" for n in all_row_names],
            ]
            for c in self.fdep_cs:
                fd = sql_ident(f"__fd_{c.id}")
                aggs.append(f"min({fd}) AS {sql_ident(f'__fdlo_{c.id}')}")
                aggs.append(f"max({fd}) AS {sql_ident(f'__fdhi_{c.id}')}")
            for c in rec_cs:
                exp = sql_ident(f"__exp_{c.id}")
                aggs.append(f"max({exp}) AS {exp}")
            ent = df.groupBy(F.col(entity).alias("entity_id")).agg(
                *[F.expr(a) for a in aggs],
                *[F.first(F.col(k)).alias(k) for k in local_keys],
            )
        else:
            ent = df.withColumn("__n_rows", F.lit(1)).withColumnRenamed(
                entity, "entity_id"
            )

        bools = {
            c.id: sql_ident(f"b_{c.id}")
            for c in (*self.row_cs, *self.fk_cs, *self.audio_cs)
        }
        for c in self.unique_cs:
            bools[c.id] = "__n_rows = 1"
        for c in self.fdep_cs:
            lo, hi = sql_ident(f"__fdlo_{c.id}"), sql_ident(f"__fdhi_{c.id}")
            # min/max skip NULLs: lo NULL ⇒ all values NULL ⇒ vacuously
            # constant (not_null's job, not functional_dep's)
            bools[c.id] = f"{lo} IS NULL OR {lo} = {hi}"

        # child aggregates: one groupBy per (child table, fk, local join key),
        # all count columns for that child fused into the single pass
        by_child: dict[tuple[str, str, str], list[Constraint]] = {}
        for c in self.child_cs:
            lk = c.params.get("local_key") or shape.entity_col
            key = (c.params["child"], c.params["fk"], lk)
            by_child.setdefault(key, []).append(c)
        for (child_name, fk, local_key), cs in sorted(by_child.items()):
            child = self.tables[child_name]
            if self.population is not None and local_key == shape.entity_col:
                # population pushdown: don't aggregate child rows of parents
                # outside the restricted target set (semi-join prunes the
                # child scan before the groupBy shuffle)
                child = child.join(
                    self.population,
                    child[fk] == self.population["__pop_id"],
                    "leftsemi",
                )
            # (referenced shape, child column holding the referenced entity):
            # by default the child table IS the referenced shape's table, so
            # its entity column is the join key; `ref_key` overrides it for
            # edge-table children (e.g. SHACL graph links, shacl.LinkBinding)
            ref_pairs = sorted(
                {
                    (
                        c.params["shape"],
                        c.params.get("ref_key")
                        or self._ref_entity_cols[c.params["shape"]],
                    )
                    for c in cs
                    if c.kind == "qualified_shape"
                }
            )
            for rs, rk in ref_pairs:
                vd = self.prereq[rs].select(
                    F.col("entity_id").alias(f"__ve_{rs}_{rk}"),
                    F.col("is_valid").alias(f"__v_{rs}_{rk}"),
                )
                # verdict entity_id is string (output contract). For integral
                # child keys, cast the SMALL verdict side back to the native
                # type — the big child side then shuffles fixed-width 8-byte
                # keys instead of strings (verdict ids round-trip exactly:
                # they were produced by casting this very column to string).
                # Non-integral keys fall back to casting the child side.
                kt = dict(child.dtypes).get(rk, "string")
                ve = f"__ve_{rs}_{rk}"
                if kt in ("bigint", "int", "smallint", "tinyint"):
                    vd = vd.withColumn(ve, _col(ve).cast(kt))
                    cond = child[rk] == vd[sql_ident(ve)]
                else:
                    cond = child[rk].cast("string") == vd[sql_ident(ve)]
                child = child.join(vd, cond, "left").drop(ve)
            aggs = []
            for c in cs:
                cond = F.lit(True)
                if c.params.get("where"):
                    cond = F.coalesce(
                        F.expr(c.params["where"]).cast("boolean"), F.lit(False)
                    )
                if c.kind == "qualified_shape":
                    rs = c.params["shape"]
                    rk = c.params.get("ref_key") or self._ref_entity_cols[rs]
                    cond = cond & F.coalesce(_col(f"__v_{rs}_{rk}"), F.lit(True))
                if c.kind == "reconcile":
                    amt = F.expr(c.params["amount"]).cast("long")
                    aggs.append(F.sum(F.when(cond, amt)).alias(f"sum_{c.id}"))
                else:
                    aggs.append(
                        F.sum(F.when(cond, 1).otherwise(0)).alias(f"cnt_{c.id}")
                    )
            agg = child.groupBy(F.col(fk).alias("__fk")).agg(*aggs)
            join_key = (
                ent["entity_id"]
                if local_key == shape.entity_col
                else ent[local_key]
            )
            ent = ent.join(agg, join_key == agg["__fk"], "left").drop("__fk")
            for c in cs:
                if c.kind == "reconcile":
                    e = sql_ident(f"__exp_{c.id}")
                    dec = "DECIMAL(38,0)"
                    exp = f"CAST({e} AS {dec})"
                    act = sql_ident(f"sum_{c.id}")
                    act = f"CAST(coalesce({act}, CAST(0 AS BIGINT)) AS {dec})"
                    tol = int(c.params.get("tol_ppm", 0))
                    bools[c.id] = (
                        f"{e} IS NULL OR abs({act} - {exp}) * CAST(1000000 AS {dec})"
                        f" <= CAST({tol} AS {dec}) * abs({exp})"
                    )
                    continue
                cnt = f"coalesce({sql_ident(f'cnt_{c.id}')}, 0)"
                preds = []
                if c.kind == "min_count" or (
                    c.kind == "qualified_shape" and c.params.get("min") is not None
                ):
                    preds.append(f"{cnt} >= {int(c.params['min'])}")
                if c.kind == "max_count" or (
                    c.kind == "qualified_shape" and c.params.get("max") is not None
                ):
                    preds.append(f"{cnt} <= {int(c.params['max'])}")
                bools[c.id] = " AND ".join(preds) or "true"

        # monotonic constraints: one (entity, order_key) pre-aggregate plus
        # one entity-window pass per distinct order_by column, every
        # constraint sharing that order key fused into the same pass.
        # Tie-robust semantics (suite.py docstring): per order-key group,
        # min(column) must be >= the running max(column) over all earlier
        # groups of the entity — i.e. SOME row ordering consistent with
        # order_by is non-decreasing in column. The pre-aggregate shuffles
        # only (entity, order_key, min, max) — payload columns never cross —
        # and the window + final entity rollup reuse its hash partitioning
        # on the entity key (no extra exchange: window partitionBy(entity)
        # ⊂ groupBy(entity, order_key) requires one repartition, then the
        # entity groupBy rides the window's partitioning).
        by_order: dict[str, list[Constraint]] = {}
        for c in self.mono_cs:
            by_order.setdefault(c.params["order_by"], []).append(c)
        for order_by, cs in sorted(by_order.items()):
            src = mono_src.filter(F.col(order_by).isNotNull())
            aggs = []
            for c in cs:
                v = F.col(c.params["column"])
                aggs.append(F.min(v).alias(f"__mlo_{c.id}"))
                aggs.append(F.max(v).alias(f"__mhi_{c.id}"))
            g = src.groupBy(
                F.col(entity).alias("__me"), F.col(order_by).alias("__mo")
            ).agg(*aggs)
            w = (
                Window.partitionBy("__me")
                .orderBy("__mo")
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            oks = {}
            for c in cs:
                lo = _col(f"__mlo_{c.id}")
                prev = F.max(_col(f"__mhi_{c.id}")).over(w)
                # NULL lo: the group's values are all NULL — ignored
                # (not_null's job); NULL prev: no earlier non-null value
                oks[f"__mok_{c.id}"] = lo.isNull() | prev.isNull() | (lo >= prev)
            ment = g.withColumns(oks).groupBy("__me").agg(
                *[
                    F.bool_and(_col(f"__mok_{c.id}")).alias(f"__mono_{c.id}")
                    for c in cs
                ]
            )
            ent = ent.join(
                ment, ent["entity_id"] == ment["__me"], "left"
            ).drop("__me")
            for c in cs:
                # entities absent from the aggregate (every order key NULL)
                # are vacuously valid
                bools[c.id] = f"coalesce({sql_ident(f'__mono_{c.id}')}, true)"

        return ent, bools

    def evaluate(
        self, hold: Callable[[DataFrame], DataFrame] | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """(verdicts, violations), both projections of ONE entity-grain
        frame: entity id, verdict, reason, each top-level constraint's bool
        and the counts its violation detail prints — no payload. ``hold``
        (run_suite's persist) is applied to that frame, so both outputs and
        the qualified_shape joins of dependent shapes read it instead of
        re-running the shape's plan."""
        ent, bools = self.entity_bools()

        # top-level combine honoring or_groups, in declaration order: each
        # top-level constraint's bool, never NULL (unbound ⇒ valid)
        def ok(c: Constraint) -> str:
            return f"coalesce(({bools[c.id]}), true)"

        top: list[Constraint] = []
        oks: list[str] = []
        for c in self.shape.constraints:
            if c.kind in DATASET_KINDS:
                continue  # dataset-level, handled by the engine
            top.append(c)
            if c.kind == "or_group":
                oks.append("(" + (" OR ".join(map(ok, c.branches)) or "false") + ")")
            else:
                oks.append(ok(c))

        # the frame keeps each top-level verdict and the counts the
        # violation details print: booleans and integers, never NULL (the
        # columnar cache stores NULLs as 4-byte positions)
        counted_kinds = ("min_count", "max_count", "qualified_shape")
        cnts = [sql_ident(f"cnt_{c.id}") for c in top if c.kind in counted_kinds]
        n_rows = ["__n_rows"] if any(c.kind == "unique" for c in top) else []
        ok_cols = [f"__ok{i}" for i in range(len(top))]
        valid, reason = verdict_sql(top, ok_cols)
        ent = ent.selectExpr(
            "entity_id",
            *[f"{sql} AS {n}" for sql, n in zip(oks, ok_cols)],
            *[f"coalesce({n}, 0) AS {n}" for n in cnts],
            *n_rows,
        ).selectExpr(
            "entity_id",
            f"{valid} AS __valid",
            f"{reason} AS __reason",
            *ok_cols,
            *cnts,
            *n_rows,
        )
        if hold is not None:
            ent = hold(ent)

        entity_id = "CAST(entity_id AS STRING) AS entity_id"
        shape = f"{sql_str(self.shape.name)} AS shape"
        verdicts = ent.selectExpr(
            entity_id, shape, "__valid AS is_valid", "__reason AS reason"
        )

        details = []
        for c in top:
            detail = sql_str(describe(c))
            if c.kind in counted_kinds:
                cnt = sql_ident(f"cnt_{c.id}")
                detail = f"format_string('%s [count=%d]', {detail}, {cnt})"
            elif c.kind == "unique":
                detail = f"format_string('%s [rows=%d]', {detail}, __n_rows)"
            details.append(detail)
        violations = ent.selectExpr(
            entity_id, shape, violations_sql(top, ok_cols, details)
        )
        return verdicts, violations


def _all_valid_verdicts(shape: Shape, tables: dict[str, DataFrame]) -> DataFrame:
    df = tables[shape.table]
    if shape.target_filter:
        df = df.filter(F.expr(shape.target_filter))
    return df.select(
        F.col(shape.entity_col).cast("string").alias("entity_id"),
        F.lit(shape.name).alias("shape"),
        F.lit(True).alias("is_valid"),
        F.lit("unbound").alias("reason"),
    ).dropDuplicates(["entity_id"])


def _verdict_fingerprint(vd: DataFrame) -> tuple[int, int]:
    """Order-insensitive cheap convergence check for fixpoint iteration:
    (hash of the verdicts, verdict count)."""
    row = vd.select(
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("entity_id"), F.col("is_valid"))), F.lit(0)
        ).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return int(row.h), int(row.n)


def run_suite(
    spark: SparkSession,
    suite: Suite,
    tables: dict[str, DataFrame],
    target_shapes: list[str] | None = None,
    relevant_columns: set[str] | None = None,
    config: EngineConfig | None = None,
    preseeded_verdicts: dict[str, DataFrame] | None = None,
    target_population: "str | DataFrame | dict | None" = None,
    cyclic_seed_verdicts: DataFrame | None = None,
) -> SuiteResult:
    """Validate `tables` against `suite`; returns verdicts + violations
    (and a per-bucket summary built when read) for the target shapes (all
    shapes if None).

    ``preseeded_verdicts``: shape → verdict DF computed by an earlier run
    (lineage waves reuse helper-shape verdicts this way — the batch analog of
    the reference's early verdict reuse).

    ``target_population``: the batch analog of the reference's query-driven
    target-query replacement (Reduction.replace_target_query,
    ref shaclapi/reduction/Reduction.py:25-64 + shaclapi/query.py:194-244
    Query.intersect): restrict validation to the entities the caller's query
    names, intersected with each target shape's own target_filter. Either a
    SQL boolean over the target shape's table (an entity belongs to the
    population iff ANY of its rows satisfies it — every row of a selected
    entity is then validated, so uniqueness/count semantics are unchanged),
    or a single-column DataFrame of entity ids, or a dict mapping target
    shape name → either of those (per-shape restrictions; targets absent
    from the dict evaluate unrestricted — the incremental-revalidation path
    in revalidate.py uses this form). The restriction propagates
    to referenced helper shapes via (child, fk) semi-joins — helper verdicts
    are computed only for the child entities the restricted targets can
    reach; shapes inside cyclic groups stay unrestricted (fixpoint feedback
    makes per-population pruning unsafe there) UNLESS
    ``cyclic_seed_verdicts`` is provided.

    ``cyclic_seed_verdicts``: a verdict relation (entity_id, shape,
    is_valid, reason) from a prior run of the suite — the incremental-
    revalidation contract (revalidate.py). When every shape of a cyclic
    group has a population restriction, the group's fixpoint iterates ONLY
    over the restricted populations, with references to out-of-population
    entities answered from the seed verdicts. Soundness requires the
    populations to be CLOSED under the group's internal reference edges
    (every entity whose verdict can differ from the seed is inside them) —
    revalidate.affected_populations computes exactly that closure; with an
    unclosed population the carried seed verdicts may be stale. Without
    this argument (or without full population coverage of the group) the
    cyclic fixpoint runs unrestricted, as before.

    A cyclic group iterates until no verdict changes. A group that
    oscillates, which only a qualified ``max`` can cause, raises
    ``RuntimeError`` instead of publishing an unconverged round."""
    cfg = config or EngineConfig()
    targets = target_shapes or suite.names()
    reduced, groups = compile_suite(
        suite, targets, relevant_columns=relevant_columns
    )
    _check_unique_ids(reduced)
    shape_by_name = {s.name: s for s in reduced.shapes}
    entity_col_by_shape = {s.name: s.entity_col for s in reduced.shapes}

    # every frame this run persists; the SuiteResult owns and releases them
    cached: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        df = df.persist()
        cached.append(df)
        return df

    pop_by_shape: dict[str, DataFrame] = {}
    target_pops: dict[str, DataFrame] = {}
    if target_population is not None:
        pop_by_shape, target_pops = _propagate_population(
            reduced, groups, targets, target_population, tables
        )
        # each population feeds 2-3 consumers (entity semi-join, child-agg
        # pushdown, downstream propagation)
        pop_by_shape = {n: hold(df) for n, df in pop_by_shape.items()}

    verdicts_by_shape: dict[str, DataFrame] = dict(preseeded_verdicts or {})
    violations_by_shape: dict[str, DataFrame] = {}

    def eval_one(
        name: str,
        prereq: dict[str, DataFrame],
        population: DataFrame | None = None,
        hold: Callable[[DataFrame], DataFrame] | None = None,
    ):
        ev = _ShapeEvaluator(
            shape_by_name[name],
            tables,
            prereq,
            cfg,
            entity_col_by_shape,
            population=(
                population if population is not None else pop_by_shape.get(name)
            ),
        )
        return ev.evaluate(hold)

    for group in groups:
        if all(n in verdicts_by_shape for n in group.shapes):
            continue  # preseeded by an earlier run
        if not group.cyclic:
            # a shape's result is computed once per run: its entity-grain
            # frame is persisted, and verdicts, violations, summary and the
            # qualified_shape joins of dependent shapes all read it
            name = group.shapes[0]
            vd, vl = eval_one(name, verdicts_by_shape, hold=hold)
            verdicts_by_shape[name] = vd
            violations_by_shape[name] = vl
        else:
            # seeded-restricted fixpoint (incremental revalidation): every
            # group shape restricted + a prior verdict relation supplied ⇒
            # iterate only over the affected populations; out-of-population
            # references answer from the (unchanged, by closure) seed
            seeded = cyclic_seed_verdicts is not None and all(
                n in target_pops for n in group.shapes
            )
            seed_outside: dict[str, DataFrame] = {}
            group_pop: dict[str, DataFrame] = {}
            if seeded:
                for n in group.shapes:
                    ids = target_pops[n].select(
                        F.col("__pop_id").cast("string").alias("__pop_id")
                    )
                    group_pop[n] = target_pops[n]
                    s_old = cyclic_seed_verdicts.filter(
                        F.col("shape") == F.lit(n)
                    ).select("entity_id", "shape", "is_valid", "reason")
                    # entities DELETED from the new version fall out of the
                    # population (it is new-table-intersected), so their
                    # stale verdicts would otherwise survive in the seed —
                    # a full run emits nothing for them and coalesces
                    # references to valid; restrict the seed to entities
                    # the NEW table still carries
                    sh = shape_by_name[n]
                    live = tables[sh.table]
                    if sh.target_filter:
                        live = live.filter(F.expr(sh.target_filter))
                    live_ids = live.select(
                        F.col(sh.entity_col).cast("string").alias("__live_id")
                    ).distinct()
                    seed_outside[n] = (
                        s_old.join(
                            ids,
                            s_old["entity_id"] == ids["__pop_id"],
                            "left_anti",
                        )
                        .join(
                            live_ids,
                            F.col("entity_id") == F.col("__live_id"),
                            "leftsemi",
                        )
                        .localCheckpoint(eager=True)
                    )

            def init_valid(n: str) -> DataFrame:
                av = _all_valid_verdicts(shape_by_name[n], tables)
                if not seeded:
                    return av
                ids = group_pop[n].select(
                    F.col("__pop_id").cast("string").alias("__pop_id")
                )
                return av.join(
                    ids, av["entity_id"] == ids["__pop_id"], "leftsemi"
                )

            # unbound ⇒ valid initialization, iterate to fixpoint. Under
            # min-only refs, every round after the first that changes a
            # verdict invalidates at least one of the group's n verdicts, so
            # the loop settles by round n + 2; a round past n + 1 that still
            # changes means the group oscillates
            current = {n: init_valid(n) for n in group.shapes}
            fps = {n: None for n in group.shapes}
            last_viol: dict[str, DataFrame] = {}
            for rnd in itertools.count(1):
                prereq = dict(verdicts_by_shape)
                for n in group.shapes:
                    prereq[n] = (
                        seed_outside[n].unionByName(current[n])
                        if seeded
                        else current[n]
                    )
                new = {}
                changed = False
                for n in group.shapes:
                    vd, vl = eval_one(
                        n, prereq, population=group_pop.get(n)
                    )
                    vd = vd.localCheckpoint(eager=True)
                    new[n] = vd
                    last_viol[n] = vl
                    fp = _verdict_fingerprint(vd)
                    if fps[n] != fp:
                        changed = True
                    fps[n] = fp
                current = new
                if not changed:
                    break
                n_verdicts = sum(cnt for _, cnt in fps.values())
                if rnd > n_verdicts + 1:
                    raise RuntimeError(
                        f"cyclic group {group.shapes} did not converge: round"
                        f" {rnd} still changes its {n_verdicts} verdicts"
                    )
            for n in group.shapes:
                # seeded runs must publish the MERGED relation (seed for
                # unaffected entities ∪ fresh slice): downstream shapes
                # referencing into the cyclic group need verdicts for
                # entities outside the affected population too, or their
                # qualified_shape joins coalesce the gap to valid. The
                # post-loop target-population filter restricts what is
                # EMITTED back to the affected slice.
                verdicts_by_shape[n] = (
                    seed_outside[n].unionByName(current[n])
                    if seeded
                    else current[n]
                )
                violations_by_shape[n] = last_viol[n]

    # targets that had to evaluate unrestricted (cyclic groups, unrestricted
    # co-referrers) still emit only the requested population: post-filter
    # their verdict/violation outputs by the target population
    for name in targets:
        if (
            name in target_pops
            and name not in pop_by_shape
            and name in verdicts_by_shape
            and name not in (preseeded_verdicts or {})
        ):
            ids = target_pops[name].select(
                F.col("__pop_id").cast("string").alias("__pop_id")
            )
            for d in (verdicts_by_shape, violations_by_shape):
                if name in d:
                    d[name] = d[name].join(
                        ids, d[name]["entity_id"] == ids["__pop_id"], "leftsemi"
                    )

    # dataset-level constraints (any shape): drift + stat_bound, each fused
    # into one job per distinct (table, target_filter) source
    drift_vd, drift_vl = drift_ops.evaluate_drift_constraints(
        spark, reduced, tables
    )
    sb_vd, sb_vl = stats_ops.evaluate_stat_bound_constraints(
        spark, reduced, tables
    )

    keep = [n for n in verdicts_by_shape if n not in (preseeded_verdicts or {})]
    verdicts = V.union_all(
        [verdicts_by_shape[n] for n in keep]
        + [d for d in (drift_vd, sb_vd) if d is not None]
    )
    violations = V.union_all(
        [violations_by_shape[n] for n in keep]
        + [d for d in (drift_vl, sb_vl) if d is not None]
    )
    return SuiteResult(
        verdicts=verdicts,
        violations=violations,
        shapes_evaluated=keep,
        verdicts_by_shape=dict(verdicts_by_shape),
        _cached=cached,
    )


def _propagate_population(
    reduced: Suite,
    groups: list[EvalGroup],
    targets: list[str],
    restriction: "str | DataFrame | dict",
    tables: dict[str, DataFrame],
) -> tuple[dict[str, DataFrame], dict[str, DataFrame]]:
    """(eval populations, raw target populations), both shape → entity-id
    DataFrame (column `__pop_id`), for the restricted run.

    Target shapes get the user restriction (∩ their own target_filter);
    referenced shapes get exactly the child entities reachable from a
    restricted parent through each qualified_shape's (child, fk) link —
    the semi-join-pushdown analog of the reference's per-shape query
    extension (ref shaclapi/config.py:326-331)."""
    shape_by_name = {s.name: s for s in reduced.shapes}
    entity_col_by_shape = {s.name: s.entity_col for s in reduced.shapes}

    target_pops: dict[str, DataFrame] = {}
    for name in targets:
        s = shape_by_name.get(name)
        if s is None:
            continue
        r = restriction.get(name) if isinstance(restriction, dict) else restriction
        if r is None:
            # dict form with no entry for this target: unrestricted — leave it
            # out of pops entirely so it evaluates (and emits) its full
            # population, exactly like a shape no caller asked to restrict
            continue
        df = tables[s.table]
        if s.target_filter:
            df = df.filter(F.expr(s.target_filter))
        if isinstance(r, str):
            df = df.filter(F.expr(r))
        else:
            ids = r.select(F.col(r.columns[0]).alias("__pop_id"))
            df = df.join(
                ids, df[s.entity_col] == ids["__pop_id"], "leftsemi"
            )
        target_pops[name] = (
            df.select(F.col(s.entity_col).alias("__pop_id")).distinct()
        )

    def walk_refs(c: Constraint):
        if c.kind == "qualified_shape":
            yield c
        for b in c.branches:
            yield from walk_refs(b)

    # dependents → prerequisites (groups is prerequisites-first ⇒ walk it
    # reversed, so every referrer's own status is final before it pushes a
    # need to its referenced shapes). A shape evaluates restricted only if
    # EVERY evaluated referrer is itself restricted (an unrestricted
    # referrer needs helper verdicts for its full population) and it is not
    # in a cyclic group (fixpoint feedback makes population pruning unsafe).
    pops: dict[str, DataFrame] = dict(target_pops)
    unrestricted: set[str] = set()
    for group in reversed(groups):
        for name in group.shapes:
            restricted_here = (
                name in pops and name not in unrestricted and not group.cyclic
            )
            if not restricted_here:
                unrestricted.add(name)
            s = shape_by_name[name]
            for c0 in s.constraints:
                for c in walk_refs(c0):
                    ref = c.params["shape"]
                    if not restricted_here or c.params.get("local_key") not in (
                        None,
                        s.entity_col,
                    ):
                        # unrestricted referrer, or an inverse-path link that
                        # joins on a non-entity local column: the referenced
                        # shape must cover its full population
                        unrestricted.add(ref)
                        continue
                    child = tables[c.params["child"]]
                    ref_col = c.params.get("ref_key") or entity_col_by_shape[ref]
                    need = (
                        child.join(
                            pops[name],
                            child[c.params["fk"]] == pops[name]["__pop_id"],
                            "leftsemi",
                        )
                        .select(F.col(ref_col).alias("__pop_id"))
                        .distinct()
                    )
                    pops[ref] = (
                        pops[ref].unionByName(need).distinct()
                        if ref in pops
                        else need
                    )
    for n in unrestricted:
        pops.pop(n, None)
    return pops, target_pops


def _check_unique_ids(suite: Suite) -> None:
    seen: set[str] = set()

    def walk(c: Constraint) -> None:
        if c.id in seen:
            raise ValueError(f"duplicate constraint id {c.id!r}")
        seen.add(c.id)
        for b in c.branches:
            walk(b)

    for s in suite.shapes:
        for c in s.constraints:
            walk(c)
