"""Binding-level explanations: WHICH rows/values produced a violation.

The reference returns per-result explanation triples alongside verdicts
(ref shaclapi/multiprocessing/functions.py:127-151: (filtered_bindings,
explanation_triples, report_triples) per queued result). The batch recast:
given a run's ``violations`` DataFrame, join each (entity, constraint)
back to the SOURCE ROWS that caused it — the lineage-column analog.

Output schema (one row per offending source row):
  entity_id string, shape string, constraint_id string,
  source_table string, evidence string (JSON of the offending row,
  binary columns elided)

Evidence relations per constraint kind — all computed as semi-joins
against the violating entity set, never by re-running verdict logic:

  row kinds (not_null/range/in_set/regex/expr)  rows failing the predicate
  or_group (row-only branches)                  rows failing EVERY branch
  audio_valid                                   the entity's rows (decode is
                                                NOT re-run for evidence)
  unique                                        every row of the duplicated
                                                entity
  fk_exists                                     rows whose key has no parent
  fk_match                                      rows whose value disagrees
                                                with the parent value(s)
  min_count/max_count/qualified_shape           the entity's child rows
                                                (what was counted)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType

from shaclapi_spark.ops.row_checks import row_predicate
from shaclapi_spark.suite import ROW_KINDS, Constraint, Shape, Suite
from shaclapi_spark.verdicts import local_rows

_SCHEMA = (
    "entity_id string, shape string, constraint_id string, "
    "source_table string, evidence string"
)


def _row_json(df: DataFrame) -> F.Column:
    cols = [
        f.name
        for f in df.schema.fields
        if not isinstance(f.dataType, BinaryType) and not f.name.startswith("__")
    ]
    return F.to_json(F.struct(*[F.col(c) for c in cols]))


def _emit(
    rows: DataFrame, entity_col: str, shape: str, cid: str, table: str
) -> DataFrame:
    return rows.select(
        F.col(entity_col).cast("string").alias("entity_id"),
        F.lit(shape).alias("shape"),
        F.lit(cid).alias("constraint_id"),
        F.lit(table).alias("source_table"),
        _row_json(rows).alias("evidence"),
    )


def violation_evidence(
    spark: SparkSession,
    suite: Suite,
    tables: dict[str, DataFrame],
    violations: DataFrame,
    shape_names: list[str] | None = None,
    constraint_ids: list[str] | None = None,
) -> DataFrame:
    """Evidence rows for (a subset of) a run's violations. ``violations`` is
    the DataFrame produced by run_suite (entity_id, shape, constraint_id,
    ...). Each constraint contributes one semi-join plan; the union is
    returned lazily."""
    out: list[DataFrame] = []
    for shape in suite.shapes:
        if shape_names is not None and shape.name not in shape_names:
            continue
        df = tables[shape.table]
        if shape.target_filter:
            df = df.filter(F.expr(shape.target_filter))
        for c in shape.constraints:
            if constraint_ids is not None and c.id not in constraint_ids:
                continue
            ev = _evidence_for(shape, c, df, tables)
            if ev is None:
                continue
            bad = violations.filter(
                (F.col("shape") == shape.name)
                & (F.col("constraint_id") == c.id)
            ).select(F.col("entity_id").alias("__bad_id"))
            ev = ev.join(
                bad,
                ev["entity_id"] == bad["__bad_id"],
                "leftsemi",
            )
            out.append(ev)
    if not out:
        return local_rows(spark, [], _SCHEMA)
    res = out[0]
    for other in out[1:]:
        res = res.unionByName(other)
    return res


def _evidence_for(
    shape: Shape, c: Constraint, df: DataFrame, tables: dict[str, DataFrame]
) -> DataFrame | None:
    ent, name, table = shape.entity_col, shape.name, shape.table
    if c.kind in ROW_KINDS and c.kind != "audio_valid":
        return _emit(df.filter(~F.coalesce(row_predicate(c), F.lit(True))), ent, name, c.id, table)
    if c.kind == "audio_valid":
        return _emit(df, ent, name, c.id, table)
    if c.kind == "or_group":
        pred = F.lit(False)
        for b in c.branches:
            if b.kind in ROW_KINDS and b.kind != "audio_valid":
                pred = pred | F.coalesce(row_predicate(b), F.lit(True))
            else:
                # a non-row branch (count/audio): evidence degrades to the
                # entity's own rows
                return _emit(df, ent, name, c.id, table)
        return _emit(df.filter(~pred), ent, name, c.id, table)
    if c.kind == "unique":
        return _emit(df, ent, name, c.id, table)  # all rows of the dup entity
    if c.kind == "fk_exists":
        p = c.params
        parent = tables[p["parent"]].select(
            F.col(p["parent_col"]).alias("__pk")
        )
        dangling = df.filter(F.col(p["column"]).isNotNull()).join(
            parent, df[p["column"]] == parent["__pk"], "leftanti"
        )
        return _emit(dangling, ent, name, c.id, table)
    if c.kind == "fk_not_exists":
        # evidence = the rows whose key DID hit a blocklist/parent row
        p = c.params
        parent = tables[p["parent"]].select(
            F.col(p["parent_col"]).alias("__pk")
        )
        hits = df.filter(F.col(p["column"]).isNotNull()).join(
            parent, df[p["column"]] == parent["__pk"], "leftsemi"
        )
        return _emit(hits, ent, name, c.id, table)
    if c.kind == "monotonic":
        # evidence degrades to the entity's own rows (the offending order
        # inversion is a property of row PAIRS, not single rows)
        return _emit(df, ent, name, c.id, table)
    if c.kind == "fk_match":
        p = c.params
        pagg = (
            tables[p["parent"]]
            .groupBy(F.col(p["parent_key"]).alias("__pk"))
            .agg(
                F.count_distinct(F.col(p["parent_col"])).alias("__nd"),
                F.max(F.col(p["parent_col"])).alias("__pv"),
            )
        )
        joined = df.join(pagg, df[p["key"]] == pagg["__pk"], "inner").filter(
            F.col(p["column"]).isNotNull()
            & (F.col("__nd") > 0)
            & ((F.col("__nd") > 1) | (F.col(p["column"]) != F.col("__pv")))
        )
        keep = joined.select(
            *df.columns,
            F.col("__nd").alias("parent_distinct_values"),
            F.col("__pv").alias("parent_value"),
        )
        return _emit(keep, ent, name, c.id, table)
    if c.kind in ("min_count", "max_count", "qualified_shape"):
        p = c.params
        child = tables[p["child"]]
        local = p.get("local_key") or ent
        # evidence = the child rows that were counted for this entity; the
        # entity key column is exposed under the shape's entity-col name so
        # the violating-entity semi-join applies uniformly. Count-zero
        # violations have no child rows — absence IS the evidence.
        rows = child.withColumn("__ent", F.col(p["fk"]))
        if local != ent:
            # inverse-path link: the violations' entity ids are entity-col
            # values, but child.fk points at `local` — translate via the
            # shape's own table
            bridge = df.select(
                F.col(local).alias("__lk"), F.col(ent).alias("__ent2")
            ).distinct()
            rows = rows.join(bridge, rows["__ent"] == bridge["__lk"]).drop(
                "__lk", "__ent"
            ).withColumnRenamed("__ent2", "__ent")
        return _emit(rows, "__ent", name, c.id, p["child"])
    return None
