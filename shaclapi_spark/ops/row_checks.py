"""Row-level constraint predicates — pure Catalyst expressions, no shuffle.

Null semantics (matches SHACL and the oracle SQL we emit): value constraints
(range / in_set / regex / expr) are vacuously TRUE when the value is NULL —
existence is the job of ``not_null`` (sh:minCount-1 analog). This keeps every
constraint independently reportable and makes the AND-combine below
null-free.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from shaclapi_spark.ops.audio import MIN_SNR_DB
from shaclapi_spark.suite import Constraint


def row_predicate(c: Constraint) -> Column:
    p = c.params
    if c.kind == "not_null":
        return F.col(p["column"]).isNotNull()
    if c.kind == "range":
        col = F.col(p["column"])
        pred = F.lit(True)
        if p.get("min") is not None:
            pred = pred & (col >= F.lit(p["min"]))
        if p.get("max") is not None:
            pred = pred & (col <= F.lit(p["max"]))
        return F.when(col.isNull(), F.lit(True)).otherwise(pred)
    if c.kind == "in_set":
        col = F.col(p["column"])
        return F.when(col.isNull(), F.lit(True)).otherwise(col.isin(*p["values"]))
    if c.kind == "regex":
        col = F.col(p["column"])
        return F.when(col.isNull(), F.lit(True)).otherwise(col.rlike(p["pattern"]))
    if c.kind == "expr":
        return F.coalesce(F.expr(p["sql"]).cast("boolean"), F.lit(True))
    raise ValueError(f"not a row-level constraint: {c.kind}")


def describe(c: Constraint) -> str:
    """Static human-readable detail string for violation rows."""
    p = c.params
    if c.kind == "not_null":
        return f"not_null({p['column']})"
    if c.kind == "range":
        return f"range({p['column']} in [{p.get('min')},{p.get('max')}])"
    if c.kind == "in_set":
        return f"in_set({p['column']} in {sorted(p['values'])})"
    if c.kind == "regex":
        return f"regex({p['column']} ~ {p['pattern']})"
    if c.kind == "expr":
        return f"expr({p['sql']})"
    if c.kind == "audio_valid":
        return f"audio_valid({p['column']} snr>={p.get('min_snr_db', MIN_SNR_DB)}dB)"
    if c.kind == "unique":
        return f"unique({p.get('column', '<entity>')})"
    if c.kind == "functional_dep":
        return f"functional_dep({p['column']} constant per entity)"
    if c.kind == "stat_bound":
        return (
            f"stat_bound({p['metric']} in "
            f"[{p.get('min')},{p.get('max')}])"
        )
    if c.kind == "min_count":
        return f"min_count({p['child']}.{p['fk']} >= {p['min']}" + (
            f" where {p['where']})" if p.get("where") else ")"
        )
    if c.kind == "max_count":
        return f"max_count({p['child']}.{p['fk']} <= {p['max']}" + (
            f" where {p['where']})" if p.get("where") else ")"
        )
    if c.kind == "fk_exists":
        return f"fk_exists({p['column']} -> {p['parent']}.{p['parent_col']})"
    if c.kind == "fk_not_exists":
        return f"fk_not_exists({p['column']} !-> {p['parent']}.{p['parent_col']})"
    if c.kind == "monotonic":
        return f"monotonic({p['column']} by {p['order_by']} per entity)"
    if c.kind == "fk_match":
        return (
            f"fk_match({p['column']} == {p['parent']}.{p['parent_col']}"
            f" via {p['key']})"
        )
    if c.kind == "fk_near_match":
        bounds = []
        if c.params.get("max_edits") is not None:
            bounds.append(f"edits<={p['max_edits']}")
        if c.params.get("max_cer_ppm") is not None:
            bounds.append(f"cer<={p['max_cer_ppm']}ppm")
        return (
            f"fk_near_match({p['column']} ~ {p['parent']}.{p['parent_col']}"
            f" via {p['key']}, {','.join(bounds)})"
        )
    if c.kind == "qualified_shape":
        return (
            f"qualified_shape({p['child']}.{p['fk']} valid {p['shape']}"
            f" min={p.get('min')} max={p.get('max')})"
        )
    if c.kind == "or_group":
        return "or(" + " | ".join(describe(b) for b in c.branches) + ")"
    if c.kind == "drift":
        return f"drift({p['column']} psi<={p.get('max_psi')} ks<={p.get('max_ks')})"
    return c.kind
