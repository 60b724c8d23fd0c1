"""Verdict-relation helpers: the core output algebra of the engine.

Verdicts:   (entity_id string, shape string, is_valid boolean, reason string)
Violations: (entity_id, shape, constraint_id, detail)
Summary:    (bucket int, shape, n_valid long, n_invalid long)

The per-(entity, shape) verdict with a `reason` naming the invalidating
constraint/shape mirrors the reference's validation-result tuples
(shaclapi/reduction/ValidationResultTransmitter.py:18-25, reason semantics
pinned by tests/tc4/test_definitions/test1.json — invalid targets carry the
invalidating shape name).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

VERDICT_SCHEMA = "entity_id string, shape string, is_valid boolean, reason string"
VIOLATION_SCHEMA = "entity_id string, shape string, constraint_id string, detail string"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash escapes, the parser's
    default, so ``\\`` and ``'`` are escaped)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_lit(v: str | bool | int | None) -> str:
    """``v`` as a Spark SQL literal."""
    if isinstance(v, str):
        return sql_str(v)
    return "NULL" if v is None else str(v).lower()


def local_rows(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few driver-side ``rows`` as a one-partition relation of the DDL
    ``schema``, built in the JVM: a literal array inlined over a one-row
    range. (``createDataFrame`` on a Python list scans a Python RDD, so
    every action over it starts Python workers.) No rows: a typed empty
    relation."""
    structs = ", ".join(f"struct({', '.join(map(sql_lit, r))})" for r in rows)
    return spark.range(0, 1, 1, 1).selectExpr(
        f"inline(CAST(array({structs}) AS ARRAY<STRUCT<{schema}>>))"
    )


def union_all(dfs: list[DataFrame]) -> DataFrame | None:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return None
    return reduce(lambda a, b: a.unionByName(b), dfs)


def bucket_col(entity_col: str = "entity_id", n_buckets: int = 64):
    """Deterministic hash bucket, portable across engines: first md5 byte of
    the entity id mod n. Stable across cluster sizes (unlike
    spark_partition_id, a scheduling artifact) and ANSI-SQL-expressible, so
    DuckDB oracles can recompute it (instr-over-hex-digits trick)."""
    c = F.md5(F.col(entity_col).cast("string"))
    hexv = (F.instr(F.lit("0123456789abcdef"), F.substring(c, 1, 1)) - 1) * 16 + (
        F.instr(F.lit("0123456789abcdef"), F.substring(c, 2, 1)) - 1
    )
    return F.pmod(hexv, F.lit(n_buckets)).cast("int")


def bucket_sql(entity_expr: str, n_buckets: int = 64) -> str:
    """DuckDB SQL equivalent of :func:`bucket_col`."""
    return (
        f"(((strpos('0123456789abcdef', substr(md5({entity_expr}), 1, 1)) - 1) * 16"
        f" + strpos('0123456789abcdef', substr(md5({entity_expr}), 2, 1)) - 1)"
        f" % {n_buckets})"
    )


def summarize(verdicts: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Per-partition (hash-bucket) pass/fail summary — the north rule's
    'per-partition pass/fail summaries'."""
    bucket = bucket_col("entity_id", n_buckets)
    return (
        verdicts.groupBy(bucket.alias("bucket"), "shape")
        .agg(
            F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
            F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
        )
        .orderBy("bucket", "shape")
    )


def verdict_sets(
    verdicts: DataFrame,
    target_shapes: list[str] | None = None,
    max_rows: int = 1_000_000,
):
    """Driver-side golden-test helper: sorted (entity_id, shape) pairs for
    valid/invalid — the reference's order-insensitive compare
    (tests/test_main.py:229-246 analog). Only for small fixtures;
    ``max_rows`` makes the bound explicit — collecting one row past it
    raises instead of silently materializing a production-size verdict
    relation on the driver."""
    df = verdicts
    if target_shapes is not None:
        df = df.filter(F.col("shape").isin(target_shapes))
    rows = df.select("entity_id", "shape", "is_valid").limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"verdict_sets collected more than max_rows={max_rows} rows — "
            "this helper is for golden-test fixtures; aggregate verdicts "
            "distributedly (summarize/violations) for production relations"
        )
    valid = sorted((r.entity_id, r.shape) for r in rows if r.is_valid)
    invalid = sorted((r.entity_id, r.shape) for r in rows if not r.is_valid)
    return valid, invalid
