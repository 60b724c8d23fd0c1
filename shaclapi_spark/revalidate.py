"""Incremental revalidation: re-validate ONLY the entities a new table
version can have changed, and merge with the previous run's verdicts.

The reference re-runs its whole validation per request; its only
incrementality is query-driven target restriction
(ref shaclapi/reduction/Reduction.py:25-64). At 10^12 rows a full re-run per
table version is the dominant cost, so this module derives the *affected
entity population* from a keyed snapshot diff (ops/diff.py semantics) and
feeds it through the engine's existing query-driven population machinery
(engine.run_suite(target_population=...)): the result is bit-identical to a
full re-validation of the new version — `merged == run_suite(new)` is the
pytest/DuckDB oracle — while only the changed slice is re-evaluated.

Change propagation is computed per shape, prerequisites-first:

  own rows      — entities whose row-MULTISET over the shape's table changed
                  (count + sum-of-row-hashes fingerprint per entity key; a
                  multiset fingerprint is required because uniqueness/count
                  constraints see every row of an entity)
  fk_exists /   — entities whose local key hits a parent key whose parent
  fk_match        row-multiset changed (conservative superset: any parent
                  change re-checks its referencing entities)
  min_count /   — parent entities whose child-row multiset (keyed by fk)
  max_count /     changed
  qualified_shape — additionally, parents linked (through the NEW child
                  table) to referenced-shape entities that are themselves
                  affected — verdict changes propagate UP the shape DAG

Conservative supersets are sound: re-validating an unchanged entity
reproduces its old verdict. Cyclic suites (round 4) are incremental too:
the affected populations of a cyclic SCC are CLOSED under its internal
reference edges (iterated to a monotone fixpoint over id relations), and
the engine's cyclic fixpoint then runs restricted to those populations
with out-of-population references answered from the prior run's verdicts
(engine.run_suite ``cyclic_seed_verdicts``) — no full-table
re-VALIDATION (the seed restriction adds one id-only projection scan per
cyclic shape to drop verdicts of entities the new version deleted).
Drift constraints are dataset-grain aggregates with no per-entity
locality, so suites carrying them are rejected (recompute drift with a
normal run, it is one scan of two numeric columns).

At Iceberg scale the `changed_entity_keys` diff would read the snapshot's
changed-data-file manifest instead of both full versions; here it is
expressed as the general two-version scan (shuffles only (key, count,
64-bit hash sum) — never payload bytes). The changelog path implements
exactly that: `revalidate_incremental_from_changelogs` takes per-table
change relations in Iceberg's changelog-view shape (the table's columns
plus ``_change_type`` ∈ INSERT/DELETE/UPDATE_BEFORE/UPDATE_AFTER, as
produced by the `create_changelog_view` procedure or an
incremental-snapshot read) and derives the affected populations from the
CHANGED ROWS ONLY — neither table version is ever scanned for the diff;
cost is proportional to the delta, not the table. `synthesize_changelog`
builds the same relation from two plain parquet versions (row-multiset
exceptAll both ways) so the path is testable — and usable — without an
Iceberg runtime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaclapi_spark import verdicts as V
from shaclapi_spark.compiler import compile_suite
from shaclapi_spark.engine import EngineConfig, SuiteResult, run_suite
from shaclapi_spark.suite import Constraint, Suite


def changed_entity_keys(
    old: DataFrame, new: DataFrame, key_col: str, cols: list[str] | None = None
) -> DataFrame:
    """Keys whose row-multiset differs between two versions of a table
    (added, removed, or changed rows — all columns compared unless ``cols``
    narrows the comparison; narrowing to the columns the suite actually
    reads lets the scan skip wide payload columns entirely — at 10^12 rows
    the audio `bytes` column dominates I/O and no constraint outcome can
    depend on a column no constraint reads).

    One column ``__pop_id`` (native key type). Shuffles one
    (key, count, decimal hash-sum) row per key and side — payload columns
    are consumed scan-side by the hash. NULL keys are dropped: a NULL-keyed
    row cannot be addressed by an entity population (the engine's population
    semi-join is an equality join)."""
    cols = cols or old.columns

    def fp(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col(key_col).isNotNull())
            .groupBy(F.col(key_col).alias("__key"))
            .agg(
                F.count(F.lit(1)).alias("__n"),
                # exact decimal sum of per-row 64-bit hashes: order-free,
                # multiset-sensitive (unlike XOR, which cancels duplicate
                # pairs), no long-overflow wrap
                F.sum(F.xxhash64(*cols).cast("decimal(20,0)")).alias("__h"),
            )
        )

    o, n = fp(old), fp(new)
    j = o.alias("o").join(
        n.alias("n"), F.col("o.__key") == F.col("n.__key"), "full_outer"
    )
    return (
        j.filter(
            F.col("o.__key").isNull()
            | F.col("n.__key").isNull()
            | (F.col("o.__n") != F.col("n.__n"))
            | ~(F.col("o.__h").eqNullSafe(F.col("n.__h")))
        )
        .select(F.coalesce(F.col("n.__key"), F.col("o.__key")).alias("__pop_id"))
    )


def _walk(c: Constraint):
    yield c
    for b in c.branches:
        yield from _walk(b)


def affected_populations(
    suite: Suite,
    old_tables: dict[str, DataFrame],
    new_tables: dict[str, DataFrame],
    target_shapes: list[str] | None = None,
    compare_cols: dict[str, list[str]] | None = None,
    cached: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """shape name → single-column (``__pop_id``) DataFrame of entities whose
    verdict may differ between the two table versions. Prerequisite shapes
    are resolved first so qualified-shape references propagate upward.
    The populations are persisted; so are the per-(table, key) diffs they
    read, which are appended to ``cached`` when it is given, for the
    caller to unpersist.

    ``compare_cols``: optional table → columns narrowing for the version
    diff. MUST cover every column any constraint of the suite reads on that
    table (constraint columns, entity/fk/local keys, expr references) —
    a change in an uncovered column is invisible to the diff and its verdict
    flips would be missed. Default: all columns (always sound)."""

    def diff(table: str, key: str) -> DataFrame:
        return changed_entity_keys(
            old_tables[table],
            new_tables[table],
            key,
            cols=(compare_cols or {}).get(table),
        )

    return _expand_affected(suite, target_shapes, new_tables, diff, cached)


def synthesize_changelog(old: DataFrame, new: DataFrame) -> DataFrame:
    """Changelog relation (Iceberg changelog-view shape: the table's columns
    plus ``_change_type``) derived from two plain table versions: rows in
    new-but-not-old (multiset semantics) are INSERT, rows in old-but-not-new
    are DELETE. Updates appear as a DELETE + INSERT pair, which is equally
    informative for key extraction. This is the parquet-version stand-in for
    Iceberg's `create_changelog_view`; it scans both versions (the thing the
    real changelog avoids), so it exists for tests and for users who version
    tables as plain parquet directories."""
    return new.exceptAll(old).withColumn(
        "_change_type", F.lit("INSERT")
    ).unionByName(
        old.exceptAll(new).withColumn("_change_type", F.lit("DELETE"))
    )


def affected_populations_from_changelogs(
    suite: Suite,
    changelogs: dict[str, DataFrame],
    new_tables: dict[str, DataFrame],
    target_shapes: list[str] | None = None,
    cached: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Like :func:`affected_populations`, but the per-table change evidence
    is a changelog relation (table columns + ``_change_type``) instead of
    two full versions — e.g. Iceberg's changelog view between two snapshots,
    or :func:`synthesize_changelog`. The affected keys for any key column
    are simply the distinct non-null values of that column over the change
    rows: every multiset change at a key materializes at least one
    INSERT/DELETE/UPDATE_* row carrying that key, so this is the same
    conservative superset the two-version diff computes — at delta cost.

    Every table any suite constraint reads MUST have a changelogs entry
    (missing-table KeyError is deliberate: an absent changelog means changes
    there would be silently missed)."""

    def diff(table: str, key: str) -> DataFrame:
        cl = changelogs[table]
        return (
            cl.filter(F.col(key).isNotNull())
            .select(F.col(key).alias("__pop_id"))
            .distinct()
        )

    return _expand_affected(suite, target_shapes, new_tables, diff, cached)


def _expand_affected(
    suite: Suite,
    target_shapes: list[str] | None,
    new_tables: dict[str, DataFrame],
    diff_fn,
    cached: list[DataFrame] | None,
) -> dict[str, DataFrame]:
    """Shared DAG expansion: per-(table, key) change evidence from
    ``diff_fn(table, key) -> DataFrame['__pop_id']`` propagated up the shape
    dependency order (own rows, fk parents, child links, qualified-shape
    verdict dependencies)."""
    targets = target_shapes or suite.names()
    reduced, groups = compile_suite(suite, targets)
    shape_by_name = {s.name: s for s in reduced.shapes}
    entity_col_by_shape = {s.name: s.entity_col for s in reduced.shapes}

    # per-(table, key) diffs are shared across consumers — compute lazily, once
    diff_cache: dict[tuple[str, str], DataFrame] = {}

    def diff(table: str, key: str) -> DataFrame:
        if (table, key) not in diff_cache:
            diff_cache[(table, key)] = diff_fn(table, key).persist()
            if cached is not None:
                cached.append(diff_cache[(table, key)])
        return diff_cache[(table, key)]

    def map_keys_to_entities(
        shape, keys: DataFrame, local_col: str
    ) -> DataFrame:
        """Entities of `shape` (NEW version) whose `local_col` hits `keys`.
        When the local column IS the entity key the ids are the keys."""
        if local_col == shape.entity_col:
            return keys
        t = new_tables[shape.table]
        return (
            t.join(keys, t[local_col] == keys["__pop_id"], "leftsemi")
            .select(F.col(shape.entity_col).alias("__pop_id"))
        )

    pops: dict[str, DataFrame] = {}

    def ref_propagation(s, c, ref_aff: DataFrame) -> DataFrame:
        """Entities of `s` linked (through the NEW child table) to affected
        referenced-shape entities — verdict changes propagate UP."""
        ref = c.params["shape"]
        child = new_tables[c.params["child"]]
        ref_col = c.params.get("ref_key") or entity_col_by_shape[ref]
        linked_fks = (
            child.join(
                ref_aff, child[ref_col] == ref_aff["__pop_id"], "leftsemi"
            )
            .select(F.col(c.params["fk"]).alias("__pop_id"))
            .filter(F.col("__pop_id").isNotNull())
        )
        local = c.params.get("local_key") or s.entity_col
        return map_keys_to_entities(s, linked_fks, local)

    def initial_parts(name: str, in_group: set) -> DataFrame:
        """Diff-driven affected entities of `name`: own rows, fk parents,
        child links, and propagation from already-resolved referenced
        shapes (same-group references are handled by the SCC closure)."""
        s = shape_by_name[name]
        parts = [diff(s.table, s.entity_col)]
        for c0 in s.constraints:
            for c in _walk(c0):
                if c.kind in ("min_count", "max_count", "qualified_shape"):
                    fk_changed = diff(c.params["child"], c.params["fk"])
                    local = c.params.get("local_key") or s.entity_col
                    parts.append(map_keys_to_entities(s, fk_changed, local))
                if c.kind == "qualified_shape":
                    ref = c.params["shape"]
                    if ref not in in_group and pops.get(ref) is not None:
                        parts.append(ref_propagation(s, c, pops[ref]))
                elif c.kind in ("fk_exists", "fk_not_exists"):
                    pk = diff(c.params["parent"], c.params["parent_col"])
                    parts.append(map_keys_to_entities(s, pk, c.params["column"]))
                elif c.kind == "fk_match":
                    pk = diff(c.params["parent"], c.params["parent_key"])
                    parts.append(map_keys_to_entities(s, pk, c.params["key"]))
                elif c.kind == "drift":
                    raise ValueError(
                        f"shape {s.name!r} carries dataset-level drift "
                        "constraints — drift has no per-entity locality; "
                        "recompute it with a full run_suite"
                    )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    for group in groups:  # prerequisites-first
        if not group.cyclic:
            name = group.shapes[0]
            pops[name] = initial_parts(name, set()).persist()
            continue
        # cyclic SCC: a verdict flip anywhere in the group can ripple along
        # its internal reference edges, so the affected populations must be
        # CLOSED under them — iterate the qualified_shape propagation inside
        # the group until no population grows (the table-diff parts are
        # iteration-independent and enter once). Each round shuffles only
        # id relations; convergence is monotone and bounded by the longest
        # reference chain among changed entities (the same quantity that
        # bounds the engine's own fixpoint).
        in_group = set(group.shapes)
        cur = {
            n: initial_parts(n, in_group).localCheckpoint(eager=True)
            for n in group.shapes
        }
        sizes = {n: cur[n].count() for n in group.shapes}
        max_iters = 50
        for _ in range(max_iters):
            grew = False
            for name in group.shapes:
                s = shape_by_name[name]
                adds = []
                for c0 in s.constraints:
                    for c in _walk(c0):
                        if (
                            c.kind == "qualified_shape"
                            and c.params["shape"] in in_group
                        ):
                            adds.append(
                                ref_propagation(s, c, cur[c.params["shape"]])
                            )
                if not adds:
                    continue
                new = cur[name]
                for a in adds:
                    new = new.unionByName(a)
                new = new.distinct().localCheckpoint(eager=True)
                n_new = new.count()
                if n_new != sizes[name]:
                    grew = True
                cur[name], sizes[name] = new, n_new
            if not grew:
                break
        else:
            raise ValueError(
                f"affected-population closure for cyclic group "
                f"{group.shapes} did not converge in {max_iters} rounds"
            )
        for name in group.shapes:
            pops[name] = cur[name].persist()
    return pops


def revalidate_incremental(
    spark: SparkSession,
    suite: Suite,
    old_tables: dict[str, DataFrame],
    new_tables: dict[str, DataFrame],
    old_verdicts: DataFrame,
    old_violations: DataFrame | None = None,
    target_shapes: list[str] | None = None,
    config: EngineConfig | None = None,
    compare_cols: dict[str, list[str]] | None = None,
) -> SuiteResult:
    """Verdicts for the NEW table version, computed by re-validating only the
    affected entity populations and carrying every other verdict over from
    ``old_verdicts`` (the output of a full run on the OLD version).

    Result invariant (the oracle): ``merged.verdicts`` equals
    ``run_suite(spark, suite, new_tables).verdicts`` on
    (entity_id, shape, is_valid) — removed entities drop out (they are in
    the affected set and the fresh run emits nothing for them), added
    entities appear, changed entities flip, everything else is carried."""
    targets = target_shapes or suite.names()
    diffs: list[DataFrame] = []
    pops = affected_populations(
        suite, old_tables, new_tables, targets, compare_cols, diffs
    )
    return _run_restricted_and_merge(
        spark, suite, new_tables, old_verdicts, old_violations, targets, pops,
        diffs, config,
    )


def revalidate_incremental_from_changelogs(
    spark: SparkSession,
    suite: Suite,
    changelogs: dict[str, DataFrame],
    new_tables: dict[str, DataFrame],
    old_verdicts: DataFrame,
    old_violations: DataFrame | None = None,
    target_shapes: list[str] | None = None,
    config: EngineConfig | None = None,
) -> SuiteResult:
    """:func:`revalidate_incremental` with the version diff replaced by
    per-table changelog relations (Iceberg changelog view /
    :func:`synthesize_changelog`): the affected populations are derived from
    the change rows alone, so the pre-validation cost is proportional to the
    delta between snapshots, never to the table. Same result invariant:
    equals a full ``run_suite`` of the new version."""
    targets = target_shapes or suite.names()
    diffs: list[DataFrame] = []
    pops = affected_populations_from_changelogs(
        suite, changelogs, new_tables, targets, diffs
    )
    return _run_restricted_and_merge(
        spark, suite, new_tables, old_verdicts, old_violations, targets, pops,
        diffs, config,
    )


def _run_restricted_and_merge(
    spark: SparkSession,
    suite: Suite,
    new_tables: dict[str, DataFrame],
    old_verdicts: DataFrame,
    old_violations: DataFrame | None,
    targets: list[str],
    pops: dict[str, DataFrame],
    diffs: list[DataFrame],
    config: EngineConfig | None,
) -> SuiteResult:
    res = run_suite(
        spark,
        suite,
        new_tables,
        target_shapes=targets,
        target_population={n: pops[n] for n in targets if n in pops},
        config=config,
        # cyclic groups iterate their fixpoint ONLY over the (closed)
        # affected populations, reading unchanged entities' verdicts from
        # the prior run instead of rescanning the tables
        cyclic_seed_verdicts=old_verdicts,
    )

    def merge(old: DataFrame | None, fresh: DataFrame | None) -> DataFrame | None:
        if old is None:
            return fresh
        merged_parts = []
        for t in targets:
            ids = pops[t].select(
                F.col("__pop_id").cast("string").alias("__pop_id")
            )
            keep = old.filter(F.col("shape") == F.lit(t))
            keep = keep.join(
                ids, keep["entity_id"] == ids["__pop_id"], "left_anti"
            )
            merged_parts.append(keep)
            if fresh is not None:
                # a target that is ALSO a referenced helper evaluates on its
                # affected pop ∪ the population propagated from its referrers
                # — emit only the affected slice, the rest is already carried
                # over from old_verdicts
                f_t = fresh.filter(F.col("shape") == F.lit(t))
                merged_parts.append(
                    f_t.join(ids, f_t["entity_id"] == ids["__pop_id"], "leftsemi")
                )
        return V.union_all(merged_parts)

    verdicts = merge(old_verdicts, res.verdicts)
    violations = merge(old_violations, res.violations)
    # the merged frames read the inner run's persisted frames, the
    # affected populations and their diffs: release() drops them all
    return SuiteResult(
        verdicts=verdicts,
        violations=violations,
        shapes_evaluated=res.shapes_evaluated,
        verdicts_by_shape=res.verdicts_by_shape,
        _cached=res._cached + list(pops.values()) + diffs,
    )
