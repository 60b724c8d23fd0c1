"""Suite → evaluation plan: pruning, constraint removal, ordering.

Driver-side metadata work only (the analog of the reference's
shaclapi/reduction layer). The data plan itself is declarative DataFrame
algebra assembled in ops/ + engine.py; Catalyst handles joins/pushdown/spill,
so — exactly as SURVEY.md §7.4 concludes — no custom Catalyst rules are
needed. What *is* custom here mirrors the reference's metadata rewrites:

* shape-network reachability pruning    (Reduction.py:14-23 analog)
* query-driven constraint removal with
  OR-collapse                           (ReducedShapeParser.py:78-110 analog)
* evaluation ordering: the SCC
  condensation in Tarjan's
  prerequisites-first order             (ReducedShapeSchema.py:64-83 analog)

Cycles (tc3 A→C→D→A analog) condense into one SCC group evaluated
iteratively to fixpoint with the unbound⇒valid initialization
(ValidationResultStreaming.py:25-26 semantics).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from shaclapi_spark.suite import Constraint, Suite


def prune_unreachable(suite: Suite, target_shapes: list[str]) -> Suite:
    """Keep only shapes transitively reachable from the targets."""
    deps = suite.dependencies()
    keep: set[str] = set()
    stack = [t for t in target_shapes]
    while stack:
        s = stack.pop()
        if s in keep:
            continue
        keep.add(s)
        stack.extend(deps.get(s, ()))
    return Suite(shapes=[s for s in suite.shapes if s.name in keep])


def _prune_constraint(c: Constraint, relevant: set[str]) -> Constraint | None:
    """Constraint-removal semantics incl. OR-collapse (tc6 analog):

    a constraint whose column is not referenced by the query is dropped;
    an or_group keeps only branches whose columns survive — 0 branches ⇒
    dropped, 1 branch ⇒ collapsed to the plain branch constraint.
    Constraints that touch no own-table column (child-level, unique without
    explicit column) are always kept.
    """
    if c.kind == "or_group":
        kept = [b for b in c.branches if _prune_constraint(b, relevant) is not None]
        if not kept:
            return None
        if len(kept) == 1:
            only = kept[0]
            return Constraint(id=c.id, kind=only.kind, params=only.params, branches=only.branches)
        return Constraint(id=c.id, kind=c.kind, params=c.params, branches=kept)
    cols = c.columns()
    if cols and not (cols & relevant):
        return None
    return c


def remove_constraints(suite: Suite, target_shapes: list[str], relevant_columns: set[str]) -> Suite:
    """Drop target-shape constraints whose columns the caller's query never
    touches (the reference only reduces the *target* shape's constraints —
    ReducedShapeParser.py:78-110)."""
    shapes = []
    for s in suite.shapes:
        if s.name in target_shapes:
            cs = [_prune_constraint(c, relevant_columns) for c in s.constraints]
            s = replace(s, constraints=[c for c in cs if c is not None])
        shapes.append(s)
    return Suite(shapes=shapes)


# ---------------------------------------------------------------------------
# ordering: Tarjan SCC condensation, prerequisites first
# ---------------------------------------------------------------------------

@dataclass
class EvalGroup:
    """One evaluation unit: a single shape, or a cyclic SCC of shapes."""

    shapes: list[str]
    cyclic: bool


def _tarjan(nodes: list[str], deps: dict[str, set[str]]) -> list[list[str]]:
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set[str] = set()
    stack: list[str] = []
    sccs: list[list[str]] = []
    counter = [0]

    def strongconnect(v: str) -> None:
        index[v] = low[v] = counter[0]
        counter[0] += 1
        stack.append(v)
        on_stack.add(v)
        for w in sorted(deps.get(v, ())):
            if w not in index:
                if w in deps or w in nodes:
                    strongconnect(w)
                    low[v] = min(low[v], low[w])
            elif w in on_stack:
                low[v] = min(low[v], index[w])
        if low[v] == index[v]:
            comp = []
            while True:
                w = stack.pop()
                on_stack.discard(w)
                comp.append(w)
                if w == v:
                    break
            sccs.append(sorted(comp))

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    return sccs  # reverse-topological: prerequisites before dependents


def evaluation_order(suite: Suite) -> list[EvalGroup]:
    """The SCC condensation in Tarjan's emission order: prerequisites
    before dependents (the batch engine needs prerequisite verdicts before
    dependents, unlike the reference's streaming traversal, which may
    start anywhere), and deterministic, since Tarjan walks sorted names
    and sorted dependencies.

    The order is the only one: the engine assembles each shape's plan
    lazily and persists each shape's entity frame once per run, so which
    ready group runs first changes neither a verdict nor a plan, and AQE
    re-plans the joins from measured sizes. Trav-SHACL's traversal and
    'TARGET IN BIG' choices (ref shaclapi/config.py:192-209) have nothing
    to choose here."""
    names = suite.names()
    deps = {k: {d for d in v if d in set(names)} for k, v in suite.dependencies().items()}
    return [
        EvalGroup(
            shapes=comp,
            cyclic=len(comp) > 1 or comp[0] in deps.get(comp[0], set()),
        )
        for comp in _tarjan(names, deps)
    ]


def compile_suite(
    suite: Suite,
    target_shapes: list[str] | None = None,
    relevant_columns: set[str] | None = None,
) -> tuple[Suite, list[EvalGroup]]:
    """Full driver-side compile: reduce, then order. Returns (reduced suite,
    evaluation groups prerequisites-first)."""
    targets = target_shapes or suite.names()
    reduced = suite
    if relevant_columns is not None:
        reduced = remove_constraints(reduced, targets, relevant_columns)
    reduced = prune_unreachable(reduced, targets)
    return reduced, evaluation_order(reduced)
