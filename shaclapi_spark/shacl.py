"""SHACL shape ingestion (Turtle AND the reference's JSON format) → Suite.

The reference parses shape directories in SHACL Turtle alongside its JSON
format (ref shaclapi/reduction/travshacl/ReducedShapeParser.py:28-58,
format switch shaclapi/config.py:128-139; Turtle fixtures
/root/reference/tests/tc1..tc6/shapes/*.ttl, JSON fixtures
/root/reference/examples/{lubm,lubm_extended,dbpedia}/shapes/*.json). This
module lets users with existing shape files of either format migrate: a
minimal, dependency-free parser for the Turtle subset those shape files
use, a reader for the JSON schema (``name`` / ``targetDef`` /
``constraintDef.conjunctions``), a shared intermediate representation, and
a relational *binding* that maps RDF predicates onto the engine's
table/column/link model. Both formats produce the same ``ShaclShape`` IR,
so one binding layer serves both.

Supported constructs (the complete inventory used by the reference's
fixtures): ``@prefix``, ``<name> a sh:NodeShape``, ``sh:targetClass``,
``sh:targetQuery`` (SPARQL string; ``VALUES`` target lists are extracted),
``sh:property [ sh:path p | [ sh:inversePath p ] ; sh:minCount /
sh:maxCount ; sh:qualifiedValueShape [ sh:node :Ref ] ;
sh:qualifiedMinCount / sh:qualifiedMaxCount ]`` and ``sh:or ( ... )``.

Mapping onto constraint kinds (SURVEY.md §2.10a):

==========================================  ================================
SHACL                                       suite.Constraint
==========================================  ================================
path→column, minCount ≥ 1                   not_null(column)
path→column, maxCount 0                     expr(column IS NULL)
path→link,   minCount n                     min_count(child, fk, min=n)
path→link,   maxCount n                     max_count(child, fk, max=n)
qualifiedValueShape + qualifiedMin/Max      qualified_shape(child, fk,
                                              shape, min, max)
sh:inversePath                              same link kinds; the binding's
                                            LinkBinding carries local_key
sh:or (...)                                 or_group(branches)
sh:targetClass C                            target_filter
                                              "<class_column> = '<C>'"
sh:targetQuery VALUES list                  target_filter
                                              "<entity_col> IN (...)"
==========================================  ================================
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from shaclapi_spark.suite import Constraint, Shape, Suite

SH = "http://www.w3.org/ns/shacl#"


# ---------------------------------------------------------------------------
# Turtle-subset tokenizer + parser
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r'"(?:[^"\\]|\\.)*"'      # string literal
    r"|<[^>]*>"               # IRI
    r"|#[^\n]*"               # comment, to end of line
    r"|@prefix"
    r"|[\[\]();,]"            # structural
    r"|\.(?=\s|$)"            # statement terminator (never inside a CURIE)
    r"|[^\s\[\]();,#]+"       # CURIE / number / 'a'
)


def _tokenize(text: str) -> list[str]:
    # a '#' inside an IRI or a string literal is consumed by those
    # alternatives first, so only a real comment starts a '#' token
    return [t for t in _TOKEN_RE.findall(text) if not t.startswith("#")]


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0
        self.prefixes: dict[str, str] = {}

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        t = self.toks[self.i]
        self.i += 1
        return t

    def parse(self) -> list[tuple[str, dict]]:
        """Returns [(subject, {pred: [objects]})] with blank nodes as dicts
        and collections as lists."""
        subjects: list[tuple[str, dict]] = []
        while self.peek() is not None:
            if self.peek() == "@prefix":
                self.next()
                pfx = self.next().rstrip(":")
                iri = self.next().strip("<>")
                term = self.next()
                if term != ".":
                    raise ValueError(f"malformed @prefix near {term!r}")
                self.prefixes[pfx] = iri
                continue
            subj = self.next()
            po = self._po_list(stop={"."})
            if self.next() != ".":  # pragma: no cover
                raise ValueError("expected '.' after subject block")
            subjects.append((subj, po))
        return subjects

    def _po_list(self, stop: set[str]) -> dict:
        po: dict[str, list] = {}
        while True:
            nxt = self.peek()
            if nxt is None or nxt in stop:
                return po
            pred = self.next()
            objs = [self._object()]
            while self.peek() == ",":
                self.next()
                objs.append(self._object())
            po.setdefault(pred, []).extend(objs)
            if self.peek() == ";":
                self.next()
                continue
            return po

    def _object(self):
        t = self.peek()
        if t == "[":
            self.next()
            po = self._po_list(stop={"]"})
            if self.next() != "]":  # pragma: no cover
                raise ValueError("unterminated blank node")
            return po
        if t == "(":
            self.next()
            items = []
            while self.peek() != ")":
                items.append(self._object())
            self.next()
            return items
        t = self.next()
        if t.startswith('"'):
            return t[1:-1].replace('\\"', '"')
        if re.fullmatch(r"-?\d+", t):
            return int(t)
        return t  # CURIE / IRI / 'a'


def local_name(term: str) -> str:
    """Local part of an IRI/CURIE (after '#', '/', or ':')."""
    t = term.strip("<>")
    for sep in ("#", "/"):
        if sep in t:
            t = t.rsplit(sep, 1)[1]
    if ":" in t:
        t = t.rsplit(":", 1)[1]
    return t


#: prefixed name (CURIE). The local part follows SPARQL's PN_LOCAL shape —
#: it may contain '.' but not end with one — so the '.' closing a triple
#: (``?x a ex:Widget.``) is never swallowed into the class name
_PNAME = r"[\w.\-]*:[\w\-]+(?:\.[\w\-]+)*"


# ---------------------------------------------------------------------------
# intermediate representation
# ---------------------------------------------------------------------------

@dataclass
class ShaclProperty:
    path: str                      # predicate local name
    inverse: bool = False
    min_count: int | None = None
    max_count: int | None = None
    qualified_shape: str | None = None  # referenced shape local name
    qualified_min: int | None = None
    qualified_max: int | None = None


@dataclass
class ShaclShape:
    name: str
    target_class: str | None = None
    target_query: str | None = None
    properties: list[ShaclProperty] = field(default_factory=list)
    or_groups: list[list[ShaclProperty]] = field(default_factory=list)

    def target_values(self) -> list[str] | None:
        """Entity local names from a ``VALUES ?x { <iri> ... }`` target
        query (the tc2 shapeB pattern), else None."""
        if not self.target_query:
            return None
        m = re.search(r"VALUES\s+\?\w+\s*\{([^}]*)\}", self.target_query)
        if not m:
            return None
        return [local_name(t) for t in re.findall(r"<[^>]*>", m.group(1))]

    def query_target_class(self) -> str | None:
        """Class local name when the target query is the simple class
        pattern ``SELECT ?v WHERE { ?v a <Class> }`` (every reference JSON
        shape's targetDef.query has this form, redundantly with
        targetDef.class), else None."""
        if not self.target_query:
            return None
        m = re.fullmatch(
            r"\s*SELECT\s+\?(\w+)\s+WHERE\s*\{\s*\?(\w+)\s+a\s+"
            rf"(<[^>]*>|{_PNAME})\s*\.?\s*\}}\s*",
            self.target_query,
            re.IGNORECASE,
        )
        if not m or m.group(1) != m.group(2):
            return None
        return local_name(m.group(3))


_TRIPLE_RE = re.compile(
    rf"(\?\w+|<[^>]*>|{_PNAME})\s+"            # subject
    rf"(a|\^?<[^>]*>|\^?{_PNAME})\s+"          # predicate (^ = inverse)
    rf"(\?\w+|<[^>]*>|{_PNAME}|'[^']*'|\"[^\"]*\"|[+-]?\d+(?:\.\d+)?)"  # object
)
_FILTER_RE = re.compile(r"FILTER\s*\(\s*(\?\w+)\s*(=|!=|<=|>=|<|>)\s*"
                        r"('[^']*'|\"[^\"]*\"|[+-]?\d+(?:\.\d+)?|\?\w+)\s*\)",
                        re.IGNORECASE)


def star_target_filter(query: str, binding: "ShapeBinding") -> str | None:
    """Translate a star-shaped SPARQL target query into a SQL
    ``target_filter`` over the binding's table (reference
    query.py:96-114 ``is_starshaped``/``make_starshaped``, intersected
    into the target via query.py:194-244 ``intersect`` — here the
    intersection is a row filter, which is what a restrictive target
    query MEANS on a relational table).

    Supported (the reference test-suite query inventory, tc2/tc4/tc6):
    ``?x a <Class>`` → class_column = 'Class'; ``?x p <iri>`` /
    ``?x p 'lit'`` / ``?x p 5`` → bound column equality; ``?x p ?v`` →
    bound column IS NOT NULL (SPARQL pattern = existence), with ``?v``
    usable in simple ``FILTER(?v op literal)`` comparisons;
    ``VALUES ?x { <iri> ... }`` → entity IN list. All conjuncts AND
    together (a SPARQL BGP is a conjunction).

    Returns None when the query is not a star-shaped SELECT at all.
    Raises ValueError — listing the offending construct — for star
    queries that reach through links (inverse ``^p`` predicates, paths
    not bound to a row column, variable-vs-variable FILTERs, OPTIONAL/
    UNION/subqueries) AND for any body text the translator did not
    consume (predicate-object ``;`` lists, object ``,`` lists, property
    paths, exotic FILTER forms): a partially-translated filter would be
    BROADER than the query, silently validating entities outside the
    target — the exact failure this function exists to refuse. Callers
    translate those into an explicit ``target_filter`` /
    ``target_population`` instead.
    """

    def _sql_str(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"
    q = re.sub(r"PREFIX\s+[\w.\-]*:\s*<[^>]*>", "", query, flags=re.IGNORECASE)
    m = re.search(r"SELECT\s+(?:DISTINCT\s+)?(\?\w+)[\s?\w]*WHERE\s*\{(.*)\}",
                  q, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    # anything outside the WHERE block (LIMIT/OFFSET/GROUP BY/HAVING
    # solution modifiers, BASE decls) changes the target set in ways a
    # row filter cannot express — refuse, same broadening argument as
    # the in-body residue check below
    outside = (q[: m.start()] + q[m.end():]).strip()
    if outside:
        raise ValueError(
            "target query has text outside the SELECT/WHERE block "
            f"({outside[:80]!r}); a row filter cannot express solution "
            "modifiers — bind an explicit target_filter"
        )
    target_var, body = m.group(1), m.group(2)
    for bad in ("OPTIONAL", "UNION", "SELECT", "MINUS", "GRAPH"):
        if re.search(rf"\b{bad}\b", body, re.IGNORECASE):
            raise ValueError(
                f"target query uses {bad}, which is not a star-shaped BGP; "
                "bind an explicit target_filter/target_population"
            )
    conjuncts: list[str] = []
    var_cols: dict[str, str] = {}
    # VALUES ?x { ... } seeds (reference make_starshaped appends these)
    body_wo_values = body
    for vm in re.finditer(r"VALUES\s*(\?\w+)\s*\{([^}]*)\}", body):
        if vm.group(1) != target_var:
            raise ValueError(
                f"VALUES on non-target variable {vm.group(1)}; bind an "
                "explicit target_filter"
            )
        # tokenize the VALUES interior completely — an entry the extractor
        # does not recognize must RAISE, not vanish (a dropped seed makes
        # the filter narrower, a dropped-then-ignored clause broader)
        terms: list[str] = []
        for tok in vm.group(2).split():
            if tok.startswith("<") and tok.endswith(">"):
                terms.append(_sql_str(local_name(tok)))
            elif tok.startswith(("'", '"')) and tok.endswith(tok[0]) and len(tok) >= 2:
                terms.append(_sql_str(tok[1:-1]))
            elif re.fullmatch(r"[+-]?\d+(?:\.\d+)?", tok):
                # quoted like every other entry: a bare number in the IN
                # list would make Spark cast a string entity column
                terms.append(_sql_str(tok))
            elif re.fullmatch(_PNAME, tok):
                terms.append(_sql_str(local_name(tok)))
            else:
                raise ValueError(
                    f"unrecognized VALUES entry {tok!r}; bind an explicit "
                    "target_filter"
                )
        if not terms:
            raise ValueError(
                "empty VALUES target list; bind an explicit target_filter"
            )
        conjuncts.append(f"{binding.entity_col} IN ({', '.join(terms)})")
        body_wo_values = body_wo_values.replace(vm.group(0), " ")
    body_wo_filters = _FILTER_RE.sub(" ", body_wo_values)
    triples = _TRIPLE_RE.findall(body_wo_filters)
    if not triples:
        return " AND ".join(conjuncts) if conjuncts else None
    subjects = {s for s, _, _ in triples}
    if len(subjects) == 1 and not (center := subjects.copy().pop()).startswith("?"):
        # constant-IRI center (reference make_starshaped query.py:103-110):
        # rewrite to a VALUES-seeded star around the entity — here, an
        # entity-equality conjunct plus the patterns as usual
        conjuncts.append(f"{binding.entity_col} = {_sql_str(local_name(center))}")
    elif subjects != {target_var}:
        raise ValueError(
            f"target query is not star-shaped around {target_var} "
            f"(subjects: {sorted(subjects)}); bind an explicit target_filter"
        )
    for _, pred, obj in triples:
        if pred.startswith("^"):
            raise ValueError(
                f"inverse path {pred} in target query restricts via a "
                "joined relation; bind an explicit target_filter or "
                "target_population"
            )
        if pred == "a":
            if not binding.class_column:
                raise ValueError(
                    "target query has a class pattern but the binding has "
                    "no class_column"
                )
            conjuncts.append(
                f"{binding.class_column} = {_sql_str(local_name(obj))}"
            )
            continue
        p = local_name(pred)
        if p not in binding.columns:
            raise ValueError(
                f"target-query predicate {pred} (path {p!r}) is not bound "
                "to a row column; bind it in ShapeBinding.columns or use "
                "an explicit target_filter"
            )
        col = binding.columns[p]
        if obj.startswith("?"):
            var_cols[obj] = col
            conjuncts.append(f"{col} IS NOT NULL")
        elif obj.startswith(("'", '"')):
            # the triple regex guarantees one matching outer quote pair;
            # strip exactly it (a blanket .strip would eat quote chars
            # belonging to the literal's content)
            conjuncts.append(f"{col} = {_sql_str(obj[1:-1])}")
        elif re.fullmatch(r"[+-]?\d+(?:\.\d+)?", obj):
            conjuncts.append(f"{col} = {obj}")
        else:
            conjuncts.append(f"{col} = {_sql_str(local_name(obj))}")
    for fm in _FILTER_RE.finditer(body_wo_values):
        var, op, rhs = fm.group(1), fm.group(2), fm.group(3)
        if rhs.startswith("?"):
            raise ValueError(
                f"FILTER({var} {op} {rhs}) compares two variables; bind an "
                "explicit target_filter"
            )
        if var not in var_cols:
            raise ValueError(
                f"FILTER variable {var} does not appear as a triple object "
                "over a bound column"
            )
        sql_op = {"=": "=", "!=": "<>"}.get(op, op)
        rhs_sql = _sql_str(rhs[1:-1]) if rhs.startswith(("'", '"')) else rhs
        conjuncts.append(f"{var_cols[var]} {sql_op} {rhs_sql}")
    # ANY unconsumed body text means the filter would be BROADER than the
    # query (dropped conjuncts = silently validating outside the target):
    # predicate-object ';' lists, object ',' lists, property paths 'p/q',
    # exotic FILTER forms all land here. Only whitespace and the BGP's
    # '.' separators may remain.
    leftover = _TRIPLE_RE.sub(" ", body_wo_filters)
    residue = re.sub(r"[\s.]+", " ", leftover).strip()
    if residue:
        raise ValueError(
            "target query contains constructs the star translator does "
            f"not consume (residue: {residue[:120]!r}); a partial "
            "translation would validate entities outside the target — "
            "bind an explicit target_filter"
        )
    return " AND ".join(conjuncts) if conjuncts else None


def _prop_from_po(po: dict) -> ShaclProperty:
    def one(key: str):
        vals = [v for k, v in po.items() if local_name(k) == key for v in v]
        return vals[0] if vals else None

    path = one("path")
    inverse = False
    if isinstance(path, dict):  # [ sh:inversePath p ]
        inner = [v for k, v in path.items() if local_name(k) == "inversePath"]
        if not inner:
            raise ValueError(f"unsupported path expression {path!r}")
        path, inverse = inner[0][0], True
    qshape = one("qualifiedValueShape")
    qname = None
    if isinstance(qshape, dict):
        nodes = [v for k, v in qshape.items() if local_name(k) == "node"]
        qname = local_name(nodes[0][0]) if nodes else None
    return ShaclProperty(
        path=local_name(path),
        inverse=inverse,
        min_count=one("minCount"),
        max_count=one("maxCount"),
        qualified_shape=qname,
        qualified_min=one("qualifiedMinCount"),
        qualified_max=one("qualifiedMaxCount"),
    )


def parse_shacl(text: str) -> list[ShaclShape]:
    """Parse one Turtle document into ShaclShape IR records."""
    p = _Parser(_tokenize(text))
    shapes: list[ShaclShape] = []
    for subj, po in p.parse():
        types = [local_name(t) for t in po.get("a", [])]
        if "NodeShape" not in types:
            continue
        shape = ShaclShape(name=local_name(subj))
        for pred, objs in po.items():
            key = local_name(pred)
            if key == "targetClass":
                shape.target_class = local_name(objs[0])
            elif key == "targetQuery":
                shape.target_query = objs[0]
            elif key == "property":
                for o in objs:
                    shape.properties.append(_prop_from_po(o))
            elif key == "or":
                for o in objs:  # each obj is a collection (list of blocks)
                    shape.or_groups.append([_prop_from_po(b) for b in o])
        shapes.append(shape)
    return shapes


def parse_shacl_dir(path: str) -> list[ShaclShape]:
    """Parse every .ttl file in a directory (the reference's shape-dir
    layout, one shape per file)."""
    shapes: list[ShaclShape] = []
    for fname in sorted(os.listdir(path)):
        if fname.endswith(".ttl"):
            with open(os.path.join(path, fname)) as fh:
                shapes.extend(parse_shacl(fh.read()))
    return shapes


# ---------------------------------------------------------------------------
# the reference's JSON shape format
# ---------------------------------------------------------------------------

def _prop_from_json(c: dict) -> ShaclProperty:
    """One constraint object {path, min?, max?, shape?} → IR property.
    A ``shape`` reference makes min/max QUALIFIED counts (the JSON format
    has no separate qualified keys — LUBM writes
    ``{path, min: 1, shape: University}`` for what Turtle spells
    ``sh:qualifiedValueShape [...] ; sh:qualifiedMinCount 1``)."""
    raw_path = c["path"]
    inverse = raw_path.startswith("^")
    path = local_name(raw_path.lstrip("^"))
    if c.get("shape"):
        return ShaclProperty(
            path=path,
            inverse=inverse,
            qualified_shape=local_name(c["shape"]),
            qualified_min=c.get("min"),
            qualified_max=c.get("max"),
        )
    return ShaclProperty(
        path=path,
        inverse=inverse,
        min_count=c.get("min"),
        max_count=c.get("max"),
    )


def parse_shape_json(obj: dict | str) -> ShaclShape:
    """One reference-format JSON shape document → IR (format: ``name`` +
    ``targetDef{query, class}`` + ``constraintDef.conjunctions``, ref
    examples/lubm/shapes/*.json; format switch ref
    shaclapi/config.py:128-139).

    A single conjunction becomes the shape's property list. Multiple
    conjunctions are a disjunction: supported when every conjunction maps
    to exactly one constraint (→ ``sh:or`` groups); a disjunction of
    multi-constraint conjunctions has no Suite analog and raises."""
    import json as _json

    if isinstance(obj, str):
        obj = _json.loads(obj)
    shape = ShaclShape(name=local_name(obj["name"]))
    tdef = obj.get("targetDef") or {}
    if tdef.get("class"):
        shape.target_class = local_name(tdef["class"])
    if tdef.get("query"):
        shape.target_query = tdef["query"]
    conjunctions = (obj.get("constraintDef") or {}).get("conjunctions") or []
    if len(conjunctions) == 1:
        shape.properties = [_prop_from_json(c) for c in conjunctions[0]]
    elif len(conjunctions) > 1:
        branches = []
        for conj in conjunctions:
            if len(conj) != 1:
                raise ValueError(
                    f"shape {shape.name!r}: disjunction of multi-constraint "
                    "conjunctions is not supported (each disjunct must hold "
                    "exactly one constraint)"
                )
            branches.append(_prop_from_json(conj[0]))
        shape.or_groups.append(branches)
    return shape


def parse_json_dir(path: str) -> list[ShaclShape]:
    """Parse every .json shape file in a directory (the reference's JSON
    shape-dir layout, e.g. examples/lubm/shapes/) into the same IR the
    Turtle path feeds — both formats share the binding layer."""
    shapes: list[ShaclShape] = []
    for fname in sorted(os.listdir(path)):
        if fname.endswith(".json"):
            with open(os.path.join(path, fname)) as fh:
                shapes.append(parse_shape_json(fh.read()))
    return shapes


def parse_shape_dir(path: str, shape_format: str = "SHACL") -> list[ShaclShape]:
    """Format-switched directory ingestion, mirroring the reference's
    ``shapeFormat`` config knob (ref shaclapi/config.py:128-139): ``SHACL``
    reads .ttl, ``JSON`` reads .json; both produce ShaclShape IR."""
    fmt = shape_format.upper()
    if fmt == "SHACL":
        return parse_shacl_dir(path)
    if fmt == "JSON":
        return parse_json_dir(path)
    raise ValueError(f"unknown shape format {shape_format!r} (SHACL or JSON)")


# ---------------------------------------------------------------------------
# relational binding → Suite
# ---------------------------------------------------------------------------

@dataclass
class LinkBinding:
    """A predicate that lands in a child table: child rows reference the
    validated entity through ``fk``. For inverse paths where the link key on
    the shape's own table is not its entity column, set ``local_key``.
    For qualified refs through an EDGE table, ``ref_key`` names the child
    column holding the referenced shape's entity id (default: the
    referenced shape's own entity column — correct when the child table IS
    the referenced shape's table)."""

    child: str
    fk: str
    local_key: str | None = None
    ref_key: str | None = None


@dataclass
class ShapeBinding:
    table: str
    entity_col: str
    columns: dict[str, str] = field(default_factory=dict)  # path → row column
    links: dict[str, LinkBinding] = field(default_factory=dict)  # path → link
    class_column: str | None = None   # realizes sh:targetClass as a filter
    target_filter: str | None = None  # explicit override


def _constraints_for(
    prop: ShaclProperty, cid: str, b: ShapeBinding
) -> list[Constraint]:
    out: list[Constraint] = []
    if prop.path in b.columns:
        col = b.columns[prop.path]
        if prop.min_count is not None:
            if prop.min_count > 1:
                raise ValueError(
                    f"minCount {prop.min_count} on single-valued column "
                    f"{col!r}; bind path {prop.path!r} as a link instead"
                )
            if prop.min_count >= 1:
                out.append(Constraint(f"{cid}_min", "not_null", {"column": col}))
        if prop.max_count is not None:
            if prop.max_count == 0:
                out.append(
                    Constraint(f"{cid}_max", "expr", {"sql": f"{col} IS NULL"})
                )
            # maxCount >= 1 on a single-valued column is vacuous
        if prop.qualified_shape:
            raise ValueError(
                f"qualifiedValueShape needs a link binding for {prop.path!r}"
            )
        return out
    if prop.path not in b.links:
        raise ValueError(
            f"no binding for path {prop.path!r} (add it to columns or links)"
        )
    ln = b.links[prop.path]
    base = {"child": ln.child, "fk": ln.fk}
    if ln.local_key:
        base["local_key"] = ln.local_key
    if prop.min_count is not None:
        out.append(
            Constraint(f"{cid}_min", "min_count", dict(base, min=prop.min_count))
        )
    if prop.max_count is not None:
        out.append(
            Constraint(f"{cid}_max", "max_count", dict(base, max=prop.max_count))
        )
    if prop.qualified_shape:
        params = dict(base, shape=prop.qualified_shape)
        if ln.ref_key:
            params["ref_key"] = ln.ref_key
        if prop.qualified_min is not None:
            params["min"] = prop.qualified_min
        if prop.qualified_max is not None:
            params["max"] = prop.qualified_max
        out.append(Constraint(f"{cid}_q", "qualified_shape", params))
    return out


def to_suite(shapes: list[ShaclShape], bindings: dict[str, ShapeBinding]) -> Suite:
    """Bind parsed SHACL shapes onto tables, producing an engine Suite.

    Target resolution, in precedence order: an explicit
    ``ShapeBinding.target_filter`` override; the simple class-pattern
    query (leniently via ``class_column``, None filter when unbound —
    the redundant targetDef.query/targetDef.class JSON case); the
    star-shaped BGP translator :func:`star_target_filter` (which also
    consumes VALUES-seeded star queries, KEEPING their pattern
    conjuncts); a bare ``VALUES`` list extraction for target queries the
    translator cannot parse as a SELECT; ``sh:targetClass`` via
    ``class_column``. A targetQuery none of these can fully translate
    raises — silently validating the full table would be a wrong
    (too-broad) answer for a restrictive query (the reference accepts
    arbitrary SPARQL there; this engine needs the caller to translate
    such a query into a ``target_filter`` over the bound table)."""
    out: list[Shape] = []
    for s in shapes:
        b = bindings[s.name]
        target_filter = b.target_filter
        if target_filter is None:
            qclass = s.query_target_class()
            star = None
            if s.target_query and qclass is None:
                # general star-shaped BGP (VALUES seeds + class + column
                # patterns + FILTERs) → conjunctive row filter; raises with
                # the offending construct for link-reaching or partially-
                # translatable queries. Routed BEFORE the bare-VALUES
                # extraction: a VALUES-seeded star query must keep its
                # triple/FILTER conjuncts, not collapse to the IN list.
                try:
                    star = star_target_filter(s.target_query, b)
                except ValueError as e:
                    raise ValueError(
                        f"shape {s.name!r}: targetQuery is neither a "
                        f"VALUES list nor a translatable star query: {e}"
                    ) from None
            # bare-VALUES fallback only for target queries the star
            # translator could not parse as a SELECT at all; an EMPTY
            # extracted list is unusable (would render 'IN ()') and
            # falls through to the raise
            values = s.target_values() if star is None else None
            if (
                s.target_query
                and qclass is None
                and star is None
                and not values
            ):
                raise ValueError(
                    f"shape {s.name!r}: targetQuery "
                    f"{s.target_query!r} is neither a VALUES list, a "
                    "class pattern, nor a star-shaped BGP; bind an "
                    "explicit target_filter for this shape (or extend "
                    "the binding) — refusing to silently validate the "
                    "full table"
                )
            target_class = s.target_class or qclass
            if star is not None:
                target_filter = star
            elif values:
                ids = ", ".join(f"'{v}'" for v in values)
                target_filter = f"{b.entity_col} IN ({ids})"
            elif target_class and b.class_column:
                target_filter = f"{b.class_column} = '{target_class}'"
        cs: list[Constraint] = []
        for i, prop in enumerate(s.properties):
            cs.extend(_constraints_for(prop, f"{s.name}_p{i}_{prop.path}", b))
        for gi, branches in enumerate(s.or_groups):
            bcs: list[Constraint] = []
            for bi, prop in enumerate(branches):
                got = _constraints_for(
                    prop, f"{s.name}_or{gi}_{bi}_{prop.path}", b
                )
                if len(got) != 1:
                    raise ValueError(
                        "each sh:or branch must map to exactly one "
                        f"constraint, got {len(got)} for {prop!r}"
                    )
                bcs.append(got[0])
            cs.append(
                Constraint(f"{s.name}_or{gi}", "or_group", branches=bcs)
            )
        out.append(
            Shape(
                name=s.name,
                table=b.table,
                entity_col=b.entity_col,
                target_filter=target_filter,
                constraints=cs,
            )
        )
    return Suite(shapes=out)
