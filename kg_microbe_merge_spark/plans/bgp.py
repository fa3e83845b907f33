"""Basic-graph-pattern (SPARQL-subset) queries over a KGX edge table,
compiled to DataFrame joins.

The reference federates SPARQL to external endpoints
(kg_microbe_merge/query.py:9-23 — network service, out of scope here);
this module implements the LOCAL capability those queries exercise:
conjunctive triple patterns with variables, evaluated as a join chain
over the merged edge table.

    bgp_query(edges, [("?c", "owns", "?o"), ("?c", "in", "?n")],
              select=["?o", "?n"])

Compilation: each pattern is a filtered projection of the edge table
(constants become pushdown-able equality filters on the scan; a
variable repeated within one pattern becomes an intra-pattern equality
filter); patterns join pairwise on their shared variables (plain
equi-joins — Catalyst orders/broadcasts them like any other join), and
the final projection keeps the selected variables. Bag semantics (no
implicit DISTINCT), matching SPARQL SELECT. ``OPTIONAL`` groups compile
to left outer joins on the shared variables; ``FILTER`` expressions are
SQL over ``?var`` references, compiled with ``F.expr`` so they stay
JVM-side and pushdown-able.

Scale: a BGP over a 10^12-edge table is exactly a multi-way self-join —
the edge table should be bucketed on subject (plans/materialize.py) so
chained patterns co-locate; constants reach the parquet scan as pushed
filters (verified in the plan test).

PROPERTY PATHS: a predicate term may be a SPARQL path expression —

    grammar   path     := seq ('|' seq)*
              seq      := step ('/' step)*
              step     := '^'? primary ('+' | '*' | '?')?
              primary  := '(' path ')' | IRI

``^`` inverts, ``/`` sequences (one equi-join per step), ``|``
alternates (predicate IN-list when both sides are plain IRIs, union
otherwise), ``+`` is :func:`..operators.closure.transitive_closure`
(path doubling — ⌈log₂ depth⌉ joins, the ClosureConvergenceError
output-size guard applies), ``*``/``?`` add the zero-length identity
over every term of the graph (the W3C zero-length semantics). Path
relations are evaluated with SET semantics throughout — the W3C
non-counting rule for ``+``/``*`` applied uniformly to ``/`` and ``|``
(documented lite deviation: SPARQL counts duplicates for ``/``/``|``);
plain single-IRI patterns keep bag semantics as before. Each atomic
step is still a predicate-constant filter, so it reaches the scan as a
pushed filter.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.closure import transitive_closure
from ..workerenv import local_relation

_POS_COLS = ("subject", "predicate", "object")
_VAR_RE = re.compile(r"\?([A-Za-z_][A-Za-z0-9_]*)")
_PATH_META = set("^/|+*?()")


def _is_var(term: str) -> bool:
    return term.startswith("?")


def _is_path(term: str) -> bool:
    return not _is_var(term) and any(c in _PATH_META for c in term)


class PathSyntaxError(ValueError):
    """Malformed property-path expression."""


def _tokenize_path(expr: str) -> list[str]:
    toks, i = [], 0
    while i < len(expr):
        c = expr[i]
        if c.isspace():
            i += 1
        elif c in _PATH_META:
            toks.append(c)
            i += 1
        else:
            j = i
            while j < len(expr) and expr[j] not in _PATH_META and not expr[j].isspace():
                j += 1
            toks.append(expr[i:j])
            i = j
    return toks


def _parse_path(expr: str):
    """Recursive-descent parse to a nested AST of
    ('alt', [...]) / ('seq', [...]) / ('inv', node) / ('+', node) /
    ('*', node) / ('?', node) / ('iri', name)."""
    toks = _tokenize_path(expr)
    pos = [0]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else None

    def eat(t=None):
        cur = peek()
        if cur is None or (t is not None and cur != t):
            raise PathSyntaxError(f"bad path {expr!r}: expected {t}, got {cur}")
        pos[0] += 1
        return cur

    def primary():
        if peek() == "(":
            eat("(")
            node = alt()
            eat(")")
            return node
        t = eat()
        if t in _PATH_META:
            raise PathSyntaxError(f"bad path {expr!r}: unexpected {t!r}")
        return ("iri", t)

    def step():
        inv = peek() == "^"
        if inv:
            eat("^")
        node = primary()
        if peek() in ("+", "*", "?"):
            node = (eat(), node)
        return ("inv", node) if inv else node

    def seq():
        parts = [step()]
        while peek() == "/":
            eat("/")
            parts.append(step())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def alt():
        parts = [seq()]
        while peek() == "|":
            eat("|")
            parts.append(seq())
        return parts[0] if len(parts) == 1 else ("alt", parts)

    node = alt()
    if peek() is not None:
        raise PathSyntaxError(f"bad path {expr!r}: trailing {peek()!r}")
    return node


def _compile_path(edges: DataFrame, ast) -> DataFrame:
    """Compile a path AST to a distinct (subject, object) relation."""
    kind = ast[0]
    if kind == "iri":
        return (
            edges.filter(F.col("predicate") == ast[1])
            .select("subject", "object")
            .distinct()
        )
    if kind == "alt":
        # all-plain-IRI alternation stays ONE scan with an IN filter
        if all(p[0] == "iri" for p in ast[1]):
            return (
                edges.filter(
                    F.col("predicate").isin(*[p[1] for p in ast[1]])
                )
                .select("subject", "object")
                .distinct()
            )
        out = None
        for p in ast[1]:
            r = _compile_path(edges, p)
            out = r if out is None else out.unionByName(r)
        return out.distinct()
    if kind == "seq":
        out = None
        for p in ast[1]:
            r = _compile_path(edges, p)
            if out is None:
                out = r
            else:
                out = (
                    out.alias("l")
                    .join(r.alias("r"), F.col("l.object") == F.col("r.subject"))
                    .select(
                        F.col("l.subject").alias("subject"),
                        F.col("r.object").alias("object"),
                    )
                    .distinct()
                )
        return out
    if kind == "inv":
        r = _compile_path(edges, ast[1])
        return r.select(
            F.col("object").alias("subject"), F.col("subject").alias("object")
        )
    if kind == "+":
        r = _compile_path(edges, ast[1])
        return transitive_closure(r, "subject", "object").select(
            F.col("src").alias("subject"), F.col("dst").alias("object")
        )
    if kind in ("*", "?"):
        r = _compile_path(edges, ast[1])
        if kind == "*":
            r = transitive_closure(r, "subject", "object").select(
                F.col("src").alias("subject"), F.col("dst").alias("object")
            )
        nodes = (
            edges.select(F.col("subject").alias("n"))
            .unionByName(edges.select(F.col("object").alias("n")))
            .distinct()
        )
        return r.unionByName(
            nodes.select(F.col("n").alias("subject"), F.col("n").alias("object"))
        ).distinct()
    raise PathSyntaxError(f"unknown path node {ast!r}")


def _compile_group(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    var_order: list[str],
) -> DataFrame:
    """Compile one conjunctive pattern group to a DataFrame whose
    columns are internal ``_v_<name>`` variable bindings. Variables are
    carried under internal names so a variable named after a positional
    column (e.g. ``?object``) can never collide with the real edge
    column in the same projection; user-facing names appear only in
    :func:`bgp_query`'s final select. Appends newly bound variables to
    ``var_order`` in first-appearance order."""
    out: DataFrame | None = None
    for s_p_o in patterns:
        if len(s_p_o) != 3:
            raise ValueError(f"pattern must have 3 terms: {s_p_o}")
        if _is_path(s_p_o[1]):
            # property-path pattern: compile the path to a (subject,
            # object) relation and bind only the two endpoint terms
            t = _compile_path(edges, _parse_path(s_p_o[1]))
            pos_terms = list(zip(("subject", "object"), (s_p_o[0], s_p_o[2])))
        else:
            t = edges.select(*_POS_COLS)
            pos_terms = list(zip(_POS_COLS, s_p_o))
        first_pos: dict[str, str] = {}
        proj = []
        for col, term in pos_terms:
            if not _is_var(term):
                t = t.filter(F.col(col) == term)
            elif term in first_pos:
                # same variable twice in one pattern → equality filter
                # on the original positional columns
                t = t.filter(F.col(col) == F.col(first_pos[term]))
            else:
                first_pos[term] = col
                name = term[1:]
                proj.append(F.col(col).alias(f"_v_{name}"))
                if name not in var_order:
                    var_order.append(name)
        t = t.select(*proj)
        if out is None:
            out = t
        else:
            shared = [c for c in t.columns if c in out.columns]
            out = out.join(t, on=shared) if shared else out.crossJoin(t)
    return out


def _compile_filter(expr: str) -> F.Column:
    """A FILTER expression: ANSI-SQL over ``?var`` references
    (e.g. ``"?n != 'N3' AND length(?o) > 2"``) — variables are
    substituted with their internal binding columns and the rest is
    handed to Spark SQL's expression parser (so the predicate stays
    JVM-side and Catalyst can push it into the scans)."""
    return F.expr(_VAR_RE.sub(lambda m: f"_v_{m.group(1)}", expr))


def _solutions(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    filters: list[str] | None = None,
    optional: list[list[tuple[str, str, str]]] | None = None,
    union: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
) -> tuple[DataFrame, list[str]]:
    """Build the solution multiset for a query: compile the mandatory
    patterns, UNION alternatives, OPTIONAL groups, VALUES constraints
    and FILTERs, returning the bindings under internal ``_v_<name>``
    columns plus the first-appearance variable order. Shared by
    ``SELECT`` (:func:`bgp_query`), ``GROUP BY``
    (:func:`bgp_aggregate`), ``CONSTRUCT`` (:func:`bgp_construct`) and
    ``ASK`` (:func:`bgp_ask`) — the W3C algebra layers all of these
    over the same pattern-matching core."""
    if not patterns:
        raise ValueError("at least one triple pattern required")
    var_order: list[str] = []
    out = _compile_group(edges, patterns, var_order)
    if union:
        if len(union) < 2:
            raise ValueError("UNION needs at least two alternative groups")
        u: DataFrame | None = None
        for group in union:
            t = _compile_group(edges, group, var_order)
            u = t if u is None else u.unionByName(
                t, allowMissingColumns=True
            )
        shared = [c for c in u.columns if c in out.columns]
        out = out.join(u, on=shared) if shared else out.crossJoin(u)
    for group in optional or []:
        t = _compile_group(edges, group, var_order)
        shared = [c for c in t.columns if c in out.columns]
        if not shared:
            raise ValueError(
                "OPTIONAL group shares no variable with the mandatory "
                f"patterns: {group}"
            )
        out = out.join(t, on=shared, how="left")
    for var, allowed in (values or {}).items():
        name = var[1:] if var.startswith("?") else var
        if name not in var_order:
            raise ValueError(f"VALUES variable {var!r} is not bound")
        out = out.filter(F.col(f"_v_{name}").isin(*allowed))
    for f in filters or []:
        out = out.filter(_compile_filter(f))
    return out, var_order


def bgp_query(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    select: list[str] | None = None,
    filters: list[str] | None = None,
    optional: list[list[tuple[str, str, str]]] | None = None,
    union: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
    distinct: bool = False,
    order_by: list[str] | None = None,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """Evaluate a basic-graph-pattern query (SPARQL subset).

    ``patterns``: (subject, predicate, object) terms; ``?name`` terms
    are variables, anything else is a constant. ``select``: variables to
    project (default: all, in first-appearance order). ``filters``:
    SQL expressions over ``?var`` references, applied after all pattern
    groups (subset semantics: one top-level FILTER scope). ``optional``:
    pattern groups LEFT-joined on their shared variables — unmatched
    rows keep NULL bindings for variables bound only inside the
    optional group, exactly SPARQL's OPTIONAL. ``union``: ALTERNATIVE
    pattern groups — their solution sets are unioned by variable name
    (bag semantics, variables unbound in a branch become NULL, exactly
    SPARQL's ``{A} UNION {B}``) and the combined set joins the
    mandatory patterns on shared variables. Output columns are the
    variable names without the ``?``.

    Solution modifiers (SPARQL SELECT semantics, applied in the
    standard order VALUES → FILTER → SELECT → DISTINCT → ORDER BY →
    OFFSET/LIMIT):

    * ``values``: ``{"?var": [v1, v2, …]}`` inline bindings — each
      variable's allowed-value list joins in as a broadcast IN-style
      constraint (single-var VALUES clauses; multi-var VALUES rows are
      expressible as a filters entry).
    * ``distinct``: SELECT DISTINCT over the projected variables.
    * ``order_by``: variables, ``"?v"`` ascending or ``"-?v"``
      descending — a global sort (range-partitioned total order; at
      100 TB pair it with ``limit`` so Spark plans the bounded
      TakeOrderedAndProject instead).
    * ``limit`` / ``offset``: OFFSET is applied via the same sorted
      window the reference's LIMIT/OFFSET batching used — requires
      ``order_by`` when nonzero (unordered OFFSET is meaningless in a
      distributed engine, and SPARQL says so too).
    """
    out, var_order = _solutions(
        edges, patterns, filters=filters, optional=optional,
        union=union, values=values,
    )
    sel = [v[1:] if v.startswith("?") else v for v in (select or var_order)]
    out = out.select(*[F.col(f"_v_{v}").alias(v) for v in sel])
    if distinct:
        out = out.distinct()
    if order_by:
        keys = []
        for o in order_by:
            desc = o.startswith("-")
            name = o.lstrip("-")
            name = name[1:] if name.startswith("?") else name
            if name not in sel:
                raise ValueError(
                    f"ORDER BY variable {o!r} is not in the projection"
                )
            keys.append(F.col(name).desc() if desc else F.col(name).asc())
        out = out.orderBy(*keys)
    if offset:
        if not order_by:
            raise ValueError("OFFSET without ORDER BY is nondeterministic")
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


# --------------------------------------------------------------------------
# SPARQL 1.1 aggregation / CONSTRUCT / ASK over the same pattern core
# --------------------------------------------------------------------------

_AGG_RE = re.compile(
    r"^\s*(COUNT|SUM|MIN|MAX|AVG|SAMPLE|GROUP_CONCAT)\s*\(\s*"
    r"(DISTINCT\s+)?(\*|\?[A-Za-z_][A-Za-z0-9_]*)\s*"
    r"(?:;\s*separator\s*=\s*'([^']*)')?\s*\)\s*$",
    re.IGNORECASE,
)


class AggregateSyntaxError(ValueError):
    """Malformed SPARQL aggregate expression."""


def _compile_aggregate(spec: str, alias: str) -> F.Column:
    """Compile one SPARQL aggregate expression string to a Column.

    Supported: ``COUNT(*)``, ``COUNT(?v)``, ``COUNT(DISTINCT ?v)``,
    ``SUM/MIN/MAX/AVG(?v)`` (with optional DISTINCT), ``SAMPLE(?v)``
    and ``GROUP_CONCAT(?v; separator='sep')``. Counts return BIGINT;
    SUM over BIGINT bindings stays BIGINT (cast at the boundary so the
    engine never widens to decimal/double behind the caller's back).

    Deterministic-engine deviations (documented, intentional):
    ``SAMPLE`` — the spec says "any value"; a distributed engine that
    returns an arbitrary partition's value is unreproducible across
    runs, so SAMPLE is pinned to MIN (a legal choice of "any").
    ``GROUP_CONCAT`` — the spec concatenates in an undefined order;
    pinned to the sorted-DISTINCT pipe-join convention the KGX merge
    (A3) already uses, so repeated runs and both engines agree.
    """
    m = _AGG_RE.match(spec)
    if not m:
        raise AggregateSyntaxError(f"bad aggregate {spec!r}")
    fn = m.group(1).upper()
    distinct = bool(m.group(2))
    term = m.group(3)
    sep = m.group(4) if m.group(4) is not None else "|"
    if term == "*":
        if fn != "COUNT":
            raise AggregateSyntaxError(f"{fn}(*) is not SPARQL: {spec!r}")
        if distinct:
            raise AggregateSyntaxError(
                f"COUNT(DISTINCT *) unsupported (project variables): {spec!r}"
            )
        return F.count(F.lit(1)).alias(alias)
    col = F.col(f"_v_{term[1:]}")
    if fn == "COUNT":
        return (F.countDistinct(col) if distinct else F.count(col)).alias(alias)
    if distinct:
        col = F.collect_set(col)
        if fn == "SUM":
            return F.aggregate(
                F.array_sort(col), F.lit(0).cast("bigint"),
                lambda acc, x: acc + x.cast("bigint"),
            ).alias(alias)
        if fn == "AVG":
            return (
                F.aggregate(
                    F.array_sort(col), F.lit(0).cast("double"),
                    lambda acc, x: acc + x.cast("double"),
                ) / F.size(col)
            ).alias(alias)
        if fn in ("MIN", "SAMPLE"):
            return F.array_min(col).alias(alias)
        if fn == "MAX":
            return F.array_max(col).alias(alias)
        if fn == "GROUP_CONCAT":
            return F.array_join(F.array_sort(col), sep).alias(alias)
    if fn == "SUM":
        # cast explicitly so DISTINCT and non-DISTINCT SUM agree on the
        # output type (BIGINT) — the implicit string→double cast would
        # otherwise make adding/removing DISTINCT change the column type
        return F.sum(col.cast("bigint")).alias(alias)
    if fn == "AVG":
        return F.avg(col.cast("double")).alias(alias)
    if fn in ("MIN", "SAMPLE"):
        return F.min(col).alias(alias)
    if fn == "MAX":
        return F.max(col).alias(alias)
    # GROUP_CONCAT without DISTINCT: still sorted for determinism, but
    # keeps duplicates (bag), matching SPARQL cardinality
    return F.array_join(F.array_sort(F.collect_list(col)), sep).alias(alias)


def bgp_aggregate(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    group_by: list[str],
    aggregates: dict[str, str],
    having: list[str] | None = None,
    filters: list[str] | None = None,
    optional: list[list[tuple[str, str, str]]] | None = None,
    union: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
    order_by: list[str] | None = None,
    limit: int | None = None,
) -> DataFrame:
    """SPARQL ``GROUP BY`` + aggregates + ``HAVING`` (SPARQL 1.1 §11)
    over the BGP solution multiset.

    ``group_by``: ``?var`` grouping keys (output columns keep the bare
    name). ``aggregates``: ``{alias: "COUNT(DISTINCT ?o)", ...}`` —
    see :func:`_compile_aggregate` for the supported forms.
    ``having``: SQL expressions over the OUTPUT columns (group keys and
    aggregate aliases), applied after aggregation — SPARQL's HAVING
    scope. ``order_by``/``limit`` follow :func:`bgp_query` semantics
    (``"?v"`` asc / ``"-?v"`` desc over output columns).

    Scale: this is one hash aggregation over the join chain — Spark
    runs it partial (map-side) + final, so a grouped query over a
    10^12-edge BGP shuffles only per-group partial states. Hub group
    keys are the same skew story as the A3 merge: route through
    ``operators/skew.py`` diagnostics and salt if a key is measured
    heavy.
    """
    if not group_by:
        raise ValueError("GROUP BY needs at least one variable")
    if not aggregates:
        raise ValueError("at least one aggregate expression required")
    out, var_order = _solutions(
        edges, patterns, filters=filters, optional=optional,
        union=union, values=values,
    )
    keys = [v[1:] if v.startswith("?") else v for v in group_by]
    for k in keys:
        if k not in var_order:
            raise ValueError(f"GROUP BY variable ?{k} is not bound")
    aggs = [_compile_aggregate(spec, alias)
            for alias, spec in aggregates.items()]
    out = out.groupBy(
        *[F.col(f"_v_{k}").alias(k) for k in keys]
    ).agg(*aggs)
    for h in having or []:
        out = out.filter(F.expr(h))
    if order_by:
        cols = []
        for o in order_by:
            desc = o.startswith("-")
            name = o.lstrip("-")
            name = name[1:] if name.startswith("?") else name
            if name not in out.columns:
                raise ValueError(f"ORDER BY {o!r} is not in the output")
            cols.append(F.col(name).desc() if desc else F.col(name).asc())
        out = out.orderBy(*cols)
    if limit is not None:
        out = out.limit(limit)
    return out


def bgp_construct(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    template: list[tuple[str, str, str]],
    filters: list[str] | None = None,
    optional: list[list[tuple[str, str, str]]] | None = None,
    union: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: instantiate a triple template per solution
    and return the resulting graph as a ``(subject, predicate,
    object)`` DataFrame.

    W3C semantics implemented exactly: the output is an RDF *graph*
    (set — one distinct pass over the instantiated triples), and a
    template triple containing an unbound (NULL) variable for some
    solution is silently skipped for that solution (SPARQL 1.1 §16.2
    — the OPTIONAL-produced-NULL case).

    The template fans each solution row into ``len(template)`` triples
    row-locally (no join, no Python); the only exchange is the final
    distinct on the 3-column output — at 10^12 scale that is the same
    dedup the KGX edges merge (A4) already pays, and the result feeds
    straight into ``operators/merge.edges_merge`` / the entailment
    family as a normal edge table.
    """
    if not template:
        raise ValueError("CONSTRUCT needs at least one template triple")
    out, var_order = _solutions(
        edges, patterns, filters=filters, optional=optional,
        union=union, values=values,
    )

    def term_col(term: str) -> F.Column:
        if _is_var(term):
            name = term[1:]
            if name not in var_order:
                raise ValueError(
                    f"CONSTRUCT template variable {term!r} is not bound"
                )
            return F.col(f"_v_{name}")
        return F.lit(term)

    triples = F.array(*[
        F.struct(
            term_col(s).alias("subject"),
            term_col(p).alias("predicate"),
            term_col(o).alias("object"),
        )
        for s, p, o in template
    ])
    return (
        out.select(F.explode(triples).alias("t"))
        .select("t.subject", "t.predicate", "t.object")
        .filter(
            F.col("subject").isNotNull()
            & F.col("predicate").isNotNull()
            & F.col("object").isNotNull()
        )
        .distinct()
    )


def bgp_ask(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    filters: list[str] | None = None,
    optional: list[list[tuple[str, str, str]]] | None = None,
    union: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
) -> bool:
    """SPARQL ``ASK``: does at least one solution exist? Evaluated as
    ``limit(1)`` over the solution plan — Spark's LocalLimit
    short-circuits each task at its first row, so an ASK against a
    10^12-edge graph stops as soon as any partition produces a match
    rather than materializing the full join."""
    out, _ = _solutions(
        edges, patterns, filters=filters, optional=optional,
        union=union, values=values,
    )
    return len(out.limit(1).collect()) > 0


def bgp_describe(
    edges: DataFrame,
    patterns: list[tuple[str, str, str]],
    describe: list[str],
    filters: list[str] | None = None,
    optional: list[list[tuple[str, str, str]]] | None = None,
    union: list[list[tuple[str, str, str]]] | None = None,
    values: dict[str, list] | None = None,
) -> DataFrame:
    """SPARQL ``DESCRIBE``: the subgraph incident to the resources a
    variable (or constant IRI) binds to — every triple whose subject
    OR object is a described resource, as a distinct ``(subject,
    predicate, object)`` graph (the W3C leaves DESCRIBE's form to the
    implementation; this engine uses the common "all incident
    triples" form).

    ``describe`` entries are ``?var`` names (resolved against the
    solution multiset) or plain IRIs (described directly, no patterns
    consulted — SPARQL allows ``DESCRIBE <iri>`` with no WHERE).

    Scale: the resource set distills to a distinct id relation
    (dictionary-sized next to the graph) and the incident-triple
    fetch is two semi joins on the subject/object keys — the edge
    scan stays pushed-filter/bucket-join friendly, nothing quadratic.
    """
    if not describe:
        raise ValueError("DESCRIBE needs at least one term")
    vars_, iris = [], []
    for term in describe:
        (vars_ if _is_var(term) else iris).append(term)
    res: DataFrame | None = None
    if vars_:
        out, var_order = _solutions(
            edges, patterns, filters=filters, optional=optional,
            union=union, values=values,
        )
        for v in vars_:
            name = v[1:]
            if name not in var_order:
                raise ValueError(f"DESCRIBE variable {v!r} is not bound")
            t = out.select(F.col(f"_v_{name}").alias("r"))
            res = t if res is None else res.unionByName(t)
    if iris:
        spark = edges.sparkSession
        t = local_relation(spark, [(i,) for i in iris], "r string")
        res = t if res is None else res.unionByName(t)
    res = res.filter(F.col("r").isNotNull()).distinct()
    subj = edges.join(
        res.select(F.col("r").alias("subject")), "subject", "left_semi"
    )
    obj = edges.join(
        res.select(F.col("r").alias("object")), "object", "left_semi"
    )
    return (
        subj.unionByName(obj)
        .select("subject", "predicate", "object")
        .distinct()
    )
