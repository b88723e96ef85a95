"""Differential fuzzing: the Spark SPARQL executor vs an independent
naive evaluator (``tests/naive_sparql.py``) on random graphs × random
queries.

Round-5 extension of VERDICT r4 ask #6 (property-based hardening) from
the parsers to EXECUTION: hypothesis draws a random small graph and a
random SELECT query over the algebra core — BGP joins, OPTIONAL
(left-join), UNION, MINUS (§18.5 domain-overlap semantics), VALUES
with UNDEF cells, FILTER (NOT) EXISTS (§18.6 substitution, incl.
unbound-shared-variable wildcards on either side), BIND/Extend (error → unbound),
subselects (projection scoping × DISTINCT multisets), nested groups,
three-valued FILTER logic (BOUND / sameTerm / RDFterm-equal /
isIRI-isLiteral-isBlank / numeric and string comparison, combined with
&& || !), projection subsets, DISTINCT, GROUP BY +
COUNT(*/var/DISTINCT var), and property paths (also inside GRAPH ?var,
where every step stays in one graph) — renders it to SPARQL
text, runs it through the full parse + Catalyst pipeline, and compares
the result multiset against the naive evaluator's, shrinking any
counterexample.  (The update surface has its own differential:
test_fuzz_sparql_updates_differential.py.)

The two implementations share no code: the naive side never sees the
query string and implements the algebra directly from the spec
(SPARQL 1.1 §18.2 translation, §17.2 filter semantics).
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests.naive_sparql import (
    XSD_INTEGER,
    eval_group,
    eval_select,
    group_vars,
)

# --- vocabulary -------------------------------------------------------------

VARS = [("var", n) for n in "abcd"]
S_IRIS = [("iri", f"http://ex/s{i}") for i in range(4)]
S_BNODES = [("bnode", f"b{i}") for i in range(2)]
P_IRIS = [("iri", f"http://ex/p{i}") for i in range(3)]
O_LITS = [
    ("literal", "a", None, None),
    ("literal", "b", None, None),
    ("literal", "a", "en", None),
    ("literal", "1", None, XSD_INTEGER),
    ("literal", "2", None, XSD_INTEGER),
    ("literal", "3", None, XSD_INTEGER),
]
O_TERMS = S_IRIS + S_BNODES + O_LITS

# an RDF graph is a SET of triples — dedup at draw time so both sides
# see set semantics (the naive evaluator is multiset over its input,
# and a duplicated triple would double pattern-match multiplicities)
triples_st = st.lists(
    st.tuples(
        st.sampled_from(S_IRIS + S_BNODES),
        st.sampled_from(P_IRIS),
        st.sampled_from(O_TERMS),
    ),
    min_size=1,
    max_size=12,
    unique=True,
)

# dataset with named graphs: (s, p, o, g) where g=None → default graph
G_IRIS = [("iri", "http://ex/g0"), ("iri", "http://ex/g1")]
quads_st = st.lists(
    st.tuples(
        st.sampled_from(S_IRIS + S_BNODES),
        st.sampled_from(P_IRIS),
        st.sampled_from(O_TERMS),
        st.sampled_from([None] + G_IRIS),
    ),
    min_size=1,
    max_size=12,
    unique=True,
)


def split_dataset(quads):
    """(default_triples, {"named": {g: triples}}) from 4-tuple quads."""
    default = [q[:3] for q in quads if q[3] is None]
    named: dict = {}
    for q in quads:
        if q[3] is not None:
            named.setdefault(q[3], []).append(q[:3])
    return default, {"named": named}

# pattern slots: blank-node constants are unrenderable in SPARQL (a
# bnode in a query is a fresh variable), so constants are IRIs/literals
s_slot = st.sampled_from(VARS + S_IRIS)
p_slot = st.sampled_from(VARS + P_IRIS)
o_slot = st.sampled_from(VARS + S_IRIS + O_LITS)
pattern_el = st.builds(
    lambda s, p, o: ("pattern", (s, p, o)), s_slot, p_slot, o_slot
)

# --- filter expressions -----------------------------------------------------

operand = st.sampled_from(VARS + S_IRIS + O_LITS)
var_operand = st.sampled_from(VARS)

atom_expr = st.one_of(
    st.builds(lambda v: ("bound", v), var_operand),
    st.builds(lambda a, b: ("sameterm", a, b), var_operand, operand),
    st.builds(lambda a, b: ("eq", a, b), var_operand, operand),
    st.builds(lambda v: ("isiri", v), var_operand),
    st.builds(lambda v: ("isliteral", v), var_operand),
    st.builds(lambda v: ("isblank", v), var_operand),
    st.builds(
        lambda op, a, b: (op, a, b),
        st.sampled_from(["lt", "gt"]),
        var_operand,
        st.sampled_from(
            VARS
            + [("literal", str(i), None, XSD_INTEGER) for i in (1, 2, 3)]
            # plain-string comparands: exercise fn:compare string
            # ordering AND the mixed-type → type-error arm
            + [("literal", "a", None, None), ("literal", "b", None, None)]
        ),
    ),
)
expr_st = st.recursive(
    atom_expr,
    lambda inner: st.one_of(
        st.builds(lambda a, b: ("and", a, b), inner, inner),
        st.builds(lambda a, b: ("or", a, b), inner, inner),
        st.builds(lambda a: ("not", a), inner),
    ),
    max_leaves=4,
)
filter_el = st.builds(lambda e: ("filter", e), expr_st)


values_cell = st.one_of(st.none(), st.sampled_from(S_IRIS + O_LITS))


@st.composite
def values_element(draw):
    vs = draw(st.lists(st.sampled_from(list("abcd")), min_size=1,
                       max_size=2, unique=True))
    rows = draw(st.lists(
        st.tuples(*[values_cell for _ in vs]), min_size=1, max_size=3))
    return ("values", vs, rows)


# FILTER (NOT) EXISTS — inner groups restricted to plain patterns and
# UNIONs of them, where §18.6 substitution == seeded evaluation (no
# inner filters that could see outer bindings differently, no MINUS
# substitution wart); unbound shared vars — outer ones via OPTIONAL
# upstream, inner ones via a UNION arm that never mentions the var —
# exercise the NULL-is-wildcard semi/anti-join split in the executor
pattern_list = st.lists(pattern_el, min_size=1, max_size=2)
exists_el = st.builds(
    lambda pats, neg: ("filter", ("exists", pats, neg)),
    st.lists(
        st.one_of(pattern_el, st.builds(
            lambda a, b: ("union", a, b), pattern_list, pattern_list)),
        min_size=1, max_size=2,
    ),
    st.booleans(),
)


# BIND (Extend): targets e/f are disjoint from pattern vars a–d, so a
# later pattern/VALUES use never shadows; `dedup_binds` enforces the
# one-assignment in-scope rule the grammar would otherwise violate
bind_el = st.builds(
    lambda expr, var: ("bind", expr, var),
    st.one_of(var_operand, st.sampled_from(S_IRIS + O_LITS), expr_st),
    st.sampled_from(list("ef")),
)


def dedup_binds(elements, seen):
    """Drop any BIND whose target was already bound by an earlier BIND
    anywhere in tree order (SPARQL's in-scope restriction)."""
    out = []
    for el in elements:
        if el[0] == "bind":
            if el[2] in seen:
                continue
            seen.add(el[2])
            out.append(el)
        elif el[0] == "optional":
            out.append(("optional", dedup_binds(el[1], seen)) )
        elif el[0] == "minus":
            out.append(("minus", dedup_binds(el[1], seen)))
        elif el[0] == "union":
            out.append(("union", dedup_binds(el[1], seen),
                        dedup_binds(el[2], seen)))
        else:
            out.append(el)
    return out


# subselect: { SELECT [DISTINCT] vars { patterns [filter] } } — inner
# group evaluates bottom-up (blind to outer bindings), projection hides
# the rest, DISTINCT dedups the PROJECTED multiset before the outer join
@st.composite
def subselect_element(draw):
    inner = draw(st.lists(pattern_el, min_size=1, max_size=2))
    if draw(st.booleans()):
        inner = inner + [draw(filter_el)]
    from tests.naive_sparql import group_vars as _gv
    gv = sorted(_gv(inner))
    if not gv:
        inner = inner + [draw(pattern_el.filter(
            lambda el: any(s[0] == "var" for s in el[1])))]
        gv = sorted(_gv(inner))
    proj = draw(st.lists(st.sampled_from(gv), min_size=1,
                         max_size=min(2, len(gv)), unique=True))
    return ("subselect", proj, inner, draw(st.booleans()))


def group_st(depth: int):
    els = [pattern_el, filter_el, values_element(), exists_el, bind_el,
           subselect_element()]
    if depth > 0:
        sub = group_st(depth - 1)
        els.append(st.builds(lambda g: ("optional", g), sub))
        els.append(st.builds(lambda a, b: ("union", a, b), sub, sub))
        els.append(st.builds(lambda g: ("minus", g), sub))
    return st.lists(st.one_of(*els), min_size=1, max_size=4)


@st.composite
def select_case(draw):
    data = draw(triples_st)
    els = dedup_binds(draw(group_st(2)), set())
    gv = sorted(group_vars(els))
    if not gv:
        els = els + [draw(pattern_el.filter(
            lambda el: any(s[0] == "var" for s in el[1])))]
        gv = sorted(group_vars(els))
    proj = draw(
        st.lists(st.sampled_from(gv), min_size=1, max_size=len(gv),
                 unique=True)
    )
    distinct = draw(st.booleans())
    return data, els, proj, distinct


# --- rendering --------------------------------------------------------------

def sparql_token(term) -> str:
    kind = term[0]
    if kind == "var":
        return f"?{term[1]}"
    if kind == "iri":
        return f"<{term[1]}>"
    assert kind == "literal", term
    _, v, lang, dt = term
    if lang:
        return f'"{v}"@{lang}'
    if dt:
        return f'"{v}"^^<{dt}>'
    return f'"{v}"'


def render_expr(expr) -> str:
    op = expr[0]
    if op == "exists":
        kw = "NOT EXISTS" if expr[2] else "EXISTS"
        return f"{kw} {{ {render_group(expr[1])} }}"
    if op == "and":
        return f"({render_expr(expr[1])} && {render_expr(expr[2])})"
    if op == "or":
        return f"({render_expr(expr[1])} || {render_expr(expr[2])})"
    if op == "not":
        return f"(! {render_expr(expr[1])})"
    if op == "bound":
        return f"BOUND({sparql_token(expr[1])})"
    if op == "sameterm":
        return f"sameTerm({sparql_token(expr[1])}, {sparql_token(expr[2])})"
    if op == "eq":
        return f"({sparql_token(expr[1])} = {sparql_token(expr[2])})"
    if op in ("isiri", "isliteral", "isblank"):
        fn = {"isiri": "isIRI", "isliteral": "isLiteral",
              "isblank": "isBlank"}[op]
        return f"{fn}({sparql_token(expr[1])})"
    if op in ("lt", "gt"):
        sym = "<" if op == "lt" else ">"
        return f"({sparql_token(expr[1])} {sym} {sparql_token(expr[2])})"
    raise AssertionError(expr)


def render_group(elements) -> str:
    parts = []
    for el in elements:
        if el[0] == "pattern":
            parts.append(" ".join(sparql_token(t) for t in el[1]) + " .")
        elif el[0] == "pathpattern":
            _, s_slot, pth, o_slot = el
            parts.append(f"{sparql_token(s_slot)} {sparql_path(pth)} "
                         f"{sparql_token(o_slot)} .")
        elif el[0] == "optional":
            parts.append("OPTIONAL { " + render_group(el[1]) + " }")
        elif el[0] == "union":
            parts.append(
                "{ " + render_group(el[1]) + " } UNION { "
                + render_group(el[2]) + " }"
            )
        elif el[0] == "minus":
            parts.append("MINUS { " + render_group(el[1]) + " }")
        elif el[0] == "bind":
            _, expr, var = el
            inner = (sparql_token(expr) if isinstance(expr, tuple)
                     and expr[0] in ("var", "iri", "literal")
                     else render_expr(expr))
            parts.append(f"BIND({inner} AS ?{var})")
        elif el[0] == "subselect":
            _, proj, inner, distinct = el
            head = ("DISTINCT " if distinct else "") + " ".join(
                f"?{v}" for v in proj)
            parts.append(
                "{ SELECT " + head + " WHERE { " + render_group(inner)
                + " } }"
            )
        elif el[0] == "graph":
            parts.append(
                "GRAPH " + sparql_token(el[1]) + " { "
                + render_group(el[2]) + " }"
            )
        elif el[0] == "values":
            rows = " ".join(
                "(" + " ".join(
                    "UNDEF" if c is None else sparql_token(c) for c in row
                ) + ")"
                for row in el[2]
            )
            head = " ".join(f"?{v}" for v in el[1])
            parts.append(f"VALUES ({head}) {{ {rows} }}")
        elif el[0] == "filter":
            parts.append(f"FILTER {render_expr(el[1])}")
    return " ".join(parts)


# --- spark side -------------------------------------------------------------

TRIPLE_COLS = (
    "doc_id string, s_kind string, s string, p_kind string, p string, "
    "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
    "g string, s_off int, p_off int, o_off int"
)


def to_df(spark, data):
    rows = []
    for t in data:
        s, p, o = t[0], t[1], t[2]
        g = t[3] if len(t) > 3 else None
        rows.append(
            ("doc", s[0], s[1], "iri", p[1], o[0], o[1],
             o[2] if o[0] == "literal" else None,
             o[3] if o[0] == "literal" else None,
             "iri" if g is not None else None,
             g[1] if g is not None else None,
             None, None, None)
        )
    # single-partition + eager cache: a generated query scans this table
    # once per triple pattern (and a CartesianProduct plan re-computes
    # the right side per left partition) — without the cache every one
    # of those re-scans round-trips through Python workers to rebuild
    # the RDD-backed local relation, which turned one pathological
    # nested-UNION example into a 13-minute stall
    df = spark.createDataFrame(rows, TRIPLE_COLS).coalesce(1).cache()
    df.count()
    return df


def struct_to_term(cell):
    if cell is None:
        return None
    d = cell.asDict()
    if d["kind"] == "literal":
        return ("literal", d["v"], d["lang"] or None, d["dt"] or None)
    return (d["kind"], d["v"])


def run_executor(spark, data, query, project):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    if os.environ.get("FUZZ_ECHO"):
        print(f"FUZZ: {query!r} data={len(data)}", flush=True)
    out = execute(query, to_df(spark, data), simplify=False).collect()
    return sorted(
        (tuple(struct_to_term(r[v]) for v in project) for r in out),
        key=repr,
    )


# --- the differential -------------------------------------------------------

# pinned counterexamples (the hypothesis DB is not kept)
_EX_S0, _EX_S1 = S_IRIS[:2]
_EX_P0, _EX_P1, _EX_P2 = P_IRIS


def _exists_union_arm_case(neg: bool):
    """`?a <p0> ?b FILTER [NOT] EXISTS { { ?a <p1> ?c } UNION { ?d <p2>
    ?c } }`: the second arm leaves the shared ?a unbound, so it matches
    every outer row — an equi semi-join on ?a dropped its NULL key."""
    els = [
        ("pattern", (("var", "a"), _EX_P0, ("var", "b"))),
        ("filter", ("exists", [("union",
                                [("pattern", (("var", "a"), _EX_P1, ("var", "c")))],
                                [("pattern", (("var", "d"), _EX_P2, ("var", "c")))])],
                    neg)),
    ]
    data = [(_EX_S0, _EX_P0, _EX_S1), (_EX_S1, _EX_P2, O_LITS[0])]
    return data, els, ["a", "b"], False


def _union_retyped_case():
    """`{} UNION { {} UNION { VALUES (?a) {} } { <s2> ?a ?b } UNION {} }
    OPTIONAL { VALUES (?a) {} }`: the UNION mixes a VALUES term (NOT
    NULL struct fields) with a scanned one (nullable fields); once the
    optimizer pruned the empty VALUES input the union's output changed
    type and Spark failed an internal assertion on the anti-join of the
    OPTIONAL."""
    els = [
        ("union", [],
         [("union", [], [("values", ["a"], [])]),
          ("union", [("pattern", (S_IRIS[2], ("var", "a"), ("var", "b")))],
           [])]),
        ("optional", [("values", ["a"], [])]),
    ]
    data = [(S_IRIS[2], _EX_P0, _EX_S1), (_EX_S1, _EX_P1, O_LITS[2])]
    return data, els, ["a", "b", "d"], False


@given(select_case())
@example(_exists_union_arm_case(neg=False))
@example(_exists_union_arm_case(neg=True))
@example(_union_retyped_case())
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_select_core_matches_naive(spark, case):
    data, els, proj, distinct = case
    query = (
        "SELECT " + ("DISTINCT " if distinct else "")
        + " ".join(f"?{v}" for v in proj)
        + " WHERE { " + render_group(els) + " }"
    )
    expected = eval_select(els, data, proj, distinct)
    actual = run_executor(spark, data, query, proj)
    assert actual == expected, query


@st.composite
def agg_case(draw):
    data = draw(triples_st)
    els = draw(st.lists(pattern_el, min_size=1, max_size=3))
    gv = sorted(group_vars(els))
    if not gv:
        els = els + [draw(pattern_el.filter(
            lambda el: any(s[0] == "var" for s in el[1])))]
        gv = sorted(group_vars(els))
    key = draw(st.sampled_from(gv))
    mode = draw(st.sampled_from(["star", "var", "distinct"]))
    cv = draw(st.sampled_from(gv)) if mode != "star" else None
    return data, els, key, mode, cv


@given(agg_case())
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_group_count_matches_naive(spark, case):
    data, els, key, mode, cv = case
    inner = {"star": "*", "var": f"?{cv}", "distinct": f"DISTINCT ?{cv}"}[mode]
    query = (
        f"SELECT ?{key} (COUNT({inner}) AS ?cnt) WHERE {{ "
        + render_group(els) + f" }} GROUP BY ?{key}"
    )
    sols = eval_group(els, data)
    groups: dict = {}
    for s in sols:
        groups.setdefault(s.get(key), []).append(s)
    expected = []
    for k, rows in groups.items():
        if mode == "star":
            n = len(rows)
        elif mode == "var":
            n = sum(1 for s in rows if s.get(cv) is not None)
        else:
            n = len({repr(s[cv]) for s in rows if s.get(cv) is not None})
        expected.append((k, n))
    expected.sort(key=repr)

    from mentor_rdf_parsers_spark.sparql.executor import execute

    out = execute(query, to_df(spark, data), simplify=False).collect()
    actual = sorted(
        ((struct_to_term(r[key]),
          int(r["cnt"]["v"] if hasattr(r["cnt"], "asDict") else r["cnt"]))
         for r in out),
        key=repr,
    )
    assert actual == expected, query


# --- named graphs ------------------------------------------------------------

# GRAPH g { … }: constant IRI selects one named graph; a variable ranges
# over the named graphs, binding (or CONSTRAINING, when the inner group
# also binds it — hence ?a as a graph slot) the graph name. Inner groups
# reuse the full grammar, so subselects/EXISTS/BIND inherit the context,
# plus property paths, whose every step must stay inside one graph.
graph_slot = st.sampled_from([("var", "a"), ("var", "g")] + G_IRIS)


def graph_group_st(depth: int):
    path_el = st.builds(lambda s, p, o: ("pathpattern", s, p, o),
                        s_slot, path_st(1), o_slot)
    inner = st.tuples(group_st(depth), st.lists(path_el, max_size=1)).map(
        lambda t: t[0] + t[1])
    graph_el_st = st.builds(
        lambda gs, g: ("graph", gs, g), graph_slot, inner)
    return st.lists(
        st.one_of(pattern_el, filter_el, path_el, graph_el_st),
        min_size=1, max_size=3,
    )


@st.composite
def graph_case(draw):
    quads = draw(quads_st)
    els = dedup_binds(draw(graph_group_st(1)), set())
    gv = sorted(group_vars(els))
    if not gv:
        els = els + [draw(pattern_el.filter(
            lambda el: any(s[0] == "var" for s in el[1])))]
        gv = sorted(group_vars(els))
    proj = draw(st.lists(st.sampled_from(gv), min_size=1,
                         max_size=len(gv), unique=True))
    return quads, els, proj


_G0, _G1 = G_IRIS


@given(graph_case())
# GRAPH ?a { FILTER EXISTS { ?a ?b ?a } }: the EXISTS holds per graph
# (only g0 has an s = o triple); a global probe answered for both
@example(([(_EX_S0, _EX_P0, _EX_S0, _G0), (_EX_S1, _EX_P0, _EX_S0, _G1)],
          [("graph", ("var", "a"), [("filter", ("exists", [
              ("pattern", (("var", "a"), ("var", "b"), ("var", "a")))], False))])],
          ["a"]))
# GRAPH ?g { ?a <p0>/<p1> ?c }: the two steps lie in different graphs
@example(([(_EX_S0, _EX_P0, _EX_S1, _G0), (_EX_S1, _EX_P1, S_IRIS[2], _G1)],
          [("graph", ("var", "g"), [("pathpattern", ("var", "a"),
                                     ("seq", _EX_P0, _EX_P1), ("var", "c"))])],
          ["a", "c", "g"]))
# GRAPH ?g { ?a ^<p0> ?c }: the edge is in g0 only
@example(([(_EX_S0, _EX_P0, _EX_S1, _G0), (S_IRIS[2], _EX_P1, S_IRIS[3], _G1)],
          [("graph", ("var", "g"), [("pathpattern", ("var", "a"),
                                     ("inv", _EX_P0), ("var", "c"))])],
          ["a", "c", "g"]))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_graph_matches_naive(spark, case):
    quads, els, proj = case
    default, dataset = split_dataset(quads)
    expected = eval_select(els, default, proj, dataset=dataset)
    query = (
        "SELECT " + " ".join(f"?{v}" for v in proj)
        + " WHERE { " + render_group(els) + " }"
    )
    actual = run_executor(spark, quads, query, proj)
    assert actual == expected, query


# --- property paths ----------------------------------------------------------

path_atom = st.sampled_from(P_IRIS)


def path_st(depth: int):
    if depth == 0:
        return path_atom
    sub = path_st(depth - 1)
    return st.one_of(
        path_atom,
        st.builds(lambda a: ("inv", a), sub),
        st.builds(lambda a, b: ("seq", a, b), sub, sub),
        st.builds(lambda a, b: ("alt", a, b), sub, sub),
        st.builds(lambda a, m: ("mod", a, m), sub,
                  st.sampled_from(["?", "*", "+"])),
        st.builds(lambda ps: ("negset", ps),
                  st.lists(st.sampled_from(P_IRIS), min_size=1, max_size=2,
                           unique=True)),
    )


def sparql_path(p) -> str:
    if p[0] == "iri":
        return f"<{p[1]}>"
    if p[0] == "inv":
        return f"^({sparql_path(p[1])})"
    if p[0] == "seq":
        return f"({sparql_path(p[1])} / {sparql_path(p[2])})"
    if p[0] == "alt":
        return f"({sparql_path(p[1])} | {sparql_path(p[2])})"
    if p[0] == "mod":
        return f"({sparql_path(p[1])}){p[2]}"
    if p[0] == "negset":
        return "!(" + " | ".join(f"<{i[1]}>" for i in p[1]) + ")"
    raise AssertionError(p)


@st.composite
def path_case(draw):
    data = draw(triples_st)
    pth = draw(path_st(2))
    s_slot = draw(st.sampled_from(VARS[:2] + S_IRIS))
    o_slot = draw(st.sampled_from(VARS[:2] + S_IRIS + O_LITS))
    if s_slot[0] != "var" and o_slot[0] != "var":
        s_slot = ("var", "a")
    proj = sorted({t[1] for t in (s_slot, o_slot) if t[0] == "var"})
    return data, s_slot, pth, o_slot, proj


@given(path_case())
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_path_matches_naive(spark, case):
    data, s_slot, pth, o_slot, proj = case
    from tests.naive_sparql import eval_select

    els = [("pathpattern", s_slot, pth, o_slot)]
    expected = eval_select(els, data, proj)
    query = (
        "SELECT " + " ".join(f"?{v}" for v in proj)
        + " WHERE { " + sparql_token(s_slot) + " " + sparql_path(pth)
        + " " + sparql_token(o_slot) + " . }"
    )
    actual = run_executor(spark, data, query, proj)
    assert actual == expected, query


# --- ASK + solution modifiers ------------------------------------------------

@given(select_case())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_ask_matches_naive(spark, case):
    """ASK over the full SELECT grammar: true iff the group has ≥1
    solution."""
    data, els, _proj, _distinct = case
    from mentor_rdf_parsers_spark.sparql.executor import execute

    expected = len(eval_group(els, data)) > 0
    query = "ASK { " + render_group(els) + " }"
    out = execute(query, to_df(spark, data), simplify=False).collect()
    assert len(out) == 1
    actual = out[0][0]
    assert actual == expected, query


@st.composite
def limit_case(draw):
    data, els, proj, _ = draw(select_case())
    return data, els, proj, draw(st.integers(0, 6)), draw(st.integers(0, 4))


@given(limit_case())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_limit_offset_count_and_containment(spark, case):
    """Without ORDER BY the slice is engine-chosen, but its SIZE is
    fully determined — count = max(0, min(limit, total - offset)) — and
    every returned row must occur in the full multiset with at least
    its returned multiplicity."""
    from collections import Counter

    data, els, proj, limit, offset = case
    full = eval_select(els, data, proj)
    query = (
        "SELECT " + " ".join(f"?{v}" for v in proj)
        + " WHERE { " + render_group(els) + " }"
        + f" OFFSET {offset} LIMIT {limit}"
    )
    actual = run_executor(spark, data, query, proj)
    expected_n = max(0, min(limit, len(full) - offset))
    assert len(actual) == expected_n, query
    have, want = Counter(map(repr, actual)), Counter(map(repr, full))
    assert all(have[k] <= want[k] for k in have), query


# --- numeric aggregates ------------------------------------------------------

INT_LITS = [("literal", str(i), None, XSD_INTEGER) for i in (1, 2, 3, 5)]

# data where predicate p2's objects are ALWAYS integers, so an
# aggregate over (?k, p2, ?v) never sees a non-numeric input (mixed-
# type aggregation is engine-defined; all-numeric is spec-determined)
num_triples_st = st.lists(
    st.tuples(
        st.sampled_from(S_IRIS),
        st.just(P_IRIS[2]),
        st.sampled_from(INT_LITS),
    ),
    min_size=1,
    max_size=10,
    unique=True,
)


@st.composite
def num_agg_case(draw):
    data = draw(num_triples_st)
    fn = draw(st.sampled_from(["SUM", "MIN", "MAX", "AVG"]))
    return data, fn


@given(num_agg_case())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_numeric_agg_matches_naive(spark, case):
    """Per-key SUM/MIN/MAX/AVG over guaranteed-numeric groups, compared
    numerically (the engine's string rendering of the number is its
    own; the VALUE is spec-determined)."""
    data, fn = case
    from mentor_rdf_parsers_spark.sparql.executor import execute

    pred = P_IRIS[2][1]
    query = (
        f"SELECT ?a ({fn}(?v) AS ?x) WHERE {{ ?a <{pred}> ?v . }} "
        "GROUP BY ?a"
    )
    groups: dict = {}
    for (s, _p, o) in data:
        groups.setdefault(s, []).append(int(o[1]))
    expected = {}
    for k, vals in groups.items():
        expected[k] = {
            "SUM": sum(vals), "MIN": min(vals), "MAX": max(vals),
            "AVG": sum(vals) / len(vals),
        }[fn]
    out = execute(query, to_df(spark, data), simplify=False).collect()
    actual = {}
    for r in out:
        k = struct_to_term(r["a"])
        x = r["x"]
        actual[k] = float(x["v"] if hasattr(x, "asDict") else x)
    assert set(actual) == set(expected), query
    for k in expected:
        assert actual[k] == float(expected[k]), (query, k)


# --- CONSTRUCT ---------------------------------------------------------------

template_t = st.tuples(
    st.sampled_from(VARS + S_IRIS),
    st.sampled_from(VARS + P_IRIS),
    st.sampled_from(VARS + S_IRIS + O_LITS),
)


@st.composite
def construct_case(draw):
    data, els, _proj, _distinct = draw(select_case())
    template = draw(st.lists(template_t, min_size=1, max_size=2))
    return data, els, template


def naive_construct(template, sols) -> set:
    """§16.2: substitute each solution into the template; skip triples
    with an unbound variable or an invalid shape (literal subject,
    non-IRI predicate); the result is a GRAPH (set)."""
    out = set()
    for m in sols:
        for (s, p, o) in template:
            sv = m.get(s[1]) if s[0] == "var" else s
            pv = m.get(p[1]) if p[0] == "var" else p
            ov = m.get(o[1]) if o[0] == "var" else o
            if sv is None or pv is None or ov is None:
                continue
            if sv[0] == "literal" or pv[0] != "iri":
                continue
            out.add((sv, pv, ov))
    return out


@given(construct_case())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_construct_matches_naive(spark, case):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    data, els, template = case
    expected = naive_construct(template, eval_group(els, data))
    query = (
        "CONSTRUCT { "
        + " ".join(" ".join(sparql_token(t) for t in tr) + " ."
                   for tr in template)
        + " } WHERE { " + render_group(els) + " }"
    )
    out = execute(query, to_df(spark, data), simplify=False).collect()
    actual = set()
    for r in out:
        s = (r["s_kind"], r["s"])
        p = ("iri", r["p"])
        if r["o_kind"] == "literal":
            o = ("literal", r["o"], r["o_lang"] or None, r["o_dt"] or None)
        else:
            o = (r["o_kind"], r["o"])
        actual.add((s, p, o))
    assert actual == expected, query


# --- determinism anchor (non-hypothesis, pins one known answer) -------------

def test_differential_anchor(spark):
    """One fixed case with a hand-computed answer, so a bug that broke
    BOTH implementations identically would still be caught."""
    data = [
        (("iri", "http://ex/s0"), ("iri", "http://ex/p0"),
         ("literal", "1", None, XSD_INTEGER)),
        (("iri", "http://ex/s1"), ("iri", "http://ex/p0"),
         ("literal", "2", None, XSD_INTEGER)),
        (("iri", "http://ex/s1"), ("iri", "http://ex/p1"),
         ("iri", "http://ex/s0")),
    ]
    els = [
        ("pattern", (("var", "a"), ("iri", "http://ex/p0"), ("var", "b"))),
        ("optional", [
            ("pattern", (("var", "a"), ("iri", "http://ex/p1"),
                         ("var", "c"))),
        ]),
        ("filter", ("gt", ("var", "b"),
                    ("literal", "1", None, XSD_INTEGER))),
    ]
    proj = ["a", "b", "c"]
    expected = [(
        ("iri", "http://ex/s1"),
        ("literal", "2", None, XSD_INTEGER),
        ("iri", "http://ex/s0"),
    )]
    assert eval_select(els, data, proj) == expected
    query = ("SELECT ?a ?b ?c WHERE { " + render_group(els) + " }")
    assert run_executor(spark, data, query, proj) == expected
