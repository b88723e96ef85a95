"""The executor's compatible-join and per-graph evaluation, checked on
the plan and on the Spark job log, not only on answers.

- OPTIONAL followed by a join on the optional variable must keep an
  equi-join for the bound rows; only rows with the variable unbound may
  reach a nested-loop / cartesian join.
- FILTER EXISTS without shared variables, and ASK, must stay lazy:
  compiling the query starts no Spark job.
- A subselect under GRAPH ?g applies its LIMIT/ORDER BY per graph.
"""

from __future__ import annotations

import re
import uuid

from mentor_rdf_parsers_spark.sparql.executor import execute
from tests.naive_sparql import eval_select
from tests.test_fuzz_sparql_differential import (
    G_IRIS,
    P_IRIS,
    S_IRIS,
    run_executor,
    split_dataset,
    to_df,
)

EX = "http://ex/"


def _probe_triples():
    """50 subjects with `:p`; the first 25 also have `:q` to a node that
    has one `:r` edge, and 50 `:r` edges exist in all. Subjects without
    `:q` leave ?n unbound and join every `:r` edge: 25 + 25 × 50 = 1275."""
    iri = lambda x: ("iri", EX + x)  # noqa: E731
    data = []
    for i in range(50):
        data.append((iri(f"s{i}"), iri("p"), iri(f"o{i}")))
        if i < 25:
            data.append((iri(f"s{i}"), iri("q"), iri(f"n{i}")))
        data.append((iri(f"n{i}"), iri("r"), iri(f"v{i}")))
    return data


def _subtrees(plan: str, node: re.Pattern) -> list[str]:
    """Text of every subtree of `plan` rooted at a line matching `node`."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        m = node.search(line)
        if not m:
            continue
        depth = m.start()
        j = i + 1
        while j < len(lines) and re.search(r"\w", lines[j]) and \
                re.search(r"\w", lines[j]).start() > depth:
            j += 1
        out.append("\n".join(lines[i:j]))
    return out


def test_optional_then_join_plans_equi_join_on_bound_rows(spark):
    df = execute(
        "PREFIX : <http://ex/>\n"
        "SELECT * WHERE { ?s :p ?o OPTIONAL { ?s :q ?n } ?n :r ?v }",
        to_df(spark, _probe_triples()), simplify=False,
    )
    assert len(df.collect()) == 1275
    plan = df._jdf.queryExecution().executedPlan().toString()
    keyed = re.findall(
        r"(?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \[([^\]]*)\]",
        plan)
    assert any(re.search(r"\bn#\d+", keys) for keys in keyed), plan
    loops = _subtrees(
        plan, re.compile(r"(CartesianProduct|BroadcastNestedLoopJoin)"))
    for sub in loops:
        assert re.search(r"isnull\(n#\d+\)", sub), sub


def _jobs_while(spark, fn):
    sc = spark.sparkContext
    group = f"compile-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compile only")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_unshared_exists_compiles_without_a_job(spark):
    quads = [
        (S_IRIS[0], P_IRIS[0], S_IRIS[1], None),
        (S_IRIS[1], P_IRIS[1], S_IRIS[2], G_IRIS[0]),
        (S_IRIS[2], P_IRIS[2], S_IRIS[3], G_IRIS[1]),
    ]
    triples = to_df(spark, quads)
    for where in (
        "?a <http://ex/p0> ?b FILTER EXISTS { ?c <http://ex/p0> ?d }",
        "?a <http://ex/p0> ?b FILTER NOT EXISTS { ?c <http://ex/p1> ?d }",
        "GRAPH ?g { ?a ?p ?b FILTER EXISTS { ?c <http://ex/p1> ?d } }",
        "GRAPH ?g { FILTER NOT EXISTS { ?c <http://ex/p2> ?d } }",
    ):
        query = f"SELECT * WHERE {{ {where} }}"
        df, jobs = _jobs_while(spark, lambda: execute(query, triples))
        assert jobs == [], query
        df.collect()  # the action still runs


def test_ask_compiles_without_a_job(spark):
    triples = to_df(spark, [(S_IRIS[0], P_IRIS[0], S_IRIS[1], G_IRIS[0])])
    for where, want in (
        ("?a <http://ex/p0> ?b", False),  # the only edge is in a named graph
        ("GRAPH ?g { ?a <http://ex/p0> ?b }", True),
        ("GRAPH ?g { ?a <http://ex/p1> ?b }", False),
    ):
        query = f"ASK {{ {where} }}"
        df, jobs = _jobs_while(spark, lambda: execute(query, triples))
        assert jobs == [], query
        assert [tuple(r) for r in df.collect()] == [(want,)], query


def test_graph_subselect_limit_is_per_graph(spark):
    """`GRAPH ?g { SELECT ?s { … } LIMIT 1 }` yields one row per named
    graph (§13.3 evaluates the subselect, slice included, per graph)."""
    g0, g1 = G_IRIS
    quads = [
        (S_IRIS[0], P_IRIS[0], S_IRIS[1], g0),
        (S_IRIS[1], P_IRIS[0], S_IRIS[2], g0),
        (S_IRIS[2], P_IRIS[0], S_IRIS[3], g1),
        (S_IRIS[3], P_IRIS[0], S_IRIS[0], g1),
        (S_IRIS[0], P_IRIS[0], S_IRIS[0], None),
    ]
    inner = [("pattern", (("var", "s"), ("var", "p"), ("var", "o")))]
    default, dataset = split_dataset(quads)
    full = eval_select(
        [("graph", ("var", "g"), [("subselect", ["s"], inner, False)])],
        default, ["g", "s"], dataset=dataset)

    got = run_executor(spark, quads, "SELECT ?g ?s WHERE { GRAPH ?g { "
                       "SELECT ?s WHERE { ?s ?p ?o } LIMIT 1 } }", ["g", "s"])
    assert sorted(g for g, _ in got) == [g0, g1]
    assert all(row in full for row in got)

    # with ORDER BY the slice is determined: the smallest ?s per graph
    got = run_executor(spark, quads, "SELECT ?g ?s WHERE { GRAPH ?g { "
                       "SELECT ?s WHERE { ?s ?p ?o } ORDER BY ?s LIMIT 1 } }",
                       ["g", "s"])
    want = sorted(
        (g, min((s for gg, s in full if gg == g), key=lambda t: t[1]))
        for g in (g0, g1))
    assert got == want
