"""SPARQL Update execution against the triples DataFrame."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
from mentor_rdf_parsers_spark.schemas import DOCUMENTS
from mentor_rdf_parsers_spark.sparql.executor import SparqlExecutionError
from mentor_rdf_parsers_spark.sparql.updates import execute_update

PREFIX = "PREFIX : <http://ex/>\n"
COLS = ("doc_id string, s_kind string, s string, p_kind string, p string, "
        "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
        "g string, s_off int, p_off int, o_off int")


@pytest.fixture()
def graph(spark):
    rows = [
        ("d", "iri", "http://ex/a", "iri", "http://ex/p", "literal", "1",
         None, None, None, None, None, None, None),
        ("d", "iri", "http://ex/b", "iri", "http://ex/p", "literal", "2",
         None, None, None, None, None, None, None),
        ("d", "iri", "http://ex/c", "iri", "http://ex/old", "iri", "http://ex/a",
         None, None, "iri", "http://ex/g1", None, None, None),
    ]
    return spark.createDataFrame(rows, COLS)


def facts(df):
    return sorted(
        ((r["s"], r["p"], r["o"], r["g"]) for r in df.collect()),
        key=lambda t: tuple("" if x is None else x for x in t),
    )


def test_insert_and_delete_data(graph):
    out = execute_update(PREFIX + ':x :q "new" .'.join(
        ["INSERT DATA { ", " }"]), graph)
    assert ("http://ex/x", "http://ex/q", "new", None) in facts(out)
    out2 = execute_update(PREFIX + 'DELETE DATA { :a :p "1" }', out)
    assert ("http://ex/a", "http://ex/p", "1", None) not in facts(out2)
    assert out2.count() == out.count() - 1


def test_delete_data_matches_either_xsd_string_spelling(graph):
    # "x" and "x"^^xsd:string are one RDF term: whichever spelling is
    # stored, DELETE DATA of the other removes it
    xsd = "<http://www.w3.org/2001/XMLSchema#string>"
    for stored, deleted in (('"x"', f'"x"^^{xsd}'), (f'"x"^^{xsd}', '"x"')):
        g = execute_update(PREFIX + f"INSERT DATA {{ :s :q {stored} }}", graph)
        assert g.count() == graph.count() + 1
        out = execute_update(PREFIX + f"DELETE DATA {{ :s :q {deleted} }}", g)
        assert facts(out) == facts(graph)
    # a language-tagged literal is another term
    g = execute_update(PREFIX + 'INSERT DATA { :s :q "x"@en }', graph)
    out = execute_update(PREFIX + f'DELETE DATA {{ :s :q "x"^^{xsd} }}', g)
    assert out.count() == g.count()


def test_data_triple_terms_match_extract(spark, graph):
    """INSERT DATA stores an RDF 1.2 triple term, bare `<<( … )>>` or
    under a reifier `<< … ~ r >>`, as the row extract writes for the same
    Turtle 1.2 statements; DELETE DATA of the same data removes it."""
    body = ":x :p <<( :a :b :c )>> .\n:x :q << :a :b :c ~ :r >> .\n"
    ttl = "@prefix : <http://ex/> .\n" + body
    docs = spark.createDataFrame(
        [("t", [("text", ttl, None, 0)], "turtle", None)], DOCUMENTS)
    triples, _ = split_extract(extract_triples(docs, strict=True))
    key = ["s_kind", "s", "p_kind", "p", "o_kind", "o", "o_lang", "o_dt", "g_kind", "g"]
    want = sorted(tuple(r) for r in triples.select(key).collect())
    assert [r[4:6] for r in want].count(("tripleterm", "<<( <http://ex/a> "
                                         "<http://ex/b> <http://ex/c> )>>")) == 2
    out = execute_update(PREFIX + f"INSERT DATA {{ {body} }}", graph)
    got = out.where(F.col("doc_id") == "update").select(key).collect()
    assert sorted(tuple(r) for r in got) == want
    back = execute_update(PREFIX + f"DELETE DATA {{ {body} }}", out)
    assert facts(back) == facts(graph)


def test_data_blocks_reject_variables(graph):
    for data in (":x :p ?o", ":x :p <<( ?s :b :c )>>"):
        with pytest.raises(SparqlExecutionError, match="variables not allowed"):
            execute_update(PREFIX + f"INSERT DATA {{ {data} }}", graph)


def test_insert_data_into_named_graph(graph):
    out = execute_update(
        PREFIX + "INSERT DATA { GRAPH :g2 { :n :m :o } }", graph
    )
    assert ("http://ex/n", "http://ex/m", "http://ex/o", "http://ex/g2") in facts(out)


def test_delete_where_pattern(graph):
    out = execute_update(PREFIX + "DELETE WHERE { ?s :p ?o }", graph)
    got = facts(out)
    assert all(p != "http://ex/p" for (_s, p, _o, _g) in got)
    assert len(got) == 1  # only the named-graph row remains


def test_modify_rename_predicate(graph):
    out = execute_update(
        PREFIX + "WITH :g1 DELETE { ?s :old ?o } INSERT { ?s :new ?o } "
        "WHERE { ?s :old ?o }",
        graph,
    )
    got = facts(out)
    assert ("http://ex/c", "http://ex/new", "http://ex/a", "http://ex/g1") in got
    assert all(p != "http://ex/old" for (_s, p, _o, _g) in got)


def test_clear_and_drop(graph):
    out = execute_update(PREFIX + "CLEAR DEFAULT", graph)
    assert facts(out) == [("http://ex/c", "http://ex/old", "http://ex/a", "http://ex/g1")]
    out2 = execute_update(PREFIX + "DROP GRAPH :g1", graph)
    assert all(g != "http://ex/g1" for (_s, _p, _o, g) in facts(out2))
    out3 = execute_update("CLEAR ALL", graph)
    assert out3.count() == 0


def test_copy_move(graph):
    out = execute_update(PREFIX + "COPY DEFAULT TO :g2", graph)
    in_g2 = [f for f in facts(out) if f[3] == "http://ex/g2"]
    assert len(in_g2) == 2
    assert out.where(F.col("g").isNull()).count() == 2  # copy keeps source
    out2 = execute_update(PREFIX + "MOVE DEFAULT TO :g3", graph)
    assert out2.where(F.col("g").isNull()).count() == 0


def test_update_sequence(graph):
    out = execute_update(
        PREFIX + "INSERT DATA { :x :q :y } ; DELETE DATA { :x :q :y }", graph
    )
    assert out.count() == graph.count()


def test_modify_using_defines_where_dataset(graph):
    """USING <g> makes g the WHERE clause's default graph (the triple
    :c :old :a lives only in :g1, invisible to the plain default)."""
    out = execute_update(
        PREFIX + "INSERT { ?s :flag \"y\" } USING :g1 WHERE { ?s :old ?o }",
        graph,
    )
    assert ("http://ex/c", "http://ex/flag", "y", None) in facts(out)


def test_modify_using_named(graph):
    out = execute_update(
        PREFIX + "INSERT { ?s :seen ?g } USING NAMED :g1 "
        "WHERE { GRAPH ?g { ?s :old ?o } }",
        graph,
    )
    assert ("http://ex/c", "http://ex/seen", "http://ex/g1", None) in facts(out)


def test_modify_without_using_ignores_named_graphs(graph):
    out = execute_update(
        PREFIX + "INSERT { ?s :flag \"y\" } WHERE { ?s :old ?o }", graph
    )
    assert all(p != "http://ex/flag" for (_s, p, _o, _g) in facts(out))


def test_delete_where_variable_graph(graph):
    out = execute_update(
        PREFIX + "DELETE WHERE { GRAPH ?g { ?s :old ?o } }", graph
    )
    got = facts(out)
    assert all(p != "http://ex/old" for (_s, p, _o, _g) in got)
    assert len(got) == 2  # both default-graph rows survive


def test_delete_where_quads_form_one_group(graph):
    """DELETE WHERE { QP } is DELETE { QP } WHERE { QP }: the default-
    graph triple and the GRAPH ?g quad join on ?o, and ?g is bound at
    the GRAPH exit — only :c :old :a (in g1) and :a :p "1" match."""
    out = execute_update(
        PREFIX + "DELETE WHERE { GRAPH ?g { ?s :old ?o } ?o :p ?v }", graph
    )
    assert facts(out) == [("http://ex/b", "http://ex/p", "2", None)]


def test_load_turtle_file(graph, tmp_path):
    doc = tmp_path / "extra.ttl"
    doc.write_text('@prefix : <http://ex/> .\n:loaded :via "load" .\n')
    out = execute_update(f"LOAD <file://{doc}>", graph)
    assert ("http://ex/loaded", "http://ex/via", "load", None) in facts(out)


def test_load_into_named_graph(graph, tmp_path):
    doc = tmp_path / "extra.nt"
    doc.write_text('<http://ex/n> <http://ex/p> "1" .\n')
    out = execute_update(
        f"PREFIX : <http://ex/>\nLOAD <file://{doc}> INTO GRAPH :gload", graph
    )
    assert ("http://ex/n", "http://ex/p", "1", "http://ex/gload") in facts(out)


def test_load_silent_swallows_missing_file(graph):
    out = execute_update("LOAD SILENT <file:///nonexistent/nope.ttl>", graph)
    assert out.count() == graph.count()


def test_load_missing_file_raises(graph):
    import pytest as _pytest

    from mentor_rdf_parsers_spark.sparql.executor import SparqlExecutionError

    with _pytest.raises(SparqlExecutionError):
        execute_update("LOAD <file:///nonexistent/nope.ttl>", graph)
