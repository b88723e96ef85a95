"""SPARQL 1.2 parser conformance, driven by the reference's own test
expectations (manifest extracted from
/root/reference/src/sparql/parser.test.ts — fixture corpus under
src/sparql/tests/ incl. the W3C triple-term / version suites)."""

from __future__ import annotations

import pytest

from conftest import extract_manifest, requires_reference
from mentor_rdf_parsers_spark.sparql import (
    SparqlParseError,
    parse_sparql,
    extract_from_clause_graph_uris,
    selected_variables,
)

MANIFEST = extract_manifest("sparql")

# ids take str(p): without the reference the parameter lists are empty
# and pytest passes a placeholder object to the ids function


@requires_reference
@pytest.mark.parametrize(
    "path", MANIFEST["positive"], ids=lambda p: str(p).split("/tests/")[-1]
)
def test_positive_fixture_parses(path):
    parse_sparql(open(path, encoding="utf-8").read())


@requires_reference
@pytest.mark.parametrize(
    "path", MANIFEST["negative"], ids=lambda p: str(p).split("/tests/")[-1]
)
def test_negative_fixture_rejected(path):
    with pytest.raises(SparqlParseError):
        parse_sparql(open(path, encoding="utf-8").read())


@requires_reference
def test_manifest_is_substantial():
    assert len(MANIFEST["positive"]) >= 200
    assert len(MANIFEST["negative"]) >= 60


# --- reference utils parity (src/sparql/parser.ts:299-429, utils.ts:274-326)


def test_selected_variables_explicit_and_alias():
    q = "SELECT ?a (COUNT(?b) AS ?cnt) WHERE { ?a ?p ?b }"
    assert selected_variables(q) == ["a", "cnt"]


def test_selected_variables_star_first_appearance_order():
    q = "SELECT * WHERE { ?z ?y ?x . OPTIONAL { ?x ?w ?v } FILTER(?q > 1) }"
    assert selected_variables(q) == ["z", "y", "x", "w", "v", "q"]


def test_from_clause_extraction_ordered_dedup():
    q = """SELECT * FROM <http://g2> FROM NAMED <http://g1>
           FROM <http://g2> WHERE { ?s ?p ?o }"""
    assert extract_from_clause_graph_uris(q) == ["http://g2", "http://g1"]


# --- targeted semantics


def test_undefined_prefix_raises():
    with pytest.raises(SparqlParseError):
        parse_sparql("SELECT * WHERE { foo:bar ?p ?o }")


def test_surrogate_codepoint_escape_rejected():
    with pytest.raises(SparqlParseError):
        parse_sparql("SELECT * WHERE { ?s ?p '\\uD800' }")


def test_codepoint_escape_resolved_in_iri():
    q = parse_sparql("SELECT * WHERE { ?s ?p <http://e/\\u0041> }")
    bgp = q["where"]
    assert bgp["triples"][0][2] == ("iri", "http://e/A")


def test_update_sequence_and_modify():
    q = parse_sparql(
        """PREFIX ex: <http://e/>
        DELETE { ?s ex:old ?o } INSERT { ?s ex:new ?o }
        USING ex:g WHERE { ?s ex:old ?o } ;
        CLEAR DEFAULT"""
    )
    assert [op["op"] for op in q["operations"]] == ["modify", "clear"]
    assert q["operations"][0]["using"] == [{"named": False, "iri": ("iri", "http://e/g")}]


def test_property_path_ast():
    q = parse_sparql("SELECT * { ?x ^<http://p>/<http://q>+ ?y }")
    verb = q["where"]["triples"][0][1]
    assert verb["path"] == "seq"
    assert verb["left"]["path"] == "inv"
    assert verb["right"]["path"] == "mod" and verb["right"]["mod"] == "+"


def test_group_concat_separator():
    q = parse_sparql(
        'SELECT (GROUP_CONCAT(DISTINCT ?n; SEPARATOR="|") AS ?all) WHERE { ?s ?p ?n }'
    )
    agg = q["projection"][0][1]
    assert agg["name"] == "GROUP_CONCAT" and agg["separator"] == "|" and agg["distinct"]


def test_nested_aggregates_rejected():
    with pytest.raises(SparqlParseError):
        parse_sparql("SELECT (SUM(COUNT(?x)) AS ?y) WHERE { ?s ?p ?x }")


def test_values_duplicate_var_rejected():
    with pytest.raises(SparqlParseError):
        parse_sparql("SELECT * WHERE { VALUES (?x ?x) { (1 2) } }")


def test_collecting_mode_undefined_prefixes():
    """Reference parity: collecting mode records
    UndefinedNamespacePrefixError per prefix and still returns an AST
    (src/sparql/parser.test.ts 'Error Collection' suite)."""
    from mentor_rdf_parsers_spark.sparql.parser import parse_sparql_collecting

    r = parse_sparql_collecting("SELECT * WHERE { foo:s bar:p baz:o }")
    assert r["ast"] is not None and r["parse_error"] is None
    msgs = {e["message"] for e in r["semantic_errors"]}
    assert msgs == {"Undefined prefix: foo", "Undefined prefix: bar",
                    "Undefined prefix: baz"}
    assert all(e["name"] == "UndefinedNamespacePrefixError"
               for e in r["semantic_errors"])
    clean = parse_sparql_collecting(
        "PREFIX ex: <http://e/>\nSELECT * WHERE { ex:s ex:p ex:o }")
    assert clean["semantic_errors"] == [] and clean["ast"] is not None
