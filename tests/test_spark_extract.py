"""End-to-end Spark extraction over the synthesized documents table.

Tests that need the reference's W3C fixtures (negative documents,
golden pairs) are marked `requires_reference`; the rest run over the
rendered testdata corpus (`rdf_docs`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import requires_reference
from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
from mentor_rdf_parsers_spark.parsing.compare import quads_match
from mentor_rdf_parsers_spark.parsing.golden import parse_nt12
from mentor_rdf_parsers_spark.parsing.terms import row_to_quad
from mentor_rdf_parsers_spark.schemas import DOCUMENTS
from mentor_rdf_parsers_spark.sources.fixtures import load_fixture_documents


@pytest.fixture(scope="module")
def extracted(spark):
    docs = load_fixture_documents(spark, partitions=8)
    out = extract_triples(docs, skolemize=True, strict=True).persist()
    out.count()
    yield out
    out.unpersist()


def test_extract_counts(spark, rdf_docs):
    """Every rendered document parses into exactly its four triples."""
    triples, errors = split_extract(extract_triples(rdf_docs, strict=True))
    n_docs = rdf_docs.count()
    assert n_docs > 0
    assert triples.count() == 4 * n_docs
    assert errors.count() == 0


def _docs(spark, *rows):
    """Documents of one text span each: (doc_id, syntax, text)."""
    return spark.createDataFrame(
        [(d, [("text", text, None, 0)], syntax, None) for d, syntax, text in rows],
        DOCUMENTS,
    )


def test_negative_docs_quarantined_not_failed(spark, rdf_docs):
    """Every unparseable document must produce >=1 error row and the job
    must not fail; in strict mode a bad doc emits zero triples, even the
    ones before its error."""
    bad = _docs(
        spark,
        ("bad/nt", "ntriples", "<http://ex/s> <http://ex/p> .\n"),
        ("bad/ttl", "turtle", '<http://ex/s> <http://ex/p> <http://ex/o> .\n<http://ex/s> "x\n'),
        ("bad/nq", "nquads", "this is not rdf at all ~~~\n"),
    )
    docs = rdf_docs.unionByName(bad)
    triples, errors = split_extract(extract_triples(docs, strict=True))
    err_ids = {r[0] for r in errors.select("doc_id").distinct().collect()}
    assert err_ids == {"bad/nt", "bad/ttl", "bad/nq"}
    assert triples.count() == 4 * rdf_docs.count() > 0
    bad_with_triples = (
        triples.join(errors.select("doc_id").distinct(), "doc_id", "left_semi").count()
    )
    assert bad_with_triples == 0


@requires_reference
def test_golden_parity_through_spark(spark, extracted):
    """RDF 1.2 golden pairs must match after the full Spark round-trip
    (Arrow encode → flat schema → row_to_quad), not just in-process."""
    from conftest import extract_manifest
    from pathlib import Path

    manifest = extract_manifest("turtle")
    triples, _ = split_extract(extracted)
    pairs = manifest["golden"]
    assert len(pairs) >= 30
    wanted_ids = {f"turtle/{Path(a).name}": b for a, b in pairs}
    rows = (
        triples.where(F.col("doc_id").isin(*wanted_ids))
        .collect()
    )
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(row_to_quad(tuple(r)))
    checked = 0
    for doc_id, golden_path in wanted_ids.items():
        mine = by_doc.get(doc_id, [])
        expected = parse_nt12(Path(golden_path).read_text(encoding="utf-8"))
        assert quads_match(mine, expected), doc_id
        checked += 1
    assert checked >= 30


def test_span_sequence_invariant(spark, rdf_docs):
    """Per-row invariant (BASELINE.json input_hint): the pipeline never
    mutates the documents table — span sequence (kind, text, media_ref,
    order) survives extraction untouched, media spans included."""
    docs = rdf_docs
    before = docs.select(
        "doc_id",
        F.expr(
            "transform(spans, x -> struct(x.kind as kind, x.text as text,"
            " x.media_ref as media_ref, x.offset as offset))"
        ).alias("seq"),
    )
    _ = extract_triples(docs).count()  # run the pipeline over it
    after = docs.select(
        "doc_id",
        F.expr(
            "transform(spans, x -> struct(x.kind as kind, x.text as text,"
            " x.media_ref as media_ref, x.offset as offset))"
        ).alias("seq"),
    )
    changed = (
        before.select("doc_id", F.col("seq").alias("seq_b"))
        .join(after.select("doc_id", F.col("seq").alias("seq_a")), "doc_id")
        .where(F.col("seq_b").cast("string") != F.col("seq_a").cast("string"))
        .count()
    )
    assert changed == 0
    # media spans present and ordered
    media = docs.select(F.explode("spans").alias("s")).where("s.kind = 'media'").count()
    assert media > 100


def test_skolemization_cross_doc_distinct(spark, rdf_docs):
    """Replicated docs (#k suffix) produce distinct bnode labels — the
    cross-file collision-freedom createFileBlankNodeIdGenerator gives."""
    from mentor_rdf_parsers_spark.sources.fixtures import replicate_documents

    bnodes = _docs(spark, *(
        (f"bn/{i}", "turtle", "_:b0 <http://ex/p> [ <http://ex/q> _:b1 ] .\n")
        for i in range(3)
    ))
    docs = replicate_documents(rdf_docs.unionByName(bnodes), 2)
    triples, _ = split_extract(extract_triples(docs, strict=True))
    bn = triples.where("s_kind = 'bnode'").select("doc_id", "s").distinct()
    # 3 documents × 2 copies, each with a labelled and an anonymous subject
    assert bn.count() == 12
    clashes = (
        bn.groupBy("s").agg(F.countDistinct("doc_id").alias("n")).where("n > 1").count()
    )
    assert clashes == 0


@requires_reference
def test_corpus_precision_recall_gate(spark):
    """BASELINE metric: triple P/R >= 0.95 vs the reference's golden RDF
    1.2 outputs, computed through the real Spark extract path."""
    from mentor_rdf_parsers_spark.conformance import corpus_precision_recall

    pr = corpus_precision_recall(spark)
    assert pr["docs"] >= 30
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr


def test_empty_reference_corpus_raises(spark, monkeypatch, tmp_path):
    """With no reference files, the P/R gate and the fixture loader raise
    instead of reporting on 0 documents."""
    from mentor_rdf_parsers_spark import conformance
    from mentor_rdf_parsers_spark.sources import fixtures

    monkeypatch.setattr(conformance, "REF", tmp_path)
    with pytest.raises(ValueError, match="no golden pairs"):
        conformance.corpus_precision_recall(spark)
    monkeypatch.setattr(fixtures, "REFERENCE_TESTS", str(tmp_path))
    with pytest.raises(ValueError, match="no fixture documents"):
        fixtures.load_fixture_documents(spark)


def test_dedup_parse_cache_identical_output(spark, rdf_docs):
    """Content-addressed parse cache must be byte-identical to cold
    parsing, including skolemized bnode ids across replicated docs."""
    from mentor_rdf_parsers_spark.sources.fixtures import replicate_documents

    docs = replicate_documents(rdf_docs, 3)
    cold_t, cold_e = split_extract(extract_triples(docs))
    hot_t, hot_e = split_extract(extract_triples(docs, dedup_parse=True))
    cols = ["doc_id", "s_kind", "s", "p", "o_kind", "o", "o_lang", "o_dt", "g"]
    assert cold_t.count() == hot_t.count() > 0
    assert cold_t.select(cols).exceptAll(hot_t.select(cols)).count() == 0
    assert hot_t.select(cols).exceptAll(cold_t.select(cols)).count() == 0
    assert cold_e.count() == hot_e.count()
