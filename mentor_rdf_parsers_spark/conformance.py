"""Corpus-level conformance metrics: the BASELINE.json headline
"triple P/R ≥ 0.95 vs reference on the W3C RDF test-suite corpus",
computed through the REAL Spark path (documents table → mapInPandas
extract → collected quads) against the reference's golden RDF 1.2
`.nt`/`.nq` files, with bnode-canonicalizing set comparison (port of
/root/reference/src/helpers.ts:47-163).

The golden manifest comes from the reference's own vitest files
(`matchQuads12('file://./tests/<in>', 'file://./tests/<golden>')`
pairs — /root/reference/src/turtle/reader.test.ts:44-59 pattern).
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import SparkSession

from .operators.extract import extract_triples, split_extract
from .parsing.compare import canonicalize_quad_set
from .parsing.golden import parse_nt12
from .parsing.terms import row_to_quad
from .schemas import DOCUMENTS
from .sources.fixtures import _split_spans  # same synthesis as the corpus

REF = Path("/root/reference/src")

_PAIR_RE = re.compile(
    r"matchQuads12\(\s*'file://\./(tests/[^']+)',\s*'file://\./(tests/[^']+)'\s*\)"
)


def golden_pairs(syntaxes=("turtle", "trig", "ntriples", "nquads", "n3")) -> list:
    """(syntax, input_path, golden_path) triples from the reference's
    test files."""
    out = []
    for syntax in syntaxes:
        base = REF / syntax
        for test_file in sorted(base.glob("*.test.ts")):
            for a, b in _PAIR_RE.findall(test_file.read_text()):
                out.append((syntax, str(base / a), str(base / b)))
    return sorted(set(out))


def corpus_precision_recall(spark: SparkSession) -> dict:
    """Run every golden-pair input through the Spark extract stage and
    compare against its golden quads. Returns corpus-level precision /
    recall over all quads plus the per-document match rate. Raises
    ``ValueError`` when there are no golden pairs: P/R over 0 documents
    measures nothing."""
    pairs = golden_pairs()
    if not pairs:
        raise ValueError(f"no golden pairs under {REF}: P/R over 0 documents")
    rows = []
    goldens = {}
    for syntax, inp, gold in pairs:
        doc_id = f"{syntax}/{Path(inp).name}"
        body = open(inp, encoding="utf-8").read()
        rows.append((doc_id, _split_spans(doc_id, body), syntax, "eval"))
        goldens[doc_id] = gold

    docs = spark.createDataFrame(rows, DOCUMENTS)
    triples, _errors = split_extract(extract_triples(docs, skolemize=False))
    by_doc: dict[str, list] = {d: [] for d in goldens}
    for r in triples.collect():
        by_doc[r["doc_id"]].append(row_to_quad(r))

    tp = fp = fn = 0
    docs_matched = 0
    for doc_id, gold_path in goldens.items():
        expected = canonicalize_quad_set(
            [(s, p, o, g) for (s, p, o, g) in parse_nt12(
                open(gold_path, encoding="utf-8").read())]
        )
        actual = canonicalize_quad_set(by_doc[doc_id])
        e_set, a_set = set(expected), set(actual)
        tp_d = len(e_set & a_set)
        tp += tp_d
        fp += len(a_set - e_set)
        fn += len(e_set - a_set)
        if e_set == a_set:
            docs_matched += 1
    precision = tp / (tp + fp) if (tp + fp) else 1.0
    recall = tp / (tp + fn) if (tp + fn) else 1.0
    return {
        "docs": len(goldens),
        "docs_matched": docs_matched,
        "precision": round(precision, 4),
        "recall": round(recall, 4),
    }
