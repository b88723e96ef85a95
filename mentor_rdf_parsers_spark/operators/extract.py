"""Distributed triple extraction: documents → (triples, errors).

The Spark analogue of the reference's whole
``Lexer → Parser → Reader`` chain (SURVEY.md §3): one ``mapInPandas``
stage per document batch fuses all three. Design notes for 100 TB:

* Arrow batches in/out; the Python worker loop is per-document, never
  per-row-of-output — a document's quads are appended to column buffers.
* Lexer/parser tables are compiled once per worker at module import
  (the ``performSelfAnalysis()`` amortization, src/turtle/parser.ts:516).
* Documents are never split across partitions (order-dependent per-doc
  state); parallelism is across documents, which is embarrassing.
* A failing document quarantines into the ``errors`` side-channel and
  NEVER fails the job (the reference's collecting-mode,
  src/syntax.ts:55-65 / docs/error-handling.md) — this also prevents
  task-retry storms on poison documents at scale.
* Blank nodes are skolemized per document with the reference's
  djb2-base36 doc-hash prefix (src/utils.ts:81-93) so cross-document
  IDs never collide in the global graph table.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..parsing.lexer import (
    default_bnode_generator,
    djb2_base36,
    file_scoped_bnode_generator,
)
from ..parsing.n3 import parse_n3
from ..parsing.ntriples import parse_ntriples
from ..parsing.turtle import parse_turtle
from ..parsing.terms import quad_to_row
from ..schemas import EXTRACT, EXTRACT_COLS, ERROR_COLS, TRIPLE_COLS


def _parse_one(syntax: str, text: str, bnode_gen, skolem_prefix: Optional[str], strict: bool):
    if syntax == "ntriples":
        return parse_ntriples(text, nquads=False, bnode_generator=bnode_gen, strict=strict)
    if syntax == "nquads":
        return parse_ntriples(text, nquads=True, bnode_generator=bnode_gen, strict=strict)
    if syntax == "turtle":
        return parse_turtle(text, bnode_generator=bnode_gen, strict=strict)
    if syntax == "trig":
        return parse_turtle(text, bnode_generator=bnode_gen, strict=strict, trig=True)
    if syntax == "n3":
        return parse_n3(text, bnode_generator=bnode_gen, strict=strict, skolem_prefix=skolem_prefix)
    return [], [("parse", 0, f"unknown syntax: {syntax}")]


def sniff_syntax(doc_id: str) -> str:
    for ext, syn in ((".nt", "ntriples"), (".nq", "nquads"), (".ttl", "turtle"), (".trig", "trig"), (".n3", "n3")):
        if ext in doc_id:
            return syn
    return "turtle"


def _doc_text(spans) -> str:
    """Reassemble parser input: text spans in offset order (FIXTURES.md §1).
    Media spans are opaque pass-through — never parsed."""
    texts = [
        (s["offset"], s["text"])
        for s in spans
        if s["kind"] == "text" and s["text"] is not None
    ]
    texts.sort(key=lambda t: t[0])
    return "".join(t for _off, t in texts)


# Content-addressed parse cache (worker-level). Real crawl corpora are
# full of byte-identical documents (mirrors, boilerplate); parsing each
# copy is pure waste. Quads are cached with a reserved skolem prefix and
# re-prefixed per doc_id on hit — byte-identical output to a cold parse.
_PARSE_CACHE_PREFIX = "\x00P\x00"
_PARSE_CACHE_MAX = 4096


def _reprefix_quads(quads, prefix: str):
    out = []
    ph = _PARSE_CACHE_PREFIX
    for (s, p, o, g, so, po, oo) in quads:
        def fix(t):
            if t is None:
                return None
            if t[0] == "bnode" and ph in t[1]:
                return ("bnode", t[1].replace(ph, prefix))
            if t[0] == "tripleterm":
                return ("tripleterm", tuple(fix(x) for x in t[1]))
            return t
        out.append((fix(s), fix(p), fix(o), fix(g), so, po, oo))
    return out


def extract_triples(
    docs: DataFrame,
    skolemize: bool = True,
    strict: bool = False,
    default_syntax: str = "turtle",
    dedup_parse: bool = False,
) -> DataFrame:
    """documents → combined extract DataFrame (rec='t' triples, rec='e' errors).

    Use :func:`split_extract` on the (persisted) result. ``strict=False`` is
    bulk mode: bad documents quarantine; ``strict=True`` mirrors the
    reference's ``throwOnErrors`` test mode (a doc with any error emits no
    quads)."""
    has_syntax = "syntax" in docs.columns

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}  # (syntax, text) -> (quads-with-placeholder, errors)
        for pdf in batches:
            cols: dict[str, list] = {c: [] for c in EXTRACT_COLS}
            doc_ids = pdf["doc_id"]
            spans_col = pdf["spans"]
            syntax_col = pdf["syntax"] if has_syntax else None
            for i in range(len(pdf)):
                doc_id = doc_ids.iat[i]
                syntax = syntax_col.iat[i] if syntax_col is not None else None
                if not syntax:
                    syntax = sniff_syntax(doc_id) if "." in doc_id else default_syntax
                text = _doc_text(spans_col.iat[i])
                if skolemize:
                    prefix = djb2_base36(doc_id)
                    gen = file_scoped_bnode_generator(doc_id, prefix=prefix)
                else:
                    gen = default_bnode_generator
                    prefix = None
                try:
                    if dedup_parse and skolemize:
                        key = (syntax, text)
                        hit = cache.get(key)
                        if hit is None:
                            ph_gen = file_scoped_bnode_generator(
                                doc_id, prefix=_PARSE_CACHE_PREFIX
                            )
                            hit = _parse_one(
                                syntax, text, ph_gen, _PARSE_CACHE_PREFIX, strict
                            )
                            if len(cache) >= _PARSE_CACHE_MAX:
                                cache.pop(next(iter(cache)))
                            cache[key] = hit
                        quads = _reprefix_quads(hit[0], prefix)
                        errors = hit[1]
                    else:
                        quads, errors = _parse_one(syntax, text, gen, prefix, strict)
                except Exception as exc:  # absolute quarantine backstop
                    quads, errors = [], [("parse", 0, f"internal: {exc}")]
                for (s, p, o, g, so, po, oo) in quads:
                    row = quad_to_row(doc_id, s, p, o, g, so, po, oo)
                    cols["rec"].append("t")
                    for name, val in zip(TRIPLE_COLS, row):
                        cols[name].append(val)
                    cols["stage"].append(None)
                    cols["err_offset"].append(None)
                    cols["message"].append(None)
                for (stage, off, message) in errors:
                    cols["rec"].append("e")
                    cols["doc_id"].append(doc_id)
                    for name in TRIPLE_COLS[1:]:
                        cols[name].append(None)
                    cols["stage"].append(stage)
                    cols["err_offset"].append(off)
                    cols["message"].append(message[:2000] if message else message)
            yield pd.DataFrame(cols, columns=EXTRACT_COLS)

    return docs.mapInPandas(fn, schema=EXTRACT)


def split_extract(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split the combined stream. Persist the input first if both sides are
    consumed, or the extraction UDF runs twice."""
    triples = extracted.where(F.col("rec") == "t").select(*TRIPLE_COLS)
    errors = (
        extracted.where(F.col("rec") == "e")
        .select("doc_id", "stage", F.col("err_offset").alias("offset"), "message")
        .select(*ERROR_COLS)
    )
    return triples, errors
