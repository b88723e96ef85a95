"""Deterministic synthetic `documents` table from the W3C fixture corpus.

Implements the synthesis rule in FIXTURES.md §1: one row per fixture file,
``doc_id = '<syntax>/<filename>'``; the body is split on statement
boundaries into 1–4 text spans; every 3rd document (djb2(doc_id) % 3 == 0)
gets a media span interleaved after the first text span to exercise the
interleaved text+media invariant. Scale-up replicates each doc K times with
``doc_id = f'{base}#{i}'`` — skolem prefixes then differ per copy, so
triples stay distinct, matching ``createFileBlankNodeIdGenerator``
cross-file semantics (/root/reference/src/utils.ts:81-93).

No external data: fixture content comes from the read-only reference
checkout; everything else is derived.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession

from ..parsing.lexer import djb2_base36
from ..schemas import DOCUMENTS

REFERENCE_TESTS = "/root/reference/src"

_SYNTAX_EXT = {
    "ntriples": ".nt",
    "nquads": ".nq",
    "turtle": ".ttl",
    "trig": ".trig",
    "n3": ".n3",
}

# Fixtures the reference's own suite never tests and whose classification by
# filename is therefore unreliable (see tests/conftest manifests).
_UNTESTED_SKIP = {
    "prefix_with_non_leading_extras.ttl",
    "prefix_with_non_leading_extras.trig",
    "iriPropertyList.n3",
}

# '-bad-' fixtures the reference ACCEPTS (it skips their semantic
# validation — src/ntriples/parser.test.ts:483-485 — or never tests them and
# its reader performs no IRI content validation). Parity means we accept
# them too, so they are classified 'positive' here.
_ACCEPTED_BAD = {
    "ntriples-langdir-bad-3.nt",
    "ntriples-langdir-bad-4.nt",
    "ntriples-langdir-bad-5.nt",
    "turtle-eval-bad-01.ttl",
    "turtle-eval-bad-02.ttl",
    "turtle-eval-bad-03.ttl",
    "trig-eval-bad-01.trig",
    "trig-eval-bad-02.trig",
    "trig-eval-bad-03.trig",
}


def _split_spans(doc_id: str, body: str) -> list[tuple]:
    """Deterministically split the body into 1-4 text spans on line
    boundaries, interleaving one media span on every 3rd document."""
    h = int(djb2_base36(doc_id), 36)
    lines = body.split("\n")
    n_spans = 1 + (h % 4) if len(lines) >= 4 else 1
    chunks: list[str] = []
    if n_spans <= 1 or len(lines) < n_spans:
        chunks = [body]
    else:
        per = len(lines) // n_spans
        for i in range(n_spans):
            start = i * per
            end = (i + 1) * per if i < n_spans - 1 else len(lines)
            chunk = "\n".join(lines[start:end])
            if i < n_spans - 1:
                chunk += "\n"
            chunks.append(chunk)
    spans = []
    offset = 0
    for i, chunk in enumerate(chunks):
        spans.append(("text", chunk, None, offset))
        offset += 1
        if i == 0 and h % 3 == 0:
            spans.append(("media", None, f"media://{doc_id}/img0", offset))
            offset += 1
    return spans


def fixture_documents_rows(
    syntaxes: Optional[list[str]] = None,
    replicate: int = 1,
    include_negative: bool = True,
) -> Iterator[tuple]:
    """Yield `documents` rows (doc_id, spans, syntax, expect)."""
    syntaxes = syntaxes or list(_SYNTAX_EXT)
    for syntax in syntaxes:
        ext = _SYNTAX_EXT[syntax]
        pattern = os.path.join(REFERENCE_TESTS, syntax, "tests", "**", "*" + ext)
        for path in sorted(glob.glob(pattern, recursive=True)):
            name = os.path.basename(path)
            if name in _UNTESTED_SKIP:
                continue
            is_neg = "-bad-" in name and name not in _ACCEPTED_BAD
            if is_neg and not include_negative:
                continue
            try:
                body = open(path, encoding="utf-8").read()
            except UnicodeDecodeError:
                continue
            expect = "negative" if is_neg else "positive"
            base_id = f"{syntax}/{name}"
            for k in range(replicate):
                doc_id = base_id if k == 0 else f"{base_id}#{k}"
                yield (doc_id, _split_spans(doc_id, body), syntax, expect)


def replicate_documents(df: DataFrame, k: int) -> DataFrame:
    """Spark-side corpus scale-up: k copies of every document with
    distinct doc_ids (`{base}#{i}` — skolem prefixes then differ per
    copy, so emitted triples stay distinct). Unlike replicating in
    `fixture_documents_rows`, this never materializes the blown-up
    corpus on the driver — a 10^6-doc bench input is a crossJoin with a
    range, not a 5 GB python list."""
    from pyspark.sql import functions as F

    if k <= 1:
        return df
    copies = df.sparkSession.range(k).select(F.col("id").alias("__copy"))
    return (
        df.crossJoin(copies)
        .withColumn(
            "doc_id",
            F.when(
                F.col("__copy") == 0, F.col("doc_id")
            ).otherwise(
                F.concat(F.col("doc_id"), F.lit("#"), F.col("__copy").cast("string"))
            ),
        )
        .drop("__copy")
    )


def load_fixture_documents(
    spark: SparkSession,
    syntaxes: Optional[list[str]] = None,
    replicate: int = 1,
    include_negative: bool = True,
    partitions: Optional[int] = None,
) -> DataFrame:
    rows = list(fixture_documents_rows(syntaxes, replicate, include_negative))
    if not rows:
        raise ValueError(f"no fixture documents under {REFERENCE_TESTS}")
    df = spark.createDataFrame(rows, schema=DOCUMENTS)
    if partitions:
        df = df.repartition(partitions, "doc_id")
    return df
