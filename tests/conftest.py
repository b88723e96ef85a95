"""Shared pytest fixtures: manifests extracted from the reference test suite.

The reference encodes its expectations in vitest files as
``it('+ name', …)`` (positive) / ``it('- name', …)`` (negative) blocks
referencing fixture files as ``file://./tests/<path>``; RDF 1.2 eval tests
compare against golden ``.nt`` files via ``matchQuads12(input, golden)``
(/root/reference/src/turtle/reader.test.ts:44-59). We mirror exactly those
expectations (the reference's behavior on fixtures it does not test is
undefined and intentionally not asserted).
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

REF = Path("/root/reference/src")

# tests that read the reference checkout's W3C fixtures or sources
HAVE_REFERENCE = REF.is_dir()
requires_reference = pytest.mark.skipif(
    not HAVE_REFERENCE, reason=f"needs {REF.parent}")

_IT_RE = re.compile(r"it\('([+-]) ", re.S)
_FIXTURE_RE = re.compile(r"file://\./(tests/[^']+)")
_PAIR_RE = re.compile(
    r"matchQuads12\(\s*'file://\./(tests/[^']+)',\s*'file://\./(tests/[^']+)'\s*\)"
)


def extract_manifest(syntax: str) -> dict:
    """Parse the reference's .test.ts files for one syntax.

    Returns {'positive': [paths], 'negative': [paths], 'golden': [(in, out)]}.
    Paths are absolute. A fixture referenced by both positive and negative
    blocks (doesn't happen in practice) would count as negative.
    """
    base = REF / syntax
    positive: set[str] = set()
    negative: set[str] = set()
    golden: list[tuple[str, str]] = []
    for test_file in sorted(base.glob("*.test.ts")):
        src = test_file.read_text()
        # split into it-blocks, keeping the sign
        blocks = []
        matches = list(_IT_RE.finditer(src))
        for i, m in enumerate(matches):
            end = matches[i + 1].start() if i + 1 < len(matches) else len(src)
            blocks.append((m.group(1), src[m.start() : end]))
        for sign, block in blocks:
            for a, b in _PAIR_RE.findall(block):
                golden.append((str(base / a), str(base / b)))
            paths = _FIXTURE_RE.findall(block)
            # ".not.toThrowError()" is a POSITIVE assertion (sparql tests);
            # bare "toThrowError" without the negation is negative.
            throws = "toThrowError" in block.replace("not.toThrowError", "")
            for p in paths:
                full = str(base / p)
                if sign == "-" or throws:
                    negative.add(full)
                else:
                    positive.add(full)
    # a golden input is also positive
    for a, _ in golden:
        positive.add(a)
    positive -= negative
    return {
        "positive": sorted(positive),
        "negative": sorted(negative),
        "golden": sorted(set(golden)),
    }


@pytest.fixture(scope="session")
def spark():
    """Session-scoped local SparkSession (lazy: only tests that need it pay)."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("mentor-rdf-parsers-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    yield spark


@pytest.fixture(scope="session")
def rdf_docs(spark):
    """The rendered testdata corpus (`sources.testdata.
    documents_as_rdf_docs`): mixed Turtle / N-Triples / N-Quads
    documents with interleaved media spans, four triples per document —
    the same corpus `__spark_entry__.entry` extracts."""
    from __spark_entry__ import SF0001
    from mentor_rdf_parsers_spark.sources.testdata import documents_as_rdf_docs

    docs = documents_as_rdf_docs(spark, SF0001).persist()
    docs.count()
    yield docs
    docs.unpersist()
