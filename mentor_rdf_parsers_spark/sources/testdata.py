"""Driver testdata (`/root/testdata/sf*`) → engine input tables.

Two roles:

1. Plain table loader for the relational/query-layer operators
   (``region nation customer supplier part orders lineitem events
   documents embeddings``).

2. A deterministic renderer turning the driver's ``documents.parquet``
   rows into the pipeline's authoritative input shape
   (BASELINE.json ``input_hint``): interleaved text+media span documents
   whose text spans carry RDF source (Turtle / N-Triples / N-Quads mixed
   by ``doc_id % 4``). This makes the extract pipeline's output
   SQL-checkable: every emitted triple is a deterministic function of the
   source row, so a DuckDB oracle over ``documents.parquet`` can predict
   the exact quad set — a value-level roundtrip check through the full
   lexer/parser/IRI machinery.

Rendering is done entirely with JVM-side column expressions (concat /
regexp_replace) — no Python in the rendering path; Python is paid only
in the parse ``mapInPandas`` stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

NS = "http://graft.local/"
DOC_NS = NS + "doc/"
PROP_NS = NS + "prop/"
GRAPH_NS = NS + "graph/"
SOURCE_NS = NS + "source/"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def turtle_escape(col: Column) -> Column:
    """Escape a string for a double-quoted Turtle/NT literal.

    Mirrors the ECHAR forms the readers decode
    (/root/reference/src/reader-helpers.ts:59-76) so render→parse is an
    exact identity on the value.
    """
    c = F.regexp_replace(col, r"\\", r"\\\\")
    c = F.regexp_replace(c, '"', '\\\\"')
    c = F.regexp_replace(c, "\n", r"\\n")
    c = F.regexp_replace(c, "\r", r"\\r")
    c = F.regexp_replace(c, "\t", r"\\t")
    return c


def doc_iri(doc_id: Column) -> Column:
    return F.concat(F.lit(DOC_NS), doc_id.cast("string"))


def _span(kind: str, text: Column | None, media_ref: Column | None, offset: Column) -> Column:
    return F.struct(
        F.lit(kind).alias("kind"),
        (text if text is not None else F.lit(None).cast("string")).alias("text"),
        (media_ref if media_ref is not None else F.lit(None).cast("string")).alias("media_ref"),
        offset.cast("int").alias("offset"),
    )


def documents_as_rdf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents.parquet`` → interleaved-span RDF documents.

    Per row (doc_id, text, lang, source, n_chars) emits exactly four
    triples about ``<{DOC_NS}{doc_id}>``:

        p:lang     "{lang}"                       (plain literal)
        p:source   "{source}"                     (plain literal)
        p:n_chars  {n_chars}                      (xsd:integer, lexical kept)
        p:text     "{escaped text}"@{lang}        (language-tagged)

    Syntax by ``doc_id % 4``: 1 → N-Triples, 3 → N-Quads (graph
    ``<{GRAPH_NS}{source}>``), else Turtle. The body is split into three
    text spans, with a media span interleaved after the first span on
    every third document (``doc_id % 3 == 0``) — the input_hint's
    interleaved text+media invariant.
    """
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    iri = doc_iri(did)
    esc_text = turtle_escape(F.col("text"))
    lang = F.col("lang")
    source = F.col("source")
    n_chars = F.col("n_chars").cast("string")
    graph_iri = F.concat(F.lit(GRAPH_NS), source)

    # --- Turtle rendering (three pieces) ---
    ttl0 = F.lit(f"@prefix p: <{PROP_NS}> .\n@prefix d: <{DOC_NS}> .\n")
    ttl1 = F.concat(
        F.lit("d:"), did.cast("string"),
        F.lit(' p:lang "'), lang, F.lit('" ;\n'),
        F.lit('  p:source "'), source, F.lit('" ;\n'),
    )
    ttl2 = F.concat(
        F.lit("  p:n_chars "), n_chars, F.lit(" ;\n"),
        F.lit('  p:text "'), esc_text, F.lit('"@'), lang, F.lit(" .\n"),
    )

    # --- N-Triples rendering ---
    s_term = F.concat(F.lit("<"), iri, F.lit("> "))
    nt0 = F.concat(s_term, F.lit(f"<{PROP_NS}lang> \""), lang, F.lit('" .\n'))
    nt1 = F.concat(
        s_term, F.lit(f"<{PROP_NS}source> \""), source, F.lit('" .\n'),
        s_term, F.lit(f"<{PROP_NS}n_chars> \""), n_chars,
        F.lit(f'"^^<{XSD_INTEGER}> .\n'),
    )
    nt2 = F.concat(
        s_term, F.lit(f"<{PROP_NS}text> \""), esc_text, F.lit('"@'), lang, F.lit(" .\n"),
    )

    # --- N-Quads rendering (same statements + graph label) ---
    g_term = F.concat(F.lit(" <"), graph_iri, F.lit("> .\n"))
    nq0 = F.concat(s_term, F.lit(f"<{PROP_NS}lang> \""), lang, F.lit('"'), g_term)
    nq1 = F.concat(
        s_term, F.lit(f"<{PROP_NS}source> \""), source, F.lit('"'), g_term,
        s_term, F.lit(f"<{PROP_NS}n_chars> \""), n_chars,
        F.lit(f'"^^<{XSD_INTEGER}>'), g_term,
    )
    nq2 = F.concat(
        s_term, F.lit(f"<{PROP_NS}text> \""), esc_text, F.lit('"@'), lang, g_term,
    )

    mod4 = did % 4
    syntax = (
        F.when(mod4 == 1, F.lit("ntriples"))
        .when(mod4 == 3, F.lit("nquads"))
        .otherwise(F.lit("turtle"))
    )
    p0 = F.when(mod4 == 1, nt0).when(mod4 == 3, nq0).otherwise(ttl0)
    p1 = F.when(mod4 == 1, nt1).when(mod4 == 3, nq1).otherwise(ttl1)
    p2 = F.when(mod4 == 1, nt2).when(mod4 == 3, nq2).otherwise(ttl2)

    has_media = (did % 3) == 0
    media = _span(
        "media", None,
        F.concat(F.lit("media://doc/"), did.cast("string"), F.lit("/img0")),
        F.lit(1),
    )
    spans = F.when(
        has_media,
        F.array(
            _span("text", p0, None, F.lit(0)),
            media,
            _span("text", p1, None, F.lit(2)),
            _span("text", p2, None, F.lit(3)),
        ),
    ).otherwise(
        F.array(
            _span("text", p0, None, F.lit(0)),
            _span("text", p1, None, F.lit(1)),
            _span("text", p2, None, F.lit(2)),
        )
    )

    return docs.select(
        iri.alias("doc_id"),
        spans.alias("spans"),
        syntax.alias("syntax"),
        F.lit("positive").alias("expect"),
    )
