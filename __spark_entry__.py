"""Driver contract for the spark-graft builder (PySpark target).

`entry` runs the flagship text→KG pipeline (render testdata documents as
interleaved-span RDF docs → distributed extract → predicate stats).

`queries()` exposes the engine's operator surface (SURVEY.md §2 + the
training-data pipeline family) over `/root/testdata` tables;
`oracle_sql()` gives the DuckDB-equivalent for every SQL-expressible one.
Cross-engine determinism rules used throughout:

* float aggregates stay DECIMAL end to end with explicitly matched
  precision/scale (plain double sums are summation-order-dependent, and
  DuckDB's decimal→double cast is off-by-an-ulp vs Spark's).
* hashing: md5 only (identical in Spark and DuckDB); the engine's fast
  paths use xxhash64 but oracle-checked queries pin md5.
* ranking: rank on *rounded* similarity with an id tie-break so both
  engines rank identical values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mentor_rdf_parsers_spark.operators.canonicalize import (
    canonicalize_triples,
    connected_components,
)
from mentor_rdf_parsers_spark.operators.dedup import (
    dedup_exact,
    dedup_simhash,
    ngram_jaccard_pairs,
)
from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
from mentor_rdf_parsers_spark.operators.linking import (
    link_exact,
    minhash_candidate_pairs,
)
from mentor_rdf_parsers_spark.operators.multimodal import (
    decode_images,
    media_from_documents,
)
from mentor_rdf_parsers_spark.operators.paths import transitive_closure
from mentor_rdf_parsers_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from mentor_rdf_parsers_spark.operators.textstats import text_profile
from mentor_rdf_parsers_spark.sources.testdata import (
    DOC_NS,
    GRAPH_NS,
    PROP_NS,
    SOURCE_NS,
    XSD_INTEGER,
    documents_as_rdf_docs,
    load_table,
)

SF0001 = "/root/testdata/sf0.001"
EMB_DIM = 64

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


_TRIPLES_CACHE: dict[tuple[int, str], DataFrame] = {}


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full extract pipeline over the rendered testdata documents.

    Persisted per (session, sf_dir): downstream queries (CC loop,
    canonicalization, BGP self-joins) reference the triples DataFrame
    several times, and without a persist every reference re-runs the
    parse UDF stage."""
    key = (id(spark), sf_dir)
    if key not in _TRIPLES_CACHE:
        docs = documents_as_rdf_docs(spark, sf_dir)
        triples, _errors = split_extract(extract_triples(docs))
        triples = triples.persist()
        triples.count()
        _TRIPLES_CACHE[key] = triples
    return _TRIPLES_CACHE[key]


def _doc_num(col):
    return F.substring(col, len(DOC_NS) + 1, 32).cast("long")


def _source_nodes(spark, sf_dir) -> DataFrame:
    t = _triples(spark, sf_dir)
    return t.where(F.col("p") == PROP_NS + "source").select(
        _doc_num(F.col("s")).alias("doc"), F.col("o").alias("src_val")
    )


def _chain_edges(nodes: DataFrame) -> DataFrame:
    """Deterministic owl:sameAs-style chain: consecutive doc ids within a
    source group."""
    w = Window.partitionBy("src_val").orderBy("doc")
    return (
        nodes.withColumn("prev", F.lag("doc").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("doc").alias("dst"))
    )


def _dsum(col) -> F.Column:
    """Exact decimal sum with an explicitly matched result type.

    DECIMAL end to end: DuckDB's decimal→DOUBLE cast divides in float
    (off-by-an-ulp vs Spark's correctly-rounded BigDecimal.doubleValue),
    so cross-engine-checked sums never leave decimal."""
    return F.sum(col.cast("decimal(20,6)")).cast("decimal(38,6)")


def _present(col, k: int) -> F.Column:
    """Decimal → double *presentation* cast for final projections.

    The driver's value-hasher canonicalizes Decimal differently per
    engine (round-1 finding: every decimal-typed output column
    hash-mismatched while str-comparing equal), so query outputs never
    expose decimal. Round in decimal first — exact in both engines, and
    `k` is always ≥ the true fractional digits so the round is an
    identity (no rounding-mode dependence) — then cast: once the
    unscaled value fits in 2^53 the cast is a single correctly-rounded
    IEEE division in BOTH engines (Spark BigDecimal.doubleValue, DuckDB
    unscaled/10^k), giving bit-identical doubles."""
    return F.round(col, k).cast("double")


def _dsum_d(col, k: int = 2) -> F.Column:
    """`_dsum` with the `_present` double projection applied."""
    return _present(_dsum(col), k)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents → interleaved RDF docs → distributed
    extract → triples-per-predicate stats."""
    t = _triples(spark, SF0001)
    return t.groupBy("p").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("s").alias("n_subjects"),
    )


# --- KG construction family -------------------------------------------------


def q_kg_pred_counts(spark, sf_dir):
    return _triples(spark, sf_dir).groupBy("p").agg(F.count("*").alias("n_triples"))


def q_kg_roundtrip_facets(spark, sf_dir):
    """Four extract-roundtrip invariants in one faceted result (merged
    from the r1-r3 kg_lang_roundtrip / kg_text_langtag /
    kg_nchars_roundtrip / kg_graph_roundtrip queries so every query fits
    the driver's 50-row attestation window): per-doc lang literal,
    langtagged text, typed n_chars lexical form, and named-graph
    membership all survive render → distributed parse byte-for-byte."""
    t = _triples(spark, sf_dir)
    null_s = F.lit(None).cast("string")
    lang = t.where(F.col("p") == PROP_NS + "lang").select(
        F.lit("lang").alias("facet"), F.col("s").alias("doc"),
        F.col("o").alias("v1"), null_s.alias("v2"),
    )
    text = t.where(F.col("p") == PROP_NS + "text").select(
        F.lit("text_langtag").alias("facet"), F.col("s").alias("doc"),
        F.col("o_lang").alias("v1"), F.col("o").alias("v2"),
    )
    nchars = t.where(F.col("p") == PROP_NS + "n_chars").select(
        F.lit("n_chars").alias("facet"), F.col("s").alias("doc"),
        F.col("o").alias("v1"), F.col("o_dt").alias("v2"),
    )
    graph = (
        t.where(F.col("g").isNotNull())
        .select(F.col("s").alias("doc"), F.col("g").alias("v1"))
        .distinct()
        .select(F.lit("graph").alias("facet"), "doc", "v1", null_s.alias("v2"))
    )
    return lang.unionByName(text).unionByName(nchars).unionByName(graph)


def q_kg_summary(spark, sf_dir):
    t = _triples(spark, sf_dir)
    return t.agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("g").alias("n_graphs"),
    )


def q_kg_entity_link(spark, sf_dir):
    t = _triples(spark, sf_dir)
    mentions = t.where(F.col("p") == PROP_NS + "source").select(
        F.col("s").alias("doc"), F.col("o").alias("mention")
    )
    dictionary = (
        mentions.select("mention").distinct()
        .select(
            F.col("mention").alias("alias"),
            F.concat(F.lit(SOURCE_NS), F.col("mention")).alias("entity"),
        )
    )
    linked = link_exact(mentions, dictionary, mention_col="mention")
    return linked.select("doc", "entity")


def q_kg_sameas_components(spark, sf_dir):
    nodes = _source_nodes(spark, sf_dir)
    edges = _chain_edges(nodes)
    labels = connected_components(edges)
    return (
        nodes.join(labels, nodes.doc == labels.node, "left")
        .select(
            F.col("doc").alias("doc_id"),
            F.coalesce("comp", "doc").alias("component"),
        )
    )


def q_kg_path_closure(spark, sf_dir):
    nodes = _source_nodes(spark, sf_dir)
    closure = transitive_closure(_chain_edges(nodes))
    return (
        closure.join(nodes, closure.src == nodes.doc)
        .groupBy("src_val")
        .agg(F.count("*").alias("n_pairs"))
        .select(F.col("src_val").alias("source"), "n_pairs")
    )


def q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration decimal-exact PageRank over the sameAs chain
    edges; the chain structure gives a closed-form oracle."""
    from mentor_rdf_parsers_spark.operators.paths import pagerank

    nodes = _source_nodes(spark, sf_dir)
    edges = _chain_edges(nodes)
    pr = pagerank(edges, iterations=3)
    return pr.select(
        F.col("node").alias("doc_id"),
        _present(F.col("rank"), 6).alias("rank"),
    )


def q_kg_canonical_triples(spark, sf_dir):
    """Full canonicalization: inject chain sameAs edges as triples, run
    CC-based alias collapse, return the entire canonical triple set."""
    t = _triples(spark, sf_dir)
    nodes = _source_nodes(spark, sf_dir)
    edges = _chain_edges(nodes)
    sameas = edges.select(
        F.lit("sameas").alias("doc_id"),
        F.lit("iri").alias("s_kind"),
        F.concat(F.lit(DOC_NS), F.col("src").cast("string")).alias("s"),
        F.lit("iri").alias("p_kind"),
        F.lit("http://www.w3.org/2002/07/owl#sameAs").alias("p"),
        F.lit("iri").alias("o_kind"),
        F.concat(F.lit(DOC_NS), F.col("dst").cast("string")).alias("o"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_dt"),
        F.lit(None).cast("string").alias("g_kind"),
        F.lit(None).cast("string").alias("g"),
        F.lit(None).cast("int").alias("s_off"),
        F.lit(None).cast("int").alias("p_off"),
        F.lit(None).cast("int").alias("o_off"),
    )
    canon = canonicalize_triples(t.unionByName(sameas))
    return canon.select("s", "p", "o", "o_lang", "o_dt", "g")


# --- dedup / text / similarity family --------------------------------------


def q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs)


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.5)
    return pairs.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3, hash_fn="md5"
    )


def q_dedup_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup_simhash(docs)


# df-cap used by the *_capped twins: the production web-scale
# configuration (hot boilerplate shingles dropped before any self-join).
# The policy lives in the library — operators accept max_doc_freq="auto"
# (operators/dedup.py:auto_doc_freq_cap, max(3, 0.6% of docs));
# _DF_CAP_SQL below is its DuckDB oracle twin.


_DF_CAP_SQL = "greatest(3, (SELECT COUNT(*) * 6 // 1000 FROM documents))"


def q_dedup_capped(spark, sf_dir):
    """The two production-config near-dup paths in one faceted result
    (merged from the r3 dedup_ngram_capped + dedup_minhash_capped
    queries for the 50-row attestation window): exact n-gram Jaccard and
    LSH-banded-then-verified pairs, both under the corpus-relative
    ``max_doc_freq="auto"`` cap a 100 TB run needs (bounds the shingle
    self-join at Σdf² over surviving shingles)."""
    from mentor_rdf_parsers_spark.operators.dedup import (
        auto_doc_freq_cap,
        dedup_minhash_lsh,
    )

    docs = load_table(spark, sf_dir, "documents")
    # resolve the auto cap ONCE — passing "auto" to both operators would
    # run two redundant full count jobs per query execution
    df_cap = auto_doc_freq_cap(docs.count())
    ngram = ngram_jaccard_pairs(docs, min_jaccard=0.5, max_doc_freq=df_cap).select(
        F.lit("ngram").alias("method"), "a", "b",
        F.round("jaccard", 6).alias("jaccard"),
    )
    mh = dedup_minhash_lsh(
        docs, num_hashes=16, bands=4, shingle_n=3,
        min_jaccard=0.5, hash_fn="md5", max_doc_freq=df_cap,
    ).select(
        F.lit("minhash").alias("method"), "a", "b",
        F.round("jaccard", 6).alias("jaccard"),
    )
    return ngram.unionByName(mh)


def q_dedup_simhash_hamming(spark, sf_dir):
    """Hamming-≤2 SimHash near-dup search: pigeonhole byte-banding →
    bucket equi-join → exact popcount verify (never a cross join); the
    DuckDB oracle recomputes the pairs brute-force, so banding recall
    is value-checked, not assumed."""
    from mentor_rdf_parsers_spark.operators.dedup import simhash_hamming_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_hamming_pairs(docs, max_hamming=2)


def q_dedup_clusters(spark, sf_dir):
    """Cluster-based dedup: capped n-gram-Jaccard pairs → Kiveris CC →
    (id, component, keep). The DuckDB oracle re-derives the components
    with a recursive label-propagation CTE — the iterative distributed
    CC is value-checked against a fixpoint computed a completely
    different way."""
    from mentor_rdf_parsers_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, min_jaccard=0.5, max_doc_freq="auto"
    )
    return dedup_clusters(docs, pairs)


def q_quality_decontam(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing an 8-gram with the
    pseudo eval set (every 97th document)."""
    from mentor_rdf_parsers_spark.operators.quality import decontaminate_ngram

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate_ngram(docs, bench, n=8)


def q_quality_repetition(spark, sf_dir):
    """Gopher-style repetition profile; the corpus has no newlines, so
    line breaks are synthesized deterministically (articles → \\n) the
    same way in both engines."""
    from mentor_rdf_parsers_spark.operators.quality import repetition_profile

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.withColumn("text", F.regexp_replace("text", " (the|a) ", "\n"))
    return repetition_profile(docs)


def q_quality_pii(spark, sf_dir):
    """PII scrub over text salted with deterministic synthetic
    contact/IP/phone spans (the corpus itself is clean, so the injected
    spans make the redaction value-checkable)."""
    from mentor_rdf_parsers_spark.operators.quality import scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    salted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"), F.lit(".7 tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    )
    return scrub_pii(salted)


def q_quality_gate(spark, sf_dir):
    from mentor_rdf_parsers_spark.operators.quality import quality_gate

    docs = load_table(spark, sf_dir, "documents")
    return quality_gate(docs, min_tokens=20, max_tokens=60, min_quality=0.5)


def q_corpus_sample(spark, sf_dir):
    from mentor_rdf_parsers_spark.operators.corpus import sample_corpus

    docs = load_table(spark, sf_dir, "documents")
    return sample_corpus(docs, rate=0.25).select("doc_id")


def q_corpus_pack(spark, sf_dir):
    """Both sequence-packing modes in one faceted result (merged from
    the r1 corpus_pack + r3 corpus_pack_sharded queries for the 50-row
    attestation window): the global total-order window (mode='global',
    the explicit small-corpus mode, shard = -1) and the 100 TB shape —
    per-shard cumulative windows, parallel tasks, (shard, pack_id)
    globally unique (mode='sharded')."""
    from mentor_rdf_parsers_spark.operators.corpus import pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    g = pack_sequences(docs, token_budget=512).select(
        F.lit("global").alias("mode"), F.lit(-1).cast("long").alias("shard"),
        "doc_id", "n_tokens", "pack_id", "pack_offset",
    )
    sharded = pack_sequences(
        docs.withColumn("shard", (F.col("doc_id") % 8).cast("long")),
        token_budget=512, shard_col="shard",
    ).select(
        F.lit("sharded").alias("mode"), "shard",
        "doc_id", "n_tokens", "pack_id", "pack_offset",
    )
    return g.unionByName(sharded)


_BM25_TERMS = ["hash", "join", "vector"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_text_search(spark, sf_dir):
    """BM25-style (rational-idf) ranked retrieval — see
    operators/textsearch.py for the no-logarithm determinism design."""
    from mentor_rdf_parsers_spark.operators.textsearch import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k=20, k1=_BM25_K1, b=_BM25_B)


def q_text_profile(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs)


def q_ann_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return brute_force_topk(emb, queries, k=3)


def q_ann_lsh_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return lsh_topk(emb, queries, dim=EMB_DIM, k=3, n_bits=8)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with the deterministic md5 coarse quantizer — bucket
    assignment, probe order and final ranks all reproduce in DuckDB
    (the KMeans quantizer stays the recall path, pytest-verified)."""
    from mentor_rdf_parsers_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return ivf_topk(
        emb, queries, k=3, n_centroids=8, n_probe=2,
        quantizer="md5", dim=EMB_DIM,
    )


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs via the LSH bucket equi-join
    (random 64-dim vectors rarely exceed high cosine, so the threshold
    is low to keep the value set non-trivial at test scale)."""
    from mentor_rdf_parsers_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, dim=EMB_DIM, min_sim=0.1, n_bits=8)


def q_media_decode(spark, sf_dir):
    """Two facets in one attested result (the 50-row window convention):
    'fake' — the deterministic digest decode of ref-only payloads
    (unchanged from r2); 'probe' — REAL containers (PNG, baseline +
    progressive JPEG, MJPEG-in-MP4, MJPEG-in-Matroska, MP3, ADTS AAC)
    synthesized distributedly from doc_ids with SQL-expressible
    parameters, then probed by probe_media: the oracle recomputes the
    expected container/codec/dims/duration/frame-count with pure
    arithmetic, so a wrong muxer byte or a wrong parser offset breaks
    the hash."""
    docs = documents_as_rdf_docs(spark, sf_dir)
    media = media_from_documents(docs)
    meta = decode_images(media)
    fake = meta.select(
        F.lit("fake").alias("facet"), "media_id", "width", "height",
        F.col("n_bytes").alias("n"), F.col("sha").alias("tag"),
    )
    return fake.unionByName(_media_probe_facet(spark, sf_dir))


def _media_probe_facet(spark, sf_dir):
    from mentor_rdf_parsers_spark.operators.multimodal import (
        MEDIA,
        probe_media,
    )

    ids = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("d"))
        .where(F.col("d") % 7 == 0)
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from mentor_rdf_parsers_spark.functions import (
            ebml, gif, imagex, jpeg, mp4, mpegaudio, png, vp8l,
        )

        for pdf in batches:
            out = {"media_id": [], "kind": [], "payload": [], "mime": []}
            for d in pdf["d"]:
                d = int(d)
                w, h = 16 + d % 24, 16 + (d * 7) % 24
                img = (
                    (np.add.outer(np.arange(h), np.arange(w)) * (d % 11 + 1))
                    % 256
                ).astype("uint8")
                k = d % 10
                if k == 0:
                    b = png.encode_png(img)
                elif k == 1:
                    b = jpeg.encode_jpeg(
                        img, 85, progressive=(d // 10) % 2 == 0)
                elif k in (2, 3):
                    frames = [jpeg.encode_jpeg(img, 85)] * (2 + d % 3)
                    if k == 2:
                        b = mp4.encode_mp4_mjpeg(frames, fps=5,
                                                 width=w, height=h)
                    else:
                        b = ebml.encode_mkv_mjpeg(frames, fps=4,
                                                  width=w, height=h)
                elif k == 4:
                    b = mpegaudio.make_mp3(10 + d % 20)
                elif k == 5:
                    b = mpegaudio.make_adts(10 + d % 20)
                elif k == 6:
                    b = gif.encode_gif(
                        [np.stack([img] * 3, axis=2)] * (2 + d % 3))
                elif k == 7:
                    b = imagex.encode_bmp(img)
                elif k == 8:
                    b = imagex.make_tiff(w, h)
                else:
                    # a real decodable lossless WebP (r5: full VP8L
                    # codec); the probe reads the same header dims
                    b = vp8l.encode_webp(np.stack([img] * 3, axis=2))
                out["media_id"].append(str(d))
                out["kind"].append("probe")
                out["payload"].append(b)
                out["mime"].append("")
            yield pd.DataFrame(out)

    probed = probe_media(ids.mapInPandas(synth, schema=MEDIA))
    return probed.select(
        F.lit("probe").alias("facet"),
        "media_id",
        "width",
        "height",
        F.col("duration_ms").alias("n"),
        F.concat_ws(
            "/", "container", "codec", F.col("n_frames").cast("string")
        ).alias("tag"),
    )


# --- relational / SPARQL-algebra family ------------------------------------


def q_rel_agg_pricing(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum_d(F.col("l_quantity"), 2).alias("sum_qty"),
            _dsum_d(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            _present(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
                ).cast("decimal(38,12)"),
                4,
            ).alias("sum_disc_price"),
            F.count("*").alias("n"),
        )
    )


def q_rel_join_topk(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    seg = cust.select("c_custkey", "c_mktsegment")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
            ).cast("decimal(38,12)").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", _present(F.col("revenue"), 4).alias("revenue"))
    )


def q_rel_broadcast_dim(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            _dsum_d(F.col("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


def q_rel_set_ops(spark, sf_dir):
    """Anti-join, semi-join and INTERSECT in one faceted result (merged
    from the r1 rel_anti_join / rel_semi_join / rel_intersect queries
    for the 50-row attestation window): customers with no orders ('anti'),
    customers with an open order ('semi'), and customers having both any
    order and a ≥45-quantity lineitem ('intersect')."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select(F.lit("anti").alias("op"), "c_custkey")
    )
    semi = (
        cust.join(
            orders.where(F.col("o_orderstatus") == "O"),
            cust.c_custkey == orders.o_custkey,
            "left_semi",
        ).select(F.lit("semi").alias("op"), "c_custkey")
    )
    with_orders = orders.select(F.col("o_custkey").alias("k")).distinct()
    big_spenders = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_quantity") >= 45)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    inter = with_orders.intersect(big_spenders).select(
        F.lit("intersect").alias("op"), F.col("k").alias("c_custkey")
    )
    return anti.unionByName(semi).unionByName(inter)


def q_rel_left_join_null(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_rel_window_topk(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rk").cast("long").alias("rk"))
    )


def q_rel_group_concat(spark, sf_dir):
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("s_name"))).alias("suppliers")
        )
    )


def q_rel_rollup(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum_d(F.col("l_quantity"), 2).alias("qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
            "qty",
        )
    )


def q_events_hourly(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count("*").alias("n"), _dsum_d(F.col("value"), 6).alias("value_sum"))
    )


def q_events_sessions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def q_sparql_bgp_filter(spark, sf_dir):
    t = _triples(spark, sf_dir)
    t1 = t.where((F.col("p") == PROP_NS + "lang") & (F.col("o") == "en")).select(
        F.col("s").alias("doc")
    )
    t2 = t.where((F.col("p") == PROP_NS + "source") & (F.col("o") == "src0")).select(
        F.col("s").alias("doc")
    )
    return t1.join(t2, "doc").select("doc")


def q_sparql_optional_minus(spark, sf_dir):
    t = _triples(spark, sf_dir)
    t1 = t.where((F.col("p") == PROP_NS + "lang") & (F.col("o") == "en")).select(
        F.col("s").alias("doc")
    )
    t2 = t.where((F.col("p") == PROP_NS + "source") & (F.col("o") == "src3")).select(
        F.col("s").alias("doc")
    )
    return t1.join(t2, "doc", "left_anti").select("doc")


# --- SPARQL-executor family (the reference parses SPARQL; we execute it) ---

_SPARQL_SELECT = f"""
SELECT ?doc ?lang WHERE {{ ?doc <{PROP_NS}lang> ?lang }}
"""

_SPARQL_AGG = f"""
SELECT ?lang (COUNT(*) AS ?n) WHERE {{ ?doc <{PROP_NS}lang> ?lang }}
GROUP BY ?lang
"""

_SPARQL_GRAPH = f"""
SELECT ?doc ?g WHERE {{ GRAPH ?g {{ ?doc <{PROP_NS}source> ?src }} }}
"""

_SPARQL_DESCRIBE = f"""
DESCRIBE ?doc WHERE {{ ?doc <{PROP_NS}lang> "de" }}
"""

_SPARQL_ASK = f"""ASK {{ ?d <{PROP_NS}lang> "de" }}"""

_SPARQL_CONSTRUCT = f"""
CONSTRUCT {{ ?d <{PROP_NS}tag> ?lang }} WHERE {{ ?d <{PROP_NS}lang> ?lang }}
"""

# mutate a copy of the graph: retract German lang triples (default graph
# only — NQ-rendered docs live in named graphs and keep theirs), then
# tag every remaining doc
_SPARQL_UPDATE = f"""
DELETE WHERE {{ ?d <{PROP_NS}lang> "de" }} ;
INSERT {{ ?d <{PROP_NS}kept> "y" }} WHERE {{ ?d <{PROP_NS}lang> ?l }}
"""

# sequence + inverse property path: docs sharing a source value
# (default graph only, so NQ-rendered docs are excluded)
_SPARQL_PATH = f"""
SELECT ?a ?b WHERE {{ ?a <{PROP_NS}source>/^<{PROP_NS}source> ?b }}
"""

_SPARQL_FILTER = f"""
SELECT ?doc ?src WHERE {{ ?doc <{PROP_NS}source> ?src
                          FILTER(STRSTARTS(?src, "src1")) }}
"""


def q_sparql_exec_select(spark, sf_dir):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_SELECT, _triples(spark, sf_dir))


def q_sparql_describe(spark, sf_dir):
    """DESCRIBE via the semi-join path (described-IRI set never
    collected to the driver — the round-1 scale fix, value-checked)."""
    from mentor_rdf_parsers_spark.sparql.executor import execute

    out = execute(_SPARQL_DESCRIBE, _triples(spark, sf_dir))
    return out.select("s", "p", "o", "o_lang", "o_dt")


def q_sparql_exec_path(spark, sf_dir):
    """Property-path execution (sequence `/` + inverse `^`) through the
    real executor — bag semantics: exactly one row per ordered doc pair
    sharing a source (each doc has one p:source triple)."""
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_PATH, _triples(spark, sf_dir))


def q_sparql_exec_filter(spark, sf_dir):
    """FILTER + builtin (STRSTARTS) execution through the executor."""
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_FILTER, _triples(spark, sf_dir))


def q_sparql_exec_agg(spark, sf_dir):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_AGG, _triples(spark, sf_dir))


def q_sparql_exec_ask(spark, sf_dir):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_ASK, _triples(spark, sf_dir))


def q_sparql_exec_construct(spark, sf_dir):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_CONSTRUCT, _triples(spark, sf_dir))


def q_sparql_update_roundtrip(spark, sf_dir):
    """SPARQL Update execution (the reference only parses updates):
    DELETE WHERE + INSERT ... WHERE sequence applied to a copy of the
    extracted graph; returns the lang/kept predicate histogram of the
    resulting graph, fully predictable from the source table."""
    from mentor_rdf_parsers_spark.sparql.updates import execute_update

    after = execute_update(_SPARQL_UPDATE, _triples(spark, sf_dir))
    return (
        after.where(F.col("p").isin(PROP_NS + "lang", PROP_NS + "kept"))
        .groupBy("p", F.col("o").alias("val"))
        .agg(F.count("*").alias("n"))
    )


def q_sparql_exec_graph(spark, sf_dir):
    from mentor_rdf_parsers_spark.sparql.executor import execute

    return execute(_SPARQL_GRAPH, _triples(spark, sf_dir))


def q_kg_n3_entailment(spark, sf_dir):
    """N3 `log:implies` forward chaining with a closed-form oracle.

    Facts: the consecutive-doc `p:next` edges within each source group
    (the same deterministic chains the CC/closure queries use), rendered
    as 64 sharded N3 fact documents plus one rule document carrying the
    transitive rule
    ``{ ?x p:next ?y . ?y p:next ?z } => { ?x p:next ?z }``. The docs go
    through the real distributed N3 parse in parallel (formula graphs,
    quickvars, log:implies — reference parses these,
    src/n3/reader.ts:859-897, but never evaluates them), then
    `forward_chain` materializes the fixpoint with distributed BGP
    joins. The entailed `p:next` set is exactly the ordered pairs within
    each chain — a plain SQL self-join.
    """
    from mentor_rdf_parsers_spark.operators.reasoning import forward_chain

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    edges = (
        docs.select("doc_id", "source")
        .withColumn("prev", F.lag("doc_id").over(w))
        .where(F.col("prev").isNotNull())
    )
    # Facts are sharded into 64 N3 documents (one per doc_id bucket —
    # each fact statement is self-contained, so the bundling is
    # arbitrary) plus ONE tiny rule document; the distributed N3 parse
    # then runs one task per doc instead of funneling every fact
    # through a single collect_list string / single mapInPandas row
    # (the r3 single-task bottleneck — at 100x, one doc = one task =
    # the whole corpus on one core).
    header = f"@prefix p: <{PROP_NS}> .\n@prefix d: <{DOC_NS}> .\n"
    rule = "{ ?x p:next ?y . ?y p:next ?z } => { ?x p:next ?z } .\n"
    n_shards = 64
    lines = edges.select(
        (F.col("doc_id") % n_shards).alias("shard"),
        F.concat(
            F.lit("d:"), F.col("prev").cast("string"),
            F.lit(" p:next d:"), F.col("doc_id").cast("string"), F.lit(" ."),
        ).alias("line"),
    )
    span = lambda text_col: F.array(
        F.struct(
            F.lit("text").alias("kind"),
            text_col.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).cast("int").alias("offset"),
        )
    )
    fact_docs = (
        lines.groupBy("shard")
        .agg(F.concat_ws("\n", F.array_sort(F.collect_list("line"))).alias("facts"))
        .select(
            F.concat(F.lit("facts-"), F.col("shard").cast("string"), F.lit(".n3"))
            .alias("doc_id"),
            span(F.concat(F.lit(header), F.col("facts"), F.lit("\n"))).alias("spans"),
            F.lit("n3").alias("syntax"),
            F.lit(None).cast("string").alias("expect"),
        )
    )
    rule_doc = spark.range(1).select(
        F.lit("rules.n3").alias("doc_id"),
        span(F.lit(header + rule)).alias("spans"),
        F.lit("n3").alias("syntax"),
        F.lit(None).cast("string").alias("expect"),
    )
    n3_docs = fact_docs.unionByName(rule_doc).repartition(n_shards)
    triples, _errors = split_extract(extract_triples(n3_docs))
    # doubling closure: distance covered doubles per round, so chains of
    # length L fixpoint in ~log2(L) rounds; 16 covers sf1 chains (2500)
    closed = forward_chain(triples.persist(), max_iter=16)
    return closed.where(F.col("p") == PROP_NS + "next").select(
        _doc_num(F.col("s")).alias("a"), _doc_num(F.col("o")).alias("b")
    )


def _tuned(spark: SparkSession) -> SparkSession:
    """Defensive session tuning for the correctness-gate scale (sf≤0.1):
    the driver's session may default to 200 shuffle partitions with AQE
    off, which turns the iterative loops (CC, PageRank, closure) into
    200-task micro-shuffles per round."""
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    except Exception:
        pass
    return spark


def _wrap(fn):
    def run(spark, sf_dir):
        return fn(_tuned(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _wrap(v) for k, v in _QUERIES.items()}


# HARD CAP: the driver attests the first 50 entries only
# (CORRECTNESS_r03 recorded exactly _QUERIES[:50] and the r3 tail got no
# row). Keep len(_QUERIES) <= 50 — merge queries into faceted unions
# (see q_kg_roundtrip_facets) rather than growing past the window.
_QUERIES = {
        "kg_pred_counts": q_kg_pred_counts,
        "kg_roundtrip_facets": q_kg_roundtrip_facets,
        "kg_summary": q_kg_summary,
        "kg_entity_link": q_kg_entity_link,
        "kg_sameas_components": q_kg_sameas_components,
        "kg_path_closure": q_kg_path_closure,
        "kg_pagerank": q_kg_pagerank,
        "kg_canonical_triples": q_kg_canonical_triples,
        "kg_n3_entailment": q_kg_n3_entailment,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_hamming": q_dedup_simhash_hamming,
        "dedup_capped": q_dedup_capped,
        "dedup_clusters": q_dedup_clusters,
        "quality_decontam": q_quality_decontam,
        "quality_repetition": q_quality_repetition,
        "quality_pii": q_quality_pii,
        "quality_gate": q_quality_gate,
        "corpus_sample": q_corpus_sample,
        "corpus_pack": q_corpus_pack,
        "text_profile": q_text_profile,
        "text_search": q_text_search,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "dedup_embedding": q_dedup_embedding,
        "media_decode": q_media_decode,
        "rel_agg_pricing": q_rel_agg_pricing,
        "rel_join_topk": q_rel_join_topk,
        "rel_broadcast_dim": q_rel_broadcast_dim,
        "rel_set_ops": q_rel_set_ops,
        "rel_left_join_null": q_rel_left_join_null,
        "rel_window_topk": q_rel_window_topk,
        "rel_group_concat": q_rel_group_concat,
        "rel_rollup": q_rel_rollup,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "sparql_exec_select": q_sparql_exec_select,
        "sparql_describe": q_sparql_describe,
        "sparql_exec_path": q_sparql_exec_path,
        "sparql_exec_filter": q_sparql_exec_filter,
        "sparql_exec_agg": q_sparql_exec_agg,
        "sparql_exec_ask": q_sparql_exec_ask,
        "sparql_exec_construct": q_sparql_exec_construct,
        "sparql_update_roundtrip": q_sparql_update_roundtrip,
        "sparql_exec_graph": q_sparql_exec_graph,
        "sparql_bgp_filter": q_sparql_bgp_filter,
        "sparql_optional_minus": q_sparql_optional_minus,
    }
assert len(_QUERIES) <= 50, "driver attests only the first 50 queries"


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_DOC = f"'{DOC_NS}' || CAST(doc_id AS VARCHAR)"
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"CASE WHEN {_NORM} = '' THEN [] ELSE string_split({_NORM}, ' ') END"


def _sketch_sql(n_bits: int = 8) -> str:
    """DuckDB expression reproducing similarity.lsh_sketch bit-for-bit:
    bit b contributes 2^b when the md5-derived ±1 hyperplane dot is
    positive (expects a relation exposing the vector as `e`)."""
    from mentor_rdf_parsers_spark.operators.similarity import _hyperplane

    terms = []
    for b in range(n_bits):
        plane = _hyperplane(b, EMB_DIM)
        dot = " + ".join(
            ("" if x > 0 else "-") + f"CAST(e[{j + 1}] AS DOUBLE)"
            for j, x in enumerate(plane)
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {2 ** b} ELSE 0 END)")
    return " + ".join(terms)


def _ivf_sql(n_centroids: int = 8, n_probe: int = 2, k: int = 3) -> str:
    """DuckDB query reproducing similarity.ivf_topk(quantizer='md5')
    bit-for-bit: per-vector centroid dots (left-to-right ±sums), bucket
    = argmax dot (first occurrence on ties), queries probe their n_probe
    best centroids, exact cosine re-rank inside probed buckets."""
    from mentor_rdf_parsers_spark.operators.similarity import _ivf_centroid

    dots = []
    for i in range(n_centroids):
        c = _ivf_centroid(i, EMB_DIM)
        dot = " + ".join(
            ("" if x > 0 else "-") + f"CAST(e[{j + 1}] AS DOUBLE)"
            for j, x in enumerate(c)
        )
        dots.append(f"({dot})")
    dots_list = "[" + ", ".join(dots) + "]"
    return f"""
WITH sk AS (
  SELECT vec_id, embedding, {dots_list} AS dots
  FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings)
),
bk AS (
  SELECT vec_id, embedding,
         CAST(list_position(dots, list_aggregate(dots, 'max')) - 1 AS INT) AS bucket
  FROM sk
),
q AS (SELECT vec_id AS query_id, embedding AS qe, dots FROM sk WHERE vec_id % 100 = 0),
pr AS (
  SELECT query_id, qe, i - 1 AS bucket,
         row_number() OVER (PARTITION BY query_id ORDER BY dots[i] DESC, i) AS prk
  FROM q, generate_series(1, {n_centroids}) g(i)
),
probes AS (SELECT query_id, qe, bucket FROM pr WHERE prk <= {n_probe}),
p AS (
  SELECT query_id, s.vec_id AS neighbor_id,
    list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(qe[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) AS nq,
    sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))) AS nc
  FROM probes JOIN bk s USING (bucket) WHERE s.vec_id <> query_id
),
r AS (
  SELECT query_id, neighbor_id, round(dot / (nq * nc), 6) AS sim,
    row_number() OVER (PARTITION BY query_id ORDER BY round(dot / (nq * nc), 6) DESC, neighbor_id) AS rk
  FROM p
)
SELECT query_id, neighbor_id, sim, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {k}
"""


def _shingle_expr(n: int = 3) -> str:
    """DuckDB word-n-gram shingles matching linking.shingles_from_tokens
    (expects a CTE exposing the token list as `t`)."""
    parts = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_transform(range(1, len(t) - {n} + 2), i -> {parts}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def _hex_byte_sql(col: str, i: int) -> str:
    """DuckDB expression: byte `i` (0-based) of a hex-digest column."""
    nib = "strpos('0123456789abcdef', substr({c}, {p}, 1)) - 1"
    hi = nib.format(c=col, p=2 * i + 1)
    lo = nib.format(c=col, p=2 * i + 2)
    return f"(({hi}) * 16 + ({lo}))"


def _simhash_sql() -> str:
    """DuckDB expression replicating operators.dedup.simhash_fingerprints."""
    bit_sums = []
    for b in range(32):
        nib = f"(strpos('0123456789abcdef', substr(md5(tok), {1 + b // 4}, 1)) - 1)"
        bit = f"(CAST(floor({nib} / {2 ** (b % 4)}) AS BIGINT) % 2)"
        bit_sums.append(
            f"CASE WHEN list_sum(list_transform(t, tok -> {bit} * 2 - 1)) > 0 "
            f"THEN CAST({2 ** b} AS BIGINT) ELSE 0 END"
        )
    return " + ".join(bit_sums)


def _minhash_sql(max_df: "int | str | None" = None, min_jaccard: float | None = None) -> str:
    """CTE chain reproducing minhash_candidate_pairs(hash_fn='md5'):
    Kirsch-Mitzenmacher double hashing — hash_i = (h1 + i·h2) mod P with
    h1/h2 the two 32-bit halves of one md5 per shingle (matches
    operators/linking.py:minhash_bands md5 mode exactly).

    ``max_df``: document-frequency cap applied to the (distinct)
    shingle set before banding — the production web-scale configuration
    of dedup_minhash_lsh (operators/dedup.py:_exploded_shingles).
    ``min_jaccard``: also verify candidates with the exact Jaccard over
    the (capped) shingle sets, reproducing dedup_minhash_lsh's output
    (a, b, jaccard) instead of the raw candidate pairs."""
    prime = 4294967291
    mh_cols = ", ".join(
        f"min((h1 + {i} * h2) % {prime}) AS h{i}" for i in range(16)
    )
    bands = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5({concat}) AS band_hash FROM mh".format(
            b=b,
            concat=" || '|' || ".join(
                f"CAST(h{b * 4 + r} AS VARCHAR)" for r in range(4)
            ),
        )
        for b in range(4)
    )
    if max_df is None:
        sh_ctes = f"sh AS (SELECT doc_id, unnest({_shingle_expr(3)}) AS s FROM toks)"
    else:
        # distinct-per-doc shingles (matches _exploded_shingles'
        # array_distinct) so the df counts docs, then the cap drops hot
        # shingles before banding AND before the verification sets
        sh_ctes = (
            f"sh0 AS (SELECT DISTINCT doc_id, unnest({_shingle_expr(3)}) AS s FROM toks),\n"
            f"hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {max_df}),\n"
            "sh AS (SELECT doc_id, s FROM sh0 ANTI JOIN hot USING (s))"
        )
    core = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
{sh_ctes},
shm AS (SELECT doc_id, md5(s) AS m FROM sh),
sh2 AS (SELECT doc_id, CAST('0x' || substr(m, 1, 8) AS BIGINT) AS h1,
               CAST('0x' || substr(m, 9, 8) AS BIGINT) AS h2 FROM shm),
mh AS (SELECT doc_id, {mh_cols} FROM sh2 GROUP BY doc_id),
bands AS ({bands})"""
    pair_sql = """SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
FROM bands x JOIN bands y USING (band_idx, band_hash)
WHERE x.doc_id < y.doc_id"""
    if min_jaccard is None:
        return core + "\n" + pair_sql + "\n"
    jac = "CASE WHEN na + nb - i > 0 THEN i / (na + nb - i) ELSE 1.0 END"
    return f"""{core},
pairs AS ({pair_sql}),
arr0 AS (SELECT doc_id, list(DISTINCT s) AS shl FROM sh GROUP BY doc_id),
arr AS (SELECT d.doc_id, coalesce(shl, CAST([] AS VARCHAR[])) AS shl
        FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN arr0 USING (doc_id)),
j AS (SELECT a, b, len(list_intersect(xa.shl, xb.shl)) AS i,
             len(xa.shl) AS na, len(xb.shl) AS nb
      FROM pairs JOIN arr xa ON pairs.a = xa.doc_id JOIN arr xb ON pairs.b = xb.doc_id)
SELECT a, b, round({jac}, 6) AS jaccard FROM j WHERE {jac} >= {min_jaccard}
"""


def _text_search_sql(k: int = 20) -> str:
    """DuckDB query reproducing textsearch.bm25_topk bit-for-bit: same
    rational-idf formula, same evaluation order, numeric literals
    emitted via repr() so both engines parse the identical double."""
    k1, b, k1p1 = repr(_BM25_K1), repr(_BM25_B), repr(_BM25_K1 + 1.0)
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    per_cols = ",\n  ".join(
        f"COALESCE(MAX(CASE WHEN t = '{t}' THEN contrib END), 0.0) AS c{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    add = " + ".join(f"c{i}" for i in range(len(_BM25_TERMS)))
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM toks),
stats AS (SELECT AVG(dl) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n_docs FROM lens),
tf AS (
  SELECT doc_id, w AS t, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
  WHERE w IN ({in_list}) GROUP BY 1, 2
),
dft AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY t),
con AS (
  SELECT doc_id, t,
    (n_docs - df + 0.5) / (df + 0.5) * (tf * {k1p1})
      / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS contrib
  FROM tf JOIN dft USING (t) JOIN lens USING (doc_id) CROSS JOIN stats
),
per AS (SELECT doc_id,
  {per_cols}
  FROM con GROUP BY doc_id),
s AS (SELECT doc_id AS id, round({add}, 6) AS score FROM per),
r AS (SELECT id, score, row_number() OVER (ORDER BY score DESC, id) AS rk FROM s)
SELECT id, score, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= {k}
"""


def _text_profile_sql() -> str:
    stop = {
        "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
        "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
        "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
        "es": ["el", "los", "las", "y", "es", "un", "una", "en", "por", "para"],
    }
    hits = {
        lang: "len(list_filter(t, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + "], x)))"
        for lang, words in stop.items()
    }
    best = "greatest(" + ", ".join(hits.values()) + ")"
    lang_expr = "'und'"
    for lang in reversed(list(stop)):
        lang_expr = (
            f"CASE WHEN {best} > 0 AND {hits[lang]} = {best} THEN '{lang}' ELSE {lang_expr} END"
        )
    sub = (
        "regexp_replace(regexp_replace(lower(coalesce(text, '')), '([0-9]+)', ' \\1 ', 'g'),"
        " '[^a-z0-9]+', ' ', 'g')"
    )
    n_subtokens = f"CAST(len(list_filter(string_split({sub}, ' '), p -> p <> '')) AS BIGINT)"
    ntok = "CAST(len(t) AS DOUBLE)"
    sw_en = f"CAST({hits['en']} AS DOUBLE)"
    nalpha = "CAST(length(regexp_replace(lower(coalesce(text,'')), '[^a-z]', '', 'g')) AS DOUBLE)"
    nchar = "CAST(length(coalesce(text,'')) AS DOUBLE)"
    quality = (
        f"round(least(1.0, {ntok} / 100.0) * 0.4"
        f" + least(0.3, (CASE WHEN {ntok} > 0 THEN {sw_en} / {ntok} ELSE 0.0 END) * 5 * 0.3)"
        f" + (CASE WHEN {nchar} > 0 THEN {nalpha} / {nchar} ELSE 0.0 END) * 0.3, 4)"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t, text FROM documents)
SELECT doc_id AS id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       {n_subtokens} AS n_subtokens,
       {lang_expr} AS lang_id,
       {quality} AS quality,
       md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fingerprint
FROM toks
"""


# 18,6 × 18,6 → DECIMAL(37,12): inside the precision-38 cap of BOTH engines,
# so the product stays exact (20,6 would overflow Spark's cap and silently
# reduce scale, desyncing from DuckDB).
_DISC_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))"
)


def oracle_sql() -> dict[str, str]:
    preds = ["lang", "source", "n_chars", "text"]
    pred_counts = " UNION ALL ".join(
        f"SELECT '{PROP_NS}{p}' AS p, COUNT(*)::BIGINT AS n_triples FROM documents"
        for p in preds
    )
    return {
        "kg_pred_counts": pred_counts,
        "kg_roundtrip_facets": f"""
SELECT 'lang' AS facet, {_DOC} AS doc, lang AS v1, CAST(NULL AS VARCHAR) AS v2
FROM documents
UNION ALL
SELECT 'text_langtag', {_DOC}, lang, text FROM documents
UNION ALL
SELECT 'n_chars', {_DOC}, CAST(n_chars AS VARCHAR), '{XSD_INTEGER}' FROM documents
UNION ALL
SELECT 'graph', {_DOC}, '{GRAPH_NS}' || source, NULL
FROM documents WHERE doc_id % 4 = 3
""",
        "kg_summary": (
            "SELECT (COUNT(*) * 4)::BIGINT AS n_triples, COUNT(*)::BIGINT AS n_docs, "
            "(SELECT COUNT(DISTINCT source) FROM documents WHERE doc_id % 4 = 3)::BIGINT "
            "AS n_graphs FROM documents"
        ),
        "kg_entity_link": (
            f"SELECT {_DOC} AS doc, '{SOURCE_NS}' || source AS entity FROM documents"
        ),
        "kg_sameas_components": (
            "SELECT doc_id, MIN(doc_id) OVER (PARTITION BY source) AS component "
            "FROM documents"
        ),
        "kg_path_closure": (
            "SELECT source, CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs FROM "
            "(SELECT source, COUNT(*) AS n FROM documents GROUP BY source) WHERE n > 1"
        ),
        # chain graphs: rank after 3 iterations is a pure function of the
        # node's position in its chain (closed form, decimal-exact)
        "kg_pagerank": """
SELECT doc_id,
  CAST(CASE pos WHEN 0 THEN 0.15 WHEN 1 THEN 0.2775 WHEN 2 THEN 0.385875
       ELSE 1.0 END AS DOUBLE) AS rank
FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS pos
  FROM documents
)
WHERE source IN (SELECT source FROM documents GROUP BY source HAVING COUNT(*) > 1)
""",
        "kg_canonical_triples": f"""
WITH rep AS (
  SELECT doc_id, lang, source, n_chars, text,
         MIN('{DOC_NS}' || CAST(doc_id AS VARCHAR)) OVER (PARTITION BY source) AS s,
         CASE WHEN doc_id % 4 = 3 THEN '{GRAPH_NS}' || source END AS g
  FROM documents
),
quads AS (
  SELECT s, '{PROP_NS}lang' AS p, lang AS o, CAST(NULL AS VARCHAR) AS o_lang,
         CAST(NULL AS VARCHAR) AS o_dt, g FROM rep
  UNION ALL
  SELECT s, '{PROP_NS}source', source, NULL, NULL, g FROM rep
  UNION ALL
  SELECT s, '{PROP_NS}n_chars', CAST(n_chars AS VARCHAR), NULL, '{XSD_INTEGER}', g FROM rep
  UNION ALL
  SELECT s, '{PROP_NS}text', text, lang, NULL, g FROM rep
)
SELECT DISTINCT s, p, o, o_lang, o_dt, g FROM quads
""",
        "dedup_exact": (
            f"SELECT md5({_NORM}) AS digest, MIN(doc_id) AS keep_id, "
            "COUNT(*)::BIGINT AS dup_count FROM documents GROUP BY 1"
        ),
        "dedup_ngram_jaccard": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({_shingle_expr(3)}) AS s FROM toks),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*)::BIGINT AS i
  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter JOIN sizes na ON inter.a = na.doc_id JOIN sizes nb ON inter.b = nb.doc_id
WHERE i / (na.n + nb.n - i) >= 0.5
""",
        "dedup_minhash_pairs": _minhash_sql(),
        "dedup_capped": f"""
SELECT 'ngram' AS method, * FROM (
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh0 AS (SELECT DISTINCT doc_id, unnest({_shingle_expr(3)}) AS s FROM toks),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {_DF_CAP_SQL}),
sh AS (SELECT doc_id, s FROM sh0 ANTI JOIN hot USING (s)),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*)::BIGINT AS i
  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter JOIN sizes na ON inter.a = na.doc_id JOIN sizes nb ON inter.b = nb.doc_id
WHERE i / (na.n + nb.n - i) >= 0.5
)
UNION ALL
SELECT 'minhash' AS method, * FROM ({_minhash_sql(max_df=_DF_CAP_SQL, min_jaccard=0.5)})
""",
        "dedup_simhash_hamming": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
fp AS (SELECT doc_id, CAST({_simhash_sql()} AS BIGINT) AS sh FROM toks)
SELECT x.doc_id AS a, y.doc_id AS b,
  CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT) AS hamming
FROM fp x JOIN fp y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sh, y.sh)) <= 2
""",
        "dedup_clusters": f"""
WITH RECURSIVE
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh0 AS (SELECT DISTINCT doc_id, unnest({_shingle_expr(3)}) AS s FROM toks),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > {_DF_CAP_SQL}),
sh AS (SELECT doc_id, s FROM sh0 ANTI JOIN hot USING (s)),
sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*)::BIGINT AS i
  FROM sh x JOIN sh y USING (s) WHERE x.doc_id < y.doc_id
  GROUP BY 1, 2
),
pr AS (
  SELECT a, b FROM inter
  JOIN sizes na ON inter.a = na.doc_id JOIN sizes nb ON inter.b = nb.doc_id
  WHERE i / (na.n + nb.n - i) >= 0.5
),
e AS (SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr),
reach(id, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.v, reach.r FROM reach JOIN e ON reach.id = e.u
)
SELECT id, MIN(r) AS component, (id = MIN(r)) AS keep FROM reach GROUP BY id
""",
        "dedup_simhash": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
SELECT doc_id AS id, simhash, COUNT(*) OVER (PARTITION BY simhash)::BIGINT AS bucket_size
FROM (SELECT doc_id, CAST({_simhash_sql()} AS BIGINT) AS simhash FROM toks)
""",
        "quality_decontam": f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, unnest({_shingle_expr(8)}) AS s FROM toks),
bench AS (SELECT DISTINCT s FROM (
  SELECT unnest({_shingle_expr(8)}) AS s FROM toks WHERE doc_id % 97 = 0) b)
SELECT doc_id AS id, COUNT(*)::BIGINT AS n_hits
FROM sh JOIN bench USING (s) GROUP BY 1
""",
        "quality_repetition": """
WITH nl AS (SELECT doc_id,
            regexp_replace(text, ' (the|a) ', chr(10), 'g') AS t FROM documents),
lines AS (SELECT doc_id,
          unnest(list_filter(string_split(t, chr(10)), l -> l <> '')) AS line FROM nl),
per AS (SELECT doc_id, line, COUNT(*)::BIGINT AS c FROM lines GROUP BY 1, 2),
agg AS (SELECT doc_id, SUM(c) AS n_lines, COUNT(*) AS n_uniq,
        SUM((c - 1) * length(line)) AS dup_chars,
        SUM(c * length(line)) AS tot_chars,
        MAX(c) AS max_line_repeat FROM per GROUP BY 1)
SELECT doc_id AS id, CAST(n_lines AS BIGINT) AS n_lines,
  round(n_uniq / n_lines, 6) AS uniq_line_ratio,
  CASE WHEN tot_chars > 0 THEN round(dup_chars / tot_chars, 6)
       ELSE 0.0 END AS dup_line_char_ratio,
  CAST(max_line_repeat AS BIGINT) AS max_line_repeat
FROM agg
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), 1.0, 0.0, CAST(0 AS BIGINT)
FROM nl WHERE len(list_filter(string_split(t, chr(10)), l -> l <> '')) = 0
""",
        "quality_pii": """
WITH salted AS (SELECT doc_id,
  text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'
       || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-'
       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t FROM documents),
s1 AS (SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM salted),
s2 AS (SELECT doc_id, n_emails,
  len(regexp_extract_all(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS n_ips,
  regexp_replace(t1, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS t2
  FROM s1),
s3 AS (SELECT doc_id, n_emails, n_ips,
  len(regexp_extract_all(t2, '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b')) AS n_phones,
  regexp_replace(t2, '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS t3
  FROM s2)
SELECT doc_id AS id, t3 AS clean_text,
  CAST(n_emails AS BIGINT) AS n_emails, CAST(n_ips AS BIGINT) AS n_ips,
  CAST(n_phones AS BIGINT) AS n_phones
FROM s3
""",
        "quality_gate": f"""
SELECT id, n_tokens, quality,
  (n_tokens >= 20 AND n_tokens <= 60 AND quality >= 0.5) AS keep
FROM ({_text_profile_sql()})
""",
        "corpus_sample": """
WITH k AS (SELECT doc_id, md5('sample:' || CAST(doc_id AS VARCHAR)) AS h FROM documents)
SELECT doc_id FROM k WHERE (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 1048576 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 65536 + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 4096 + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 6, 1)) - 1) * 1 < 4194304
""",
        "corpus_pack": """
WITH t AS (
  SELECT doc_id, doc_id % 8 AS shard,
    CAST(CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = '' THEN 0
         ELSE len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) END AS BIGINT)
      AS n_tokens
  FROM documents
),
g AS (
  SELECT doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      AS cum_before
  FROM t
),
s AS (
  SELECT shard, doc_id, n_tokens,
    COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM t
)
SELECT 'global' AS mode, CAST(-1 AS BIGINT) AS shard, doc_id, n_tokens,
  CAST(FLOOR(cum_before / 512) AS BIGINT) AS pack_id,
  CAST(cum_before % 512 AS BIGINT) AS pack_offset
FROM g
UNION ALL
SELECT 'sharded', shard, doc_id, n_tokens,
  CAST(FLOOR(cum_before / 512) AS BIGINT),
  CAST(cum_before % 512 AS BIGINT)
FROM s
""",
        "text_profile": _text_profile_sql(),
        "text_search": _text_search_sql(20),
        "ann_cosine_topk": f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 100 = 0),
p AS (
  SELECT qid, vec_id AS nid,
    list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(qe[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) AS nq,
    sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nc
  FROM q, embeddings WHERE vec_id <> qid
),
s AS (SELECT qid AS query_id, nid AS neighbor_id, round(dot / (nq * nc), 6) AS sim FROM p),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
SELECT query_id, neighbor_id, sim, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 3
""",
        "dedup_embedding": f"""
WITH sk AS (
  SELECT vec_id, embedding, CAST({_sketch_sql(8)} AS BIGINT) AS bucket
  FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings)
),
p AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
    list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE)))) AS na,
    sqrt(list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> CAST(y.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))) AS nb
  FROM sk x JOIN sk y USING (bucket) WHERE x.vec_id < y.vec_id
)
SELECT a, b, round(dot / (na * nb), 6) AS sim
FROM p WHERE round(dot / (na * nb), 6) >= 0.1
""",
        "ann_lsh_topk": """
WITH sk AS (
  SELECT vec_id, embedding, CAST((CASE WHEN (-CAST(e[1] AS DOUBLE) + CAST(e[2] AS DOUBLE) + CAST(e[3] AS DOUBLE) + -CAST(e[4] AS DOUBLE) + -CAST(e[5] AS DOUBLE) + CAST(e[6] AS DOUBLE) + CAST(e[7] AS DOUBLE) + CAST(e[8] AS DOUBLE) + CAST(e[9] AS DOUBLE) + CAST(e[10] AS DOUBLE) + CAST(e[11] AS DOUBLE) + -CAST(e[12] AS DOUBLE) + -CAST(e[13] AS DOUBLE) + -CAST(e[14] AS DOUBLE) + CAST(e[15] AS DOUBLE) + CAST(e[16] AS DOUBLE) + CAST(e[17] AS DOUBLE) + CAST(e[18] AS DOUBLE) + CAST(e[19] AS DOUBLE) + CAST(e[20] AS DOUBLE) + CAST(e[21] AS DOUBLE) + -CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + CAST(e[24] AS DOUBLE) + CAST(e[25] AS DOUBLE) + CAST(e[26] AS DOUBLE) + -CAST(e[27] AS DOUBLE) + -CAST(e[28] AS DOUBLE) + -CAST(e[29] AS DOUBLE) + CAST(e[30] AS DOUBLE) + -CAST(e[31] AS DOUBLE) + CAST(e[32] AS DOUBLE) + CAST(e[33] AS DOUBLE) + -CAST(e[34] AS DOUBLE) + -CAST(e[35] AS DOUBLE) + -CAST(e[36] AS DOUBLE) + CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + CAST(e[39] AS DOUBLE) + CAST(e[40] AS DOUBLE) + -CAST(e[41] AS DOUBLE) + -CAST(e[42] AS DOUBLE) + -CAST(e[43] AS DOUBLE) + CAST(e[44] AS DOUBLE) + -CAST(e[45] AS DOUBLE) + CAST(e[46] AS DOUBLE) + -CAST(e[47] AS DOUBLE) + -CAST(e[48] AS DOUBLE) + CAST(e[49] AS DOUBLE) + CAST(e[50] AS DOUBLE) + -CAST(e[51] AS DOUBLE) + CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + -CAST(e[56] AS DOUBLE) + CAST(e[57] AS DOUBLE) + -CAST(e[58] AS DOUBLE) + CAST(e[59] AS DOUBLE) + CAST(e[60] AS DOUBLE) + CAST(e[61] AS DOUBLE) + -CAST(e[62] AS DOUBLE) + CAST(e[63] AS DOUBLE) + -CAST(e[64] AS DOUBLE)) > 0 THEN 1 ELSE 0 END) + (CASE WHEN (-CAST(e[1] AS DOUBLE) + CAST(e[2] AS DOUBLE) + CAST(e[3] AS DOUBLE) + CAST(e[4] AS DOUBLE) + CAST(e[5] AS DOUBLE) + CAST(e[6] AS DOUBLE) + CAST(e[7] AS DOUBLE) + -CAST(e[8] AS DOUBLE) + CAST(e[9] AS DOUBLE) + CAST(e[10] AS DOUBLE) + -CAST(e[11] AS DOUBLE) + -CAST(e[12] AS DOUBLE) + -CAST(e[13] AS DOUBLE) + CAST(e[14] AS DOUBLE) + -CAST(e[15] AS DOUBLE) + -CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + CAST(e[18] AS DOUBLE) + CAST(e[19] AS DOUBLE) + CAST(e[20] AS DOUBLE) + CAST(e[21] AS DOUBLE) + -CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + -CAST(e[24] AS DOUBLE) + -CAST(e[25] AS DOUBLE) + -CAST(e[26] AS DOUBLE) + -CAST(e[27] AS DOUBLE) + -CAST(e[28] AS DOUBLE) + CAST(e[29] AS DOUBLE) + CAST(e[30] AS DOUBLE) + CAST(e[31] AS DOUBLE) + -CAST(e[32] AS DOUBLE) + CAST(e[33] AS DOUBLE) + CAST(e[34] AS DOUBLE) + CAST(e[35] AS DOUBLE) + -CAST(e[36] AS DOUBLE) + -CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + -CAST(e[39] AS DOUBLE) + -CAST(e[40] AS DOUBLE) + CAST(e[41] AS DOUBLE) + CAST(e[42] AS DOUBLE) + CAST(e[43] AS DOUBLE) + -CAST(e[44] AS DOUBLE) + -CAST(e[45] AS DOUBLE) + -CAST(e[46] AS DOUBLE) + CAST(e[47] AS DOUBLE) + CAST(e[48] AS DOUBLE) + -CAST(e[49] AS DOUBLE) + CAST(e[50] AS DOUBLE) + -CAST(e[51] AS DOUBLE) + -CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + -CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + -CAST(e[56] AS DOUBLE) + -CAST(e[57] AS DOUBLE) + CAST(e[58] AS DOUBLE) + -CAST(e[59] AS DOUBLE) + -CAST(e[60] AS DOUBLE) + CAST(e[61] AS DOUBLE) + CAST(e[62] AS DOUBLE) + CAST(e[63] AS DOUBLE) + -CAST(e[64] AS DOUBLE)) > 0 THEN 2 ELSE 0 END) + (CASE WHEN (-CAST(e[1] AS DOUBLE) + -CAST(e[2] AS DOUBLE) + CAST(e[3] AS DOUBLE) + CAST(e[4] AS DOUBLE) + CAST(e[5] AS DOUBLE) + CAST(e[6] AS DOUBLE) + -CAST(e[7] AS DOUBLE) + -CAST(e[8] AS DOUBLE) + CAST(e[9] AS DOUBLE) + -CAST(e[10] AS DOUBLE) + CAST(e[11] AS DOUBLE) + CAST(e[12] AS DOUBLE) + CAST(e[13] AS DOUBLE) + CAST(e[14] AS DOUBLE) + -CAST(e[15] AS DOUBLE) + -CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + -CAST(e[18] AS DOUBLE) + -CAST(e[19] AS DOUBLE) + -CAST(e[20] AS DOUBLE) + -CAST(e[21] AS DOUBLE) + -CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + CAST(e[24] AS DOUBLE) + CAST(e[25] AS DOUBLE) + CAST(e[26] AS DOUBLE) + CAST(e[27] AS DOUBLE) + CAST(e[28] AS DOUBLE) + -CAST(e[29] AS DOUBLE) + CAST(e[30] AS DOUBLE) + -CAST(e[31] AS DOUBLE) + CAST(e[32] AS DOUBLE) + -CAST(e[33] AS DOUBLE) + -CAST(e[34] AS DOUBLE) + CAST(e[35] AS DOUBLE) + CAST(e[36] AS DOUBLE) + CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + CAST(e[39] AS DOUBLE) + -CAST(e[40] AS DOUBLE) + CAST(e[41] AS DOUBLE) + -CAST(e[42] AS DOUBLE) + CAST(e[43] AS DOUBLE) + CAST(e[44] AS DOUBLE) + CAST(e[45] AS DOUBLE) + CAST(e[46] AS DOUBLE) + -CAST(e[47] AS DOUBLE) + -CAST(e[48] AS DOUBLE) + CAST(e[49] AS DOUBLE) + CAST(e[50] AS DOUBLE) + CAST(e[51] AS DOUBLE) + -CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + -CAST(e[56] AS DOUBLE) + -CAST(e[57] AS DOUBLE) + -CAST(e[58] AS DOUBLE) + -CAST(e[59] AS DOUBLE) + -CAST(e[60] AS DOUBLE) + CAST(e[61] AS DOUBLE) + CAST(e[62] AS DOUBLE) + CAST(e[63] AS DOUBLE) + -CAST(e[64] AS DOUBLE)) > 0 THEN 4 ELSE 0 END) + (CASE WHEN (-CAST(e[1] AS DOUBLE) + -CAST(e[2] AS DOUBLE) + CAST(e[3] AS DOUBLE) + CAST(e[4] AS DOUBLE) + -CAST(e[5] AS DOUBLE) + -CAST(e[6] AS DOUBLE) + CAST(e[7] AS DOUBLE) + -CAST(e[8] AS DOUBLE) + -CAST(e[9] AS DOUBLE) + CAST(e[10] AS DOUBLE) + -CAST(e[11] AS DOUBLE) + CAST(e[12] AS DOUBLE) + -CAST(e[13] AS DOUBLE) + -CAST(e[14] AS DOUBLE) + -CAST(e[15] AS DOUBLE) + CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + -CAST(e[18] AS DOUBLE) + -CAST(e[19] AS DOUBLE) + CAST(e[20] AS DOUBLE) + CAST(e[21] AS DOUBLE) + -CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + -CAST(e[24] AS DOUBLE) + -CAST(e[25] AS DOUBLE) + -CAST(e[26] AS DOUBLE) + CAST(e[27] AS DOUBLE) + -CAST(e[28] AS DOUBLE) + CAST(e[29] AS DOUBLE) + -CAST(e[30] AS DOUBLE) + -CAST(e[31] AS DOUBLE) + CAST(e[32] AS DOUBLE) + CAST(e[33] AS DOUBLE) + CAST(e[34] AS DOUBLE) + -CAST(e[35] AS DOUBLE) + CAST(e[36] AS DOUBLE) + -CAST(e[37] AS DOUBLE) + -CAST(e[38] AS DOUBLE) + -CAST(e[39] AS DOUBLE) + CAST(e[40] AS DOUBLE) + -CAST(e[41] AS DOUBLE) + -CAST(e[42] AS DOUBLE) + CAST(e[43] AS DOUBLE) + -CAST(e[44] AS DOUBLE) + CAST(e[45] AS DOUBLE) + CAST(e[46] AS DOUBLE) + CAST(e[47] AS DOUBLE) + CAST(e[48] AS DOUBLE) + CAST(e[49] AS DOUBLE) + CAST(e[50] AS DOUBLE) + -CAST(e[51] AS DOUBLE) + -CAST(e[52] AS DOUBLE) + -CAST(e[53] AS DOUBLE) + CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + -CAST(e[56] AS DOUBLE) + CAST(e[57] AS DOUBLE) + CAST(e[58] AS DOUBLE) + CAST(e[59] AS DOUBLE) + CAST(e[60] AS DOUBLE) + -CAST(e[61] AS DOUBLE) + -CAST(e[62] AS DOUBLE) + -CAST(e[63] AS DOUBLE) + -CAST(e[64] AS DOUBLE)) > 0 THEN 8 ELSE 0 END) + (CASE WHEN (CAST(e[1] AS DOUBLE) + CAST(e[2] AS DOUBLE) + -CAST(e[3] AS DOUBLE) + -CAST(e[4] AS DOUBLE) + CAST(e[5] AS DOUBLE) + -CAST(e[6] AS DOUBLE) + CAST(e[7] AS DOUBLE) + -CAST(e[8] AS DOUBLE) + CAST(e[9] AS DOUBLE) + -CAST(e[10] AS DOUBLE) + -CAST(e[11] AS DOUBLE) + CAST(e[12] AS DOUBLE) + CAST(e[13] AS DOUBLE) + CAST(e[14] AS DOUBLE) + CAST(e[15] AS DOUBLE) + -CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + -CAST(e[18] AS DOUBLE) + CAST(e[19] AS DOUBLE) + CAST(e[20] AS DOUBLE) + CAST(e[21] AS DOUBLE) + CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + CAST(e[24] AS DOUBLE) + CAST(e[25] AS DOUBLE) + -CAST(e[26] AS DOUBLE) + CAST(e[27] AS DOUBLE) + -CAST(e[28] AS DOUBLE) + CAST(e[29] AS DOUBLE) + CAST(e[30] AS DOUBLE) + CAST(e[31] AS DOUBLE) + -CAST(e[32] AS DOUBLE) + -CAST(e[33] AS DOUBLE) + -CAST(e[34] AS DOUBLE) + CAST(e[35] AS DOUBLE) + -CAST(e[36] AS DOUBLE) + CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + -CAST(e[39] AS DOUBLE) + -CAST(e[40] AS DOUBLE) + -CAST(e[41] AS DOUBLE) + CAST(e[42] AS DOUBLE) + CAST(e[43] AS DOUBLE) + CAST(e[44] AS DOUBLE) + CAST(e[45] AS DOUBLE) + -CAST(e[46] AS DOUBLE) + CAST(e[47] AS DOUBLE) + -CAST(e[48] AS DOUBLE) + -CAST(e[49] AS DOUBLE) + -CAST(e[50] AS DOUBLE) + -CAST(e[51] AS DOUBLE) + -CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + -CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + -CAST(e[56] AS DOUBLE) + CAST(e[57] AS DOUBLE) + CAST(e[58] AS DOUBLE) + CAST(e[59] AS DOUBLE) + CAST(e[60] AS DOUBLE) + CAST(e[61] AS DOUBLE) + CAST(e[62] AS DOUBLE) + -CAST(e[63] AS DOUBLE) + -CAST(e[64] AS DOUBLE)) > 0 THEN 16 ELSE 0 END) + (CASE WHEN (-CAST(e[1] AS DOUBLE) + -CAST(e[2] AS DOUBLE) + CAST(e[3] AS DOUBLE) + -CAST(e[4] AS DOUBLE) + CAST(e[5] AS DOUBLE) + -CAST(e[6] AS DOUBLE) + CAST(e[7] AS DOUBLE) + CAST(e[8] AS DOUBLE) + CAST(e[9] AS DOUBLE) + -CAST(e[10] AS DOUBLE) + -CAST(e[11] AS DOUBLE) + CAST(e[12] AS DOUBLE) + CAST(e[13] AS DOUBLE) + CAST(e[14] AS DOUBLE) + -CAST(e[15] AS DOUBLE) + CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + CAST(e[18] AS DOUBLE) + -CAST(e[19] AS DOUBLE) + CAST(e[20] AS DOUBLE) + CAST(e[21] AS DOUBLE) + CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + CAST(e[24] AS DOUBLE) + -CAST(e[25] AS DOUBLE) + -CAST(e[26] AS DOUBLE) + CAST(e[27] AS DOUBLE) + CAST(e[28] AS DOUBLE) + CAST(e[29] AS DOUBLE) + CAST(e[30] AS DOUBLE) + -CAST(e[31] AS DOUBLE) + -CAST(e[32] AS DOUBLE) + CAST(e[33] AS DOUBLE) + CAST(e[34] AS DOUBLE) + -CAST(e[35] AS DOUBLE) + CAST(e[36] AS DOUBLE) + CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + CAST(e[39] AS DOUBLE) + -CAST(e[40] AS DOUBLE) + CAST(e[41] AS DOUBLE) + CAST(e[42] AS DOUBLE) + CAST(e[43] AS DOUBLE) + CAST(e[44] AS DOUBLE) + CAST(e[45] AS DOUBLE) + -CAST(e[46] AS DOUBLE) + CAST(e[47] AS DOUBLE) + CAST(e[48] AS DOUBLE) + -CAST(e[49] AS DOUBLE) + -CAST(e[50] AS DOUBLE) + CAST(e[51] AS DOUBLE) + CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + CAST(e[56] AS DOUBLE) + CAST(e[57] AS DOUBLE) + CAST(e[58] AS DOUBLE) + -CAST(e[59] AS DOUBLE) + CAST(e[60] AS DOUBLE) + CAST(e[61] AS DOUBLE) + -CAST(e[62] AS DOUBLE) + -CAST(e[63] AS DOUBLE) + CAST(e[64] AS DOUBLE)) > 0 THEN 32 ELSE 0 END) + (CASE WHEN (-CAST(e[1] AS DOUBLE) + -CAST(e[2] AS DOUBLE) + -CAST(e[3] AS DOUBLE) + CAST(e[4] AS DOUBLE) + -CAST(e[5] AS DOUBLE) + CAST(e[6] AS DOUBLE) + -CAST(e[7] AS DOUBLE) + -CAST(e[8] AS DOUBLE) + CAST(e[9] AS DOUBLE) + CAST(e[10] AS DOUBLE) + CAST(e[11] AS DOUBLE) + CAST(e[12] AS DOUBLE) + -CAST(e[13] AS DOUBLE) + CAST(e[14] AS DOUBLE) + -CAST(e[15] AS DOUBLE) + -CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + CAST(e[18] AS DOUBLE) + -CAST(e[19] AS DOUBLE) + -CAST(e[20] AS DOUBLE) + -CAST(e[21] AS DOUBLE) + -CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + CAST(e[24] AS DOUBLE) + CAST(e[25] AS DOUBLE) + CAST(e[26] AS DOUBLE) + -CAST(e[27] AS DOUBLE) + -CAST(e[28] AS DOUBLE) + CAST(e[29] AS DOUBLE) + -CAST(e[30] AS DOUBLE) + CAST(e[31] AS DOUBLE) + CAST(e[32] AS DOUBLE) + CAST(e[33] AS DOUBLE) + -CAST(e[34] AS DOUBLE) + -CAST(e[35] AS DOUBLE) + -CAST(e[36] AS DOUBLE) + CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + -CAST(e[39] AS DOUBLE) + -CAST(e[40] AS DOUBLE) + CAST(e[41] AS DOUBLE) + -CAST(e[42] AS DOUBLE) + -CAST(e[43] AS DOUBLE) + -CAST(e[44] AS DOUBLE) + -CAST(e[45] AS DOUBLE) + -CAST(e[46] AS DOUBLE) + CAST(e[47] AS DOUBLE) + -CAST(e[48] AS DOUBLE) + CAST(e[49] AS DOUBLE) + CAST(e[50] AS DOUBLE) + CAST(e[51] AS DOUBLE) + -CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + CAST(e[54] AS DOUBLE) + CAST(e[55] AS DOUBLE) + -CAST(e[56] AS DOUBLE) + CAST(e[57] AS DOUBLE) + -CAST(e[58] AS DOUBLE) + -CAST(e[59] AS DOUBLE) + CAST(e[60] AS DOUBLE) + -CAST(e[61] AS DOUBLE) + CAST(e[62] AS DOUBLE) + -CAST(e[63] AS DOUBLE) + CAST(e[64] AS DOUBLE)) > 0 THEN 64 ELSE 0 END) + (CASE WHEN (CAST(e[1] AS DOUBLE) + CAST(e[2] AS DOUBLE) + CAST(e[3] AS DOUBLE) + CAST(e[4] AS DOUBLE) + CAST(e[5] AS DOUBLE) + -CAST(e[6] AS DOUBLE) + -CAST(e[7] AS DOUBLE) + -CAST(e[8] AS DOUBLE) + -CAST(e[9] AS DOUBLE) + CAST(e[10] AS DOUBLE) + -CAST(e[11] AS DOUBLE) + CAST(e[12] AS DOUBLE) + CAST(e[13] AS DOUBLE) + -CAST(e[14] AS DOUBLE) + -CAST(e[15] AS DOUBLE) + -CAST(e[16] AS DOUBLE) + -CAST(e[17] AS DOUBLE) + -CAST(e[18] AS DOUBLE) + CAST(e[19] AS DOUBLE) + -CAST(e[20] AS DOUBLE) + -CAST(e[21] AS DOUBLE) + CAST(e[22] AS DOUBLE) + -CAST(e[23] AS DOUBLE) + -CAST(e[24] AS DOUBLE) + -CAST(e[25] AS DOUBLE) + CAST(e[26] AS DOUBLE) + CAST(e[27] AS DOUBLE) + CAST(e[28] AS DOUBLE) + CAST(e[29] AS DOUBLE) + CAST(e[30] AS DOUBLE) + -CAST(e[31] AS DOUBLE) + CAST(e[32] AS DOUBLE) + -CAST(e[33] AS DOUBLE) + -CAST(e[34] AS DOUBLE) + -CAST(e[35] AS DOUBLE) + -CAST(e[36] AS DOUBLE) + -CAST(e[37] AS DOUBLE) + CAST(e[38] AS DOUBLE) + -CAST(e[39] AS DOUBLE) + CAST(e[40] AS DOUBLE) + -CAST(e[41] AS DOUBLE) + CAST(e[42] AS DOUBLE) + -CAST(e[43] AS DOUBLE) + -CAST(e[44] AS DOUBLE) + -CAST(e[45] AS DOUBLE) + CAST(e[46] AS DOUBLE) + -CAST(e[47] AS DOUBLE) + CAST(e[48] AS DOUBLE) + -CAST(e[49] AS DOUBLE) + CAST(e[50] AS DOUBLE) + CAST(e[51] AS DOUBLE) + -CAST(e[52] AS DOUBLE) + CAST(e[53] AS DOUBLE) + CAST(e[54] AS DOUBLE) + -CAST(e[55] AS DOUBLE) + CAST(e[56] AS DOUBLE) + -CAST(e[57] AS DOUBLE) + -CAST(e[58] AS DOUBLE) + CAST(e[59] AS DOUBLE) + CAST(e[60] AS DOUBLE) + -CAST(e[61] AS DOUBLE) + -CAST(e[62] AS DOUBLE) + CAST(e[63] AS DOUBLE) + -CAST(e[64] AS DOUBLE)) > 0 THEN 128 ELSE 0 END) AS BIGINT) AS bucket
  FROM (SELECT vec_id, embedding, embedding AS e FROM embeddings)
),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM sk WHERE vec_id % 100 = 0),
p AS (
  SELECT query_id, s.vec_id AS neighbor_id,
    list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE))) AS dot,
    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))) AS nq,
    sqrt(list_sum(list_transform(range(1, 65), i -> CAST(s.embedding[i] AS DOUBLE) * CAST(s.embedding[i] AS DOUBLE)))) AS nc
  FROM q JOIN sk s USING (bucket) WHERE s.vec_id <> query_id
),
r AS (
  SELECT query_id, neighbor_id, round(dot / (nq * nc), 6) AS sim,
    row_number() OVER (PARTITION BY query_id ORDER BY round(dot / (nq * nc), 6) DESC, neighbor_id) AS rk
  FROM p
)
SELECT query_id, neighbor_id, sim, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 3
""",
        "ann_ivf_topk": _ivf_sql(n_centroids=8, n_probe=2, k=3),
        # entailed p:next fixpoint of the transitive rule over per-source
        # chains = all ordered pairs within a source group (closed form)
        "kg_n3_entailment": """
SELECT CAST(x.doc_id AS BIGINT) AS a, CAST(y.doc_id AS BIGINT) AS b
FROM documents x JOIN documents y ON x.source = y.source AND x.doc_id < y.doc_id
""",
        # facet 'fake': the deterministic digest decode
        # (operators/multimodal.py:_fake_decode) is a pure function of
        # sha256(payload) where payload is the UTF-8 media_ref —
        # reproducible in DuckDB (sha256 is bit-identical).
        # facet 'probe': the Spark side muxes REAL containers with
        # SQL-expressible parameters and probes them back; the oracle
        # recomputes the expected metadata with pure arithmetic.
        "media_decode": f"""
WITH m AS (
  SELECT doc_id, 'media://doc/' || CAST(doc_id AS VARCHAR) || '/img0' AS ref
  FROM documents WHERE doc_id % 3 = 0
),
h AS (SELECT doc_id, ref, sha256(ref) AS sha FROM m),
fake AS (
  SELECT 'fake' AS facet,
    '{DOC_NS}' || CAST(doc_id AS VARCHAR) || '#1' AS media_id,
    CAST(16 + ({_hex_byte_sql('sha', 0)}) % 240 AS INT) AS width,
    CAST(16 + ({_hex_byte_sql('sha', 1)}) % 240 AS INT) AS height,
    CAST(length(ref) AS INT) AS n,
    sha AS tag
  FROM h
),
ids AS (
  SELECT CAST(doc_id AS BIGINT) AS d FROM documents WHERE doc_id % 7 = 0
),
probe AS (
  SELECT 'probe' AS facet, CAST(d AS VARCHAR) AS media_id,
    CASE WHEN d % 10 IN (0,1,2,3,6,7,8,9)
         THEN CAST(16 + d % 24 AS INT) END AS width,
    CASE WHEN d % 10 IN (0,1,2,3,6,7,8,9)
         THEN CAST(16 + (d * 7) % 24 AS INT) END AS height,
    CASE
      WHEN d % 10 = 2 THEN CAST((2 + d % 3) * 200 AS INT)
      WHEN d % 10 = 3 THEN CAST((2 + d % 3) * 250 AS INT)
      WHEN d % 10 = 4
        THEN CAST(floor((10 + d % 20) * 1152 * 1000.0 / 44100) AS INT)
      WHEN d % 10 = 5
        THEN CAST(floor((10 + d % 20) * 1024 * 1000.0 / 44100) AS INT)
    END AS n,
    CASE d % 10
      WHEN 0 THEN 'png/png/1'
      WHEN 1 THEN CASE WHEN (d // 10) % 2 = 0
                  THEN 'jpeg/jpeg-progressive/1'
                  ELSE 'jpeg/jpeg-baseline/1' END
      WHEN 2 THEN 'mp4/jpeg/' || CAST(2 + d % 3 AS VARCHAR)
      WHEN 3 THEN 'matroska/V_MJPEG/' || CAST(2 + d % 3 AS VARCHAR)
      WHEN 4 THEN 'mp3/mp3/' || CAST(10 + d % 20 AS VARCHAR)
      WHEN 5 THEN 'adts/aac/' || CAST(10 + d % 20 AS VARCHAR)
      WHEN 6 THEN 'gif/gif/' || CAST(2 + d % 3 AS VARCHAR)
      WHEN 7 THEN 'bmp/bmp/1'
      WHEN 8 THEN 'tiff/tiff/1'
      ELSE 'webp/vp8l/1'
    END AS tag
  FROM ids
)
SELECT * FROM fake UNION ALL SELECT * FROM probe
""",
        "rel_agg_pricing": f"""
SELECT l_returnflag, l_linestatus,
  CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(CAST(SUM({_DISC_REV}) AS DECIMAL(38,12)), 4) AS DOUBLE) AS sum_disc_price,
  COUNT(*)::BIGINT AS n
FROM lineitem GROUP BY 1, 2
""",
        "rel_join_topk": f"""
SELECT o_orderkey, CAST(ROUND(revenue, 4) AS DOUBLE) AS revenue FROM (
  SELECT o_orderkey, CAST(SUM({_DISC_REV}) AS DECIMAL(38,12)) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10
)
""",
        "rel_broadcast_dim": """
SELECT r_name, COUNT(*)::BIGINT AS n_customers,
  CAST(ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DECIMAL(38,6)), 2) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
        "rel_set_ops": """
SELECT 'anti' AS op, c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
UNION ALL
SELECT 'semi', c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
UNION ALL
SELECT 'intersect', c_custkey FROM (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_quantity >= 45
)
""",
        "rel_left_join_null": (
            "SELECT c_custkey, COUNT(o_orderkey)::BIGINT AS n_orders "
            "FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey"
        ),
        "rel_window_topk": """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 2
""",
        "rel_group_concat": """
SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name
""",
        "rel_rollup": """
SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
  COUNT(*)::BIGINT AS n,
  CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DECIMAL(38,6)), 2) AS DOUBLE) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
        "events_hourly": """
SELECT event_type, date_trunc('hour', ts) AS hour, COUNT(*)::BIGINT AS n,
  CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DECIMAL(38,6)), 6) AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2
""",
        "events_sessions": """
WITH g AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
      AS session_id
  FROM g
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*)::BIGINT AS n_events,
  MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY 1, 2
""",
        # SPARQL default graph = rows with g IS NULL → NQ-rendered docs
        # (doc_id % 4 = 3) are excluded from the first two oracles.
        "sparql_exec_select": (
            f"SELECT {_DOC} AS doc, lang FROM documents WHERE doc_id % 4 <> 3"
        ),
        "sparql_describe": f"""
WITH d AS (SELECT * FROM documents WHERE lang = 'de' AND doc_id % 4 <> 3)
SELECT {_DOC} AS s, '{PROP_NS}lang' AS p, lang AS o,
       CAST(NULL AS VARCHAR) AS o_lang, CAST(NULL AS VARCHAR) AS o_dt FROM d
UNION ALL
SELECT {_DOC}, '{PROP_NS}source', source, NULL, NULL FROM d
UNION ALL
SELECT {_DOC}, '{PROP_NS}n_chars', CAST(n_chars AS VARCHAR), NULL,
       '{XSD_INTEGER}' FROM d
UNION ALL
SELECT {_DOC}, '{PROP_NS}text', text, lang, NULL FROM d
""",
        "sparql_exec_ask": "SELECT TRUE AS ask",
        "sparql_exec_construct": (
            f"SELECT 'iri' AS s_kind, {_DOC} AS s, '{PROP_NS}tag' AS p, "
            "'literal' AS o_kind, lang AS o, CAST(NULL AS VARCHAR) AS o_lang, "
            "CAST(NULL AS VARCHAR) AS o_dt FROM documents WHERE doc_id % 4 <> 3"
        ),
        # DELETE WHERE retracts default-graph "de" lang triples (named
        # graphs keep theirs); INSERT..WHERE then tags the surviving
        # default-graph docs
        "sparql_update_roundtrip": f"""
WITH lang_rows AS (
  SELECT lang FROM documents WHERE doc_id % 4 = 3
  UNION ALL
  SELECT lang FROM documents WHERE doc_id % 4 <> 3 AND lang <> 'de'
)
SELECT '{PROP_NS}lang' AS p, lang AS val, COUNT(*)::BIGINT AS n
FROM lang_rows GROUP BY lang
UNION ALL
SELECT '{PROP_NS}kept', 'y', COUNT(*)::BIGINT
FROM documents WHERE doc_id % 4 <> 3 AND lang <> 'de'
""",
        "sparql_exec_path": (
            f"SELECT '{DOC_NS}' || CAST(x.doc_id AS VARCHAR) AS a, "
            f"'{DOC_NS}' || CAST(y.doc_id AS VARCHAR) AS b "
            "FROM documents x JOIN documents y ON x.source = y.source "
            "WHERE x.doc_id % 4 <> 3 AND y.doc_id % 4 <> 3"
        ),
        "sparql_exec_filter": (
            f"SELECT {_DOC} AS doc, source AS src FROM documents "
            "WHERE doc_id % 4 <> 3 AND source LIKE 'src1%'"
        ),
        "sparql_exec_agg": (
            "SELECT lang, CAST(COUNT(*) AS VARCHAR) AS n FROM documents "
            "WHERE doc_id % 4 <> 3 GROUP BY lang"
        ),
        "sparql_exec_graph": (
            f"SELECT {_DOC} AS doc, '{GRAPH_NS}' || source AS g "
            "FROM documents WHERE doc_id % 4 = 3"
        ),
        "sparql_bgp_filter": (
            f"SELECT {_DOC} AS doc FROM documents WHERE lang = 'en' AND source = 'src0'"
        ),
        "sparql_optional_minus": (
            f"SELECT {_DOC} AS doc FROM documents WHERE lang = 'en' AND source <> 'src3'"
        ),
    }
