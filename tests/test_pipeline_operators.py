"""Tests for the post-extract pipeline operators: linking,
canonicalization (connected components), dedup family, text stats,
similarity search, property paths, multimodal plumbing, materialize."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mentor_rdf_parsers_spark.operators.canonicalize import (
    canonicalize_triples,
    connected_components,
)
from mentor_rdf_parsers_spark.operators.dedup import (
    dedup_exact,
    dedup_minhash_lsh,
    dedup_simhash,
    ngram_jaccard_pairs,
)
from mentor_rdf_parsers_spark.operators.linking import (
    link_exact,
    link_fuzzy,
    minhash_candidate_pairs,
)
from mentor_rdf_parsers_spark.operators.materialize import (
    read_metrics,
    read_stage,
    write_stage,
)
from mentor_rdf_parsers_spark.operators.multimodal import (
    MEDIA,
    decode_images,
    media_from_documents,
    sample_frames,
)
from mentor_rdf_parsers_spark.operators.paths import (
    transitive_closure,
)
from mentor_rdf_parsers_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from mentor_rdf_parsers_spark.operators.textstats import text_profile


# ---------------------------------------------------------------- CC


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4, pair 10-11, self-contained 20-20 loop dropped
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src long, dst long"
    )
    labels = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges_fast(spark):
    # 200-long chain: naive hash-min would need 200 rounds; the star
    # rounds must reach the fixpoint within 15 (it raises otherwise).
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    labels = connected_components(edges, max_iter=15)
    assert labels.select(F.countDistinct("comp")).collect()[0][0] == 1
    assert labels.where(F.col("comp") != 0).count() == 0


def test_canonicalize_triples_collapses_aliases(spark):
    rows = [
        # a sameAs b; facts about both; alias-as-object too
        ("d", "iri", "urn:a", "iri", "http://www.w3.org/2002/07/owl#sameAs",
         "iri", "urn:b", None, None, None, None, None, None, None),
        ("d", "iri", "urn:a", "iri", "urn:p", "literal", "x", None, None,
         None, None, None, None, None),
        ("d", "iri", "urn:b", "iri", "urn:p", "literal", "x", None, None,
         None, None, None, None, None),
        ("d", "iri", "urn:c", "iri", "urn:q", "iri", "urn:b", None, None,
         None, None, None, None, None),
    ]
    cols = ("doc_id string, s_kind string, s string, p_kind string, p string, "
            "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
            "g string, s_off int, p_off int, o_off int")
    t = spark.createDataFrame(rows, cols)
    out = canonicalize_triples(t).collect()
    assert all(r["p"] != "http://www.w3.org/2002/07/owl#sameAs" for r in out)
    # urn:a and urn:b collapse to urn:a (lexical min); duplicate fact deduped
    facts = {(r["s"], r["p"], r["o"]) for r in out}
    assert facts == {("urn:a", "urn:p", "x"), ("urn:c", "urn:q", "urn:a")}


# ---------------------------------------------------------------- linking


def test_link_exact_broadcast(spark):
    mentions = spark.createDataFrame(
        [(1, "  Apple INC "), (2, "banana corp"), (3, "unknown co")],
        "mention_id long, mention string",
    )
    dictionary = spark.createDataFrame(
        [("apple inc", "E1"), ("banana corp", "E2")], "alias string, entity string"
    )
    out = {r["mention_id"]: r["entity"] for r in link_exact(mentions, dictionary).collect()}
    assert out == {1: "E1", 2: "E2", 3: None}
    plan = link_exact(mentions, dictionary)._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_link_fuzzy_minhash_blocking(spark):
    mentions = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "completely different text about spark execution engines")],
        "mention_id long, mention string",
    )
    dictionary = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog yesterday", "FOX")],
        "alias string, entity string",
    )
    out = link_fuzzy(mentions, dictionary, min_jaccard=0.3).collect()
    assert len(out) == 1 and out[0]["mention_id"] == "1" and out[0]["entity"] == "FOX"


# ---------------------------------------------------------------- dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),          # exact dup of 1
        (3, "ALPHA  beta gamma delta epsilon zeta"),         # normalized dup of 1
        (4, "alpha beta gamma delta epsilon different end"),  # near-dup
        (5, "totally unrelated words nothing shared here at all"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs):
    out = dedup_exact(docs).collect()
    groups = {r["keep_id"]: r["dup_count"] for r in out}
    assert groups[1] == 3  # 1,2,3 collapse
    assert groups[4] == 1 and groups[5] == 1 and groups[6] == 1


def test_ngram_jaccard_and_minhash_agree(spark, docs):
    exact = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()}
    assert {(1, 2), (1, 3), (2, 3)} <= exact
    cand = {(r["a"], r["b"]) for r in minhash_candidate_pairs(docs, "doc_id", "text").collect()}
    # identical shingle sets (jaccard 1.0) collide in EVERY band — LSH
    # must always surface them; mid-jaccard pairs are only probabilistic
    assert {(1, 2), (1, 3), (2, 3)} <= cand
    verified = {(r["a"], r["b"]) for r in dedup_minhash_lsh(docs, min_jaccard=0.99).collect()}
    assert verified == {(1, 2), (1, 3), (2, 3)}


def test_dedup_simhash_identical_texts_same_fingerprint(spark, docs):
    out = {r["id"]: r["simhash"] for r in dedup_simhash(docs).collect()}
    assert out[1] == out[2] == out[3]
    assert out[1] != out[5]


def test_dedup_simhash_null_text_dropped(spark):
    # null text yields no fingerprint row (it must NOT bucket with
    # genuinely zero-fingerprint docs); empty string still fingerprints
    docs = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    rows = {r["id"]: r for r in dedup_simhash(docs).collect()}
    assert 1 not in rows
    assert 2 in rows


def test_simhash_hamming_pairs_matches_brute_force(spark):
    """Banded hamming search = brute-force cross-join ground truth on a
    corpus with planted near-dups (pigeonhole recall is exact, so the
    sets must be identical, not just overlapping)."""
    from mentor_rdf_parsers_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_hamming_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(1, base), (2, base)]  # planted exact dup -> hamming 0
    # single-token edits: small (usually 1-3 bit) fingerprint drift
    words = base.split()
    for i in range(3, 40):
        w = list(words)
        w[i % len(w)] = f"tok{i}"
        rows.append((i, " ".join(w)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for k in (0, 2, 3):
        got = {
            (r["a"], r["b"], r["hamming"])
            for r in simhash_hamming_pairs(docs, max_hamming=k).collect()
        }
        fp = simhash_fingerprints(docs)
        x, y = fp.alias("x"), fp.alias("y")
        truth = {
            (r["a"], r["b"], r["hamming"])
            for r in x.crossJoin(y)
            .where(F.col("x.id") < F.col("y.id"))
            .select(
                F.col("x.id").alias("a"), F.col("y.id").alias("b"),
                F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
                .cast("long").alias("hamming"),
            )
            .where(F.col("hamming") <= k)
            .collect()
        }
        assert got == truth
        if k == 0:
            assert (1, 2, 0) in got  # the planted exact dup

    with pytest.raises(ValueError):
        simhash_hamming_pairs(docs, max_hamming=4, n_bands=4)


def test_dedup_clusters_chain(spark):
    # chain pairs (1,2),(2,3),(3,4) -> one cluster keeping only 1;
    # unpaired 5 keeps itself
    from mentor_rdf_parsers_spark.operators.dedup import dedup_clusters

    ids = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a long, b long")
    rows = {r["id"]: r for r in dedup_clusters(ids, chain).collect()}
    assert {i: rows[i]["component"] for i in range(1, 6)} == \
        {1: 1, 2: 1, 3: 1, 4: 1, 5: 5}
    assert sorted(i for i in rows if rows[i]["keep"]) == [1, 5]


# ---------------------------------------------------------------- textstats


def test_text_profile(spark):
    rows = [
        (1, "the cat sat of the mat and it is that for"),
        (2, "der hund ist nicht auf und der die das zu"),
        (3, ""),
        (4, "x9y!!!"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in text_profile(df).collect()}
    assert out[1]["lang_id"] == "en"
    assert out[2]["lang_id"] == "de"
    assert out[3]["lang_id"] == "und"
    assert out[1]["n_tokens"] == 11
    assert out[3]["n_tokens"] == 0
    assert out[4]["n_subtokens"] == 3  # x / 9 / y
    assert 0.0 <= out[1]["quality"] <= 1.0
    assert out[3]["quality"] == 0.0
    # fingerprint is word-order/dup-insensitive
    df2 = spark.createDataFrame(
        [(1, "cat the sat"), (2, "the the cat sat")], "doc_id long, text string"
    )
    fps = [r["fingerprint"] for r in text_profile(df2).collect()]
    assert fps[0] == fps[1]


# ---------------------------------------------------------------- similarity


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.2, 0.0]),   # near 2
        (4, [-1.0, 0.0, 0.0, 0.0]),   # anti 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    out = brute_force_topk(vectors, vectors.where("vec_id = 0"), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rk"])] == [1, 2]
    sims = {r["neighbor_id"]: r["sim"] for r in out}
    assert math.isclose(sims[1], 0.99 / math.sqrt(0.99**2 + 0.1**2), abs_tol=1e-6)


def test_lsh_topk_finds_bucket_neighbor(spark, vectors):
    out = lsh_topk(vectors, vectors.where("vec_id = 0"), dim=4, k=2, n_bits=2)
    rows = out.collect()
    # bucket join is approximate but must never return the query itself
    assert all(r["neighbor_id"] != 0 for r in rows)


def test_embedding_near_dup_pairs(spark, vectors):
    out = embedding_near_dup_pairs(vectors, dim=4, min_sim=0.9, n_bits=2).collect()
    pairs = {(r["a"], r["b"]) for r in out}
    assert (0, 1) in pairs
    assert all(r["sim"] >= 0.9 for r in out)


# ---------------------------------------------------------------- paths


def test_transitive_closure_chain(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    closure = transitive_closure(edges)
    assert closure.count() == 65 * 64 // 2
    assert closure.where("src = 0").count() == 64


# ---------------------------------------------------------------- multimodal


def test_multimodal_plumbing(spark):
    rows = [("m1", "image", b"\x89PNGfakebytes" * 10, "image/png"),
            ("m2", "image", None, "image/png"),
            ("v1", "video", b"0123456789" * 8, "video/mp4")]
    media = spark.createDataFrame(rows, MEDIA)
    meta = decode_images(media).collect()
    assert {r["media_id"] for r in meta} == {"m1", "m2"}
    m1 = next(r for r in meta if r["media_id"] == "m1")
    assert m1["n_bytes"] == 130 and 16 <= m1["width"] <= 255
    assert len(m1["features"]) == 8
    # deterministic across runs
    again = next(r for r in decode_images(media).collect() if r["media_id"] == "m1")
    assert again["sha"] == m1["sha"] and again["features"] == m1["features"]
    frames = sample_frames(media, every_n=10, max_frames=4).collect()
    assert {r["media_id"] for r in frames} == {"v1"}
    assert sorted(r["frame_idx"] for r in frames) == [0, 1, 2, 3]
    with pytest.raises(NotImplementedError):
        decode_images(media, strict_codecs=True)


def test_multimodal_resize_aspect_fit(spark):
    from mentor_rdf_parsers_spark.operators.multimodal import resize_images

    rows = [("m1", "image", b"\x89PNGfakebytes" * 10, "image/png"),
            ("a1", "audio", b"RIFFfake" * 5, "audio/wav")]
    media = spark.createDataFrame(rows, MEDIA)
    out = resize_images(media, target_w=64, target_h=64).collect()
    assert [r["media_id"] for r in out] == ["m1"]  # audio rows excluded
    r = out[0]
    # aspect-fit: both dims within target, ratio preserved to rounding
    assert r["width"] <= 64 and r["height"] <= 64
    assert max(r["width"], r["height"]) == 64 or (
        r["src_width"] <= 64 and r["src_height"] <= 64)  # never upscaled
    src_ratio = r["src_width"] / r["src_height"]
    out_ratio = r["width"] / r["height"]
    assert abs(src_ratio - out_ratio) / src_ratio < 0.1
    # deterministic payload stand-in sized from the output dims
    again = resize_images(media, target_w=64, target_h=64).collect()[0]
    assert bytes(again["payload"]) == bytes(r["payload"])
    assert len(bytes(r["payload"])) == max(1, (r["width"] * r["height"]) // 64)
    with pytest.raises(NotImplementedError):
        resize_images(media, strict_codecs=True)


def test_multimodal_audio_features(spark):
    from mentor_rdf_parsers_spark.operators.multimodal import (
        extract_audio_features,
    )

    rows = [("a1", "audio", b"RIFFfakeaudio" * 16, "audio/wav"),
            ("m1", "image", b"\x89PNG", "image/png")]
    media = spark.createDataFrame(rows, MEDIA)
    out = extract_audio_features(media, bytes_per_ms=16).collect()
    assert [r["media_id"] for r in out] == ["a1"]
    r = out[0]
    assert r["n_bytes"] == 13 * 16
    assert r["duration_ms"] == (13 * 16) // 16
    assert len(r["features"]) == 8
    again = extract_audio_features(media, bytes_per_ms=16).collect()[0]
    assert again["features"] == r["features"] and again["sha"] == r["sha"]
    with pytest.raises(NotImplementedError):
        extract_audio_features(media, strict_codecs=True)


def test_media_from_documents_passthrough(spark, rdf_docs):
    docs = rdf_docs
    media = media_from_documents(docs)
    n_media_docs = docs.where(
        F.exists("spans", lambda s: s["kind"] == "media")
    ).count()
    assert media.count() == n_media_docs > 0


# ---------------------------------------------------------------- materialize


def test_write_stage_resume_and_metrics(spark, tmp_path):
    rows = [("d1", "iri", f"urn:s{i % 7}", "iri", "urn:p", "literal", str(i),
             None, None, None, None, None, None, None) for i in range(100)]
    cols = ("doc_id string, s_kind string, s string, p_kind string, p string, "
            "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
            "g string, s_off int, p_off int, o_off int")
    t = spark.createDataFrame(rows, cols)
    base = str(tmp_path / "graph")
    write_stage(t, base, "triples", n_buckets=8)
    back = read_stage(spark, base, "triples")
    assert back.count() == 100
    assert "s_bucket" in back.columns
    # same subject always lands in the same bucket
    assert back.groupBy("s").agg(F.countDistinct("s_bucket").alias("nb")) \
        .where("nb > 1").count() == 0
    metrics = read_metrics(spark, base, "triples")
    rows_m = metrics.collect()
    assert sum(r["triple_count"] for r in rows_m) == 100
    assert all(r["stage"] == "triples" for r in rows_m)


def test_ivf_topk_recall(spark):
    """IVF ANN: with enough probes the result must equal brute force; with
    1 probe it's a subset of the bucket (approximate but never wrong-id)."""
    import math
    from mentor_rdf_parsers_spark.operators.similarity import brute_force_topk, ivf_topk

    rows = []
    for i in range(60):
        ang = (i % 12) * math.pi / 6 + (0.02 * (i // 12))
        rows.append((i, [math.cos(ang), math.sin(ang), 0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where("vec_id in (0, 7)")
    exact = {(r["query_id"], r["rk"]): r["neighbor_id"]
             for r in brute_force_topk(emb, queries, k=3).collect()}
    full = {(r["query_id"], r["rk"]): r["neighbor_id"]
            for r in ivf_topk(emb, queries, k=3, n_centroids=4, n_probe=4).collect()}
    assert full == exact
    approx = ivf_topk(emb, queries, k=3, n_centroids=4, n_probe=1).collect()
    assert all(r["sim"] >= -1.0 for r in approx) and len(approx) > 0


def test_ivf_topk_md5_quantizer(spark):
    """Deterministic md5 quantizer: full-probe result equals brute force;
    bucket assignment covers [0, n_centroids)."""
    import math
    from mentor_rdf_parsers_spark.operators.similarity import brute_force_topk, ivf_topk

    rows = []
    for i in range(60):
        ang = (i % 12) * math.pi / 6 + (0.02 * (i // 12))
        rows.append((i, [math.cos(ang), math.sin(ang), 0.5, -0.5]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where("vec_id in (0, 7)")
    exact = {(r["query_id"], r["rk"]): r["neighbor_id"]
             for r in brute_force_topk(emb, queries, k=3).collect()}
    full = {(r["query_id"], r["rk"]): r["neighbor_id"]
            for r in ivf_topk(emb, queries, k=3, n_centroids=4, n_probe=4,
                              quantizer="md5", dim=4).collect()}
    assert full == exact
    approx = ivf_topk(emb, queries, k=3, n_centroids=4, n_probe=1,
                      quantizer="md5", dim=4).collect()
    assert all(r["sim"] >= -1.0 for r in approx) and len(approx) > 0


def test_pagerank_chain_closed_form(spark):
    from decimal import Decimal
    from mentor_rdf_parsers_spark.operators.paths import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long")
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    want = {0: "0.15", 1: "0.2775", 2: "0.385875", 3: "1", 4: "1"}
    for node, expect in want.items():
        assert pr[node] == Decimal(expect).quantize(pr[node]), (node, pr[node])


def test_bm25_topk_ranking(spark):
    """Docs with more query-term hits (and rarer terms) rank first;
    ties break by id; rk is dense from 1."""
    from mentor_rdf_parsers_spark.operators.textsearch import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "apple banana"),
            (3, "cherry cherry cherry"),
            (4, "durian durian"),
            (5, "apple"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["apple", "cherry"], k=10)
    rows = out.collect()
    ranked = [r["id"] for r in sorted(rows, key=lambda r: r["rk"])]
    # doc 4 has no query terms -> absent. Hand-computed order: doc 3
    # (rare term, tf=3, short) > doc 1 (both terms) > doc 5 > doc 2
    assert ranked == [3, 1, 5, 2]
    assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == [1, 2, 3, 4]
    assert all(r["score"] > 0 for r in rows)


def test_bm25_topk_empty_and_duplicate_terms(spark):
    """Empty query → empty result with the output schema (no c0 crash);
    duplicated query terms count once, not twice."""
    from mentor_rdf_parsers_spark.operators.textsearch import bm25_topk

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana banana")],
        "doc_id long, text string",
    )
    empty = bm25_topk(docs, [], k=10)
    assert empty.columns == ["id", "score", "rk"]
    assert empty.count() == 0

    once = {r["id"]: r["score"] for r in bm25_topk(docs, ["apple"], k=10).collect()}
    twice = {r["id"]: r["score"] for r in bm25_topk(docs, ["apple", "apple"], k=10).collect()}
    assert once == twice


def test_corpus_sample_and_pack(spark):
    from mentor_rdf_parsers_spark.operators.corpus import pack_sequences, sample_corpus

    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(200)], "doc_id long, text string"
    )
    s1 = {r["doc_id"] for r in sample_corpus(docs, 0.3).select("doc_id").collect()}
    s2 = {r["doc_id"] for r in sample_corpus(docs, 0.3).select("doc_id").collect()}
    assert s1 == s2 and 20 < len(s1) < 100          # deterministic, ~30%
    other = {r["doc_id"] for r in sample_corpus(docs, 0.3, salt="b").select("doc_id").collect()}
    assert other != s1                              # independent per salt

    packed = pack_sequences(docs, token_budget=16).collect()
    by_id = {r["doc_id"]: r for r in packed}
    # contiguity: pack ids are non-decreasing in doc order; offsets < budget
    last = 0
    for i in range(200):
        r = by_id[i]
        assert r["pack_id"] >= last and 0 <= r["pack_offset"] < 16
        last = r["pack_id"]
    total = sum(r["n_tokens"] for r in packed)
    assert packed and max(r["pack_id"] for r in packed) == (total - by_id[199]["n_tokens"]) // 16


def test_corpus_pack_sharded_equals_per_shard_global(spark):
    """shard_col packing == running the global pack independently per
    shard (the window parallelizes without changing values)."""
    from mentor_rdf_parsers_spark.operators.corpus import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(100)], "doc_id long, text string"
    ).withColumn("shard", (F.col("doc_id") % 4).cast("long"))
    sharded = {
        (r["shard"], r["doc_id"]): (r["pack_id"], r["pack_offset"])
        for r in pack_sequences(docs, token_budget=16, shard_col="shard").collect()
    }
    for k in range(4):
        solo = pack_sequences(
            docs.where(F.col("shard") == k), token_budget=16
        ).collect()
        for r in solo:
            assert sharded[(k, r["doc_id"])] == (r["pack_id"], r["pack_offset"])


def test_write_stage_salted(spark, tmp_path):
    """Salted write: hub subject spreads over several files per bucket,
    while the bucket partition layout stays intact."""
    import glob
    rows = [("d", "iri", "urn:hub", "iri", "urn:p", "literal", str(i),
             None, None, None, None, None, None, None) for i in range(500)]
    cols = ("doc_id string, s_kind string, s string, p_kind string, p string, "
            "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
            "g string, s_off int, p_off int, o_off int")
    t = spark.createDataFrame(rows, cols)
    base = str(tmp_path / "salted")
    write_stage(t, base, "triples", n_buckets=4, write_salt=4)
    bucket_dirs = glob.glob(f"{base}/triples/s_bucket=*")
    assert len(bucket_dirs) == 1  # one subject → one bucket dir
    files = glob.glob(f"{bucket_dirs[0]}/part-*.parquet")
    assert len(files) >= 2        # but several writer tasks (salt spread)
    assert read_stage(spark, base, "triples").count() == 500


def test_salted_join_helpers(spark):
    """Salted-join pattern: heavy side salted, light side exploded across
    all salt values → join on (key, salt) distributes one hot key over
    n_salt partitions without losing rows."""
    from mentor_rdf_parsers_spark.operators.materialize import explode_salt, with_salt

    heavy = spark.createDataFrame(
        [("hub", i) for i in range(1000)] + [("cold", 0)], "s string, payload int"
    )
    light = spark.createDataFrame([("hub", "H"), ("cold", "C")], "s string, val string")
    salted = with_salt(heavy, "s", n_salt=8)
    assert salted.select("salt").distinct().count() > 1  # hub actually spreads
    joined = salted.join(explode_salt(light, 8), ["s", "salt"])
    assert joined.count() == 1001  # no row lost or duplicated


def test_ngram_jaccard_doc_freq_cap(spark, docs):
    from mentor_rdf_parsers_spark.operators.dedup import (
        _exploded_shingles,
        dedup_minhash_lsh,
        ngram_jaccard_pairs,
    )

    base = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()}
    # a cap no shingle exceeds is a no-op
    capped_hi = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5, max_doc_freq=100).collect()
    }
    assert capped_hi == base
    # cap=1 drops every shared shingle → the equi-join has nothing to
    # match on (bounded shuffle) and no pairs survive
    assert _exploded_shingles(docs, "doc_id", "text", 3, max_doc_freq=1) \
        .groupBy("s").count().where(F.col("count") > 1).isEmpty()
    assert ngram_jaccard_pairs(docs, min_jaccard=0.0, max_doc_freq=1).isEmpty()
    # the cap threads through the LSH verifier too
    lsh_hi = {(r["a"], r["b"]) for r in
              dedup_minhash_lsh(docs, min_jaccard=0.99, max_doc_freq=100).collect()}
    assert lsh_hi == {(1, 2), (1, 3), (2, 3)}


def test_auto_doc_freq_cap(spark, docs):
    """max_doc_freq="auto" resolves to the corpus-relative cap —
    identical pairs to passing auto_doc_freq_cap(n_docs) explicitly."""
    from mentor_rdf_parsers_spark.operators.dedup import (
        auto_doc_freq_cap,
        ngram_jaccard_pairs,
    )

    assert auto_doc_freq_cap(500) == 3          # floor dominates
    assert auto_doc_freq_cap(5_000) == 30       # 0.6% of corpus
    assert auto_doc_freq_cap(1_000_000) == 6000

    explicit = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(
            docs, min_jaccard=0.5, max_doc_freq=auto_doc_freq_cap(docs.count())
        ).collect()
    }
    auto = {
        (r["a"], r["b"])
        for r in ngram_jaccard_pairs(docs, min_jaccard=0.5, max_doc_freq="auto").collect()
    }
    assert auto == explicit


def test_transitive_closure_checkpoint_dir(spark, tmp_path):
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    out = transitive_closure(edges, checkpoint_dir=str(tmp_path / "ckpt"))
    assert out.count() == n * (n - 1) // 2


class TestFixedPlan:
    """iterutil.fixed_plan: scoped AQE-off for iterative loops (r4)."""

    def test_restores_session_setting(self, spark):
        from mentor_rdf_parsers_spark.operators.iterutil import fixed_plan

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        with fixed_plan(spark):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def test_restores_on_error(self, spark):
        from mentor_rdf_parsers_spark.operators.iterutil import fixed_plan

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        try:
            with fixed_plan(spark):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def test_escape_hatch_keeps_session_behavior(self, spark):
        from mentor_rdf_parsers_spark.operators.iterutil import fixed_plan

        spark.conf.set("spark.sql.adaptive.enabled", "true")
        with fixed_plan(spark, adaptive_exec=True):
            assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    def test_resolve_adaptive_auto_thresholds(self, spark):
        from mentor_rdf_parsers_spark.operators.iterutil import (
            AUTO_FIXED_PLAN_ROWS_PER_CORE,
            resolve_adaptive,
        )

        cores = spark.sparkContext.defaultParallelism
        assert resolve_adaptive(spark, 10) is True  # tiny → keep AQE
        assert resolve_adaptive(
            spark, AUTO_FIXED_PLAN_ROWS_PER_CORE * cores + 1) is False

    def test_cc_result_identical_either_way(self, spark, monkeypatch):
        from mentor_rdf_parsers_spark.operators import iterutil
        from mentor_rdf_parsers_spark.operators.canonicalize import (
            connected_components,
        )
        from tests.test_iterutil import _conf

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (12, 11)], "src long, dst long"
        )
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        # AQE coalesces the 4 edges into one partition: the contraction
        # answers alone
        a = sorted(map(tuple, connected_components(edges).collect()))
        # spread over 4 partitions, with a zero threshold, the same
        # edges go through the AQE-off loop
        monkeypatch.setattr(iterutil, "AUTO_FIXED_PLAN_ROWS_PER_CORE", 0)
        assert iterutil.resolve_adaptive(spark, 1) is False
        scopes = []
        fixed_plan = iterutil.fixed_plan

        def spy(spark, adaptive_exec=False):
            scopes.append(adaptive_exec)
            return fixed_plan(spark, adaptive_exec)

        monkeypatch.setattr(iterutil, "fixed_plan", spy)
        with _conf(spark, **{"spark.sql.adaptive.enabled": "false",
                             "spark.sql.shuffle.partitions": "4"}):
            b = sorted(map(tuple, connected_components(edges).collect()))
        assert scopes == [False]
        assert a == b == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)]
