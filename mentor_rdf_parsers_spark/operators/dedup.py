"""Training-data deduplication family over the `documents` table.

Five strategies, all shuffle-conscious:

* exact        — md5-groupBy; one shuffle on the digest, min-id winner.
* minhash_lsh  — shingle → minhash → band → bucket equi-join (reuses
                 operators.linking); shuffle ∝ candidate pairs.
* simhash      — 32-bit sign-sum fingerprint; near-dups = equal or
                 small-hamming fingerprints (bucketed by fingerprint,
                 no cross join).
* ngram_jaccard— exact Jaccard via shingle-explode equi-join (the
                 verification pass for LSH candidates; also standalone).
* embedding    — cosine near-dup over `embeddings` (see
                 operators.similarity for the top-k variant).

Everything below is built-in-function only (whole-stage codegen);
md5/strpos-based bit arithmetic is used instead of `hash()` where the
DuckDB oracle must reproduce values bit-for-bit.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .linking import (
    minhash_candidate_pairs,
    normalize_key,
    shingles_from_tokens,
    tokens_of,
)


def auto_doc_freq_cap(n_docs: int) -> int:
    """The production doc-frequency cap: max(3, 0.6 % of the corpus).

    RELATIVE to corpus size — an absolute cap tuned at one scale strips
    most shingles at 10× that scale (measured at the sf1 bench: a fixed
    cap of 3 emptied thousands of docs). 0.6 % of a 500-doc corpus = 3,
    which drops hot boilerplate shingles while emptying no document;
    at 10^12 docs the same fraction still only removes stop-word runs.
    """
    return max(3, n_docs * 6 // 1000)


def _resolve_doc_freq(
    df: DataFrame, max_doc_freq: "int | str | None"
) -> Optional[int]:
    """``"auto"`` → :func:`auto_doc_freq_cap` of the corpus size (one
    count job — trivial next to the shingle self-join it bounds).
    Any other string is rejected at the API boundary — passed through it
    would surface later as an opaque Spark type error mid-plan."""
    if isinstance(max_doc_freq, str):
        if max_doc_freq != "auto":
            raise ValueError(
                f"max_doc_freq must be an int, None, or 'auto' "
                f"(got {max_doc_freq!r})"
            )
        return auto_doc_freq_cap(df.count())
    return max_doc_freq


def _exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int,
    max_doc_freq: Optional[int] = None,
) -> DataFrame:
    """(id, s) — one row per distinct shingle per document.

    ``max_doc_freq`` is the web-scale guard for every shingle-equi-join
    downstream: a shingle appearing in more than that many documents
    (stop-word runs, boilerplate) is dropped BEFORE any self-join, which
    bounds the join's shuffle at Σ df² over surviving shingles instead
    of letting one hot shingle go quadratic over the corpus."""
    sh = df.select(
        F.col(id_col).alias("id"), tokens_of(F.col(text_col)).alias("toks")
    ).select(
        "id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_n))).alias("s"),
    )
    if max_doc_freq is not None:
        hot = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_doc_freq)
            .select("s")
        )
        sh = sh.join(hot, "s", "left_anti")
    return sh


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    normalized: bool = True,
) -> DataFrame:
    """One row per distinct (normalized) text; representative = min id.

    Output: (digest, keep_id, dup_count). A 100 TB run shuffles only
    (digest, id) pairs — the text never moves after the map-side digest.
    """
    key = normalize_key(F.col(text_col)) if normalized else F.col(text_col)
    return (
        df.select(F.md5(key).alias("digest"), F.col(id_col).alias("id"))
        .groupBy("digest")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def dedup_minhash_lsh(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    min_jaccard: float = 0.7, hash_fn: str = "xxhash64",
    max_doc_freq: "int | str | None" = None,
) -> DataFrame:
    """LSH candidate pairs verified with exact shingle Jaccard.

    Output: (a, b, jaccard) with a < b and jaccard ≥ min_jaccard.

    CONTRACT: documents with zero (post-cap) shingles — shorter than
    ``shingle_n`` tokens, or emptied by ``max_doc_freq`` — never appear
    in the output, even when byte-identical. Pair this operator with
    :func:`dedup_exact` for such docs (digest groupBy is exact and
    cheap at any scale); an all-pairs sentinel for shingle-less docs is
    quadratic in their count (see linking.minhash_bands).

    The corpus is tokenized/shingled ONCE: the exploded shingle frame is
    persisted and shared between the banding pass and the verification
    arrays (round-1 bench showed re-shingling in the verification join
    dominating the query). ``max_doc_freq`` drops boilerplate shingles
    before banding — see :func:`_exploded_shingles`; the Jaccard is then
    over the capped shingle sets on both sides. Pass ``"auto"`` for the
    proven corpus-relative cap (:func:`auto_doc_freq_cap`).
    """
    max_doc_freq = _resolve_doc_freq(df, max_doc_freq)
    sh = _exploded_shingles(df, id_col, text_col, shingle_n, max_doc_freq).persist()
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, hash_fn, shingles=sh
    )
    # docs with zero (post-cap) shingles emit no bands and never pair
    # (see minhash_bands — the old sentinel behavior was quadratic in
    # the number of empty docs), so every paired id has a shingle array
    arrays = sh.groupBy("id").agg(F.collect_list("s").alias("sh"))
    return (
        pairs.join(arrays.select(F.col("id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(arrays.select(F.col("id").alias("b"), F.col("sh").alias("shb")), "b")
        .withColumn(
            "jaccard",
            F.when(
                F.size(F.array_union("sha", "shb")) > 0,
                F.size(F.array_intersect("sha", "shb"))
                / F.size(F.array_union("sha", "shb")),
            ).otherwise(F.lit(1.0)),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    shingle_n: int = 3, min_jaccard: float = 0.5,
    max_doc_freq: "int | str | None" = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via shingle-explode equi-join.

    Shuffle ∝ Σ shingle frequency² — a 100 TB run MUST cap it with
    ``max_doc_freq`` (shingles above the document-frequency cap are
    dropped before the self-join and excluded from both sides' set
    sizes, so the result stays a true Jaccard of the capped sets);
    ``"auto"`` applies the corpus-relative :func:`auto_doc_freq_cap`.
    Left off only for small-SF oracle parity.
    """
    max_doc_freq = _resolve_doc_freq(df, max_doc_freq)
    sh = _exploded_shingles(df, id_col, text_col, shingle_n, max_doc_freq)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "s")
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("id").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn("jaccard", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")))
        .where(F.col("jaccard") >= min_jaccard)
        .select("a", "b", "jaccard")
    )


def _hex_nibble(c: Column) -> Column:
    """hex char → 0..15 via strpos — reproducible in any SQL engine
    (no engine-specific hash/conv needed for the oracle)."""
    return F.instr(F.lit("0123456789abcdef"), c) - 1


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, simhash) — one 32-bit fingerprint per non-null-text doc."""
    # bit b = sign( Σ_tokens (bit_b(md5(token)) ? +1 : -1) ) over the
    # whitespace tokens. The per-token md5 is materialized ONCE as a
    # column, then 32 bit-sums aggregate map-side — a single-expression
    # fold over the token array would re-evaluate the digest once per
    # bit inside the lambda (no CSE in lambda bodies; same lesson as
    # shingles_from_tokens).
    # NULL text yields no fingerprint row (the pre-rewrite contract:
    # a null fingerprint was dropped by the bucket join; without this
    # filter explode_outer would hand such docs fingerprint 0 and bucket
    # them with genuinely zero-fingerprint docs). Empty-string text still
    # fingerprints: split('') = [''] survives explode_outer.
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode_outer(F.split(normalize_key(F.col(text_col)), " ")).alias("tok"),
    )
    h = toks.select("id", F.md5(F.col("tok")).alias("h"), "tok")
    bit_sums = []
    for b in range(32):
        nib = _hex_nibble(F.substring(F.col("h"), 1 + b // 4, 1))
        bit = F.floor(nib / (2 ** (b % 4))) % 2
        # empty docs explode_outer to a null token → contribute 0
        contrib = F.when(F.col("tok").isNull(), F.lit(0)).otherwise(bit * 2 - 1)
        bit_sums.append(F.sum(contrib.cast("long")).alias(f"s{b}"))
    sums = h.groupBy("id").agg(*bit_sums)
    fp_expr = sum(
        (F.when(F.col(f"s{b}") > 0, F.lit(2 ** b).cast("long"))
         .otherwise(F.lit(0).cast("long")) for b in range(32)),
        F.lit(0).cast("long"),
    )
    return sums.select("id", fp_expr.alias("simhash"))


def dedup_simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, simhash, bucket_size): equal fingerprints = near-dup bucket.

    For near-dups at hamming distance > 0 use
    :func:`simhash_hamming_pairs` — banded collision search, never a
    cross join.
    """
    fp = simhash_fingerprints(df, id_col, text_col)
    counts = fp.groupBy("simhash").agg(F.count("*").alias("bucket_size"))
    return fp.join(counts, "simhash").select("id", "simhash", "bucket_size")


def simhash_hamming_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 2, n_bands: int = 4,
) -> DataFrame:
    """Near-dup pairs at hamming distance ≤ ``max_hamming`` between
    32-bit SimHash fingerprints.

    Output: (a, b, hamming) with a < b.

    Pigeonhole banding gives exact recall without a cross join: the
    fingerprint splits into ``n_bands`` disjoint bit-bands; two words
    differing in at most ``max_hamming < n_bands`` bits must agree on at
    least one whole band, so the band equi-join surfaces every true pair
    and only collisions shuffle. Each candidate is then verified with an
    exact popcount of the XOR. Same 100 TB cost model as MinHash
    banding: shuffle ∝ collisions, bounded by band-bucket sizes — a
    degenerate corpus (many near-identical fingerprints) degrades
    toward its true pair count, never toward |corpus|².
    """
    if not 0 <= max_hamming < n_bands:
        raise ValueError("pigeonhole recall needs 0 <= max_hamming < n_bands")
    if 32 % n_bands != 0:
        raise ValueError("n_bands must divide 32")
    bits = 32 // n_bands
    fp = simhash_fingerprints(df, id_col, text_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            (F.floor(F.col("simhash") / (2 ** (b * bits))) % (2 ** bits))
            .cast("long").alias("band_val"),
        )
        for b in range(n_bands)
    ]
    bands = fp.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("band")
    ).select(
        "id", "simhash",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(y, ["band_idx", "band_val"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("a"), F.col("y.id").alias("b"),
            F.col("x.simhash").alias("fa"), F.col("y.simhash").alias("fb"),
        )
        .distinct()  # pairs agreeing on several bands collide once each
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-based resolution of near-dup pairs: transitively
    connected docs form one cluster; the minimum id is the kept
    representative.

    The package's one pair-resolution policy: pairs (a,b),(b,c) put
    a,b,c in ONE cluster keeping only a — chains neither over- nor
    under-drop, which no pairwise anti-join gets right. Runs the same
    Kiveris large-star/small-star connected components as owl:sameAs
    canonicalization (O(log n) rounds at any chain depth — see
    operators/canonicalize.py), so the cost model is already proven at
    the 100 TB design point.

    Output: one row per document — (id, component, keep) where
    ``component`` is the cluster's min id (the doc itself when unpaired)
    and ``keep`` marks the representative.
    """
    from .canonicalize import connected_components

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    labels = connected_components(edges)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("node", "id"), "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("component"))
        .withColumn("keep", F.col("id") == F.col("component"))
    )

