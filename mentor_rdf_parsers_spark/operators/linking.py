"""Entity linking: candidate scoring vs a broadcast dictionary, plus a
MinHash-banded blocking join for fuzzy candidates.

No reference implementation exists (the reference is a parser library);
semantics fixed by the north_rule: "Entity linking scores candidate IRIs
via a broadcast dictionary + MinHash-banded blocking join".

Scale design:
* The alias dictionary is the classic small-dim case → ``F.broadcast``
  forced (SURVEY.md §4.2) so the 100 TB triples side never shuffles for
  the exact-match pass.
* The fuzzy pass never computes an O(N·M) cross product: MinHash
  signatures are banded and candidates meet through an equi-join on
  ``(band_idx, band_hash)`` — shuffle is proportional to candidate
  pairs, not the cross product.
* Hashes are xxhash64 (JVM, whole-stage codegen) by default; ``md5``
  mode exists for cross-engine-deterministic oracle checks.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def normalize_key(col: Column) -> Column:
    """Normalization both sides of every linking join share: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def link_exact(
    mentions: DataFrame,
    dictionary: DataFrame,
    mention_col: str = "mention",
    dict_key: str = "alias",
    dict_val: str = "entity",
) -> DataFrame:
    """Exact-match linking against a broadcast dictionary.

    mentions(…, mention) ⋈ dict(alias, entity) on the normalized key.
    Keeps all mention columns + ``entity`` (null when unlinked) +
    ``link_score`` (1.0 exact, null otherwise).
    """
    dim = dictionary.select(
        normalize_key(F.col(dict_key)).alias("__key"),
        F.col(dict_val).alias("entity"),
    ).dropDuplicates(["__key"])
    out = mentions.withColumn("__key", normalize_key(F.col(mention_col))).join(
        F.broadcast(dim), "__key", "left"
    )
    return out.withColumn(
        "link_score", F.when(F.col("entity").isNotNull(), F.lit(1.0))
    ).drop("__key")


def tokens_of(col: Column) -> Column:
    """Normalized word tokens of a text column — project this into its
    own column BEFORE shingling wide n-grams: :func:`shingles_from_tokens`
    references the array n times (once per gram position), and Catalyst's
    lambda bodies get no subexpression elimination, so an 8-gram otherwise
    re-tokenizes every document 8×. A separate non-cheap multi-referenced
    projection survives CollapseProject and is computed once per row."""
    return F.split(normalize_key(col), " ")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles over an already-tokenized array column."""
    count = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


# Kirsch-Mitzenmacher double hashing for the md5 (cross-engine) minhash
# mode: hash_i(s) = (h1(s) + i·h2(s)) mod P with h1/h2 = the two 32-bit
# halves of ONE md5 per shingle — 16× fewer md5 evaluations than hashing
# (i, s) per seed, and exactly reproducible in DuckDB SQL.
MINHASH_PRIME = 4294967291  # largest prime < 2^32


def minhash_bands(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """(id, text) → exploded (id, band_idx, band_hash) blocking keys.

    CONTRACT: documents with zero shingles — shorter than ``shingle_n``
    tokens, or emptied by a ``max_doc_freq`` cap upstream — emit NO
    bands and are never paired by any consumer of these keys, even when
    byte-identical to each other. Route such docs through
    :func:`~mentor_rdf_parsers_spark.operators.dedup.dedup_exact`
    (digest groupBy — cheap and exact for tiny docs); see the inline
    comment below for why an all-pairs sentinel is a scale hazard.

    Computed via explode + groupBy-min rather than per-row array
    expressions: N array-lambda min-hash columns each re-inline the whole
    tokenize/shingle tree (N× tokenization per row and a codegen blowup —
    measured 20× slower at sf0.1); the exploded form materializes each
    shingle once and the N mins aggregate map-side.

    ``shingles``: an already-built (id, s) exploded shingle DataFrame —
    pass a persisted one to share the tokenize/shingle work with a
    verification pass (see dedup.dedup_minhash_lsh)."""
    rows_per_band = num_hashes // bands
    sh = shingles if shingles is not None else df.select(
        F.col(id_col).alias("id"), tokens_of(F.col(text_col)).alias("toks")
    ).select(
        "id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_n))).alias("s"),
    )
    if hash_fn == "md5":
        # one md5 per shingle, materialized as (h1, h2) BEFORE the 16
        # min-aggregates — inlining it per seed would re-evaluate the
        # digest 16× per row (the round-1 codegen-blowup lesson)
        m = F.md5(F.col("s"))
        sh = sh.select(
            "id",
            F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
        )
        mins = [
            F.min((F.col("h1") + i * F.col("h2")) % MINHASH_PRIME).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    else:
        mins = [
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    mh = sh.groupBy("id").agg(*mins)
    # Docs with no (post-cap) shingles are dropped by the explode and
    # emit NO bands — they can never pair. An earlier revision rejoined
    # them with sentinel signatures so empty docs paired with each other,
    # which is quadratic in the number of empty docs: at 10x bench scale
    # a too-tight df cap emptied thousands of docs and the sentinel
    # self-join blew a 16s query up to 372s. A web-scale dedup must drop
    # shingle-less docs, not all-pairs them.
    sig = mh
    if hash_fn == "md5":
        # md5 band values are pinned bit-for-bit by the DuckDB oracle
        # (__spark_entry__ dedup_minhash_pairs) — do not change them
        band_cols = [
            F.md5(F.concat_ws("|", *[
                F.col(f"mh{b * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ]))
            for b in range(bands)
        ]
    else:
        # production path: ONE 8-byte long per band instead of a 32-char
        # md5 hex string — ~4× narrower rows through the blocking
        # shuffle and a cheaper hash (VERDICT r4 ask #4). A 64-bit band
        # collision only adds a candidate pair, which the exact-Jaccard
        # verification join filters back out.
        band_cols = [
            F.xxhash64(F.lit(b), *[
                F.col(f"mh{b * rows_per_band + r}")
                for r in range(rows_per_band)
            ])
            for b in range(bands)
        ]
    # posexplode: position IS the band index — no struct wrapping
    return sig.select(
        "id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash")
    )


def minhash_candidate_pairs(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """LSH candidate pairs (a < b) — documents sharing ≥1 band."""
    bandsdf = minhash_bands(
        df, id_col, text_col, num_hashes, bands, shingle_n, hash_fn, shingles
    )
    a = bandsdf.alias("a")
    b = bandsdf.alias("b")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a"), F.col("b.id").alias("b"))
        .distinct()
    )


def link_fuzzy(
    mentions: DataFrame,
    dictionary: DataFrame,
    mention_id: str = "mention_id",
    mention_col: str = "mention",
    dict_key: str = "alias",
    dict_val: str = "entity",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash-banded blocking join, then exact n-gram Jaccard scoring of
    the surviving candidates only.

    Returns (mention_id, entity, link_score=jaccard) best-match rows.
    """
    m = mentions.select(
        F.concat(F.lit("m:"), F.col(mention_id).cast("string")).alias("id"),
        F.col(mention_col).alias("txt"),
    )
    d = dictionary.select(
        F.concat(F.lit("d:"), F.col(dict_val).cast("string")).alias("id"),
        F.col(dict_key).alias("txt"),
    )
    both = m.unionByName(d)
    pairs = minhash_candidate_pairs(both, "id", "txt", num_hashes, bands, shingle_n)
    # keep only mention↔dict pairs
    cross = pairs.where(
        F.substring("a", 1, 2) != F.substring("b", 1, 2)
    ).select(
        F.when(F.col("a").startswith("m:"), F.col("a")).otherwise(F.col("b")).alias("mid"),
        F.when(F.col("a").startswith("d:"), F.col("a")).otherwise(F.col("b")).alias("did"),
    )
    sh = both.select("id", tokens_of(F.col("txt")).alias("toks")).select(
        "id", F.array_distinct(shingles_from_tokens(F.col("toks"), shingle_n)).alias("sh")
    )
    scored = (
        cross.join(sh.withColumnRenamed("id", "mid").withColumnRenamed("sh", "msh"), "mid")
        .join(sh.withColumnRenamed("id", "did").withColumnRenamed("sh", "dsh"), "did")
        .withColumn(
            "link_score",
            F.size(F.array_intersect("msh", "dsh"))
            / F.size(F.array_union("msh", "dsh")),
        )
        .where(F.col("link_score") >= min_jaccard)
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("mid").orderBy(F.desc("link_score"), F.asc("did"))
        ),
    ).where(F.col("rk") == 1)
    return best.select(
        F.expr("substring(mid, 3)").alias(mention_id),
        F.expr("substring(did, 3)").alias("entity"),
        "link_score",
    )
