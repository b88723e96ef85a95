"""Similarity search over an embedding column (`array<float>`).

* brute-force cosine top-k — the exact baseline; broadcast the (small)
  query set against the full corpus, rank with a window.
* LSH-bucketed ANN (random-hyperplane/SimHash-style) — the scale path:
  sign-bit sketch → bucket equi-join → exact re-rank inside buckets.
  Hyperplanes are derived deterministically from md5 (seedless, stable
  across runs/engines — no RNG in the plan).

Dot products use `F.zip_with` + `F.aggregate` in double precision,
left-to-right — bit-identical to a sequential C loop, which is what the
DuckDB oracle computes too.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-row precomputed norms. The pairwise join paths
    use this: `dot(a, b) / (norm(a) * norm(b))` would inline both norm
    aggregates into every candidate pair (3 array folds per pair),
    while the norm of each vector is a per-row property — precompute
    it as a column on each side before the join and each pair costs
    ONE fold (the dot)."""
    return dot(a, b) / (na * nb)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim).

    queries is expected small → broadcast; the corpus side streams with
    no shuffle until the final per-query top-k window (partitioned by
    query_id, so the window shuffle is |queries|·|corpus| rows wide but
    k-truncatable by AQE; for huge query sets switch to the LSH path).
    Self-pairs excluded; ties broken by neighbor id.
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qn", norm(F.col("qv")))
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenorm(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                round_dp,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rk").cast("long").alias("rk"))
    )


def _hyperplane(bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j is
    ±1 from the md5 of (bit, j). Seedless and engine-independent."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"hp:{bit}:{j}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return out


def lsh_sketch(vec: Column, dim: int, n_bits: int = 16) -> Column:
    """Random-hyperplane sign sketch as a long (bit b = sign(v·h_b))."""
    acc = F.lit(0).cast("long")
    for b in range(n_bits):
        plane = _hyperplane(b, dim)
        d = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(d > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates = same LSH bucket, exact re-rank
    inside. At 100 TB this replaces the cross join with an equi-join on
    the sketch; recall is tuned via n_bits (fewer bits → bigger buckets).
    """
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    ).withColumn("bucket", lsh_sketch(F.col("cv"), dim, n_bits)) \
     .withColumn("cn", norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("bucket", lsh_sketch(F.col("qv"), dim, n_bits)) \
     .withColumn("qn", norm(F.col("qv")))
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenorm(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                round_dp,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rk").cast("long").alias("rk"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    min_sim: float = 0.95,
    n_bits: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the LSH bucket join
    (a < b, sim ≥ min_sim). The dedup-by-embedding entry point."""
    e = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("bucket", lsh_sketch(F.col("v"), dim, n_bits)) \
     .withColumn("n", norm(F.col("v")))
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, "bucket")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a"),
            F.col("b.id").alias("b"),
            F.round(
                cosine_prenorm(F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")),
                round_dp,
            ).alias("sim"),
        )
        .where(F.col("sim") >= min_sim)
    )


def _ivf_centroid(i: int, dim: int) -> list[float]:
    """Deterministic ±1 coarse-quantizer centroid: component j of
    centroid i is ±1 from md5("ivf:{i}:{j}"). Seedless and
    engine-independent (same derivation idea as :func:`_hyperplane`).
    All centroids share one norm (√dim), so nearest-centroid equals
    argmax dot product — one left-to-right double sum per centroid,
    bit-reproducible in any SQL engine."""
    out = []
    for j in range(dim):
        h = hashlib.md5(f"ivf:{i}:{j}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return out


def ivf_dots(vec: Column, dim: int, n_centroids: int) -> Column:
    """``array<double>`` of v·c_i against the deterministic centroids,
    each dot a left-to-right fold (matches a sequential SQL sum)."""
    dots = []
    for i in range(n_centroids):
        plane = _ivf_centroid(i, dim)
        dots.append(
            F.aggregate(
                F.zip_with(
                    vec,
                    F.array(*[F.lit(x) for x in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
    return F.array(*dots)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    seed: int = 42,
    quantizer: str = "kmeans",
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse quantizer → each vector lands in
    one centroid bucket → queries probe their `n_probe` nearest
    centroids → exact cosine re-rank inside the probed buckets only.

    The 100 TB shape: the corpus is scanned once at index-build, stored
    clustered by centroid id (partition pruning at query time); per query
    only |corpus|·(n_probe/n_centroids) candidates are scored. Recall is
    tuned by n_probe.

    ``quantizer``:

    * ``"kmeans"`` — data-adaptive centroids (best recall); seed fixed →
      deterministic across runs, but not reproducible outside Spark ML.
    * ``"md5"`` — deterministic ±1 centroids (requires ``dim``); lower
      recall than KMeans on clustered data but every value — bucket
      assignment, probe order, final ranks — is reproducible in a plain
      SQL oracle, which is how the driver value-checks this operator.
    """
    if quantizer == "md5":
        if dim is None:
            raise ValueError("quantizer='md5' requires dim")
        indexed = (
            embeddings.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
            )
            .withColumn("dots", ivf_dots(F.col("cv"), dim, n_centroids))
            # argmax dot = nearest equal-norm centroid; first occurrence
            # breaks float ties toward the lowest bucket index, same as
            # the oracle's list_position
            .withColumn(
                "bucket",
                (F.array_position(F.col("dots"), F.array_max("dots")) - 1).cast("int"),
            )
            .select("neighbor_id", "cv", "bucket")
            .withColumn("cn", norm(F.col("cv")))
        )
        qd = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ).withColumn("dots", ivf_dots(F.col("qv"), dim, n_centroids))
        probes = (
            qd.select("query_id", "qv", F.posexplode("dots").alias("pos", "d"))
            .withColumn(
                "prk",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.desc("d"), F.asc("pos"))
                ),
            )
            .where(F.col("prk") <= n_probe)
            .select("query_id", "qv", F.col("pos").cast("int").alias("bucket"))
        )
    elif quantizer == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        corpus = embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
        ).withColumn("feat", array_to_vector(F.col("cv").cast("array<double>")))
        km = KMeans(k=n_centroids, seed=seed, featuresCol="feat", predictionCol="bucket")
        model = km.fit(corpus)
        indexed = model.transform(corpus).select("neighbor_id", "cv", "bucket")
        indexed = indexed.withColumn("cn", norm(F.col("cv")))

        # assign each query its n_probe nearest centroids (centroids are
        # tiny → crossJoin with a broadcast literal table)
        centroids = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
        spark = embeddings.sparkSession
        cent_df = F.broadcast(
            spark.createDataFrame(centroids, "bucket int, center array<double>")
        )
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        probes = (
            q.crossJoin(cent_df)
            .withColumn(
                "dist",
                F.aggregate(
                    F.zip_with(
                        F.col("qv"), F.col("center"),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
            )
            .withColumn(
                "rk", F.row_number().over(
                    Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("bucket"))
                ),
            )
            .where(F.col("rk") <= n_probe)
            .select("query_id", "qv", "bucket")
        )
    else:
        raise ValueError(f"unknown quantizer: {quantizer!r}")
    scored = (
        probes.withColumn("qn", norm(F.col("qv")))
        .join(indexed, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenorm(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")),
                round_dp,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", F.col("rk").cast("long").alias("rk"))
    )
