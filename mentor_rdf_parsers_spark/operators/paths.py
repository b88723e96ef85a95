"""Property-path evaluation over the triples table.

The reference parses SPARQL property paths (`/ | ^ * + ? !(…)`,
/root/reference/src/sparql/parser.ts:1628-1762) but never evaluates
them; this module is the Spark execution for the recursive ones.
`p+` / `p*` are iterative transitive closure — Catalyst has no
recursion, so **path doubling** run by ``iterutil.fixpoint`` does it in
O(log diameter) self-joins (SURVEY.md §4.2), lineage cut per round
(localCheckpoint by default, reliable checkpoints via
``checkpoint_dir`` for long/resumable runs).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterutil import cut, fixed_plan, fixpoint, resolve_adaptive


def transitive_closure(
    edges: DataFrame, max_iter: int = 30,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """(src, dst) → all pairs (src, dst) connected by a directed path.

    Path doubling: R ← R ∪ (R ∘ R) squares the reachable path length
    each round, so a 10^6-long chain closes in ~20 joins instead of 10^6.
    Output is distinct pairs; self-loops only if present in the input.
    The round is a step function for :func:`iterutil.fixpoint`: R only
    grows, so "state unchanged" means "no pair added", and ``max_iter``
    rounds that still add pairs raise.

    ``checkpoint_dir`` switches the per-round lineage cut to reliable
    checkpoints — the round-1 finding is that ``localCheckpoint`` alone
    does not dependably stop exponential recompute in self-join loops on
    this Spark build, so long-running closures should pass a directory
    (mirrors canonicalize.connected_components).
    """
    def step(closure: DataFrame) -> DataFrame:
        new_pairs = (
            closure.alias("a")
            .join(closure.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        return closure.union(new_pairs).distinct()

    return fixpoint("transitive_closure", edges.select("src", "dst").distinct(),
                    step, max_iter, checkpoint_dir)


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: str = "0.85",
    scale: int = 18,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Fixed-iteration PageRank over (src, dst) edges → (node, rank).

    Deterministic by construction: every sum runs in DECIMAL(38, scale)
    (double addition is shuffle-order-dependent — decimal is associative
    and exact), so two runs — or two engines — agree digit-for-digit.
    Dangling nodes keep the (1-d) base term. Fixed iteration count
    rather than convergence threshold keeps the plan cross-checkable.

    Scale shape: per iteration one groupBy("dst") shuffle of (dst,
    contribution) pairs; rank table is (node, rank) only. A fixed round
    count needs no fixpoint: each round is an ``iterutil.cut`` and AQE
    is resolved from the node count.
    """
    dec = f"decimal(38,{scale})"
    d = F.lit(damping).cast(dec)
    one_minus_d = (F.lit(1).cast(dec) - d).cast(dec)

    nodes, (n_nodes, _) = cut(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    spark = edges.sparkSession
    with fixed_plan(spark, resolve_adaptive(spark, n_nodes)):
        out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        ranks = nodes.withColumn("rank", F.lit(1).cast(dec))
        for _ in range(iterations):
            contrib = (
                edges.join(ranks, edges.src == ranks.node)
                .join(out_deg, "src")
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).cast(dec).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").cast(dec).alias("inflow"))
            )
            ranks, _ = cut(
                nodes.join(contrib, "node", "left")
                .select(
                    "node",
                    (one_minus_d + d * F.coalesce(
                        F.col("inflow"), F.lit(0).cast(dec)
                    )).cast(dec).alias("rank"),
                ),
                checkpoint_dir,
            )
    return ranks
