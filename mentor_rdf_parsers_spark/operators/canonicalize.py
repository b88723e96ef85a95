"""owl:sameAs canonicalization: iterative connected components.

The reference has no linking/canonicalization stage (it is a
single-document parser library); semantics come from the north_rule:
"canonicalization collapses owl:sameAs-style aliases with an iterative
connected-components (hash-min label propagation) pass over the edge
DataFrame".

Algorithm: local contraction, then Kiveris large-star / small-star
(connected_components).  Plain hash-min label propagation needs
O(diameter) joins — a 1M-node alias chain would need 1M shuffles;
alternating the two star operations converges in O(log n) rounds for
any node order.  Each round is a step function run by
``iterutil.fixpoint``, which cuts lineage after every round
(``localCheckpoint``, or reliable checkpoints under ``checkpoint_dir``
for the north_rule's resumability — without a cut the plan doubles per
round and the driver OOMs long before 100 TB), stops when the edge set
is unchanged and raises at ``max_iter``.

Before the rounds, a ``mapInArrow`` kernel (:func:`_contract`) runs a
vectorized union-find over each partition's edges and replaces them by
star edges node → min node of its local component.  That keeps
connectivity, so the components are the same, and it costs no Spark job
of its own.  It helps as far as the partitions hold whole components.
When every edge sits in one partition — AQE coalesces a small edge set
so, the pipeline's usual case — the local union-find saw the whole graph
and its stars already are the converged answer: the initial cut observes
min and max ``spark_partition_id()`` of the contracted edges on its own
job, and when they agree no round runs at all.  It does not help
scattered input: with AQE off and 16 shuffle partitions a scrambled
64-node chain still takes 6 rounds and a 4096-node chain 11, as without
the kernel.

:func:`canonicalize_triples` runs the components over the sameAs
endpoint terms themselves.  The star operations and the kernel need
only a total order, and under the string order (UTF-8 bytes, in Spark
and Arrow alike) the component min is the representative term, so the
converged star edges are the term → representative mapping: no node
ids, no map back, and no two terms can share a key.

Scale notes:
* all joins are equi-joins on the node key → sort-merge/shuffle-hash
  under AQE; each round shuffles (node, comp) term strings, bounded by
  the sameAs endpoints (not every term of the graph) — partition count
  should scale with input (caller sets ``spark.sql.shuffle.partitions``).
* hub entities (a node with millions of sameAs edges) contribute each
  neighbor once (edges deduplicated first), and the star operations
  bound neighborhood growth by construction; residual skew is handled
  explicitly by salting (materialize.with_salt). AQE for the rounds is
  auto-resolved from the input size (iterutil.resolve_adaptive):
  re-planning a fixed-shape round every iteration is serial latency on
  work-dominated inputs (0.73→0.52 in 2→8-core scaling efficiency),
  while partition coalescing wins 3× on tiny rounds at many cores.
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .iterutil import cut, fixpoint

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def _contract(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` kernel: one partition's (u, v) edges → star edges
    (u = node, v = min node of its component within the partition), one
    per node that is not that min. Any ordered Arrow type works: longs,
    and strings in byte order, which is Spark's string order.

    Vectorized union-find over the indices of the endpoints in their
    sorted distinct values (``pc.unique`` + ``pc.sort_indices`` +
    ``pc.index_in``, so the min index is the min node): every root hooks
    to the smallest root across its edges (``np.minimum.at``), pointer
    jumping then points every node at its root again, until each edge's
    ends share a root. Hooks only ever point at a smaller index, so no
    cycle forms and each component ends at its min."""
    parts = [(b.column(0), b.column(1)) for b in batches]
    if not parts:
        return
    ends = pa.chunked_array([u for u, _ in parts] + [v for _, v in parts])
    distinct = pc.unique(ends)
    nodes = distinct.take(pc.sort_indices(distinct))
    a, b = np.split(pc.index_in(ends, value_set=nodes).to_numpy(), 2)
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[a], root[b]
        if np.array_equal(ra, rb):
            break
        lo = np.minimum(ra, rb)
        np.minimum.at(root, ra, lo)
        np.minimum.at(root, rb, lo)
        while True:
            up = root[root]
            if np.array_equal(up, root):
                break
            root = up
    moved = np.flatnonzero(root != np.arange(len(nodes)))
    yield pa.RecordBatch.from_arrays(
        [nodes.take(moved), nodes.take(root[moved])], names=["u", "v"]
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """Kiveris large-star: every neighbor v > u re-attaches to
    m(u) = min(N(u) ∪ {u})."""
    m = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", F.col("u")).alias("m"))
    return (
        sym.where(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """Kiveris small-star over the ≤-neighborhood: for each u, all
    neighbors v ≤ u (and u itself) attach to m = min(N≤(u) ∪ {u})."""
    le = sym.where(F.col("v") < F.col("u"))
    m = le.groupBy("u").agg(F.min("v").alias("m"))
    attach_nbrs = (
        le.join(m, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    attach_self = m.select(F.col("u"), F.col("m").alias("v"))
    return attach_nbrs.union(attach_self).where(F.col("u") != F.col("v")).distinct()


def _both_ways(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """(src, dst) undirected edges → (node, comp) where comp = min node
    of the component. Nodes may be of any ordered type — long ids, or
    term strings, whose min is then the lexicographically-min term.

    Each partition's deduplicated symmetric edges are first contracted
    to local star edges (:func:`_contract`); then alternating
    large-star / small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond") converges in O(log n) rounds for ANY id
    distribution — naive hash-min label propagation is O(diameter),
    which on a 10^6-long alias chain with hashed (randomly ordered) ids
    means 10^6 shuffle rounds; this needs ~20.  One round is a step
    function for :func:`iterutil.fixpoint` (one groupBy + one equi-join
    per phase, lineage cut after each phase); the edge set stops
    changing once every node points at its component min, and
    ``max_iter`` rounds without that raise.  Edges that all sat in one
    partition are solved by the contraction alone, and no round runs.

    Deterministic; returns one row per distinct node of the edge set.
    """
    def step(star: DataFrame) -> DataFrame:
        # large-star needs the symmetric view; small-star the directed one
        ls, _ = cut(_large_star(_both_ways(star)), checkpoint_dir)
        return _small_star(_both_ways(ls))

    sym = _both_ways(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    ).where(F.col("u") != F.col("v")).distinct()
    parts = Observation()
    local = sym.mapInArrow(_contract, sym.schema).observe(
        parts,
        F.min(F.spark_partition_id()).alias("lo"),
        F.max(F.spark_partition_id()).alias("hi"),
    )
    star, sig = cut(local, checkpoint_dir)
    if parts.get["lo"] != parts.get["hi"]:  # None for no edges at all
        star = fixpoint("connected_components", star, step, max_iter,
                        checkpoint_dir, sig=sig)
    # converged star edges point every non-min node at its component min
    mins = star.select(F.col("v").alias("node")).distinct()
    return star.select(F.col("u").alias("node"), F.col("v").alias("comp")).union(
        mins.select("node", F.col("node").alias("comp"))
    )


def canonicalize_triples(
    triples: DataFrame, max_iter: int = 50, checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Rewrite s/o of every triple to its component-canonical
    representative (the lexicographically-min term of each owl:sameAs
    component), dropping the sameAs edges themselves and deduplicating.

    Components run over the endpoint terms themselves, so the component
    min *is* the representative and the mapping is the converged star
    edges (node != comp); a broadcast-or-shuffle map-side join then
    rewrites s and o.
    """
    edges = triples.where(
        (F.col("p") == OWL_SAMEAS) & F.col("o_kind").isin("iri", "bnode")
    ).select(F.col("s").alias("src"), F.col("o").alias("dst"))
    comps = connected_components(
        edges, max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )
    mapping = comps.where(F.col("node") != F.col("comp"))

    out = triples.where(F.col("p") != OWL_SAMEAS)
    m_s = mapping.select(F.col("node").alias("s"), F.col("comp").alias("s_rep"))
    m_o = mapping.select(F.col("node").alias("o"), F.col("comp").alias("o_rep"))
    out = (
        out.join(m_s, "s", "left")
        .join(m_o, "o", "left")
        .select(
            "doc_id",
            "s_kind",
            F.coalesce("s_rep", "s").alias("s"),
            "p_kind",
            "p",
            "o_kind",
            F.when(
                F.col("o_kind").isin("iri", "bnode"), F.coalesce("o_rep", "o")
            ).otherwise(F.col("o")).alias("o"),
            "o_lang",
            "o_dt",
            "g_kind",
            "g",
            "s_off",
            "p_off",
            "o_off",
        )
    )
    return out.dropDuplicates(["s", "p", "o", "o_lang", "o_dt", "g"])
