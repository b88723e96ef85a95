"""owl:sameAs canonicalization: the per-partition union-find contraction
ahead of the star rounds, and the node-id collision guard."""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from mentor_rdf_parsers_spark.operators import canonicalize, iterutil
from mentor_rdf_parsers_spark.operators.canonicalize import (
    _contract,
    canonicalize_triples,
    connected_components,
)
from mentor_rdf_parsers_spark.operators.iterutil import cut
from tests.test_iterutil import _conf

COLS = ("doc_id string, s_kind string, s string, p_kind string, p string, "
        "o_kind string, o string, o_lang string, o_dt string, g_kind string, "
        "g string, s_off int, p_off int, o_off int")


def _kernel(*batches):
    """Run the kernel on edge-list batches; returns its (u, v) rows."""
    arrow = [
        pa.RecordBatch.from_arrays(
            [pa.array([u for u, _ in b], pa.int64()),
             pa.array([v for _, v in b], pa.int64())],
            names=["u", "v"],
        )
        for b in batches
    ]
    return sorted(
        (u, v)
        for out in _contract(iter(arrow))
        for u, v in zip(out.column("u").to_pylist(), out.column("v").to_pylist())
    )


def _union_find(edges) -> dict:
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_contract_empty_partition():
    assert _kernel() == []
    assert _kernel([]) == []


def test_contract_duplicate_edges():
    # both directions, repeated, split over two batches
    assert _kernel([(7, 3), (3, 7), (7, 3)], [(3, 7), (9, 7)]) == [(7, 3), (9, 3)]


def test_contract_descending_ids():
    # a chain whose ids fall along it: every hook points one step down,
    # pointer jumping must still land every node on the minimum
    chain = [(i, i - 1) for i in range(100, 0, -1)]
    assert _kernel(chain) == [(i, 0) for i in range(1, 101)]
    assert _kernel([(5, 6), (40, 41), (6, 40)]) == [(6, 5), (40, 5), (41, 5)]


def _count_cuts(monkeypatch) -> list:
    """Count lineage cuts: the initial one and one per round phase."""
    calls = []

    def counted(df, checkpoint_dir=None):
        calls.append(1)
        return cut(df, checkpoint_dir)

    monkeypatch.setattr(canonicalize, "cut", counted)
    monkeypatch.setattr(iterutil, "cut", counted)
    return calls


def test_single_partition_chain_needs_no_round(spark, monkeypatch):
    ids = random.Random(3).sample(range(-10**12, 10**12), 300)
    pairs = list(zip(ids, ids[1:])) + [(ids[5], ids[77]), (11, 12), (12, 13)]
    random.Random(4).shuffle(pairs)
    edges = spark.createDataFrame(pairs, "src long, dst long")
    cuts = _count_cuts(monkeypatch)
    # one partition: the contraction solves it, and no round runs
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        out = connected_components(edges, max_iter=1).collect()
    assert {r["node"]: r["comp"] for r in out} == _union_find(pairs)
    assert len(cuts) == 1


def test_no_edges_need_no_round(spark, monkeypatch):
    cuts = _count_cuts(monkeypatch)
    edges = spark.createDataFrame([], "src long, dst long")
    assert connected_components(edges).collect() == []
    assert len(cuts) == 1


def test_canonicalize_raises_on_node_id_collision(spark, monkeypatch):
    # ids collide by string length: urn:a / urn:c share one, and each
    # sits in an edge with a term of another length; the fact about
    # urn:a gives the rewrite something to map
    monkeypatch.setattr(
        canonicalize, "_node_id", lambda col: F.length(col).cast("long")
    )
    rows = [("d", "iri", s, "iri", p, "iri", o,
             None, None, None, None, None, None, None)
            for s, p, o in [("urn:a", canonicalize.OWL_SAMEAS, "urn:bb"),
                            ("urn:c", canonicalize.OWL_SAMEAS, "urn:ddd"),
                            ("urn:a", "urn:p", "urn:z")]]
    t = spark.createDataFrame(rows, COLS)
    # the error arrives bare, or wrapped when AQE fails both map-side
    # stages that read the guarded id map at once
    with pytest.raises((SparkRuntimeException, Py4JJavaError),
                       match=r"node id collision: urn:a / urn:c"):
        canonicalize_triples(t).collect()
