"""owl:sameAs canonicalization: the per-partition union-find contraction
ahead of the star rounds, on long ids and on term strings, and the
rewrite of every alias to its component's min term."""

from __future__ import annotations

import random

import pyarrow as pa

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


def _kernel(*batches, dtype=pa.int64()):
    """Run the kernel on edge-list batches of ``dtype``; returns its (u, v)
    rows."""
    arrow = [
        pa.RecordBatch.from_arrays(
            [pa.array([u for u, _ in b], dtype),
             pa.array([v for _, v in b], dtype)],
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


def _term(i: int) -> str:
    """A term string whose byte order is the order of ``i`` (0 ≤ i < 1000)."""
    return f"urn:n{i:03d}"


def test_contract_empty_partition():
    for dtype in (pa.int64(), pa.string()):
        assert _kernel(dtype=dtype) == []
        assert _kernel([], dtype=dtype) == []


def test_contract_duplicate_edges():
    # both directions, repeated, split over two batches
    assert _kernel([(7, 3), (3, 7), (7, 3)], [(3, 7), (9, 7)]) == [(7, 3), (9, 3)]
    assert _kernel([("7", "3"), ("3", "7"), ("7", "3")], [("3", "7"), ("9", "7")],
                   dtype=pa.string()) == [("7", "3"), ("9", "3")]


def test_contract_descending_ids():
    # a chain whose ids fall along it: every hook points one step down,
    # pointer jumping must still land every node on the minimum
    chain = [(i, i - 1) for i in range(100, 0, -1)]
    assert _kernel(chain) == [(i, 0) for i in range(1, 101)]
    assert _kernel([(5, 6), (40, 41), (6, 40)]) == [(6, 5), (40, 5), (41, 5)]
    terms = [(_term(u), _term(v)) for u, v in chain]
    assert _kernel(terms, dtype=pa.string()) == [
        (_term(i), _term(0)) for i in range(1, 101)]


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


# the min of each component under UTF-8 byte (= code point) order, which
# Arrow's sort, Spark's string compare and Python's min all use
COMPONENTS = [
    ["urn:é", "urn:z", "urn:ä"],  # ASCII z sorts below both accents
    ["urn:😀", "urn:ｚ"],  # U+FF5A < U+1F600; UTF-16 order would pick 😀
    ["urn:α", "b0", "urn:€"],  # a bnode label sorts below the IRIs
]


def test_string_components_agree_with_python_min(spark, monkeypatch):
    pairs = [p for c in COMPONENTS for p in zip(c, c[1:])]
    random.Random(5).shuffle(pairs)
    edges = spark.createDataFrame(pairs, "src string, dst string")
    expect = {t: min(c) for c in COMPONENTS for t in c}
    assert _union_find(pairs) == expect
    cuts = _count_cuts(monkeypatch)
    # kernel only: one partition holds every edge
    with _conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        one = connected_components(edges, max_iter=1).collect()
    assert {r["node"]: r["comp"] for r in one} == expect
    assert len(cuts) == 1
    # star rounds: the edges scatter over 16 partitions
    with _conf(spark, **{"spark.sql.adaptive.enabled": "false",
                         "spark.sql.shuffle.partitions": "16"}):
        rounds = connected_components(edges).collect()
    assert {r["node"]: r["comp"] for r in rounds} == expect
    assert len(cuts) > 2


def test_canonicalize_rewrites_scattered_chain_to_min_term(spark, monkeypatch):
    # a scrambled 64-IRI alias chain plus two-node islands, scattered
    # over 16 partitions so the string star rounds must run; each term
    # has a fact as subject and as object
    rng = random.Random(11)
    chain = [f"http://e/{n}" for n in rng.sample(range(10**6), 64)]
    pairs = list(zip(chain, chain[1:]))
    pairs += [(f"http://i/{k}b", f"http://i/{k}a") for k in range(8)]
    rng.shuffle(pairs)
    rep = _union_find(pairs)
    rows = [("d", "iri", s, "iri", canonicalize.OWL_SAMEAS, "iri", o)
            for s, o in pairs]
    rows += [("d", "iri", t, "iri", "urn:p", "iri", "urn:x") for t in rep]
    rows += [("d", "iri", "urn:y", "iri", "urn:q", "iri", t) for t in rep]
    t = spark.createDataFrame(
        [r + (None,) * 7 for r in rows], COLS)
    cuts = _count_cuts(monkeypatch)
    with _conf(spark, **{"spark.sql.adaptive.enabled": "false",
                         "spark.sql.shuffle.partitions": "16"}):
        out = canonicalize_triples(t).collect()
    assert len(cuts) > 1
    assert sorted((r["s"], r["p"], r["o"]) for r in out) == sorted(
        {(rep[t], "urn:p", "urn:x") for t in rep}
        | {("urn:y", "urn:q", rep[t]) for t in rep})
    assert set(rep.values()) == {min(chain)} | {
        f"http://i/{k}a" for k in range(8)}
