"""The fixpoint loop shared by the iterative operators: ``cut``
signs a frame on its own checkpoint job, and a loop that is still
changing its state after ``max_iter`` rounds raises instead of
returning a partial result."""

from __future__ import annotations

import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from mentor_rdf_parsers_spark.operators.canonicalize import connected_components
from mentor_rdf_parsers_spark.operators.iterutil import cut, fixed_plan
from mentor_rdf_parsers_spark.operators.paths import transitive_closure
from mentor_rdf_parsers_spark.operators.reasoning import forward_chain
from tests.test_reasoning import _facts
from tests.test_sparql_compat_join import _jobs_while


def test_cut_signs_on_its_checkpoint_job(spark):
    df = spark.range(500).select(
        (F.col("id") % 37).alias("u"), (F.col("id") % 11).alias("v")
    ).distinct()
    with fixed_plan(spark):
        (out, sig), jobs = _jobs_while(spark, lambda: cut(df))
    assert len(jobs) == 1
    ref = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    assert sig == (ref["n"], ref["h"]) and sig[0] == 37 * 11
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))


def test_cut_empty_and_reliable(spark, tmp_path):
    empty = spark.range(10).where("id < 0")
    assert cut(empty)[1] == (0, None)
    out, sig = cut(spark.range(5), str(tmp_path / "ckpt"))
    assert sig[0] == 5 and out.count() == 5


def test_fixed_plan_overlapping_scopes_restore_once(spark):
    """Two threads' fixed-plan scopes overlap: A enters, B enters, A
    leaves, B leaves. B must still run with AQE off after A left, and
    the session setting from before A must come back after B."""
    key = "spark.sql.adaptive.enabled"
    step = threading.Barrier(2, timeout=60)

    def a():
        with fixed_plan(spark):
            step.wait()  # 1: A is in
            step.wait()  # 2: B is in
        step.wait()      # 3: A is out

    def b():
        step.wait()
        with fixed_plan(spark):
            step.wait()
            step.wait()
            return spark.conf.get(key)

    with _conf(spark, **{key: "true"}):
        with ThreadPoolExecutor(2) as pool:
            fa, fb = pool.submit(a), pool.submit(b)
            fa.result()
            inside_b = fb.result()
        assert inside_b == "false"
        assert spark.conf.get(key) == "true"


def test_fixed_plan_scopes_under_thread_stress(spark):
    """Eight threads open and close fixed-plan scopes at random with a
    short switch interval: inside every scope AQE is off, and after the
    last one the session setting is back."""
    key = "spark.sql.adaptive.enabled"
    interval = sys.getswitchinterval()

    def churn(seed):
        rng = random.Random(seed)
        seen = set()
        for _ in range(10):
            with fixed_plan(spark):
                time.sleep(rng.random() / 100)
                seen.add(spark.conf.get(key))
        return seen

    sys.setswitchinterval(1e-5)
    try:
        with _conf(spark, **{key: "true"}):
            with ThreadPoolExecutor(8) as pool:
                futures = [pool.submit(churn, i) for i in range(8)]
                seen = set().union(*(f.result(timeout=120) for f in futures))
            assert seen == {"false"}
            assert spark.conf.get(key) == "true"
    finally:
        sys.setswitchinterval(interval)


@contextmanager
def _conf(spark, **settings):
    old = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_connected_components_raises_when_exhausted(spark):
    # scattered over 16 partitions, the per-partition contraction cannot
    # solve the chain, so the star rounds must run (6 here); AQE would
    # coalesce the 64 nodes into one partition, where it could
    ids = random.Random(7).sample(range(1, 10**9), 64)
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "src long, dst long"
    )
    with _conf(spark, **{"spark.sql.adaptive.enabled": "false",
                         "spark.sql.shuffle.partitions": "16"}):
        with pytest.raises(RuntimeError, match=r"connected_components.*max_iter=1"):
            connected_components(edges, max_iter=1).collect()


def test_transitive_closure_raises_when_exhausted(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match=r"transitive_closure.*max_iter=1"):
        transitive_closure(edges, max_iter=1).collect()


def test_forward_chain_raises_when_exhausted(spark):
    t = _facts(spark, """@prefix : <http://ex/> .
:x a :A .
{ ?s a :A } => { ?s a :B } .
{ ?s a :B } => { ?s a :C } .
{ ?s a :C } => { ?s a :D } .
""")
    with pytest.raises(RuntimeError, match=r"forward_chain.*max_iter=1"):
        forward_chain(t, max_iter=1, specialize=False).collect()
    # rounds 1-3 derive B, C, D; round 4 derives nothing
    out = forward_chain(t, max_iter=4, specialize=False)
    types = {r["o"] for r in out.where(F.col("s") == "http://ex/x").collect()}
    assert types == {f"http://ex/{c}" for c in "ABCD"}
