"""One fixpoint loop for the iterative operators (CC, transitive closure,
forward chaining; PageRank uses ``cut`` only).

Catalyst has no recursion, so each operator is a *step function*
``state → state`` over one DataFrame and :func:`fixpoint` runs the
loop: ``state = cut(step(state))`` until the state stops changing.

``cut`` is the lineage cut every round needs (without it the plan
doubles per round and the driver OOMs): an eager ``localCheckpoint``,
or a reliable ``checkpoint`` under ``checkpoint_dir`` for resumable
runs. The same checkpoint job computes the state's order-insensitive
signature — row count plus the decimal sum of a row hash (long sums
overflow under ANSI mode) — through ``DataFrame.observe``, so the
signature adds no Spark job (a cut is one job with AQE off) and there
is no separate convergence probe. An unchanged signature is the one convergence rule:
for growing states (closure, Δ-tagged facts, dropped ids) it means
"nothing added", for CC it means "edge set stable". A loop whose last
allowed round still changed the state raises instead of returning a
partial result.

``fixed_plan`` scopes adaptive query execution OFF for the loop and
restores the session setting afterwards; :func:`fixpoint` decides from
the initial state's row count (:func:`resolve_adaptive`). The setting is
session-wide, so overlapping loops (the pipeline runs stages on several
threads) share one scope per session: the first to enter saves
the setting and the last to leave restores it. A query another thread
plans meanwhile runs with AQE off too — slower or faster, never
different in its result.

Whether AQE helps an iterative loop depends on the regime, and both
sides were measured with interleaved A/B on identical inputs:

* **Work-dominated rounds** (big input, partitions sized to the data):
  the round shape is fixed — one groupBy + one equi-join with stable
  cardinalities — so there is nothing for the re-planner to learn, and
  AQE's per-stage materialization barrier is serial driver latency
  repeated every round. Kiveris CC over 4M edges: 164 s vs 196 s at
  local[2], 56 s vs 95 s at local[8] (off vs on) — the gap WIDENS with
  cores, dropping 2→8 scaling efficiency from 0.73 to 0.52. AQE OFF.
* **Overhead-dominated rounds** (small input, many cores): each round
  shuffles kilobytes across ``spark.sql.shuffle.partitions`` tasks and
  per-task overhead dominates; AQE's partition coalescing is exactly
  the cure. Same CC on 5k edges at local[32]: 20–27 s with AQE off vs
  6.6–8.7 s with AQE on. AQE ON.

The dividing variable is rows per core. ``resolve_adaptive`` keeps the
session's AQE when the materialized input is below
``AUTO_FIXED_PLAN_ROWS_PER_CORE`` rows per core and disables it above —
both thresholds' regimes sit an order of magnitude to either side.
Skew is not an argument for AQE here: the star operations bound
neighborhood sizes by construction, and hub skew is handled explicitly
by salting (operators/materialize.py:with_salt).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Callable, Optional, Tuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# ~50k rows/core: the measured AQE-off win sits at 500k rows/core and
# the measured AQE-on win at ~160 rows/core — an order of magnitude of
# slack on both sides of this line
AUTO_FIXED_PLAN_ROWS_PER_CORE = 50_000

_AQE_KEYS = ("spark.sql.adaptive.enabled",)

# session → [open fixed_plan scopes, the AQE settings saved by the first];
# module-wide because a session's conf is shared by every thread using it
_scopes: dict = {}
_scopes_lock = threading.Lock()


def resolve_adaptive(spark, rows: int) -> bool:
    """Keep AQE below ``AUTO_FIXED_PLAN_ROWS_PER_CORE`` rows per core of
    a MATERIALIZED input count (plan statistics after joins/windows are
    guesses, a count is not)."""
    cores = max(spark.sparkContext.defaultParallelism, 1)
    return rows < AUTO_FIXED_PLAN_ROWS_PER_CORE * cores


@contextmanager
def fixed_plan(spark, adaptive_exec: bool = False):
    """Disable AQE inside an iterative fixed-shape loop (no-op when
    ``adaptive_exec=True`` — the caller's escape hatch to keep the
    session behavior). Safe to overlap across threads: the scopes open
    on one session are reference-counted, and only the last one out
    restores what the first one in saved. Until then every query the
    session plans, on any thread, runs with AQE off."""
    if adaptive_exec:
        yield
        return
    with _scopes_lock:
        scope = _scopes.get(spark)
        if scope is None:
            saved = {}
            for k in _AQE_KEYS:
                try:
                    saved[k] = spark.conf.get(k)
                except Exception:
                    saved[k] = None
                spark.conf.set(k, "false")
            scope = _scopes[spark] = [0, saved]
        scope[0] += 1
    try:
        yield
    finally:
        with _scopes_lock:
            scope[0] -= 1
            if scope[0] == 0:
                del _scopes[spark]
                for k, v in scope[1].items():
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)


def cut(df: DataFrame, checkpoint_dir: Optional[str] = None) -> Tuple[DataFrame, tuple]:
    """Eagerly checkpoint ``df`` (session-local, or reliable under
    ``checkpoint_dir``) and return it with its ``(count, hash-sum)``
    signature, observed on the checkpoint's own job. An empty frame
    signs ``(0, None)``."""
    obs = Observation()
    h = F.xxhash64(*[df[c] for c in df.columns]).cast("decimal(38,0)")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
    if checkpoint_dir:
        df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=True)
    sig = obs.get
    return df, (sig["n"], sig["h"])


def fixpoint(
    name: str, state: DataFrame, step: Callable[[DataFrame], DataFrame],
    max_iter: int, checkpoint_dir: Optional[str] = None,
    sig: Optional[tuple] = None,
) -> DataFrame:
    """Run ``state = cut(step(state))`` until the state's signature stops
    changing; AQE for the rounds is resolved from the initial state's
    count. A given ``sig`` says ``state`` is already cut and signed so.
    Raises ``RuntimeError`` when round ``max_iter`` still changed the
    state."""
    spark = state.sparkSession
    if sig is None:
        state, sig = cut(state, checkpoint_dir)
    with fixed_plan(spark, resolve_adaptive(spark, sig[0])):
        for _ in range(max_iter):
            state, new_sig = cut(step(state), checkpoint_dir)
            if new_sig == sig:
                return state
            sig = new_sig
    raise RuntimeError(
        f"{name} did not converge within max_iter={max_iter} rounds"
    )
