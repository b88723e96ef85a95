"""Corpus assembly operators for training-data pipelines: deterministic
sampling and sequence packing.

Both are pure column expressions (codegen'd, shuffle-free except the
packing window) and reproducible in ANSI SQL for the DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import token_count


def _md5_bucket(col: Column, nibbles: int = 6) -> Column:
    """First `nibbles` hex chars of md5 → integer in [0, 16^nibbles).

    Built from strpos arithmetic (like dedup.simhash_fingerprints) so ANY
    SQL engine reproduces it exactly — Spark's hash()/xxhash64 are not
    portable."""
    h = F.md5(col)
    acc = F.lit(0).cast("long")
    for i in range(nibbles):
        nib = (F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1).cast("long")
        acc = acc + nib * (16 ** (nibbles - 1 - i))
    return acc


def sample_corpus(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    salt: str = "sample",
    nibbles: int = 6,
) -> DataFrame:
    """Deterministic hash sampling: keep a doc iff
    md5(salt:id) mod-space value < rate.

    Stable across runs/partitionings/engines (no RNG in the plan) and
    composable: different salts give independent samples; the same salt
    always selects the same docs — the reproducibility property training
    pipelines need for ablations."""
    space = 16 ** nibbles
    threshold = int(rate * space)
    key = F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    return df.where(_md5_bucket(key, nibbles) < threshold)


def pack_sequences(
    df: DataFrame,
    token_budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    order_col: str = None,
    shard_col: str = None,
) -> DataFrame:
    """Assign docs to fixed-budget training sequences ("packs").

    Contiguous greedy fill in `order_col` order (default: id): a doc
    starts in pack k iff the tokens before it total in
    [k·budget, (k+1)·budget). Deterministic, windowed cumulative sum —
    the exact formulation streaming packers implement, and directly
    expressible in SQL for the oracle.

    At 100 TB pass ``shard_col``: the cumulative window runs PER SHARD
    (parallel tasks, pack ids local to the shard and globally unique as
    the (shard, pack_id) pair) — without it the window is a global
    total order, which is a deliberate single-task plan for small
    corpora only.
    """
    order = order_col or id_col
    toks = token_count(F.col(text_col))
    w = (
        Window.partitionBy(shard_col).orderBy(order)
        if shard_col
        else Window.orderBy(order)
    )
    cum_before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    head = [F.col(shard_col)] if shard_col else []
    return (
        df.select(*head, F.col(id_col), toks.alias("n_tokens"))
        .withColumn("cum_before", cum_before)
        .select(
            *head,
            id_col,
            "n_tokens",
            F.floor(F.col("cum_before") / token_budget).cast("long").alias("pack_id"),
            (F.col("cum_before") % token_budget).cast("long").alias("pack_offset"),
        )
    )
