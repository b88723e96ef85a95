"""End-to-end KG-construction pipeline: extract → link → canonicalize →
materialize (the north_rule dataflow), resumable per stage.

Each stage writes its output + a lineage/metrics table via
operators.materialize and SKIPS itself on restart when its `_SUCCESS`
marker exists — a killed job resumes at its incomplete stages.
Row counts come from a `DataFrame.observe` on each stage's own write
job; only a stage skipped on resume is counted from its output.

The stages form a small dependency graph, and the independent ones
overlap on a thread pool: each stage spends much of its time planning
queries before their jobs run, so a lone stage leaves the executors
idle in between its jobs. `media_meta` needs only the documents and starts at once;
`errors` and `linked` start when the `triples` write has returned (the
errors write reads the cached extract, which that write fills; before
it, the parse UDF would run twice); `canonical` runs on the calling
thread. The pool has one thread per side stage — a property of the
graph, not a setting, so there is no knob. Side stages inherit the
caller's job group, description and scheduler pool
(`inheritable_thread_target`), so `cancelJobGroup` stops a whole run.
A failed stage raises from `run_pipeline` once the others have ended,
and a rerun resumes it.

Run via spark-submit (scripts/run_pipeline.py packages this module with
--py-files).

Stage layout under `out_dir`:

    triples/            extracted quads, parquet, s_bucket=K partitions
    triples_metrics/    per-s_bucket (doc_count, triple_count, checksum)
    errors/             quarantined documents
    linked/             triples + entity column from the alias dictionary
    canonical/          owl:sameAs-collapsed, deduplicated graph
    canonical_metrics/
    media_meta/         metadata of the interleaved media spans
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.canonicalize import canonicalize_triples
from .operators.extract import extract_triples, split_extract
from .operators.linking import link_exact
from .operators.materialize import (
    read_stage,
    stage_complete,
    write_stage,
)


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    out_dir: str,
    dictionary: Optional[DataFrame] = None,
    n_buckets: int = 64,
    strict: bool = False,
    checkpoint_dir: Optional[str] = None,
) -> dict:
    """Run all stages idempotently; returns per-stage row counts
    (`linked` counts rows with a non-null `entity`).

    `documents` is the interleaved-span table (BASELINE.json input_hint);
    `dictionary(alias, entity)` drives the broadcast linking pass (skipped
    when None)."""
    observed: dict = {}  # stage → Observation on its write job

    def rows(stage: str):
        return F.count("entity" if stage == "linked" else F.lit(1)).alias("rows")

    def watch(df: DataFrame, stage: str) -> DataFrame:
        observed[stage] = Observation()
        return df.observe(observed[stage], rows(stage))

    def count(stage: str) -> int:
        if stage in observed:
            return observed[stage].get["rows"]
        # skipped on resume: count the output
        return spark.read.parquet(os.path.join(out_dir, stage)).agg(rows(stage)).first()[0]

    def write(df: DataFrame, stage: str) -> None:
        watch(df, stage).write.mode("overwrite").parquet(os.path.join(out_dir, stage))

    def media() -> None:
        # media spans are pass-through for the parsers; here they feed the
        # multimodal path: ref extraction → (stubbed) decode → metadata
        from .operators.multimodal import decode_images, media_from_documents

        write(decode_images(media_from_documents(documents)).drop("features"), "media_meta")

    def link(triples: DataFrame) -> None:
        # literal objects are the mention surface forms; matches gain an
        # `entity` IRI column (null for unlinked mentions)
        linked = link_exact(
            triples.where(F.col("o_kind") == "literal"),
            dictionary,
            mention_col="o",
        ).select("doc_id", "s", "p", "o", "entity", "link_score")
        write_stage(watch(linked, "linked"), out_dir, "linked", n_buckets=n_buckets)

    pool = ThreadPoolExecutor(max_workers=3)  # one per side stage: media, errors, linked
    side = []
    extracted = None

    def start(stage: str, fn, *args) -> None:
        if not stage_complete(out_dir, stage):
            side.append(pool.submit(inheritable_thread_target(spark)(fn), *args))

    try:
        start("media_meta", media)
        # extract: documents → triples + errors quarantine
        if not (stage_complete(out_dir, "triples") and stage_complete(out_dir, "errors")):
            extracted = extract_triples(documents, strict=strict).persist()
            triples, errors = split_extract(extracted)
            if not stage_complete(out_dir, "triples"):
                write_stage(watch(triples, "triples"), out_dir, "triples", n_buckets=n_buckets)
            start("errors", write, errors, "errors")
        triples = read_stage(spark, out_dir, "triples")
        if dictionary is not None:
            start("linked", link, triples)
        # canonicalize: owl:sameAs connected components
        if not stage_complete(out_dir, "canonical"):
            canon = canonicalize_triples(triples, checkpoint_dir=checkpoint_dir)
            write_stage(watch(canon, "canonical"), out_dir, "canonical", n_buckets=n_buckets)
        for f in side:
            f.result()
    finally:
        pool.shutdown()  # a failed stage still waits for the others
        if extracted is not None:
            extracted.unpersist()

    linked = ("linked",) if dictionary is not None else ()
    stats = {stage: count(stage) for stage in ("triples", "errors", *linked, "canonical")}
    stats["media"] = count("media_meta")
    return stats
