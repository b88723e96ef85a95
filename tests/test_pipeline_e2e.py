"""End-to-end pipeline: extract → link → canonicalize → materialize with
stage resume, lineage metrics, error quarantine, counts taken from the
write jobs, side stages overlapping on pool threads under the caller's
job group, and the interleaved media spans of the input
(BASELINE.json input_hint)."""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from mentor_rdf_parsers_spark.operators.materialize import read_metrics, stage_complete
from mentor_rdf_parsers_spark.pipeline import run_pipeline
from mentor_rdf_parsers_spark.schemas import DOCUMENTS
from mentor_rdf_parsers_spark.sources.testdata import (
    SOURCE_NS,
    documents_as_rdf_docs,
    load_table,
)

SF = "/root/testdata/sf0.001"
# what a fresh run over SF with _dictionary returns
STATS = {"triples": 2000, "errors": 0, "linked": 500, "canonical": 2000, "media": 167}
STAGES = ("triples", "errors", "linked", "canonical", "media_meta")


def _dictionary(spark):
    return (
        load_table(spark, SF, "documents")
        .select("source").distinct()
        .select(
            F.col("source").alias("alias"),
            F.concat(F.lit(SOURCE_NS), F.col("source")).alias("entity"),
        )
    )


def test_pipeline_stages_and_resume(spark, tmp_path):
    out = str(tmp_path / "kg")
    docs = documents_as_rdf_docs(spark, SF)
    stats = run_pipeline(spark, docs, out, dictionary=_dictionary(spark))
    assert stats["triples"] == 2000          # 4 preds × 500 docs
    assert stats["errors"] == 0
    assert stats["linked"] == 500            # one source literal per doc
    assert stats["canonical"] == stats["triples"]  # no sameAs edges → no collapse
    assert stats["media"] == 167  # every 3rd doc carries a media span

    # lineage metrics: totals reconcile with the stage row count, one
    # row per s_bucket
    m = read_metrics(spark, out, "triples")
    assert m.agg(F.sum("triple_count")).collect()[0][0] == 2000
    assert sorted(r["partition_id"] for r in m.collect()) == list(range(64))

    # resume: stage dirs untouched on second run (same _SUCCESS mtimes)
    marker = os.path.join(out, "triples", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    stats2 = run_pipeline(spark, docs, out, dictionary=_dictionary(spark))
    assert stats2["triples"] == 2000
    assert os.path.getmtime(marker) == mtime
    # a resumed run counts the skipped stages from their output
    assert stats2 == stats


def test_pipeline_quarantines_bad_docs(spark, tmp_path):
    out = str(tmp_path / "kg_bad")
    rows = [
        ("good", [("text", "<urn:a> <urn:b> <urn:c> .\n", None, 0)], "ntriples", None),
        ("bad", [("text", "this is not rdf at all ~~~\n", None, 0)], "ntriples", None),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS)
    stats = run_pipeline(spark, docs, out)
    assert stats["triples"] == 1
    assert stats["errors"] >= 1


def test_span_sequence_invariant(spark):
    docs = documents_as_rdf_docs(spark, SF)
    # media spans present and interleaved on every 3rd doc
    with_media = docs.where(
        F.exists("spans", lambda s: s["kind"] == "media")
    ).count()
    assert with_media == docs.count() // 3 + (1 if docs.count() % 3 else 0)


def _wait_for_listener(spark) -> int:
    """Return once the status tracker has seen every job started so far:
    it learns of jobs through the listener bus, which is FIFO, so the
    start of a fresh probe job arrives after theirs. Returns the probe's
    job id and leaves the thread's job group as it was."""
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    probe = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(probe, "listener probe")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", group)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(probe):
        assert time.monotonic() < deadline
        time.sleep(0.05)
    return max(sc.statusTracker().getJobIdsForGroup(probe))


def test_pipeline_reads_nothing_back(spark, tmp_path, monkeypatch):
    """A fresh run takes every stage count from the write jobs: no job
    starts after the last write returns (stages overlap, so that may be
    any stage's). Resuming with one stage removed recomputes it and
    still reports the fresh run's stats."""
    out = str(tmp_path / "kg")
    docs = documents_as_rdf_docs(spark, SF)
    dictionary = _dictionary(spark)
    sc = spark.sparkContext
    during = f"run-{uuid.uuid4().hex}"
    parquet = DataFrameWriter.parquet
    outputs = {*STAGES, "triples_metrics", "linked_metrics", "canonical_metrics"}
    written: set = set()
    lock = threading.Lock()
    until_last: set = set()  # the run's jobs when its last write returned

    def spy(self, path, *args, **kwargs):
        parquet(self, path, *args, **kwargs)
        with lock:
            written.add(os.path.basename(path))
            last = written == outputs
        if last:
            _wait_for_listener(spark)
            until_last.update(sc.statusTracker().getJobIdsForGroup(during))

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    sc.setJobGroup(during, "fresh pipeline run")
    try:
        stats = run_pipeline(spark, docs, out, dictionary=dictionary)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _wait_for_listener(spark)
    assert written == outputs and until_last
    assert set(sc.statusTracker().getJobIdsForGroup(during)) == until_last
    assert stats == STATS

    shutil.rmtree(os.path.join(out, "canonical"))
    assert run_pipeline(spark, docs, out, dictionary=dictionary) == stats


def test_every_job_carries_the_callers_group(spark, tmp_path):
    """Side stages run on pool threads, yet every job of the run is in
    the job group the caller set, so cancelling that group stops it."""
    docs = documents_as_rdf_docs(spark, SF)
    dictionary = _dictionary(spark)
    sc = spark.sparkContext
    group = f"run-{uuid.uuid4().hex}"
    first = _wait_for_listener(spark)
    sc.setJobGroup(group, "fresh pipeline run")
    try:
        run_pipeline(spark, docs, str(tmp_path / "kg"), dictionary=dictionary)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last = _wait_for_listener(spark)
    ran = set(sc.statusTracker().getJobIdsForGroup(group))
    assert ran and ran == set(range(first + 1, last))


def test_failed_side_stage_raises_and_resumes(spark, tmp_path):
    """A side stage that fails (a dictionary without an `entity` column)
    raises from run_pipeline after the other stages finished; a rerun
    resumes it — and the errors stage, extracted again on its own — and
    returns the fresh run's stats."""
    out = str(tmp_path / "kg")
    docs = documents_as_rdf_docs(spark, SF)
    broken = _dictionary(spark).withColumnRenamed("entity", "iri")
    with pytest.raises(AnalysisException, match="entity"):
        run_pipeline(spark, docs, out, dictionary=broken)
    assert {s: stage_complete(out, s) for s in STAGES} == {
        s: s != "linked" for s in STAGES}

    shutil.rmtree(os.path.join(out, "errors"))
    marker = os.path.join(out, "triples", "_SUCCESS")
    mtime = os.path.getmtime(marker)
    assert run_pipeline(spark, docs, out, dictionary=_dictionary(spark)) == STATS
    assert os.path.getmtime(marker) == mtime
