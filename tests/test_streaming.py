"""Structured Streaming extract: file source → parse → parquet sinks,
drained with availableNow; results must equal the batch path."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mentor_rdf_parsers_spark.operators.extract import extract_triples, split_extract
from mentor_rdf_parsers_spark.schemas import DOCUMENTS
from mentor_rdf_parsers_spark.streaming.extract_stream import start_extract_stream


def test_stream_extract_matches_batch(spark, tmp_path, rdf_docs):
    in_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "stream_out")
    # the rendered corpus plus two unparseable documents for the error sink
    bad = spark.createDataFrame(
        [(f"bad/{i}", [("text", "<http://ex/s> <http://ex/p> .", None, 0)],
          "ntriples", "negative") for i in range(2)],
        DOCUMENTS,
    )
    docs = rdf_docs.unionByName(bad).persist()
    docs.write.parquet(in_dir)

    q = start_extract_stream(spark, in_dir, out_dir, available_now=True)
    q.awaitTermination(300)

    streamed = spark.read.parquet(os.path.join(out_dir, "triples"))
    batch_triples, batch_errors = split_extract(extract_triples(docs))
    assert streamed.count() == batch_triples.count() > 0
    # value-level equality, not just counts
    diff = streamed.select("doc_id", "s", "p", "o").exceptAll(
        batch_triples.select("doc_id", "s", "p", "o")
    )
    assert diff.count() == 0
    errs = spark.read.parquet(os.path.join(out_dir, "errors"))
    assert errs.count() == batch_errors.count() > 0

    # restart with no new files: checkpoint prevents reprocessing
    q2 = start_extract_stream(spark, in_dir, out_dir, available_now=True)
    q2.awaitTermination(300)
    assert spark.read.parquet(os.path.join(out_dir, "triples")).count() == \
        batch_triples.count()
    docs.unpersist()


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: closed sessions from the
    stream must equal the batch answer minus each user's final
    (still-open) session."""
    from pyspark.sql.window import Window
    from mentor_rdf_parsers_spark.streaming.sessionize import sessionize_stream

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where(F.col("user_id") < 20)
        .select("user_id", "ts")
    )
    in_dir = str(tmp_path / "events_in")
    ev.write.parquet(in_dir)

    stream = spark.readStream.schema(ev.schema).parquet(in_dir)
    out_dir = str(tmp_path / "sessions_out")
    q = (
        sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }

    # batch reference: window-lag sessionization
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "sid",
            F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
        )
    )
    # a session is emitted when (a) a later event opened the next session
    # (gap-close) or (b) the final watermark (max ts − 10 min) passed its
    # event-time timeout (end + gap) during the availableNow drain
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    last_sid = sess.groupBy("user_id").agg(F.max("sid").alias("sid"))
    gap_closed = sess.join(last_sid, ["user_id", "sid"], "left_anti")
    timeout_closed = sess.join(last_sid, ["user_id", "sid"]).where(
        (F.unix_timestamp(F.lit(max_ts)) - 600)
        > (F.unix_timestamp("session_end") + 1800)
    )
    closed = gap_closed.unionByName(timeout_closed)
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in closed.collect()
    }
    assert got == want and len(want) > 0


def test_streaming_triple_rates_windowed(spark, tmp_path):
    """Watermarked tumbling-window doc rates over a timestamped stream."""
    import datetime

    from mentor_rdf_parsers_spark.streaming.extract_stream import (
        streaming_triple_rates,
    )

    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (f"d{i}",
         [("text", "<urn:a> <urn:b> <urn:c> .\n", None, 0)],
         "ntriples", None,
         base + datetime.timedelta(minutes=i % 3))
        for i in range(12)
    ]
    from pyspark.sql.types import StructField, StructType, TimestampType
    from mentor_rdf_parsers_spark.schemas import DOCUMENTS
    schema = StructType(
        list(DOCUMENTS.fields) + [StructField("ingest_ts", TimestampType())]
    )
    in_dir = str(tmp_path / "ts_docs")
    spark.createDataFrame(rows, schema).write.parquet(in_dir)

    agg = streaming_triple_rates(spark, in_dir, window="1 minute")
    q = (
        agg.writeStream.format("memory").queryName("rates")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = spark.sql("select * from rates").collect()
    # 3 one-minute windows x one syntax, 4 docs each
    assert len(got) == 3
    assert all(r["n_docs"] == 4 and r["syntax"] == "ntriples" for r in got)


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark digest dedup: one output row per
    distinct normalized text; digest set equals the batch dedup_exact."""
    from mentor_rdf_parsers_spark.operators.dedup import dedup_exact
    from mentor_rdf_parsers_spark.streaming.dedup_stream import dedup_stream

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(40)
        .select("doc_id", "text")
        .withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")))
    )
    # inject exact duplicates (same text, later ids/ts)
    dups = docs.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text",
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("ts"),
    )
    all_docs = docs.unionByName(dups)
    in_dir = str(tmp_path / "docs_in")
    all_docs.write.parquet(in_dir)

    stream = spark.readStream.schema(all_docs.schema).parquet(in_dir)
    out = dedup_stream(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)

    got = spark.sql("SELECT * FROM dedup_out")
    batch = dedup_exact(all_docs)
    assert got.count() == batch.count() == 40
    assert {r["digest"] for r in got.collect()} == \
        {r["digest"] for r in batch.collect()}


def test_streaming_dedup_drops_null_text(spark, tmp_path):
    """Null-text docs are filtered before digesting — they neither
    collapse into one NULL-digest row nor appear in the output."""
    from mentor_rdf_parsers_spark.streaming.dedup_stream import dedup_stream

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, None), (4, "beta")],
        "doc_id long, text string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")))
    in_dir = str(tmp_path / "docs_in")
    docs.write.parquet(in_dir)

    stream = spark.readStream.schema(docs.schema).parquet(in_dir)
    q = (
        dedup_stream(stream, watermark="1 hour")
        .writeStream.format("memory").queryName("dedup_null_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)

    rows = spark.sql("SELECT * FROM dedup_null_out").collect()
    assert sorted(r["id"] for r in rows) == [1, 4]
    assert all(r["digest"] is not None for r in rows)
