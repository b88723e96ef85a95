#!/usr/bin/env python3
"""spark-submit entry point for the KG-construction pipeline.

Usage (north_rule packaging):

    cd /root/repo && python scripts/make_pyfiles.py   # builds dist/engine.zip
    spark-submit --py-files dist/engine.zip scripts/run_pipeline.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/kg_out \
        [--cpus 32] [--buckets 64]

Runs extract → link → canonicalize → materialize over the interleaved
documents rendered from the sf dir, resumable: re-running with the same
--out skips completed stages. Prints one JSON stats line."""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=None,
                    help="only used when no master is configured (local run)")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--checkpoint-dir", default=None)
    args = ap.parse_args()

    builder = SparkSession.builder.appName("kg-construct-pipeline")
    if args.cpus:
        builder = builder.master(f"local[{args.cpus}]").config(
            "spark.sql.shuffle.partitions", str(max(args.cpus, 8))
        )
    spark = builder.config("spark.sql.adaptive.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from mentor_rdf_parsers_spark.pipeline import run_pipeline
    from mentor_rdf_parsers_spark.sources.testdata import (
        SOURCE_NS,
        documents_as_rdf_docs,
        load_table,
    )

    docs = documents_as_rdf_docs(spark, args.sf_dir)
    dictionary = (
        load_table(spark, args.sf_dir, "documents")
        .select("source").distinct()
        .select(
            F.col("source").alias("alias"),
            F.concat(F.lit(SOURCE_NS), F.col("source")).alias("entity"),
        )
    )
    import time

    t0 = time.time()
    stats = run_pipeline(
        spark, docs, args.out, dictionary=dictionary,
        n_buckets=args.buckets, checkpoint_dir=args.checkpoint_dir,
    )
    stats["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
