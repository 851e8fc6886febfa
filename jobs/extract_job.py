#!/usr/bin/env python
"""spark-submit entry point for the extraction job (north-rule deployment
surface).

    python jobs/make_pyfiles.py dist/              # build the --py-files zip
    spark-submit --master <cluster> \
        --py-files dist/index_search_monorepo_spark.zip \
        jobs/extract_job.py \
        --corpus-dir /path/to/corpus --output-dir /path/to/out \
        --n-buckets 64 [--incremental] [--shuffle-partitions N]

Batch mode runs the checkpointed, resumable extraction
(plans/pipeline.run_extraction_job): salted repartition, OCR/METS/enrichment
assembly, per-partition manifest with lineage + span-count metrics, error
sink. Incremental mode tails a landing directory with Structured Streaming
(streaming/incremental.py). Prints one JSON line of run metrics.

The script takes the SparkSession from spark-submit (getOrCreate, no master
override), so the same file runs on local[N] and on a real cluster.
"""

from __future__ import annotations

import argparse
import json
import sys


def session_builder(shuffle_partitions: int | None = None):
    """The job's SparkSession builder: no master, so spark-submit's applies.
    It carries the confs the job depends on, including session.py's
    dataFrameDebugging=false, which must be set before the session exists."""
    from pyspark.sql import SparkSession

    from index_search_monorepo_spark.session import DATAFRAME_DEBUGGING

    builder = (
        SparkSession.builder.appName("index_search_monorepo_spark.extract")
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config(DATAFRAME_DEBUGGING, "false")
    )
    if shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    return builder


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--corpus-dir", required=True)
    p.add_argument("--output-dir", required=True)
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--incremental", action="store_true")
    p.add_argument("--max-files-per-trigger", type=int, default=8)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--publish-table",
        default=None,
        help="also publish the batch into this versioned snapshot table "
        "(create v1 / copy-on-write merge; operators/snapshots.py)",
    )
    p.add_argument("--publish-files", type=int, default=8)
    p.add_argument(
        "--compact-small-rows",
        type=int,
        default=None,
        help="after publishing, run OPTIMIZE-style compaction on the "
        "snapshot table: rewrite data files smaller than this row count "
        "(operators/snapshots.compact_table)",
    )
    args = p.parse_args(argv)

    spark = session_builder(args.shuffle_partitions).getOrCreate()

    if args.incremental:
        from index_search_monorepo_spark.streaming.incremental import (
            incremental_extraction,
        )

        incremental_extraction(
            spark,
            args.corpus_dir,
            args.output_dir,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        n = spark.read.parquet(f"{args.output_dir}/extracted").count()
        print(json.dumps({"mode": "incremental", "extracted_docs": n}))
    else:
        from index_search_monorepo_spark.plans.pipeline import run_extraction_job

        metrics = run_extraction_job(
            spark, args.corpus_dir, args.output_dir, n_buckets=args.n_buckets
        )
        if args.publish_table:
            from index_search_monorepo_spark.plans.pipeline import (
                publish_snapshot,
            )

            docs = spark.read.parquet(f"{args.output_dir}/data")
            m = publish_snapshot(
                spark, docs, args.publish_table, n_files=args.publish_files
            )
            metrics["snapshot_version"] = m["version"]
            if args.compact_small_rows:
                from index_search_monorepo_spark.operators.snapshots import (
                    compact_table,
                )

                m = compact_table(
                    spark,
                    args.publish_table,
                    small_rows=args.compact_small_rows,
                )
                metrics["snapshot_version"] = m["version"]
                metrics["snapshot_files"] = len(m["files"])
        print(json.dumps({"mode": "batch", **metrics}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
