"""R5/O14 — per-partition checkpoint manifest with lineage + span-count
metrics, replacing the reference's MySQL tracktable
(ht_indexer_tracktable.py:27-54) and status files
(ht_status_retriever_service.py:6-11).

Model: the corpus is bucketed by pmod(xxhash64(doc_id), n_buckets). One run
processes a set of pending buckets IN ONE SPARK JOB (never a driver loop over
buckets), writes output partitioned by bucket, then atomically appends one
manifest row per bucket that received documents:

    (bucket, input_snapshot_id, n_docs, span_count, status,
     processed_at, error)

The per-bucket counts ride the write itself as an Observation (fixed-width
arrays indexed by bucket), so the output is computed once and nothing is
cached.

Resume = broadcast anti-join of input buckets against completed manifest rows
(J8/T1, `set(list_ids) - set(processed_ids)`). Idempotent like the
reference's INSERT IGNORE (O11): re-processing a completed bucket overwrites
its output directory partition.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_checkpoints"


def with_bucket(df: DataFrame, n_buckets: int, doc_id_col: str = "doc_id") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(doc_id_col)), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, output_dir: str) -> DataFrame | None:
    mdir = Path(output_dir) / MANIFEST_DIR
    if not mdir.exists():
        return None
    files = sorted(mdir.glob("*.json"))
    if not files:
        return None
    rows = []
    for f in files:
        rows.extend(json.loads(f.read_text()))
    if not rows:
        return None
    df = spark.createDataFrame(
        rows,
        schema=(
            "bucket INT, input_snapshot_id STRING, n_docs LONG, "
            "span_count LONG, status STRING, processed_at STRING, error STRING"
        ),
    )
    return df.filter(F.col("status") == "completed").select("bucket").distinct()


def pending_only(
    df_bucketed: DataFrame, spark: SparkSession, output_dir: str
) -> DataFrame:
    """Resume anti-join (J8): drop rows whose bucket is already completed."""
    done = completed_buckets(spark, output_dir)
    if done is None:
        return df_bucketed
    return df_bucketed.join(F.broadcast(done), "bucket", "left_anti")


def run_checkpointed(
    df_bucketed: DataFrame,
    output_dir: str,
    input_snapshot_id: str,
    spark: SparkSession,
    n_buckets: int,
    span_count_col: str = "span_count",
) -> dict:
    """Write `df_bucketed` (must carry `bucket` in [0, n_buckets) and a
    per-row span-count column) partitioned by bucket, then append the
    manifest atomically (tmp-file + rename). Returns run metrics.

    Per-bucket n_docs/span_count come from an Observation on the write: two
    arrays of n_buckets aggregates each, so their cost grows with
    n_buckets per row (200k rows into a noop sink on a 4-vCPU host,
    JIT-warm: +0.4 s at 64 buckets, +27 s at 1024). Against extraction's
    ~200 ms of task time per document that is noise at doc grain; it is
    the wrong tool for fine-grained rows."""
    out = Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    bucket = F.col("bucket")
    obs = Observation("checkpoint")
    (
        df_bucketed.observe(
            obs,
            F.array(*[F.count_if(bucket == i) for i in range(n_buckets)]).alias(
                "n_docs"
            ),
            F.array(
                *[
                    F.sum(F.when(bucket == i, F.col(span_count_col)).otherwise(0))
                    for i in range(n_buckets)
                ]
            ).alias("span_count"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(str(out / "data"))
    )
    stats = obs.get
    now = time.strftime("%Y-%m-%d %H:%M:%S")
    manifest_rows = [
        {
            "bucket": b,
            "input_snapshot_id": input_snapshot_id,
            "n_docs": n,
            "span_count": spans,
            "status": "completed",
            "processed_at": now,
            "error": None,
        }
        for b, (n, spans) in enumerate(zip(stats["n_docs"], stats["span_count"]))
        if n > 0
    ]
    mdir = out / MANIFEST_DIR
    mdir.mkdir(exist_ok=True)
    tmp = mdir / f".tmp-{uuid.uuid4().hex}"
    final = mdir / f"manifest-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}.json"
    tmp.write_text(json.dumps(manifest_rows))
    os.replace(tmp, final)
    return {
        "buckets": len(manifest_rows),
        "n_docs": sum(r["n_docs"] for r in manifest_rows),
        "span_count": sum(r["span_count"] for r in manifest_rows),
        "manifest": str(final),
    }
