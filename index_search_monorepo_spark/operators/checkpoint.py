"""R5/O14 — per-partition checkpoint manifest with lineage + span-count
metrics, replacing the reference's MySQL tracktable
(ht_indexer_tracktable.py:27-54) and status files
(ht_status_retriever_service.py:6-11).

Model: the corpus is bucketed by pmod(xxhash64(doc_id), n_buckets). One run
processes a set of pending buckets IN ONE SPARK JOB (never a driver loop over
buckets), writes output partitioned by bucket, then atomically appends one
manifest row per bucket that received documents:

    (bucket, n_buckets, input_snapshot_id, n_docs, span_count, status,
     processed_at, error)

The per-bucket counts ride the write itself as an Observation (fixed-width
arrays indexed by bucket), so the output is computed once and nothing is
cached.

Resume = a literal `NOT bucket IN (...)` filter over the buckets that the
manifest files, parsed on the driver, record as completed (J8/T1,
`set(list_ids) - set(processed_ids)`): no Spark job, no join. Idempotent
like the reference's INSERT IGNORE (O11): re-processing a completed bucket
overwrites its output directory partition.
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


def _manifest_rows(output_dir: str):
    for f in (Path(output_dir) / MANIFEST_DIR).glob("*.json"):
        yield from json.loads(f.read_text())


def completed_buckets(output_dir: str) -> list[int]:
    """Buckets that any manifest under `output_dir` records as completed."""
    return sorted(
        {r["bucket"] for r in _manifest_rows(output_dir) if r["status"] == "completed"}
    )


def check_bucket_count(output_dir: str, n_buckets: int) -> None:
    """Refuse to resume `output_dir` under a different bucket count: a bucket
    id names other documents under another modulus, so `pending_only` would
    rewrite completed documents into new buckets beside their old copies.
    Manifest rows written before the count was recorded are accepted."""
    recorded = {r["n_buckets"] for r in _manifest_rows(output_dir) if "n_buckets" in r}
    if recorded - {n_buckets}:
        raise ValueError(
            f"{output_dir} was written with n_buckets={sorted(recorded)}, "
            f"got {n_buckets}"
        )


def pending_only(
    df_bucketed: DataFrame, spark: SparkSession, output_dir: str
) -> DataFrame:
    """Resume (J8): drop rows whose bucket is already completed."""
    done = completed_buckets(output_dir)
    if not done:
        return df_bucketed
    return df_bucketed.filter(~F.col("bucket").isin(done))


def run_checkpointed(
    df_bucketed: DataFrame,
    output_dir: str,
    input_snapshot_id: str,
    spark: SparkSession,
    n_buckets: int,
) -> dict:
    """Write `df_bucketed` (must carry `bucket` in [0, n_buckets) and a
    per-row `span_count`) partitioned by bucket, then append the
    manifest atomically (tmp-file + rename). Returns run metrics.

    Per-bucket n_docs/span_count come from an Observation on the write: two
    arrays of n_buckets aggregates each, so their cost grows with
    n_buckets per row (200k rows into a noop sink on a 4-vCPU host,
    JIT-warm: +0.4 s at 64 buckets, +27 s at 1024). Against extraction's
    ~200 ms of task time per document that is noise at doc grain; it is
    the wrong tool for fine-grained rows. Each array is parsed from one SQL
    string, one driver-to-JVM call where per-bucket Column builders cost
    several calls per bucket."""
    out = Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    buckets = range(n_buckets)
    n_docs = ", ".join(f"count_if(bucket = {i})" for i in buckets)
    spans = ", ".join(f"sum(if(bucket = {i}, `span_count`, 0))" for i in buckets)
    obs = Observation("checkpoint")
    (
        df_bucketed.observe(
            obs,
            F.expr(f"array({n_docs})").alias("n_docs"),
            F.expr(f"array({spans})").alias("span_count"),
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
            "n_buckets": n_buckets,
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
