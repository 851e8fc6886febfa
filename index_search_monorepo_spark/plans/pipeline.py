"""The end-to-end extraction job (SURVEY.md §3.1 Spark equivalent):

    read spans table
      → error-sink split (R2)
      → salted repartition (O13)
      → ocr / extracted_spans columns (A1/F1 + boilerplate classifier)
      → left-join doc_id-keyed dims (J1–J4) + catalog item metadata (J5/J6)
      → assemble §1.3 document struct
      → write parquet partitioned by bucket + checkpoint manifest (R5/O14)

The reference's four services (monitor → retriever → generator → indexer over
RabbitMQ) collapse into Catalyst stages of one job; the only shuffles are the
explicit salted repartition, the dim pre-aggregations (tiny), the
oversized-volume reassembly (skew fraction only) and, under a shuffle
doc_meta_join hint, the doc_id exchanges. Nothing is cached: the job is one
write over an uncached plan, its per-bucket counts observed in that write.
"""

from __future__ import annotations

import json
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

from index_search_monorepo_spark.functions.marc import extract_allfields
from index_search_monorepo_spark.operators.assemble import (
    assemble_full_text_documents,
)
from index_search_monorepo_spark.operators.catalog import catalog_item_metadata
from index_search_monorepo_spark.operators.checkpoint import (
    check_bucket_count,
    pending_only,
    run_checkpointed,
    with_bucket,
)
from index_search_monorepo_spark.operators.enrichment import with_mysql_fields
from index_search_monorepo_spark.operators.errors import split_errors
from index_search_monorepo_spark.operators.extraction import (
    with_extracted_spans,
    with_mets_fields,
    with_ocr_skew_aware,
)
from index_search_monorepo_spark.operators.skew import (
    salted_repartition,
    spread_small_scan,
)

# footer key under which Spark's parquet writer stores the row schema
_SPARK_ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: Path) -> StructType:
    """Spark's own schema inference for `path` (mergeSchema off), read on
    the driver from one footer: a Spark-written file's stored row schema,
    else its Arrow schema. A shard directory is read through its first
    data file, as Spark's inference does."""
    if path.is_dir():
        path = min(
            p for p in path.glob("*.parquet") if not p.name.startswith(("_", "."))
        )
    arrow = pq.read_schema(path)
    stored = (arrow.metadata or {}).get(_SPARK_ROW_SCHEMA)
    if stored:
        return StructType.fromJson(json.loads(stored))
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def load_corpus(spark: SparkSession, corpus_dir: str) -> dict[str, DataFrame]:
    """The corpus tables present under `corpus_dir`, one lazy DataFrame
    each. Schemas come from the parquet footers on the driver, so loading
    launches no Spark job (a bare `spark.read.parquet` runs a one-task
    footer-inference job per table)."""
    d = Path(corpus_dir)
    names = [
        "documents_spans", "documents_spans_bad", "mets_meta", "catalog",
        "rights_current", "holdings_htitem_htmember", "mb_coll_item",
        "mb_collection", "hf",
    ]
    return {
        n: spark.read.schema(_footer_schema(p)).parquet(str(p))
        for n in names
        if (p := d / f"{n}.parquet").exists()
    }


def extract_documents(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    page_threshold: int = 10_000,
    doc_meta_join: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    # doc_meta_join: join strategy hint ("shuffle_hash" | "merge" | None)
    # for all six DOC-CARDINALITY joins: catalog items, METS fields and the
    # four MySQL dims. They grow WITH the corpus — the reference catalog is
    # ~17M fat records, rights_current one row per volume — so at
    # production scale they must shuffle. None leaves catalog/METS to
    # Catalyst/AQE and broadcasts the MySQL dims: correct for a one-shot
    # job at bench scale, but each materialization pays a driver-side
    # broadcast build that grows with the corpus.
    # page_threshold: docs above it take the explode->distribute->reassemble
    # path (extraction.with_ocr_skew_aware). Measured ablation (BASELINE.md):
    # at 2 000 pages/doc the per-row work is ~10 ms, and in-place processing
    # beats the explode path 3x even at 10% skew — the explode path only
    # pays when ONE document's work approaches a whole task's budget
    # (pathological 10^5-page volumes), so the default is deliberately high.
    """Full §1.3 document assembly. Returns (documents, errors)."""
    spans = tables["documents_spans"]
    if "documents_spans_bad" in tables:
        spans = spans.unionByName(tables["documents_spans_bad"])
    clean, errors = split_errors(spans)
    clean = salted_repartition(clean, skip_if_scan_parallel=True)
    docs = with_ocr_skew_aware(clean, page_threshold=page_threshold)
    docs = docs.withColumn("span_count", F.size("spans")).drop("spans")
    docs = with_mysql_fields(
        docs,
        tables["rights_current"],
        tables["holdings_htitem_htmember"],
        tables["mb_coll_item"],
        tables["mb_collection"],
        dim_join=doc_meta_join,
    )
    # the catalog dim often lands as one parquet file -> one split; without
    # the spread the MARC-XML parse runs on ONE core at any cluster size (a
    # serial stage that caps N->4N scaling; measured ~30% of 32-core wall)
    # key=None: round-robin, deliberately NOT the hashed-key spread —
    # interleaved A/B (r6) read the hashed catalog spread ~10% slower for
    # the whole extraction job (4.34 vs 3.94 s best-of-6 at the 12k
    # corpus): the MARC parse cost per record is high-variance, so the
    # hash's small count imbalance costs more than round-robin's sort
    catalog = spread_small_scan(tables["catalog"], key=None).withColumn(
        "allfields", extract_allfields(F.col("fullrecord"))
    )
    items = catalog_item_metadata(catalog, extra_passthrough=("allfields",))
    mets = with_mets_fields(tables["mets_meta"])
    if doc_meta_join:
        items = items.hint(doc_meta_join)
        mets = mets.hint(doc_meta_join)
    assembled = assemble_full_text_documents(
        docs, items.drop("fullrecord"), mets, extra_cols=("span_count",)
    )
    return assembled, errors


def extract_span_sequences(
    spark: SparkSession, tables: dict[str, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """North-rule output mode: (doc_id, extracted_spans) — the per-document
    span sequence (kind, text, media_ref, offset) in canonical order."""
    spans = tables["documents_spans"]
    if "documents_spans_bad" in tables:
        spans = spans.unionByName(tables["documents_spans_bad"])
    clean, errors = split_errors(spans)
    out = with_extracted_spans(clean).select("doc_id", "extracted_spans")
    return out, errors


def run_extraction_job(
    spark: SparkSession,
    corpus_dir: str,
    output_dir: str,
    n_buckets: int = 64,
    input_snapshot_id: str | None = None,
) -> dict:
    """Checkpointed, resumable production entry point: one Spark write
    over an uncached plan (plus the error-sink write). `errors/` is
    overwritten, not appended: the error set is a function of the corpus,
    which a resume already assumes unchanged, so a re-run must not add a
    second copy of it."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    check_bucket_count(output_dir, n_buckets)
    tables = load_corpus(spark, corpus_dir)
    docs, errors = extract_documents(spark, tables)
    docs = with_bucket(docs, n_buckets, doc_id_col="id")
    docs = pending_only(docs, spark, output_dir)
    errors.write.mode("overwrite").parquet(str(Path(output_dir) / "errors"))
    snapshot = input_snapshot_id or f"corpus:{corpus_dir}"
    return run_checkpointed(docs, output_dir, snapshot, spark, n_buckets)


def publish_snapshot(
    spark: SparkSession,
    docs: DataFrame,
    table_dir: str,
    key_col: str = "id",
    n_files: int = 8,
    deleted_ids: DataFrame | None = None,
) -> dict:
    """Publish an extraction batch into the versioned corpus table
    (operators/snapshots.py — the Iceberg-semantics stand-in the north
    rule's input/output tables imply).

    First publish creates v1; every later publish is a file-granular
    copy-on-write MERGE: re-extracted documents replace their rows, new
    documents insert, withdrawn ids (`deleted_ids`, one-column frame)
    delete. Downstream consumers then either time-travel
    (`read_snapshot(version=)`) or ask for exactly what changed
    (`snapshot_diff_keys`) instead of re-reading the corpus — the merge
    and the diff are both O(changed files), which is what a daily
    re-extraction against a 10^12-doc table requires. Composes with
    `run_extraction_job`'s bucket checkpoints: checkpoints make a RUN
    resumable; the snapshot table makes its OUTPUT versioned.

    Reference flow: full_reprocess vs incremental retriever modes
    (document_retriever_service.py:24-60) — there, "what changed" is the
    tracktable; here it is durable table history.
    """
    from index_search_monorepo_spark.operators import snapshots as SNAP

    if SNAP.current_version(table_dir) is None:
        return SNAP.create_table(docs, table_dir, key_col=key_col, n_files=n_files)
    return SNAP.merge_upsert(
        spark, table_dir, docs, delete_keys=deleted_ids, n_files=n_files
    )
