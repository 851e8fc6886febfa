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

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from index_search_monorepo_spark.functions.marc import extract_allfields
from index_search_monorepo_spark.operators.assemble import (
    assemble_full_text_documents,
)
from index_search_monorepo_spark.operators.catalog import catalog_item_metadata
from index_search_monorepo_spark.operators.checkpoint import (
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


def load_corpus(spark: SparkSession, corpus_dir: str) -> dict[str, DataFrame]:
    d = Path(corpus_dir)
    names = [
        "documents_spans", "documents_spans_bad", "mets_meta", "catalog",
        "rights_current", "holdings_htitem_htmember", "mb_coll_item",
        "mb_collection", "hf",
    ]
    return {n: spark.read.parquet(str(d / f"{n}.parquet")) for n in names if (d / f"{n}.parquet").exists()}


def extract_documents(
    spark: SparkSession,
    tables: dict[str, DataFrame],
    include_poison: bool = True,
    page_threshold: int = 10_000,
    repartition: bool = True,
    doc_meta_join: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    # doc_meta_join: join strategy hint ("shuffle_hash" | "merge" | None)
    # for all six DOC-CARDINALITY joins: catalog items, METS fields and the
    # four MySQL dims. They grow WITH the corpus — the reference catalog is
    # ~17M fat records, rights_current one row per volume — so at
    # production scale they must shuffle (or be bucket-co-located at write
    # time). None leaves catalog/METS to Catalyst/AQE and broadcasts the
    # MySQL dims: correct for a one-shot job at bench scale, but each
    # materialization pays a driver-side broadcast build that grows with
    # the corpus. For repeated-enrichment deployments, write both sides
    # bucketed on doc_id instead (operators/bucketing.py) — the join then
    # needs no Exchange at all (test_bucketing.py).
    # page_threshold: docs above it take the explode->distribute->reassemble
    # path (extraction.with_ocr_skew_aware). Measured ablation (BASELINE.md):
    # at 2 000 pages/doc the per-row work is ~10 ms, and in-place processing
    # beats the explode path 3x even at 10% skew — the explode path only
    # pays when ONE document's work approaches a whole task's budget
    # (pathological 10^5-page volumes), so the default is deliberately high.
    """Full §1.3 document assembly. Returns (documents, errors)."""
    spans = tables["documents_spans"]
    if include_poison and "documents_spans_bad" in tables:
        spans = spans.unionByName(tables["documents_spans_bad"])
    clean, errors = split_errors(spans)
    if repartition:
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
    over an uncached plan (plus the error-sink append)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    tables = load_corpus(spark, corpus_dir)
    docs, errors = extract_documents(spark, tables)
    docs = with_bucket(docs, n_buckets, doc_id_col="id")
    docs = pending_only(docs, spark, output_dir)
    errors.write.mode("append").parquet(str(Path(output_dir) / "errors"))
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


def publish_snapshot_audited(
    spark: SparkSession,
    docs: DataFrame,
    table_dir: str,
    checks: list[dict],
    key_col: str = "id",
    n_files: int = 8,
    deleted_ids: DataFrame | None = None,
    allow_failed: bool = False,
) -> dict:
    """Write-Audit-Publish: run declarative data-quality expectations
    (operators/expectations.py) over the batch BEFORE it becomes a
    readable snapshot version — the Iceberg WAP pattern composed from
    this repo's own pieces.

    The audit is one aggregation pass at rule grain (bounded collect:
    #rules rows). Every outcome is recorded: the JSON report lands in
    `<table_dir>/audits/` whether or not the publish proceeds. Record-
    grain failures stay rows (errors-envelope convention upstream); a
    failed CORPUS-level contract is the one place refusal is correct —
    a batch violating its declared contract must not become a version
    downstream consumers can read. The refusal is a returned status
    (`published: False`, no exception): callers decide whether to alert,
    retry, or re-publish with `allow_failed=True` (which publishes AND
    keeps the failed audit on record — the override is auditable).

    Scale: the audit pass is map-side partial aggregation over the batch
    (not the table); publish stays O(changed files) via merge_upsert.
    """
    import json
    from index_search_monorepo_spark.operators import expectations as EXP
    from index_search_monorepo_spark.operators import snapshots as SNAP

    report_rows = EXP.check_constraints(docs, checks).collect()
    rules = [r.asDict() for r in report_rows]
    failed = sorted(r["rule_id"] for r in rules if r["ok"] == 0)
    audit = {"rules": rules, "failed": failed, "overridden": bool(failed)}
    audit_dir = Path(table_dir) / "audits"
    audit_dir.mkdir(parents=True, exist_ok=True)

    def _record(name: str) -> str:
        p = audit_dir / name
        tmp = p.with_suffix(".tmp")
        tmp.write_text(json.dumps(audit, indent=1, sort_keys=True))
        tmp.rename(p)
        return str(p)

    if failed and not allow_failed:
        prev = SNAP.current_version(table_dir)
        n = len(list(audit_dir.glob("refused-*.json")))
        path = _record(f"refused-{n + 1:04d}.json")
        return {
            "published": False,
            "version": prev,
            "failed": failed,
            "audit_path": path,
        }
    audit["overridden"] = bool(failed)
    result = publish_snapshot(
        spark, docs, table_dir, key_col=key_col, n_files=n_files,
        deleted_ids=deleted_ids,
    )
    version = result.get("version", SNAP.current_version(table_dir))
    path = _record(f"v{version:06d}.json")
    return {
        "published": True,
        "version": version,
        "failed": failed,
        "audit_path": path,
        **{k: v for k, v in result.items() if k not in ("version", "files")},
    }
