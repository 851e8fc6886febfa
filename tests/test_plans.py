"""Physical-plan property tests: the plan shapes the 100 TB design relies on
must not regress (pushdown, broadcast enrichment, vectorized-only Python).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.enrichment import with_mysql_fields
from index_search_monorepo_spark.operators.extraction import (
    with_ocr,
    with_ocr_skew_aware,
)
from index_search_monorepo_spark.plans.pipeline import extract_documents


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, tables):
    # a persisted relation from another test would shadow the FileScan
    spark.catalog.clearCache()
    df = tables["documents_spans"].filter(F.col("doc_id") == "zzz")
    plan = _plan(df)
    assert "FileScan parquet" in plan
    # the predicate must appear as a scan-level data filter, not only a
    # post-scan Filter node
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "doc_id" in scan_line and "zzz" in scan_line


def test_ocr_paths_are_python_free(spark, tables):
    """A1 (flagship) runs entirely JVM-side: no Python eval of any kind in
    either the per-row or the skew-aware plan."""
    for df in (
        with_ocr(tables["documents_spans"]),
        with_ocr_skew_aware(tables["documents_spans"], page_threshold=10),
    ):
        plan = _plan(df.select("doc_id", "ocr"))
        assert "EvalPython" not in plan and "PythonUDF" not in plan


def test_enrichment_joins_broadcast(spark, tables):
    docs = tables["documents_spans"].select(
        "doc_id", F.size("spans").alias("span_count")
    )
    out = with_mysql_fields(
        docs,
        tables["rights_current"],
        tables["holdings_htitem_htmember"],
        tables["mb_coll_item"],
        tables["mb_collection"],
    )
    plan = _plan(out)
    # all four dim enrichments must be broadcast-hash, never shuffle the
    # fact side on a dim key
    assert plan.count("BroadcastHashJoin") >= 4
    assert "EvalPython" not in plan


def test_pipeline_python_is_arrow_only(spark, tables):
    """The only Python in the full assembly is the Arrow-vectorized
    allfields UDF — no row-at-a-time BatchEvalPython anywhere."""
    docs, _errors = extract_documents(spark, tables, page_threshold=20)
    plan = _plan(docs)
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") >= 1


def test_span_sequence_classifier_runs_once(spark, tables):
    """Exploding the UDF-derived extracted_spans must NOT duplicate the
    classifier into an inferred Generate pre-filter: exactly one
    ArrowEvalPython stage (explode_noinline guard; a plain explode yields
    two, i.e. the Arrow UDF runs twice per row). The stage is the scalar
    arrow_udf over pyarrow arrays, not a pandas UDF."""
    from pyspark.util import PythonEvalType

    from index_search_monorepo_spark.operators.extraction import (
        _clean_html_batch,
        explode_noinline,
        with_extracted_spans,
    )

    assert _clean_html_batch.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF
    out = with_extracted_spans(tables["documents_spans"]).select(
        "doc_id", explode_noinline("extracted_spans").alias("s")
    )
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "_clean_html_batch" in plan, plan

    plain = with_extracted_spans(tables["documents_spans"]).select(
        "doc_id", F.explode("extracted_spans").alias("s")
    )
    # same row multiset either way (the guard is a no-op on the data)
    assert (
        out.select("doc_id", "s").exceptAll(plain.select("doc_id", "s")).count()
        == 0
    )


def test_kbart_dims_bounded_before_broadcast(spark, tables):
    """VERDICT r01 #7: the catalog-metadata and hf-dates dims must be
    semi-joined down to the requested ids BEFORE they broadcast (an
    unbounded broadcast of the full catalog is a driver OOM at reference
    scale), and the enrichment joins stay broadcast-hash."""
    from index_search_monorepo_spark.operators.kbart import generate_kbart

    holdings = spark.createDataFrame(
        [("000000007",), ("42",)], "catalog_id string"
    )
    catalog_meta = spark.range(1000).select(
        F.array(F.col("id").cast("string")).alias("id"),
        F.array(F.concat(F.lit("t"), F.col("id"))).alias("title_display"),
        F.array(F.lit("i")).alias("isbn"),
        F.array(F.lit("s")).alias("issn"),
        F.array(F.lit("a")).alias("mainauthor"),
        F.array(F.lit("p")).alias("publisher"),
        F.array(F.lit("o")).alias("oclc"),
    )
    hf = spark.range(1000).select(
        F.col("id").cast("string").alias("bib_num"),
        F.lit("SE").alias("bib_fmt"),
        F.lit("1999").alias("rights_date_used"),
    )
    rows, _errors = generate_kbart(holdings, catalog_meta, hf)
    plan = _plan(rows)
    # two bounding semi-joins + two broadcast enrichments; the fact (ids)
    # side never sort-merge-joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    got = {r["title_id"]: r["publication_title"] for r in rows.collect()}
    assert got == {"7": "t7", "42": "t42"}


def test_column_pruning_span_count(spark, tables):
    """Selecting only doc_id prunes the fat spans column from the scan."""
    spark.catalog.clearCache()
    df = tables["documents_spans"].select("doc_id")
    scan_line = next(
        ln for ln in _plan(df).splitlines() if "FileScan parquet" in ln
    )
    assert "ReadSchema" in scan_line or "doc_id" in scan_line
    assert "spans" not in scan_line.split("ReadSchema")[-1]


def test_marc_json_parse_runs_once(spark):
    """Filtering on the parsed record struct must NOT duplicate the parse
    UDF below the Project (PushDownPredicates would substitute the alias
    into the pushed filter -> two ArrowEvalPython stages parsing every
    line twice; the udf is asNondeterministic to pin one evaluation)."""
    from index_search_monorepo_spark.sources.marc_json import (
        marc_json_record_udf,
    )

    df = spark.createDataFrame(
        [('{"leader":"L1","fields":[{"008":"x"}]}',), ("{broken",)],
        ["value"],
    )
    out = (
        df.withColumn("_rec", marc_json_record_udf()(F.col("value")))
        .filter(F.col("_rec.leader").isNotNull())
        .select(F.col("_rec.leader").alias("leader"))
    )
    plan = _plan(out)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert [r["leader"] for r in out.collect()] == ["L1"]


def test_doc_meta_join_hint_drops_driver_broadcast_build(spark, tables):
    """The bench (and any repeated-run deployment) runs ALL
    DOC-CARDINALITY metadata joins (catalog items, METS fields, and — r6
    — the four per-volume MySQL dims) as shuffle-hash: at reference
    scale (~17M catalog records, ~17M rights rows) none of them can
    broadcast, and at bench scale every AQE-picked broadcast spends a
    driver-side hash-relation build per materialization — a serial cost
    that GROWS with the corpus (r5 sf1 serial fit s = 23.2 s at 120k
    docs). The hint must produce ShuffledHashJoins for all six
    doc-cardinality joins, sharing one fact-side doc_id exchange, with
    zero doc-cardinality BroadcastHashJoins left in the plan."""
    auto_docs, _ = extract_documents(spark, tables, persist_dims=False)
    hinted_docs, _ = extract_documents(
        spark, tables, persist_dims=False, doc_meta_join="shuffle_hash"
    )
    hinted = _plan(hinted_docs)
    # items + mets + rights + heldby + brlm + colls
    assert hinted.count("ShuffledHashJoin") >= 6, hinted
    # the fact side exchanges ONCE on doc_id/id; every further
    # doc-cardinality join reuses that partitioning (dim sides each
    # exchange their own slim rows)
    # and the hint changes strategy only, not results — this also pins
    # the rights-dim doc_id rekey (concat(namespace,'.',id)) against the
    # (namespace, object_id) pair-join semantics
    full_cols = ["id", "ocr", "rights", "ht_heldby", "ht_heldby_brlm",
                 "coll_id"]
    a = auto_docs.select(*full_cols)
    b = hinted_docs.select(*full_cols)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
