"""Core extraction operators over the interleaved spans table
(doc_id string, spans array<struct<kind,text,media_ref,offset>>).

Design (SURVEY.md §7): pure column expressions > higher-order array functions
> Arrow UDFs; the per-document work is *per-row array work* — zero shuffles
on the default path. The only Python stage is the html boilerplate classifier
(stdlib html.parser), one Arrow UDF over pyarrow arrays that also prepares the
html text it returns.

Scale notes (100 TB):
 - A1 ocr concat is embarrassingly row-parallel; no groupBy, no join.
 - nested-schema pruning means a query touching only spans.media_ref never
   reads spans.text from parquet.
 - skewed fat rows (2000-page volumes): `ocr_field_skew_aware` splits docs
   above a span-count threshold onto an explode → per-page prep → re-assemble
   path so one 50 MB row cannot stall an executor core (SURVEY.md §4 O13 —
   AQE cannot split a single row).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from index_search_monorepo_spark.functions.html import extract_main_content_batch
from index_search_monorepo_spark.functions.text import (
    string_preparation,
    string_preparation_expr,
)

SPAN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

# canonical intra-page span order (generator emits txt, html, img per page)
_KIND_RANK = {"txt": 0, "html": 1, "img": 2}


def _kind_rank(col: Column) -> Column:
    return (
        F.when(col == "txt", F.lit(0))
        .when(col == "html", F.lit(1))
        .otherwise(F.lit(2))
    )


def _cmp(a: Column, b: Column) -> Column:
    return F.when(a < b, F.lit(-1)).when(a > b, F.lit(1)).otherwise(F.lit(0))


def _span_cmp(left, right) -> Column:
    """Comparator: (offset, kind_rank, media_ref)."""
    return (
        F.when(left["offset"] != right["offset"], _cmp(left["offset"], right["offset"]))
        .when(
            _kind_rank(left["kind"]) != _kind_rank(right["kind"]),
            _cmp(_kind_rank(left["kind"]), _kind_rank(right["kind"])),
        )
        .otherwise(_cmp(left["media_ref"], right["media_ref"]))
    )


def _txt_spans(spans: Column) -> Column:
    return F.filter(spans, lambda s: s["kind"] == F.lit("txt"))


def ocr_expr(spans: Column) -> Column:
    """A1 flagship — OCR page concat (full_text_document_generator.py:89-109):
    txt members, string_preparation each, sorted BY MEMBER NAME (media_ref ==
    zip member name in the spans model), joined with a single space.
    Pure expression: runs fully inside whole-stage codegen."""
    sorted_txt = F.array_sort(
        _txt_spans(spans), lambda l, r: _cmp(l["media_ref"], r["media_ref"])
    )
    return F.array_join(
        F.transform(sorted_txt, lambda s: string_preparation_expr(s["text"])), " "
    )


def with_ocr(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    return df.withColumn("ocr", ocr_expr(F.col(spans_col)))


def with_ocr_skew_aware(
    df: DataFrame,
    spans_col: str = "spans",
    page_threshold: int = 1000,
    single_scan: bool = True,
) -> DataFrame:
    """A1 with explicit skew handling (O13). Docs with ≤ threshold spans take
    the zero-shuffle per-row path; oversized volumes are exploded so their
    per-page prep work distributes across cores, then re-assembled with an
    order-anchored collect_list (order rides in data via media_ref, never in
    row order). The big path touches only the skew fraction (~2%), so the
    extra shuffle is tiny and bounded.

    single_scan=True (default) persists the input before branching: the
    size(spans) filters cannot prune a parquet scan, so the naive two-branch
    plan decodes every spans.text column chunk TWICE (VERDICT r01 #5). The
    persisted working set is read once from source and served to both
    branches from executor memory/local disk (LRU-evicted afterwards). Pass
    single_scan=False on object-store clusters where re-scanning is cheaper
    than caching the working set."""
    if single_scan:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    n = F.size(F.col(spans_col))
    small = df.filter(n <= page_threshold).withColumn(
        "ocr", ocr_expr(F.col(spans_col))
    )
    big = df.filter(n > page_threshold)
    big_pages = big.select(
        "doc_id",
        F.explode(_txt_spans(F.col(spans_col))).alias("s"),
    ).select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        string_preparation_expr(F.col("s.text")).alias("prepared"),
    )
    big_ocr = big_pages.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("media_ref", "prepared")),
                    lambda l, r: _cmp(l["media_ref"], r["media_ref"]),
                ),
                lambda x: x["prepared"],
            ),
            " ",
        ).alias("ocr")
    )
    big_joined = big.join(big_ocr, "doc_id", "left").withColumn(
        "ocr", F.coalesce(F.col("ocr"), F.lit(""))
    )
    return small.unionByName(big_joined)


@arrow_udf(ArrayType(StringType()))
def _clean_html_batch(html_texts: pa.Array) -> pa.Array:
    """Boilerplate strip + string_preparation: array<string> ->
    array<string>, positionally aligned with the input html spans of each
    document; a null document array yields an empty one.

    The whole batch is classified as one flat list. Offsets are rebuilt
    from the list lengths, never taken from `.offsets`/`.values`, which
    ignore a sliced batch's offset and the sub-lists behind null slots."""
    cleaned = extract_main_content_batch(pc.list_flatten(html_texts).to_pylist())
    lengths = pc.list_value_length(html_texts).fill_null(0)
    offsets = pa.concat_arrays(
        [pa.array([0], pa.int32()), pc.cumulative_sum(lengths)]
    )
    return pa.ListArray.from_arrays(
        offsets, pa.array([string_preparation(c) for c in cleaned], pa.string())
    )


def extracted_spans_expr(spans: Column, cleaned_html: Column) -> Column:
    """North-rule output: the extracted span sequence
    (kind, text, media_ref, offset) in canonical (offset, kind) order:
      txt  -> string_preparation(text)      (text_processor.py:27-41)
      html -> string_preparation(main_content(text))   [net-new classifier]
      img  -> ''                             (media resolved by reference only)
    `cleaned_html` is `_clean_html_batch`'s output: html text already
    classified AND prepared, aligned with the html spans.
    """
    txt = F.transform(
        _txt_spans(spans),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            string_preparation_expr(s["text"]).alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    html_spans = F.filter(spans, lambda s: s["kind"] == F.lit("html"))
    html = F.zip_with(
        html_spans,
        cleaned_html,
        lambda s, t: F.struct(
            s["kind"].alias("kind"),
            t.alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    img = F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("img")),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.lit("").alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    return F.array_sort(F.concat(txt, html, img), _span_cmp)


def with_extracted_spans(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Adds `extracted_spans`. One Arrow-UDF stage classifies and prepares
    the html text; everything else is JVM-side. No shuffle.

    The UDF result is bound inside ONE expression via the single-element-
    transform trick (CLAUDE.md lesson #1) rather than an intermediate
    `_cleaned_html` column: when `spans` is itself a derived expression
    (e.g. documents_to_spans), CollapseProject inlines the once-referenced
    UDF column through the next Project while re-projecting spans, leaving
    TWO ArrowEvalPython stages that each run the classifier over every
    html span (measured: the whole span_sequence query ~2x slower)."""
    spans = F.col(spans_col)
    html_texts = F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("html")), lambda s: s["text"]
    )
    extracted = F.element_at(
        F.transform(
            F.array(_clean_html_batch(html_texts)),
            lambda cleaned: extracted_spans_expr(spans, cleaned),
        ),
        1,
    )
    return df.withColumn("extracted_spans", extracted)


def explode_noinline(col: str | Column) -> Column:
    """explode() that blocks the optimizer from inlining the defining
    expression of `col` into the Generate node.

    When the exploded column is expensive (an Arrow-UDF-derived array like
    `extracted_spans`), CollapseProject inlines it into Generate (single
    lexical reference) and InferFiltersFromGenerate then copies the whole
    generator expression into an inferred pre-filter — after python-UDF
    extraction that is TWO ArrowEvalPython stages, i.e. the classifier runs
    twice per row (measured: span_sequence 2x slower). Referencing the
    column twice inside the generator (`when(size(c) >= 0, c)`, a no-op:
    null arrays stay null, others pass through) makes the inline illegal,
    so the UDF stays in the child Project and is extracted exactly once."""
    c = F.col(col) if isinstance(col, str) else col
    return F.explode(F.when(F.size(c) >= 0, c))


def ht_page_feature_expr(page_features) -> Column:
    """A3 (mets_file_extractor.py:52-61 get_unique_features): split each
    page LABEL on ', ', flatten, distinct — the reference emits a set; we
    canonicalize sorted so the value is deterministic. Input: an
    array<struct<.., features:string, ..>> column (or name)."""
    col = F.col(page_features) if isinstance(page_features, str) else page_features
    return F.array_sort(
        F.array_distinct(
            F.flatten(F.transform(col, lambda p: F.split(p["features"], ", ")))
        )
    )


def with_mets_fields(df: DataFrame) -> DataFrame:
    """X1–X3 + A3 from the mets_meta sidecar (mets_file_extractor.py:52-86,
    full_text_document_generator.py:25-43): ht_page_feature = distinct
    flattened ', '-split LABEL values (reference emits a set — we canonicalize
    sorted); reading-order fields renamed."""
    return df.select(
        "doc_id",
        ht_page_feature_expr("page_features").alias("ht_page_feature"),
        F.col("scanning_order").alias("ht_scanning_order"),
        F.col("reading_order").alias("ht_reading_order"),
        F.col("cover_tag").alias("ht_cover_tag"),
    )
