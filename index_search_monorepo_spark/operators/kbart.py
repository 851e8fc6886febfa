"""KBART print-holdings export (SURVEY.md §2 J7/P10/P11/A5/F9-family;
reference: app/data_operations/src/kbart_file_generator/kbart_file_generator.py).

The reference reads a holdings TSV of catalog_ids, builds two in-memory
lookup maps (Solr title metadata keyed by zero-stripped id,
kbart_file_generator.py:215-259; MySQL min/max rights dates per bib_num,
:186-212), probes them per id, and emits a KBART TSV plus an error TSV.
Spark-first rebuild: the lookup maps become two left joins on the normalized
key; the per-id probe loop disappears; errors are a filtered branch of the
same DataFrame, not a side list.

Quirks preserved faithfully (each tested):
 - ordered first-occurrence dedup of input catalog_ids (:121-126, T3)
 - date filtering drops '9999' and <4-digit values -> '' (:129-138, P10)
 - date_last_issue_online is emitted ONLY for serials (bib_fmt == 'SE');
   date_first has no such gate (:140-148)
 - title_id / join key = id stripped of leading zeros, '0' if all zeros
   (ht_utils.py:145-148)
 - print_identifier = first non-empty isbn, else first non-empty issn
   (:155, 165)
 - required-field errors: missing metadata row -> 'metadata not found';
   empty publication_title or title_id -> 'required source fields missing'
   (:341-349, P11)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

KBART_COLUMNS = [
    "publication_title",
    "print_identifier",
    "online_identifier",
    "date_first_issue_online",
    "num_first_vol_online",
    "num_first_issue_online",
    "date_last_issue_online",
    "num_last_vol_online",
    "num_last_issue_online",
    "title_url",
    "first author",
    "title_id",
    "embargo_info",
    "coverage_depth",
    "coverage_notes",
    "publisher_name",
    "oclc_number",
]


def strip_zeros_expr(col: Column) -> Column:
    """normalize_catalog_id_stripped_zeros (ht_utils.py:145-148)."""
    stripped = F.regexp_replace(col.cast("string"), "^0+", "")
    return F.when(stripped == "", F.lit("0")).otherwise(stripped)


def first_value_expr(df: DataFrame, name: str) -> Column:
    """F4 first_value (text_processor.py:77-86): first non-empty stripped
    element of a multivalued field; passthrough trim for scalar columns;
    '' when absent."""
    if name not in df.columns:
        return F.lit("")
    col = F.col(name)
    if isinstance(df.schema[name].dataType, ArrayType):
        picked = F.try_element_at(
            F.filter(F.transform(col, lambda v: F.trim(v)), lambda v: v != ""),
            F.lit(1),
        )
    else:
        picked = F.trim(col)
    return F.coalesce(picked, F.lit(""))


def filter_out_dates_expr(col: Column) -> Column:
    """P10 (kbart_file_generator.py:129-138): '' for NULL / '9999' / <4 chars."""
    return F.when(
        col.isNull() | (col == "9999") | (F.length(col) < 4), F.lit("")
    ).otherwise(col)


def read_holdings_tsv(spark, path: str) -> DataFrame:
    """S9 — holdings TSV scan with a REAL line ordinal (VERDICT r02 next
    #6): `spark.read.text` + `zipWithIndex` assigns each line its global
    file position (partitions enumerate file splits in offset order, so
    the index IS the line number), the header row names the columns, and
    the parse stays in column expressions. The returned `_line_no` rides
    in data, so any downstream shuffle/repartition preserves input order —
    unlike monotonically_increasing_id, which only encodes the scan's
    partition layout.

    The ordinal costs one extra pass (zipWithIndex counts rows per
    partition first) — the right trade for an ingest whose contract is
    first-occurrence order (kbart_file_generator.py:112-126). Single
    logical file expected (the reference reads one report); for a
    multi-file glob the index still orders by (sorted file, offset)."""
    header = spark.read.text(path).first()["value"].split("\t")
    lines = (
        spark.read.text(path)
        .rdd.zipWithIndex()
        .toDF(["line", "_line_no"])
        .select(F.col("line.value").alias("_raw"), "_line_no")
        .filter(F.col("_line_no") > 0)
    )
    parts = F.split("_raw", "\t")
    return lines.select(
        *[parts.getItem(i).alias(c) for i, c in enumerate(header)],
        F.col("_line_no").cast("long").alias("_line_no"),
    )


def ordered_dedup_ids(
    holdings: DataFrame,
    id_col: str = "catalog_id",
    seq_col: str | None = None,
) -> DataFrame:
    """S9+T3: holdings TSV scan contract — required catalog_id column,
    blank-stripped, first-occurrence order preserved (:112-126). Returns
    (catalog_id, seq) where seq is the first-occurrence rank.

    Pass seq_col (e.g. `_line_no` from `read_holdings_tsv`) whenever the
    input may have been shuffled: an explicit ordinal rides in data and is
    shuffle-proof. Without it the ordinal falls back to
    monotonically_increasing_id(), which is ONLY correct for a straight
    file scan (no shuffle/repartition upstream) — Spark file scans list
    splits in a stable sorted order, but any exchange re-deals rows."""
    if id_col not in holdings.columns:
        raise ValueError(f"Holdings report is missing required column '{id_col}'")
    pos = (
        F.col(seq_col).cast("long")
        if seq_col is not None
        else F.monotonically_increasing_id()
    )
    with_pos = holdings.select(
        F.trim(F.col(id_col).cast("string")).alias("catalog_id"),
        pos.alias("_pos"),
    ).filter(F.col("catalog_id") != "")
    return (
        with_pos.groupBy("catalog_id")
        .agg(F.min("_pos").alias("seq"))
    )


def title_dates_dim(hf: DataFrame) -> DataFrame:
    """A5: GROUP BY bib_num -> MIN/MAX(rights_date_used), bib_fmt
    (kbart_file_generator.py:196-204)."""
    return hf.groupBy("bib_num").agg(
        F.max("bib_fmt").alias("bib_fmt"),
        F.min(F.col("rights_date_used").cast("string")).alias(
            "date_first_issue_online"
        ),
        F.max(F.col("rights_date_used").cast("string")).alias(
            "date_last_issue_online"
        ),
    )


def generate_kbart(
    holdings: DataFrame,
    catalog_meta: DataFrame,
    hf: DataFrame,
    id_col: str = "catalog_id",
    seq_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (kbart_rows, errors).

    kbart_rows: KBART_COLUMNS + seq (write ordered by seq, drop seq — the
    reference emits rows in input order). errors: (catalog_id, reason, seq).

    Plan shape: the requested-id list (small) broadcasts INTO semi-joins
    that bound both dims first — the catalog metadata is the full catalog
    (~17M records in the reference; broadcasting it unfiltered is a
    multi-GB driver/executor OOM, VERDICT r01 #7) and hf is per-volume.
    Only the bounded dims broadcast into the final enrichment joins; the
    only shuffles are the input dedup and the (pre-filtered) hf aggregate.
    """
    ids = ordered_dedup_ids(holdings, id_col, seq_col)
    ids = ids.withColumn("_key", strip_zeros_expr(F.col("catalog_id")))
    keys = ids.select("_key").distinct()

    meta = catalog_meta.select(
        strip_zeros_expr(first_value_expr(catalog_meta, "id")).alias("_key"),
        first_value_expr(catalog_meta, "title_display").alias("_title"),
        first_value_expr(catalog_meta, "isbn").alias("_isbn"),
        first_value_expr(catalog_meta, "issn").alias("_issn"),
        first_value_expr(catalog_meta, "mainauthor").alias("_author"),
        first_value_expr(catalog_meta, "publisher").alias("_publisher"),
        first_value_expr(catalog_meta, "oclc").alias("_oclc"),
        F.lit(True).alias("_meta_found"),
    ).join(F.broadcast(keys), "_key", "left_semi").dropDuplicates(["_key"])

    hf_bounded = hf.join(
        F.broadcast(keys),
        strip_zeros_expr(F.col("bib_num")) == keys["_key"],
        "left_semi",
    )
    dates = title_dates_dim(hf_bounded).select(
        strip_zeros_expr(F.col("bib_num")).alias("_key"),
        "bib_fmt",
        "date_first_issue_online",
        "date_last_issue_online",
    ).dropDuplicates(["_key"])

    joined = ids.join(F.broadcast(meta), "_key", "left").join(
        F.broadcast(dates), "_key", "left"
    )

    missing = joined.filter(F.col("_meta_found").isNull()).select(
        "catalog_id", F.lit("metadata not found").alias("reason"), "seq"
    )
    found = joined.filter(F.col("_meta_found").isNotNull())

    title_id = F.col("_key")
    rows = found.select(
        F.col("_title").alias("publication_title"),
        F.when(F.col("_isbn") != "", F.col("_isbn"))
        .otherwise(F.col("_issn"))
        .alias("print_identifier"),
        F.lit("").alias("online_identifier"),
        filter_out_dates_expr(F.col("date_first_issue_online")).alias(
            "date_first_issue_online"
        ),
        F.lit("").alias("num_first_vol_online"),
        F.lit("").alias("num_first_issue_online"),
        # serial-only gate (check_bib_fmt_field, :140-148)
        F.when(
            F.col("bib_fmt") == "SE",
            filter_out_dates_expr(F.col("date_last_issue_online")),
        )
        .otherwise(F.lit(""))
        .alias("date_last_issue_online"),
        F.lit("").alias("num_last_vol_online"),
        F.lit("").alias("num_last_issue_online"),
        F.concat(
            F.lit("https://catalog.hathitrust.org/Record/"), title_id
        ).alias("title_url"),
        F.col("_author").alias("first author"),
        title_id.alias("title_id"),
        F.lit("").alias("embargo_info"),
        F.lit("").alias("coverage_depth"),
        F.lit("").alias("coverage_notes"),
        F.col("_publisher").alias("publisher_name"),
        F.col("_oclc").alias("oclc_number"),
        "catalog_id",
        "seq",
    )

    bad = rows.filter(
        (F.col("publication_title") == "") | (F.col("title_id") == "")
    ).select(
        "catalog_id",
        F.lit("required source fields missing").alias("reason"),
        "seq",
    )
    good = rows.filter(
        (F.col("publication_title") != "") & (F.col("title_id") != "")
    ).select(*KBART_COLUMNS, "seq")

    return good, missing.unionByName(bad)
