"""S2 METS structMap parse and the F6 pairtree id mirrors
(SURVEY.md §2.1 S2, §2.4 A3, §2.7 F6)."""

from __future__ import annotations

from index_search_monorepo_spark.oracle.reference_oracle import (
    oracle_doc_id_from_zip_path,
    oracle_pairtree_path,
    oracle_pairtree_sanitize,
)
from index_search_monorepo_spark.sources.mets_ingest import parse_mets


def test_pairtree_parity():
    """Golden values from the reference's own tests
    (ht_document_test.py:10-23, 46-54)."""
    assert oracle_pairtree_path("39015051333915") == (
        "/39/01/50/51/33/39/15/39015051333915"
    )
    assert oracle_pairtree_sanitize("ark:/13960/t4mk66f1d") == (
        "ark+=13960=t4mk66f1d"
    )
    assert oracle_pairtree_path("ark:/13960/t4mk66f1d") == (
        "/ar/k+/=1/39/60/=t/4m/k6/6f/1d/ark+=13960=t4mk66f1d"
    )
    assert (
        oracle_doc_id_from_zip_path(
            "file:/sdr1/obj/ark+=13960=t4mk66f1d.zip", "uc2"
        )
        == "uc2.ark:/13960/t4mk66f1d"
    )


METS_XML = """<?xml version="1.0" encoding="UTF-8"?>
<METS:mets xmlns:METS="http://www.loc.gov/METS/">
  <METS:structMap>
    <METS:div TYPE="volume"
        LABEL="scanning-order:right-to-left, reading-order:right-to-left, cover-tag:follows-reading-order">
      <METS:div TYPE="page" ORDER="1" LABEL="FRONT_COVER, IMPLICIT_PAGE_NUMBER">
        <METS:fptr FILEID="IMG00000001"/>
        <METS:fptr FILEID="TXT00000001"/>
      </METS:div>
      <METS:div TYPE="page" ORDER="2" ORDERLABEL="1"
          LABEL="CHAPTER_START, IMPLICIT_PAGE_NUMBER">
        <METS:fptr FILEID="TXT00000002"/>
        <METS:fptr FILEID="HTML00000002"/>
      </METS:div>
    </METS:div>
  </METS:structMap>
</METS:mets>
"""


def test_parse_mets():
    parsed = parse_mets(METS_XML)
    assert parsed["scanning_order"] == "right-to-left"
    assert parsed["reading_order"] == "right-to-left"
    assert parsed["cover_tag"] == "follows-reading-order"
    assert parsed["page_features"] == [
        {"offset": 1, "features": "FRONT_COVER, IMPLICIT_PAGE_NUMBER",
         "pgnum": None},
        {"offset": 2, "features": "CHAPTER_START, IMPLICIT_PAGE_NUMBER",
         "pgnum": "1"},
    ]


def test_mets_record_udf_column_form(spark):
    """S2 column form: parse_mets per row; malformed XML
    yields a null record instead of a task failure (errors-are-rows)."""
    from pyspark.sql import functions as F

    from index_search_monorepo_spark.sources.mets_ingest import (
        mets_record_udf,
    )

    df = spark.createDataFrame(
        [(METS_XML,), ("<not xml",), ("",)], ["xml"]
    )
    rows = df.select(mets_record_udf()(F.col("xml")).alias("rec")).collect()
    good = rows[0]["rec"]
    assert good["scanning_order"] == "right-to-left"
    assert good["page_features"][0]["features"].startswith("FRONT_COVER")
    assert all(r["rec"]["scanning_order"] is None for r in rows[1:])


def test_mets_record_udf_non_numeric_order_is_null_record(spark):
    """r4 review finding: well-formed XML with ORDER="A1" raises
    ValueError inside parse_mets — must become a null record (errors are
    rows), never a task failure."""
    from pyspark.sql import functions as F

    from index_search_monorepo_spark.sources.mets_ingest import (
        mets_record_udf,
    )

    bad = (
        '<M:mets xmlns:M="http://www.loc.gov/METS/"><M:structMap>'
        '<M:div TYPE="page" ORDER="A1" LABEL="TYPICAL"/>'
        "</M:structMap></M:mets>"
    )
    rows = (
        spark.createDataFrame([(bad,)], ["xml"])
        .select(mets_record_udf()(F.col("xml")).alias("rec"))
        .collect()
    )
    assert rows[0]["rec"]["scanning_order"] is None
