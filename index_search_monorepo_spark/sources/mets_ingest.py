"""S2/A3 — METS structMap parse (SURVEY.md §2.1 S2, §2.4 A3).

The reference parses one METS XML per document with lxml
(mets_file_extractor.py:11-86): `structMap -> div TYPE='page'` carries
ORDER (page number), ORDERLABEL (pgnum), LABEL (comma-separated feature
tags), and child `fptr FILEID`s (TXT/HTML/IMG pointers); doc-level attributes
scanning-order / reading-order / cover-tag come from the structMap div
labels. `parse_mets` is that parse on stdlib ElementTree (no lxml
in-container); `mets_record_udf` runs it as an Arrow-batched column
function, one METS XML string -> a mets_meta struct (page_features
array<struct<offset, features, pgnum>>, scanning_order, reading_order,
cover_tag), the shape operators.extraction.with_mets_fields consumes
(ht_page_feature / ht_scanning_order / ht_reading_order / ht_cover_tag,
§1.3 step 6).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

METS_NS = "http://www.loc.gov/METS/"

METS_RECORD_SCHEMA = StructType(
    [
        StructField(
            "page_features",
            ArrayType(
                StructType(
                    [
                        StructField("offset", IntegerType()),
                        StructField("features", StringType()),
                        StructField("pgnum", StringType()),
                    ]
                )
            ),
        ),
        StructField("scanning_order", StringType()),
        StructField("reading_order", StringType()),
        StructField("cover_tag", StringType()),
    ]
)


def parse_mets(xml_text: str) -> dict:
    """One METS document -> mets_meta fields. Mirrors
    mets_file_extractor.py:15-86 semantics: page divs in structMap order,
    LABEL feature CSVs kept verbatim per page, ORDERLABEL as pgnum (None if
    absent), and the volume-level scanning/reading order labels."""
    root = ET.fromstring(xml_text)
    pages = []
    scanning = reading = cover = None
    for div in root.iter(f"{{{METS_NS}}}div"):
        dtype = div.get("TYPE", "")
        if dtype == "volume":
            labels = [s.strip() for s in div.get("LABEL", "").split(",") if s.strip()]
            for lab in labels:
                if lab.startswith("scanning-order:"):
                    scanning = lab.split(":", 1)[1].strip()
                elif lab.startswith("reading-order:"):
                    reading = lab.split(":", 1)[1].strip()
                elif lab.startswith("cover-tag:"):
                    cover = lab.split(":", 1)[1].strip()
        elif dtype == "page":
            order = div.get("ORDER")
            pages.append(
                {
                    "offset": int(order) if order else len(pages) + 1,
                    "features": div.get("LABEL", ""),
                    "pgnum": div.get("ORDERLABEL") or None,
                }
            )
    return {
        "page_features": pages,
        "scanning_order": scanning or "left-to-right",
        "reading_order": reading or "left-to-right",
        "cover_tag": cover or "follows-reading-order",
    }



def mets_record_udf():
    """S2 in column form: one METS XML string -> parsed mets_meta struct
    (page_features, scanning_order, reading_order, cover_tag) through
    parse_mets — lets the driver oracle gate the stdlib-ET structMap parse
    on planted documents the way allfields_xml gates the MARC fold. Unparseable XML — malformed markup OR well-formed
    XML with a non-numeric page ORDER (parse_mets raises ValueError) —
    yields a null-scanning_order record: errors are rows, never task
    failures. Arrow-batched, one stage, no shuffle.

    Marked nondeterministic for the same reason as
    marc_json.marc_json_record_udf (CLAUDE.md lesson #9): callers filter
    on the parsed struct, and predicate pushdown through the Project
    would otherwise run the parse twice per row."""
    from pyspark.sql.functions import pandas_udf

    def _one(xml: str) -> dict:
        try:
            parsed = parse_mets(xml or "")
        except (ET.ParseError, ValueError):
            return {
                "page_features": None,
                "scanning_order": None,
                "reading_order": None,
                "cover_tag": None,
            }
        return parsed

    @pandas_udf(METS_RECORD_SCHEMA)
    def parse(xmls: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_one(x) for x in xmls],
            columns=METS_RECORD_SCHEMA.fieldNames(),
        )

    return parse.asNondeterministic()
