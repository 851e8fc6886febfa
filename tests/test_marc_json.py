"""S8 MARC-JSON records + dissertation extract predicates (P8/P9/F9)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.marc_extracts import (
    has_institution_expr,
    keyword_text_expr,
    matches_keywords_expr,
    pub_year_expr,
)
from index_search_monorepo_spark.sources.marc_json import marc_json_record_udf


def _rec(control, title_a, title_b=None, keywords_502=None, inst=None,
         year_264=None, year_260=None, subjects=None, ids_035=None):
    fields = [{"001": control}]
    sub245 = [{"a": title_a}]
    if title_b:
        sub245.append({"b": title_b})
    fields.append({"245": {"ind1": "1", "ind2": "0", "subfields": sub245}})
    fields.append({"100": {"subfields": [["a", "Author, Test"]]}})  # list enc
    if keywords_502:
        fields.append({"502": {"subfields": [{"a": keywords_502},
                                             {"o": f"id-{control}"}]}})
    if inst:
        fields.append({"974": {"subfields": [{"b": inst}]}})
    if year_264:
        fields.append({"264": {"subfields": [{"c": year_264}]}})
    if year_260:
        fields.append({"260": {"subfields": [{"c": year_260}]}})
    for s in subjects or []:
        fields.append({"650": {"subfields": [{"a": s}]}})
    for i in ids_035 or []:
        fields.append({"035": {"subfields": [{"a": i}]}})
    return {"leader": "01234nam a2200301 a 4500", "fields": fields}


RECORDS = [
    _rec("r1", "A Doctoral Study", "of things",
         keywords_502="Thesis (Ph.D.) degree of doctor", inst="miu ",
         year_264="c2001.", subjects=["Physics ", "Chemistry"],
         ids_035=["(OCoLC)123"]),
    _rec("r2", "Plain Book", keywords_502=None, inst="MIU",
         year_260="[1999]"),
    _rec("r3", "Dissertation on Spark", keywords_502="dissertation",
         inst="YALE", year_264="2020"),
]


def test_marc_json_record_udf_column_form(spark):
    """S8 column form: normalized records, null-leader rows for
    blank/malformed/non-dict lines (the line-skip, as a filterable
    value)."""
    lines = [
        json.dumps(RECORDS[0]),
        "",
        "{not json}",
        json.dumps([1, 2]),  # non-dict JSON
    ]
    df = spark.createDataFrame([(v,) for v in lines], ["value"])
    rows = df.select(
        marc_json_record_udf()(F.col("value")).alias("rec")
    ).collect()
    assert rows[0]["rec"]["leader"].startswith("01234")
    assert rows[0]["rec"]["fields"][0]["data"] == "r1"
    # list-encoded subfield accepted
    f100 = next(f for f in rows[0]["rec"]["fields"] if f["tag"] == "100")
    assert f100["subfields"][0]["code"] == "a"
    assert all(r["rec"]["leader"] is None for r in rows[1:])


def test_predicates_and_extracts(spark):
    df = spark.createDataFrame(
        [(json.dumps(r),) for r in RECORDS], ["value"]
    ).select(marc_json_record_udf()(F.col("value")).alias("rec")).select("rec.*")
    out = df.select(
        F.col("fields")[0]["data"].alias("cn"),
        keyword_text_expr(F.col("fields")).alias("kw_text"),
        matches_keywords_expr(F.col("fields")).alias("kw"),
        has_institution_expr(F.col("fields")).alias("miu"),
        pub_year_expr(F.col("fields")).alias("year"),
    ).collect()
    by = {r["cn"]: r for r in out}
    assert by["r1"]["kw"] and by["r1"]["miu"]  # trailing-space+case inst ok
    assert "thesis (ph.d.)" in by["r1"]["kw_text"]
    assert by["r2"]["miu"] and not by["r2"]["kw"]
    assert by["r3"]["kw"] and not by["r3"]["miu"]
    assert by["r1"]["year"] == "2001"  # extracted from 'c2001.'
    assert by["r2"]["year"] == "1999"  # 260$c fallback


def test_udf_valid_json_bad_marc_shape_is_dropped(spark):
    """r4 review finding: valid JSON whose field value is neither str nor
    dict (e.g. a number) must yield a null record, not a task failure."""
    df = spark.createDataFrame(
        [('{"leader":"x","fields":[{"008": 12}]}',)], ["value"]
    )
    rows = df.select(marc_json_record_udf()(F.col("value")).alias("rec")).collect()
    assert rows[0]["rec"]["leader"] is None
