"""F1/F2/F5/F7 parity: pure-column-expression text functions vs CPython.

Mirrors the reference's unit coverage of text_processor.py and the id-parsing
goldens (document_generator_test.py:105-125, ht_document_test.py)."""

from __future__ import annotations

import xml.sax.saxutils

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from index_search_monorepo_spark.functions.text import (
    namespace_expr,
    object_id_expr,
    quoteattr_expr,
    string_preparation,
    string_preparation_expr,
    strip_leading_zeros_expr,
    xmlesc_expr,
    zero_pad_id_expr,
)
from index_search_monorepo_spark.oracle.reference_oracle import (
    oracle_string_preparation,
)


def _run_expr(spark, values, expr_fn):
    df = spark.createDataFrame([(v,) for v in values], ["s"])
    return [r["out"] for r in df.select(expr_fn(F.col("s")).alias("out")).collect()]


TRICKY = [
    "",
    "plain",
    'has "double" quotes',
    "has 'single' quotes",
    "both \"double\" and 'single'",
    "amp & lt < gt >",
    "&amp; pre-escaped",
    "  leading and trailing  ",
    "\r\nwindows\r\nnewlines\r\n",
    "tab\there",
    "\xa0nbsp edges\xa0",
    "\x1cfile sep\x1f",
    "unicode: año straße पृष्ठ 中文",
    " em-space ",
    "mixed\"both' <&> \r\n end ",
    '"',
    "'",
    "\"'",
]


class TestStringPreparation:
    def test_tricky_cases(self, spark):
        got = _run_expr(spark, TRICKY, string_preparation_expr)
        want = [oracle_string_preparation(v) for v in TRICKY]
        assert got == want
        # the Python twin the html Arrow UDF applies
        assert [string_preparation(v) for v in TRICKY] == want

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_characters="\x00"
                ),
                max_size=60,
            ),
            min_size=1,
            max_size=30,
        )
    )
    def test_hypothesis_parity(self, spark, values):
        got = _run_expr(spark, values, string_preparation_expr)
        want = [oracle_string_preparation(v) for v in values]
        assert got == want
        assert [string_preparation(v) for v in values] == want


class TestQuoteattr:
    def test_matches_cpython(self, spark):
        got = _run_expr(spark, TRICKY, quoteattr_expr)
        want = [xml.sax.saxutils.quoteattr(v) for v in TRICKY]
        assert got == want


class TestXmlesc:
    def test_five_entities(self, spark):
        # reference table (text_processor.py:10-24): note &apos;/&quot;
        vals = ["a<b>c&d'e\"f", "&&&", "no specials"]
        table = str.maketrans(
            {"<": "&lt;", ">": "&gt;", "&": "&amp;", "'": "&apos;", '"': "&quot;"}
        )
        got = _run_expr(spark, vals, xmlesc_expr)
        assert got == [v.translate(table) for v in vals]


class TestIdFunctions:
    @pytest.mark.parametrize(
        "doc_id,ns,obj",
        [
            # goldens from document_generator_test.py:105-125
            ("uc2.ark:/13960/t4mk66f1d", "uc2", "ark:/13960/t4mk66f1d"),
            ("miun.afs8435.0001.001", "miun", "afs8435.0001.001"),
            ("uiug.30112056400960", "uiug", "30112056400960"),
            ("nodot", "nodot", None),
        ],
    )
    def test_namespace_split(self, spark, doc_id, ns, obj):
        df = spark.createDataFrame([(doc_id,)], ["s"])
        row = df.select(
            namespace_expr(F.col("s")).alias("ns"),
            object_id_expr(F.col("s")).alias("obj"),
        ).collect()[0]
        assert row["ns"] == ns
        assert row["obj"] == obj

    def test_pairtree_exprs_match_python_goldens(self, spark):
        """F6 column form (ht_document.py:63-74): parity with the
        Python mirrors in oracle/reference_oracle.py, incl. the golden
        '39015051333915' path and an ark-style id with ':' '/'."""
        from index_search_monorepo_spark.functions.text import (
            pairtree_path_expr,
            pairtree_sanitize_expr,
        )
        from index_search_monorepo_spark.oracle.reference_oracle import (
            oracle_pairtree_path,
            oracle_pairtree_sanitize,
        )

        vals = ["39015051333915", "ark:/13960/t4mk66f1d", "afs8435.0001.001", "7"]
        got_s = _run_expr(spark, vals, pairtree_sanitize_expr)
        assert got_s == [oracle_pairtree_sanitize(v) for v in vals]
        got_p = _run_expr(spark, vals, pairtree_path_expr)
        assert got_p == [oracle_pairtree_path(v) for v in vals]
        assert got_p[0] == "/39/01/50/51/33/39/15/39015051333915"

    def test_zero_pad_and_strip(self, spark):
        # ht_utils.py:133-148: zfill(9) iff shorter; lstrip('0') or '0'
        vals = ["1", "123456789", "1234567890", "000012", "0", "000"]
        got_pad = _run_expr(spark, vals, zero_pad_id_expr)
        assert got_pad == [v.zfill(9) for v in vals]
        got_strip = _run_expr(spark, vals, strip_leading_zeros_expr)
        assert got_strip == [v.lstrip("0") or "0" for v in vals]
