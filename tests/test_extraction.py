"""A1 ocr concat, span-sequence equality (the north-rule invariant), METS
fields, skew-aware path equivalence, error sink."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from index_search_monorepo_spark.functions.html import extract_main_content
from index_search_monorepo_spark.operators.errors import split_errors
from index_search_monorepo_spark.operators.extraction import (
    _clean_html_batch,
    with_extracted_spans,
    with_mets_fields,
    with_ocr,
    with_ocr_skew_aware,
)
from index_search_monorepo_spark.oracle.reference_oracle import (
    oracle_extracted_spans,
    oracle_mets_fields,
    oracle_ocr,
    oracle_string_preparation,
)


def _spans_by_doc(tables):
    out = {}
    for r in tables["documents_spans"].collect():
        out[r["doc_id"]] = [s.asDict() for s in r["spans"]]
    return out


class TestOcr:
    def test_matches_oracle_every_doc(self, spark, tables):
        expected = {d: oracle_ocr(s) for d, s in _spans_by_doc(tables).items()}
        got = {
            r["doc_id"]: r["ocr"]
            for r in with_ocr(tables["documents_spans"]).select("doc_id", "ocr").collect()
        }
        assert got == expected

    def test_skew_path_equals_per_row_path(self, spark, tables):
        df = tables["documents_spans"]
        per_row = {
            r["doc_id"]: r["ocr"]
            for r in with_ocr(df).select("doc_id", "ocr").collect()
        }
        # low threshold forces most docs down the explode/reassemble path
        skew = {
            r["doc_id"]: r["ocr"]
            for r in with_ocr_skew_aware(df, page_threshold=5)
            .select("doc_id", "ocr")
            .collect()
        }
        assert skew == per_row


class TestSpanSequence:
    def test_north_rule_invariant_every_doc(self, spark, tables):
        """Per-document span-sequence equality (kind, text, media_ref, order)
        vs the Python oracle — BASELINE.json correctness gate."""
        expected = {
            d: oracle_extracted_spans(s) for d, s in _spans_by_doc(tables).items()
        }
        out = with_extracted_spans(tables["documents_spans"]).select(
            "doc_id", "extracted_spans"
        )
        got = {
            r["doc_id"]: [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["extracted_spans"]
            ]
            for r in out.collect()
        }
        assert set(got) == set(expected)
        mismatches = {d for d in got if got[d] != expected[d]}
        assert not mismatches, f"span mismatch in {sorted(mismatches)[:3]}"

    def test_exact_match_rate_is_one(self, spark, tables):
        expected = {
            d: oracle_extracted_spans(s) for d, s in _spans_by_doc(tables).items()
        }
        out = with_extracted_spans(tables["documents_spans"]).select(
            "doc_id", "extracted_spans"
        )
        n_match = sum(
            1
            for r in out.collect()
            if [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["extracted_spans"]
            ]
            == expected[r["doc_id"]]
        )
        assert n_match == len(expected)

    def test_arrow_udf_batch_edges(self):
        """The Arrow UDF returns, per document, string_preparation of each
        html text's main content: null document array -> [], null html
        text -> '""'. Batches may be sliced and may hold null slots backed
        by non-empty sub-lists; neither may leak values into a
        neighbour."""
        body = "<p>" + "enough words to pass the block length check " + "</p>"
        values = pa.array(
            [body, "junk", None, "<p>x\r\ny</p>", "<p>\t" + body, "<p"]
        )
        # slots: [body, junk] | null over [None, crlf] | [] | [tab-body, <p]
        full = pa.ListArray.from_arrays(
            pa.array([0, 2, 4, 4, 6], pa.int32()),
            values,
            mask=pa.array([False, True, False, False]),
        )

        def expected(arrow_lists):
            return [
                [
                    oracle_string_preparation(extract_main_content(t))
                    for t in (arr or [])
                ]
                for arr in arrow_lists.to_pylist()
            ]

        for batch in (full, full.slice(1), full.slice(1, 2), full.slice(4)):
            got = _clean_html_batch.func(batch)
            assert got.type == pa.list_(pa.string())
            assert got.null_count == 0
            assert got.to_pylist() == expected(batch)
        assert _clean_html_batch.func(full).to_pylist()[0] == [
            '"enough words to pass the block length check"', '""'
        ]

    def test_null_spans_and_null_html_text(self, spark):
        rows = spark.createDataFrame(
            [
                ("a", None),
                ("b", []),
                ("c", [("html", None, "H1", 1), ("txt", " x\r\n", "T1", 1)]),
            ],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        got = {
            r["doc_id"]: r["extracted_spans"]
            for r in with_extracted_spans(rows).collect()
        }
        assert got["a"] is None and got["b"] == []
        assert [tuple(s) for s in got["c"]] == [
            ("txt", '"x"', "T1", 1), ("html", '""', "H1", 1)
        ]


class TestMets:
    def test_matches_oracle(self, spark, tables):
        raw = {
            r["doc_id"]: r
            for r in tables["mets_meta"].collect()
        }
        got = {r["doc_id"]: r for r in with_mets_fields(tables["mets_meta"]).collect()}
        for doc_id, r in raw.items():
            want = oracle_mets_fields(
                [p.asDict() for p in r["page_features"]],
                r["scanning_order"],
                r["reading_order"],
                r["cover_tag"],
            )
            g = got[doc_id]
            assert list(g["ht_page_feature"]) == want["ht_page_feature"]
            assert g["ht_scanning_order"] == want["ht_scanning_order"]
            assert g["ht_reading_order"] == want["ht_reading_order"]
            assert g["ht_cover_tag"] == want["ht_cover_tag"]


class TestErrorSink:
    def test_poison_rows_split(self, spark, tables):
        df = tables["documents_spans"].unionByName(tables["documents_spans_bad"])
        clean, errors = split_errors(df)
        n_bad = tables["documents_spans_bad"].count()
        assert errors.count() == n_bad
        assert clean.count() == tables["documents_spans"].count()
        err = errors.collect()[0]
        assert err["service_name"] == "document_generator"
        assert err["ht_id"].startswith("bad.")
        assert "UTF-8" in err["error_message"]
        # R2: a bad document never fails the job; clean rows flow on
        assert with_ocr(clean).filter(F.length("ocr") > 0).count() > 0
