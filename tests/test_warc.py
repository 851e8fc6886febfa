"""WARC source (sources/warc.py): reader round-trips for both layouts
(gzip-membered and plain), error-envelope rows for malformed records, and
the round-trip gate kernel against its DuckDB oracle fragments."""

from __future__ import annotations

import gzip
import hashlib
import io

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from index_search_monorepo_spark.sources import warc as W

HTML = (
    b"<html><body><p>hello world this is a long enough block of text"
    b"</p></body></html>"
)


def _sample_records():
    http = W.http_response_bytes(200, HTML)
    return [
        W.build_warc_record(
            "warcinfo",
            b"software: test\r\n",
            content_type="application/warc-fields",
        ),
        W.build_warc_record(
            "response",
            http,
            target_uri="http://ex.org/a",
            content_type="application/http;msgtype=response",
        ),
        W.build_warc_record(
            "request",
            b"GET /a HTTP/1.1\r\nHost: ex.org\r\n\r\n",
            target_uri="http://ex.org/a",
            content_type="application/http;msgtype=request",
        ),
    ]


class TestReader:
    def test_roundtrip_both_layouts(self):
        recs = _sample_records()
        for gz in (True, False):
            out = list(W.iter_warc_records(W.build_warc(recs, gz)))
            assert [r["warc_type"] for r in out] == [
                "warcinfo",
                "response",
                "request",
            ]
            resp = out[1]
            assert resp["error"] is None
            assert resp["http_status"] == 200
            assert resp["payload"] == HTML
            assert resp["target_uri"] == "http://ex.org/a"
            assert resp["http_content_type"].startswith("text/html")
            # non-response records carry their raw body as payload
            assert out[0]["payload"] == b"software: test\r\n"

    def test_deterministic_bytes(self):
        assert W.build_warc(_sample_records()) == W.build_warc(
            _sample_records()
        )

    def test_junk_gzip_member_is_error_row_not_failure(self):
        blob = W.build_warc(_sample_records())
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as z:
            z.write(b"JUNK not a warc record")
        out = list(W.iter_warc_records(blob + buf.getvalue()))
        assert len(out) == 4
        assert out[3]["error"] is not None
        assert all(r["error"] is None for r in out[:3])

    def test_truncated_plain_record_stops_stream_with_error(self):
        blob = W.build_warc(_sample_records(), gzip_members=False)
        out = list(W.iter_warc_records(blob[: len(blob) - 40]))
        assert out[-1]["error"] is not None
        assert len(out) <= 3

    def test_bad_http_payload_flagged(self):
        rec = W.build_warc_record(
            "response",
            b"NOT HTTP AT ALL\r\n\r\n",
            target_uri="http://ex.org/b",
            content_type="application/http;msgtype=response",
        )
        (out,) = W.iter_warc_records(W.build_warc([rec]))
        assert out["error"] == "malformed HTTP response"
        assert out["http_status"] is None


class TestGateKernel:
    def test_kernel_matches_oracle_fragments(self, spark):
        """The warc_roundtrip_udf values equal the DuckDB oracle fragments
        row-for-row on ids that hit every branch (301, junk member, both,
        plain 200, short text)."""
        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1, 7, 13, 91, 26],
                "text": [
                    "a b  c " * 20,
                    "word salad normal document body here",
                    "x " * 30,
                    "y " * 40,
                    "z " * 40,
                    "tiny",
                ],
            }
        )
        sdf = spark.createDataFrame(pdf).withColumn(
            "_w", W.warc_roundtrip_udf()(F.col("doc_id"), F.col("text"))
        )
        got = {
            r["doc_id"]: r
            for r in sdf.select("doc_id", "_w.*").collect()
        }
        frags = W.oracle_warc_sql("doc_id", "text")
        sel = ", ".join(f"{sql} AS {name}" for name, sql in frags.items())
        con = duckdb.connect()
        con.register("t", pdf)
        want = {
            r[0]: dict(zip(["doc_id", *frags.keys()], r))
            for r in con.execute(f"SELECT doc_id, {sel} FROM t").fetchall()
        }
        for did in pdf["doc_id"]:
            g, w = got[did], want[did]
            for name in frags:
                assert g[name] == w[name], (did, name, g[name], w[name])

    def test_extract_md5_is_real_extraction(self, spark):
        pdf = pd.DataFrame(
            {"doc_id": [1], "text": ["spaced   out    text here ok thanks"]}
        )
        sdf = spark.createDataFrame(pdf).withColumn(
            "_w", W.warc_roundtrip_udf()(F.col("doc_id"), F.col("text"))
        )
        row = sdf.select("_w.warc_extract_md5").collect()[0]
        norm = "spaced out text here ok thanks"
        assert row[0] == hashlib.md5(norm.encode()).hexdigest()
