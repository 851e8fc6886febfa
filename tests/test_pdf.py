"""PDF text/layout extraction: writer->parser round-trips (the jpeg.py
conformance pattern), content-stream operator semantics, layout reading
order, tolerance to malformed input, and the no-shuffle Spark kernel."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

from index_search_monorepo_spark.operators import pdf as P

PAGES = [
    # emitted out of reading order on purpose: layout must resort by y
    [(72, 100, "Second line."), (72, 700, "First line."),
     (200, 700, "tail run.")],
    [(72, 500, "Page two text.")],
]


class TestParser:
    def test_round_trip_plain_and_flate(self):
        for compress in (False, True):
            d = P.parse_pdf(
                P.build_pdf(PAGES, compress=compress, images_per_page=1)
            )
            assert d["ok"] and d["n_pages"] == 2 and d["version"] == "1.4"
            assert d["pages"][0]["text"] == (
                "First line. tail run.\nSecond line."
            )
            assert d["pages"][1]["text"] == "Page two text."

    def test_media_spans_in_content_order(self):
        d = P.parse_pdf(P.build_pdf(PAGES, images_per_page=2))
        spans = d["pages"][0]["spans"]
        # text shows first (content order), then the two Do ops
        assert [s["kind"] for s in spans] == ["txt"] * 3 + ["media"] * 2
        assert all(
            s["media_ref"].startswith("img:")
            for s in spans
            if s["kind"] == "media"
        )

    def test_string_escapes_and_hex_and_tj(self):
        content = (
            rb"BT /F1 10 Tf 10 700 Td (a\(b\)c \\ \101) Tj "
            rb"0 -20 TD [(kerned) -120 ( pair)] TJ "
            rb"T* <48 69> Tj ET"
        )
        spans = P._interpret_content(content, {})
        assert [s["text"] for s in spans] == ["a(b)c \\ A", "kerned pair", "Hi"]
        # TD set leading=20; T* moved one more line down
        ys = [s["y"] for s in spans]
        assert ys == [700.0, 680.0, 660.0]

    def test_quote_ops_advance_line(self):
        content = rb"BT 20 TL 10 700 Td (one.) Tj (two.) ' ET"
        spans = P._interpret_content(content, {})
        assert [(s["text"], s["y"]) for s in spans] == [
            ("one.", 700.0),
            ("two.", 680.0),
        ]

    def test_utf16_text_string(self):
        content = b"BT 10 700 Td (\xfe\xff\x00H\x00i) Tj ET"
        spans = P._interpret_content(content, {})
        assert spans[0]["text"] == "Hi"

    def test_malformed_inputs_never_raise(self):
        good = P.build_pdf(PAGES)
        for payload in (
            b"",
            b"not a pdf",
            good[: len(good) // 2],      # truncated
            good.replace(b"/Catalog", b"/Nothing"),
            b"%PDF-1.4\n1 0 obj << /Type /Catalog /Encrypt 9 0 R "
            b"/Pages 2 0 R >> endobj",
        ):
            d = P.parse_pdf(payload)
            assert d["ok"] is False or d["n_pages"] >= 0

    def test_page_tree_cycle_guard(self):
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            b"2 0 obj << /Type /Pages /Kids [2 0 R] /Count 1 >> endobj\n"
        )
        assert P.parse_pdf(pdf)["n_pages"] == 0


def _payload_frame(spark, payloads):
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], schema
    )


class TestSparkKernels:
    def test_metadata_and_spans(self, spark):
        df = _payload_frame(
            spark,
            [
                P.build_pdf(PAGES, compress=True, images_per_page=1),
                b"broken payload",
            ],
        )
        meta = {r["doc_id"]: r for r in P.pdf_profile(df).collect()}
        assert meta[0]["ok"] and meta[0]["n_pages"] == 2
        assert meta[0]["n_text_spans"] == 4  # 3 + 1 across both pages
        assert meta[0]["n_media_spans"] == 2  # one Do per page
        assert meta[0]["doc_text"] == (
            "First line. tail run.\nSecond line.\fPage two text."
        )
        assert meta[1]["ok"] is False and meta[1]["n_pages"] == 0
        assert meta[1]["doc_text"] == ""

    def test_no_shuffle_plan(self, spark):
        df = _payload_frame(spark, [P.build_pdf(PAGES)])
        plan = P.pdf_profile(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "MapInPandas" in plan, plan


class TestReviewRegressions:
    """Pins for the r4c review findings (each was a verified defect)."""

    def test_flate_stream_tail_bytes_survive(self):
        """A correct-/Length Flate stream whose compressed bytes end in
        0x0a/0x0d must not be rstripped (finding: silently empty page)."""
        for i in range(300):
            t = f"Line number {i} with payload."
            d = P.parse_pdf(P.build_pdf([[(72, 700, t)]], compress=True))
            assert d["ok"] and d["pages"][0]["text"] == t, (i, d)

    def test_unknown_numeric_escape_drops_backslash(self):
        pdf = P.build_pdf([[(72, 700, "Good line one.")]])
        d = P.parse_pdf(
            pdf.replace(b"(Good line one.)", b"(Good \\9 line.)")
        )
        assert d["ok"] and d["pages"][0]["text"] == "Good 9 line."

    def test_obj_marker_inside_stream_body_ignored(self):
        pdf = P.build_pdf([[(72, 700, "Real page text.")]])
        evil = pdf.replace(b"\x7f\nendstream", b"3 0 obj\nendstream")
        d = P.parse_pdf(evil)
        assert d["n_pages"] == 1
        assert d["pages"][0]["text"] == "Real page text."

    def test_trailer_encrypt_detected(self):
        pdf = P.build_pdf([[(72, 700, "Secret text.")]])
        enc = pdf.replace(
            b"trailer\n<< /Size", b"trailer\n<< /Encrypt 9 0 R /Size"
        )
        d = P.parse_pdf(enc)
        assert d["ok"] is False and d["version"] == "1.4"


from hypothesis import given, settings, strategies as st  # noqa: E402

# latin-1-safe printable text; parens/backslashes exercise the escaper
_RUN_TEXT = st.text(
    alphabet=st.characters(
        codec="latin-1", categories=("L", "N", "P", "Zs")
    ),
    min_size=1,
    max_size=40,
).map(lambda s: s.replace("\r", " ").replace("\n", " "))


class TestPdfProperty:
    @settings(max_examples=40, deadline=None)
    @given(
        texts=st.lists(_RUN_TEXT, min_size=1, max_size=6),
        compress=st.booleans(),
        seed=st.integers(0, 2**31),
    )
    def test_round_trip_any_text(self, texts, compress, seed):
        """Writer->parser round trip over arbitrary latin-1 run text at
        arbitrary positions: every run comes back byte-identical and in
        y-descending reading order."""
        rng_ys = [(700 - 20 * i) for i in range(len(texts))]
        runs = [(72 + (seed % 50), y, t) for y, t in zip(rng_ys, texts)]
        d = P.parse_pdf(P.build_pdf([runs], compress=compress))
        assert d["ok"] and d["n_pages"] == 1
        got = [s["text"] for s in d["pages"][0]["spans"]]
        assert got == texts
        # distinct descending ys -> layout order equals emission order
        assert d["pages"][0]["text"] == "\n".join(texts)

    @settings(max_examples=30, deadline=None)
    @given(payload=st.binary(min_size=0, max_size=400))
    def test_arbitrary_bytes_never_raise(self, payload):
        d = P.parse_pdf(b"%PDF-1.4\n" + payload)
        assert d["n_pages"] >= 0 and isinstance(d["ok"], bool)
