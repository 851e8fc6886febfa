"""WARC (ISO 28500) web-archive records: a reader, a writer and the
round-trip gate kernel.

The reference's container ingest opens one zip volume per document and
streams its members (full_text_document_generator.py:74-109); WARC is the
same "many records in one sequential container" shape at crawl scale
(fetch container -> HTTP payload -> HTML -> main content).

 - `iter_warc_records` streams records out of one WARC blob: production
   WARCs are concatenated gzip MEMBERS, one record per member (ISO 28500
   annex D recommendation), so a reader finds record boundaries without
   decompressing the whole file; plain uncompressed WARC parses too.
   Malformed records are ERROR ROWS (`error` set, parse continues at the
   next gzip member when possible), never failures.
 - `build_warc` writes them. The driver oracle can't synthesize binary
   containers, so the gate kernel (`warc_roundtrip_udf`) builds WARC bytes
   from planted columns IN the query, parses them with the reader above,
   and exposes oracle-predictable scalars (status, payload length,
   extracted-text md5; `oracle_warc_sql` is the DuckDB side) — the same
   planted-payload pattern as the multimodal gate.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from index_search_monorepo_spark.functions.html import extract_main_content

CRLF = b"\r\n"
WARC_VERSION = b"WARC/1.0"


# ------------------------------------------------------------------ writer


def build_warc_record(
    warc_type: str,
    body: bytes,
    target_uri: str | None = None,
    warc_date: str = "2026-01-15T12:34:56Z",
    content_type: str | None = None,
    record_id: str | None = None,
) -> bytes:
    """One uncompressed WARC record (version line, headers, body, two
    CRLFs). Record id defaults to a deterministic urn:uuid from the body
    md5 so test fixtures are byte-reproducible."""
    if record_id is None:
        h = hashlib.md5(body + warc_type.encode()).hexdigest()
        record_id = (
            f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"
        )
    headers = [
        (b"WARC-Type", warc_type.encode()),
        (b"WARC-Record-ID", record_id.encode()),
        (b"WARC-Date", warc_date.encode()),
    ]
    if target_uri is not None:
        headers.append((b"WARC-Target-URI", target_uri.encode()))
    if content_type is not None:
        headers.append((b"Content-Type", content_type.encode()))
    headers.append((b"Content-Length", str(len(body)).encode()))
    out = bytearray(WARC_VERSION + CRLF)
    for k, v in headers:
        out += k + b": " + v + CRLF
    out += CRLF + body + CRLF + CRLF
    return bytes(out)


def build_warc(records: list[bytes], gzip_members: bool = True) -> bytes:
    """Concatenate records into a WARC file; gzip_members=True writes the
    production layout (one gzip member per record, mtime pinned to 0 so
    the bytes are deterministic)."""
    if not gzip_members:
        return b"".join(records)
    out = bytearray()
    for rec in records:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(rec)
        out += buf.getvalue()
    return bytes(out)


def http_response_bytes(
    status: int,
    body: bytes,
    content_type: str = "text/html; charset=utf-8",
    extra_headers: list[tuple[str, str]] | None = None,
) -> bytes:
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found"}.get(
        status, "Unknown"
    )
    lines = [f"HTTP/1.1 {status} {reason}".encode()]
    lines.append(b"Content-Type: " + content_type.encode())
    for k, v in extra_headers or []:
        lines.append(k.encode() + b": " + v.encode())
    lines.append(b"Content-Length: " + str(len(body)).encode())
    return CRLF.join(lines) + CRLF + CRLF + body


# ------------------------------------------------------------------ reader


def _iter_gzip_members(blob: bytes) -> Iterator[tuple[int, bytes]]:
    """(member_offset, decompressed_bytes) per gzip member — streams via
    zlib's unused_data so record boundaries never require whole-file
    decompression state."""
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=31)
        data = d.decompress(blob[pos:])
        yield pos, data
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:  # no forward progress: corrupt tail
            return
        pos += consumed


def _parse_one_record(data: bytes, base_offset: int) -> tuple[dict, int | None]:
    """Parse a single WARC record from `data` (must start at the version
    line). Returns (record dict, bytes consumed incl. trailing CRLFCRLF);
    consumed is None when the record is malformed (no resync point)."""
    rec = {
        "rec_offset": base_offset,
        "warc_type": None,
        "record_id": None,
        "target_uri": None,
        "warc_date": None,
        "content_type": None,
        "http_status": None,
        "http_content_type": None,
        "payload": None,
        "error": None,
    }
    try:
        head_end = data.index(CRLF + CRLF)
    except ValueError:
        rec["error"] = "truncated record header"
        return rec, None
    head_lines = data[:head_end].split(CRLF)
    if not head_lines or not head_lines[0].startswith(b"WARC/"):
        rec["error"] = "missing WARC version line"
        return rec, None
    headers: dict[str, str] = {}
    for line in head_lines[1:]:
        if b":" not in line:
            rec["error"] = "malformed header line"
            return rec, None
        k, _, v = line.partition(b":")
        headers[k.decode("ascii", "replace").strip().lower()] = v.decode(
            "utf-8", "replace"
        ).strip()
    rec["warc_type"] = headers.get("warc-type")
    rec["record_id"] = headers.get("warc-record-id")
    rec["target_uri"] = headers.get("warc-target-uri")
    rec["warc_date"] = headers.get("warc-date")
    rec["content_type"] = headers.get("content-type")
    try:
        length = int(headers["content-length"])
    except (KeyError, ValueError):
        rec["error"] = "missing/invalid Content-Length"
        return rec, None
    body = data[head_end + 4 : head_end + 4 + length]
    if len(body) < length:
        rec["error"] = "truncated record body"
        return rec, None
    if rec["warc_type"] == "response" and (rec["content_type"] or "").startswith(
        "application/http"
    ):
        status, http_ct, payload = parse_http_response(body)
        rec["http_status"] = status
        rec["http_content_type"] = http_ct
        rec["payload"] = payload
        if status is None:
            rec["error"] = "malformed HTTP response"
    else:
        rec["payload"] = body
    return rec, head_end + 4 + length + 4


def parse_http_response(
    body: bytes,
) -> tuple[int | None, str | None, bytes | None]:
    """(status, content_type, payload) from an application/http;
    msgtype=response block; (None, None, None) when malformed. Payload is
    clipped to Content-Length when present (trailing CRLFs are container
    framing, not payload)."""
    try:
        head_end = body.index(CRLF + CRLF)
    except ValueError:
        return None, None, None
    lines = body[:head_end].split(CRLF)
    parts = lines[0].split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        return None, None, None
    try:
        status = int(parts[1])
    except ValueError:
        return None, None, None
    content_type = None
    length = None
    for line in lines[1:]:
        k, _, v = line.partition(b":")
        lk = k.decode("ascii", "replace").strip().lower()
        if lk == "content-type":
            content_type = v.decode("utf-8", "replace").strip()
        elif lk == "content-length":
            try:
                length = int(v.strip())
            except ValueError:
                pass
    payload = body[head_end + 4 :]
    if length is not None:
        payload = payload[:length]
    return status, content_type, payload


def iter_warc_records(blob: bytes) -> Iterator[dict]:
    """All records in a WARC blob (gzip-membered or plain). Error rows
    carry `error`; a corrupt gzip member stops only that member, a corrupt
    plain-stream record stops the stream at that record (no resync point
    exists without member framing — that asymmetry is WHY production WARCs
    gzip per record)."""
    if blob[:2] == b"\x1f\x8b":
        for off, data in _iter_gzip_members(blob):
            try:
                rec, _ = _parse_one_record(data, off)
                yield rec
            except Exception as e:  # pragma: no cover - defensive
                yield {**_EMPTY_REC, "rec_offset": off, "error": repr(e)}
        return
    pos = 0
    while pos < len(blob):
        rec, consumed = _parse_one_record(blob[pos:], pos)
        yield rec
        if consumed is None:
            return
        pos += consumed


_EMPTY_REC = {
    "rec_offset": 0,
    "warc_type": None,
    "record_id": None,
    "target_uri": None,
    "warc_date": None,
    "content_type": None,
    "http_status": None,
    "http_content_type": None,
    "payload": None,
    "error": None,
}


# ------------------------------------------------- round-trip gate kernel


def warc_roundtrip_udf():
    """Round-trip gate kernel (planted-payload pattern, cf. the multimodal
    gate): per doc, BUILD a gzip-membered WARC in Python (warcinfo +
    response; docs with doc_id % 13 == 0 get a truncated junk member
    appended), PARSE it with the real reader, extract main content from
    the HTML payload, and emit oracle-predictable scalars. Any drift in
    the writer, the member streamer, the record/HTTP parsers, or the
    boilerplate extractor flips a value the DuckDB oracle pins.

    r5b: the same payload also runs the DOM-heuristic surfaces — the
    Readability-style class/id weights (a planted class="comment" block
    that the density rules ALONE would keep must be dropped, or the
    extract md5 flips) and the one-pass metadata parser (title / lang /
    canonical resolution / link extraction with urljoin against the
    record's own target URI).

    Marked nondeterministic (CLAUDE.md lesson #9): callers project struct
    fields, and predicate pushdown below the Project would re-run the
    kernel."""
    from pyspark.sql.functions import pandas_udf

    from index_search_monorepo_spark.functions.html import (
        parse_html_metadata,
    )

    schema = StructType(
        [
            StructField("warc_status", LongType()),
            StructField("warc_uri", StringType()),
            StructField("warc_payload_len", LongType()),
            StructField("warc_extract_md5", StringType()),
            StructField("warc_n_records", LongType()),
            StructField("warc_n_errors", LongType()),
            StructField("warc_title", StringType()),
            StructField("warc_lang", StringType()),
            StructField("warc_canonical", StringType()),
            StructField("warc_n_links", LongType()),
            StructField("warc_first_href", StringType()),
        ]
    )

    def _one(doc_id: int, text: str) -> dict:
        uri = f"http://ex.org/p/{doc_id}"
        if doc_id % 7 == 0:
            http = http_response_bytes(
                301, b"", extra_headers=[("Location", "http://ex.org/r")]
            )
        else:
            html = (
                f'<html lang="en"><head><title>doc{doc_id}</title>'
                f'<meta name="description" content="synthetic page {doc_id}">'
                f'<link rel="canonical" href="/c/{doc_id}">'
                "</head><body>"
                f"<p>{text}</p>"
                '<div class="comment">This comment spam should never reach'
                " the corpus.</div>"
                '<div id="nav"><a href="/n">nav</a> <a href="/m">more nav'
                " links</a>"
                + (f'<a href="/x{doc_id}">x</a>' if doc_id % 3 == 0 else "")
                + "</div></body></html>"
            )
            http = http_response_bytes(200, html.encode("utf-8"))
        records = [
            build_warc_record(
                "warcinfo",
                b"software: index-search-monorepo-spark\r\n",
                content_type="application/warc-fields",
            ),
            build_warc_record(
                "response",
                http,
                target_uri=uri,
                content_type="application/http;msgtype=response",
            ),
        ]
        blob = build_warc(records)
        if doc_id % 13 == 0:
            # one valid gzip member whose contents are NOT a WARC record:
            # the reader must emit an error row and keep going
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(b"JUNK not a record")
            blob += buf.getvalue()
        parsed = list(iter_warc_records(blob))
        good = [r for r in parsed if r["error"] is None]
        errs = [r for r in parsed if r["error"] is not None]
        resp = next(r for r in good if r["warc_type"] == "response")
        payload_text = (resp["payload"] or b"").decode("utf-8")
        if resp["http_status"] == 200 and resp["payload"] is not None:
            extract = extract_main_content(payload_text, dom_weights=True)
            md5 = hashlib.md5(extract.encode("utf-8")).hexdigest()
        else:
            md5 = None
        meta = parse_html_metadata(payload_text, base_uri=resp["target_uri"])
        return {
            "warc_status": resp["http_status"],
            "warc_uri": resp["target_uri"],
            "warc_payload_len": len(resp["payload"] or b""),
            "warc_extract_md5": md5,
            "warc_n_records": len(good),
            "warc_n_errors": len(errs),
            "warc_title": meta["title"],
            "warc_lang": meta["lang"],
            "warc_canonical": meta["canonical"],
            "warc_n_links": len(meta["links"]),
            "warc_first_href": meta["links"][0][0] if meta["links"] else None,
        }

    @pandas_udf(schema)
    def roundtrip(doc_ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_one(int(d), t or "") for d, t in zip(doc_ids, texts)],
            columns=schema.fieldNames(),
        )

    return roundtrip.asNondeterministic()


def oracle_warc_sql(id_expr: str, text_expr: str) -> dict[str, str]:
    """DuckDB mirrors for the round-trip gate columns — kept next to the
    kernel so the planted templates cannot drift. The extracted text of
    the planted page is the whitespace-normalized document text when it
    clears MIN_BLOCK_CHARS (the nav div is boilerplate by construction:
    short + link-dense), else ''."""
    norm = f"trim(regexp_replace({text_expr}, '\\s+', ' ', 'g'))"
    html = (
        "'<html lang=\"en\"><head><title>doc' || CAST({i} AS VARCHAR)"
        " || '</title>"
        "<meta name=\"description\" content=\"synthetic page '"
        " || CAST({i} AS VARCHAR) || '\">"
        "<link rel=\"canonical\" href=\"/c/' || CAST({i} AS VARCHAR) || '\">"
        "</head><body><p>' || {t} || '</p>"
        "<div class=\"comment\">This comment spam should never reach"
        " the corpus.</div>"
        "<div id=\"nav\"><a href=\"/n\">nav</a> <a href=\"/m\">more nav"
        " links</a>'"
        " || CASE WHEN {i} % 3 = 0"
        " THEN '<a href=\"/x' || CAST({i} AS VARCHAR) || '\">x</a>'"
        " ELSE '' END"
        " || '</div></body></html>'"
    ).format(i=id_expr, t=text_expr)
    return {
        "warc_status": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(301 AS BIGINT)"
            " ELSE CAST(200 AS BIGINT) END"
        ),
        "warc_uri": f"'http://ex.org/p/' || CAST({id_expr} AS VARCHAR)",
        "warc_payload_len": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE CAST(octet_length(encode({html})) AS BIGINT) END"
        ),
        "warc_extract_md5": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(NULL AS VARCHAR)"
            f" WHEN len({norm}) >= 25 THEN md5({norm})"
            " ELSE md5('') END"
        ),
        "warc_n_records": "CAST(2 AS BIGINT)",
        "warc_n_errors": (
            f"CASE WHEN {id_expr} % 13 = 0 THEN CAST(1 AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ),
        "warc_title": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(NULL AS VARCHAR)"
            f" ELSE 'doc' || CAST({id_expr} AS VARCHAR) END"
        ),
        "warc_lang": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(NULL AS VARCHAR)"
            " ELSE 'en' END"
        ),
        "warc_canonical": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(NULL AS VARCHAR)"
            f" ELSE 'http://ex.org/c/' || CAST({id_expr} AS VARCHAR) END"
        ),
        "warc_n_links": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(0 AS BIGINT)"
            f" WHEN {id_expr} % 3 = 0 THEN CAST(3 AS BIGINT)"
            " ELSE CAST(2 AS BIGINT) END"
        ),
        "warc_first_href": (
            f"CASE WHEN {id_expr} % 7 = 0 THEN CAST(NULL AS VARCHAR)"
            " ELSE 'http://ex.org/n' END"
        ),
    }
