"""PDF text + layout extraction over binary payload columns (stdlib-only).

The north rule names "PDF/layout parse" as part of the main-content
extraction stage. This module parses real PDF files with nothing but the
standard library (the multimodal.py codec discipline — no PyPDF/poppler
in this container, and none needed for the structural subset a text
pipeline consumes):

 - object layer: a tolerant tokenizer/parser for the PDF COS syntax
   (dicts, arrays, names with #xx escapes, literal strings with
   backslash escapes and balanced parens, hex strings, numbers,
   booleans, indirect references). Objects are discovered by scanning
   for `N G obj ... endobj` directly — no xref dependency — which also
   survives files whose xref table is stale or absent (the common
   real-corpus breakage);
 - streams: `/Length`-delimited with an `endstream`-scan fallback when
   the length is indirect or wrong; `/FlateDecode` inflates via zlib,
   other filters mark the stream undecodable (never an exception);
 - page tree: catalog -> /Pages -> /Kids walk with inheritable
   /Resources and /MediaBox, cycle-guarded;
 - content: a text-state machine over BT/ET, Tf/Td/TD/Tm/T*/TL and the
   show operators Tj ' " TJ, recording each shown string with its text-
   matrix position; `/XObject` `Do` of an `/Subtype /Image` records a
   media span (the interleaved text+media model: kind/text/media_ref/
   order) in content order;
 - layout: reading order re-derived from positions — lines cluster on
   the y coordinate (descending, PDF origin is bottom-left), runs sort
   by x within a line — so out-of-order content streams (two-column or
   z-ordered emitters) still yield the human reading sequence.

`parse_pdf` is the per-document parse. The Spark surface is one fused
kernel, `pdf_profile` (structural metadata plus the layout-ordered text),
in the multimodal kernel shape — `mapInPandas` straight over the scan, no
shuffle, payloads read exactly once. Errors are rows: a malformed payload
is an `ok=false` row with empty text, never a task failure. `build_pdf`
writes the conformant PDFs the tests parse.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)
_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R\b")
_OP_RE = re.compile(rb"[A-Za-z'\"*]+")


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


def _skip_ws(data: bytes, pos: int) -> int:
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c in b"%":
            eol = data.find(b"\n", pos)
            pos = len(data) if eol < 0 else eol + 1
        elif c in _WS:
            pos += 1
        else:
            break
    return pos


def _parse_name(data: bytes, pos: int):
    # pos at '/'
    pos += 1
    start = pos
    n = len(data)
    while pos < n and data[pos : pos + 1] not in _WS + _DELIM:
        pos += 1
    raw = data[start:pos]
    # #xx escapes
    out = re.sub(
        rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw
    )
    return "/" + out.decode("latin-1"), pos


_STR_ESC = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\x0c",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_literal_string(data: bytes, pos: int):
    # pos at '('
    pos += 1
    depth, out = 1, bytearray()
    n = len(data)
    while pos < n:
        c = data[pos : pos + 1]
        if c == b"\\":
            nxt = data[pos + 1 : pos + 2]
            if nxt in _STR_ESC:
                out += _STR_ESC[nxt]
                pos += 2
            elif nxt.isdigit():
                oct_ = data[pos + 1 : pos + 4]
                m = re.match(rb"[0-7]{1,3}", oct_)
                if m:  # \8 / \9 are not octal: fall through to
                    out.append(int(m.group(0), 8) & 0xFF)
                    pos += 1 + len(m.group(0))
                else:  # unknown escape = drop backslash (spec 7.3.4.2)
                    pos += 1
            else:  # line continuation or unknown escape: drop backslash
                pos += 1
        elif c == b"(":
            depth += 1
            out += c
            pos += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out += c
            pos += 1
        else:
            out += c
            pos += 1
    return bytes(out), pos


def _parse_object(data: bytes, pos: int):
    """Parse one COS object at pos; returns (value, new_pos)."""
    pos = _skip_ws(data, pos)
    c = data[pos : pos + 1]
    if c == b"/":
        return _parse_name(data, pos)
    if c == b"(":
        return _parse_literal_string(data, pos)
    if data.startswith(b"<<", pos):
        pos += 2
        d = {}
        while True:
            pos = _skip_ws(data, pos)
            if data.startswith(b">>", pos):
                return d, pos + 2
            if pos >= len(data):
                return d, pos
            key, pos = _parse_name(data, pos)
            val, pos = _parse_object(data, pos)
            d[key] = val
    if c == b"<":
        end = data.find(b">", pos + 1)
        if end < 0:
            return b"", len(data)
        hexs = re.sub(rb"\s", b"", data[pos + 1 : end])
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii")), end + 1
    if c == b"[":
        pos += 1
        arr = []
        while True:
            pos = _skip_ws(data, pos)
            if data.startswith(b"]", pos):
                return arr, pos + 1
            if pos >= len(data):
                return arr, pos
            val, pos = _parse_object(data, pos)
            arr.append(val)
    if data.startswith(b"true", pos):
        return True, pos + 4
    if data.startswith(b"false", pos):
        return False, pos + 5
    if data.startswith(b"null", pos):
        return None, pos + 4
    m = _NUM_RE.match(data, pos)
    if m:
        # indirect reference: NUM GEN R  (matched at pos — no tail copy,
        # this parser runs per token over multi-MB payloads)
        ref = _REF_RE.match(data, pos)
        if ref:
            return Ref(int(ref.group(1))), ref.end()
        tok = m.group(0)
        val = float(tok) if b"." in tok else int(tok)
        return val, m.end()
    return None, pos + 1  # unknown token: skip one byte, stay tolerant


def _scan_objects(data: bytes) -> dict:
    """All `N G obj` bodies -> {num: (value, raw_stream_or_None)}.

    The scan resumes AFTER each object's stream body, so binary stream
    bytes that happen to contain 'N G obj' can never clobber a real
    object (last-write-wins would otherwise silently drop pages)."""
    objs = {}
    spos = 0
    while True:
        m = _OBJ_RE.search(data, spos)
        if m is None:
            break
        num = int(m.group(1))
        val, pos = _parse_object(data, m.end())
        stream = None
        pos = _skip_ws(data, pos)
        if data.startswith(b"stream", pos):
            pos += 6
            if data.startswith(b"\r\n", pos):
                pos += 2
            elif data.startswith(b"\n", pos):
                pos += 1
            length = val.get("/Length") if isinstance(val, dict) else None
            end = -1
            if isinstance(length, int):
                cand = pos + length
                if data[cand : cand + 20].lstrip(b"\r\n ").startswith(
                    b"endstream"
                ):
                    end = cand
            if end >= 0:
                # exact /Length extent: every byte belongs to the stream
                # (an rstrip here would corrupt Flate data whose
                # compressed bytes end in 0x0a/0x0d)
                stream = data[pos:end]
            else:  # indirect/wrong Length: scan, trim the EOL we added
                end = data.find(b"endstream", pos)
                if end >= 0:
                    stream = data[pos:end].rstrip(b"\r\n")
            if end >= 0:
                pos = end + len(b"endstream")
        objs[num] = (val, stream)
        spos = max(pos, m.end())
    return objs


class _Doc:
    def __init__(self, objs: dict):
        self.objs = objs

    def resolve(self, v):
        seen = 0
        while isinstance(v, Ref) and seen < 32:
            v = self.objs.get(v.num, (None, None))[0]
            seen += 1
        return v

    def stream(self, ref) -> bytes | None:
        if not isinstance(ref, Ref):
            return None
        val, raw = self.objs.get(ref.num, (None, None))
        if raw is None:
            return None
        filt = self.resolve(val.get("/Filter")) if isinstance(val, dict) else None
        if isinstance(filt, list):
            filt = [self.resolve(f) for f in filt]
        else:
            filt = [filt] if filt else []
        out = raw
        for f in filt:
            if f == "/FlateDecode":
                try:
                    out = zlib.decompress(out)
                except zlib.error:
                    return None
            else:
                return None  # unsupported filter: undecodable, not fatal
        return out


def _walk_pages(doc: _Doc, node, inherited: dict, acc: list, seen: set):
    node = doc.resolve(node)
    if not isinstance(node, dict) or len(acc) > 10_000:
        return
    merged = dict(inherited)
    for k in ("/Resources", "/MediaBox"):
        if k in node:
            merged[k] = node[k]
    if node.get("/Type") == "/Page" or (
        "/Contents" in node and "/Kids" not in node
    ):
        acc.append({**merged, **node})
        return
    kids = doc.resolve(node.get("/Kids"))
    if isinstance(kids, list):
        for kid in kids:
            key = kid.num if isinstance(kid, Ref) else id(kid)
            if key in seen:
                continue
            seen.add(key)
            _walk_pages(doc, kid, merged, acc, seen)


# ---------------------------------------------------------------------------
# Content-stream interpretation
# ---------------------------------------------------------------------------

def _decode_pdf_string(b: bytes) -> str:
    if b.startswith(b"\xfe\xff"):  # UTF-16BE text string
        try:
            return b[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return b[2:].decode("latin-1")
    return b.decode("latin-1")


def _interpret_content(content: bytes, image_names: dict) -> list[dict]:
    """Run the text-state machine; return spans in CONTENT ORDER:
    {'kind','text','media_ref','x','y'} (media spans have text=None)."""
    spans: list[dict] = []
    stack: list = []
    # text matrix (e=x, f=y) and line matrix; leading
    tm = tlm = (0.0, 0.0)
    leading = 0.0
    pos, n = 0, len(content)
    while pos < n:
        pos = _skip_ws(content, pos)
        if pos >= n:
            break
        c = content[pos : pos + 1]
        if c in b"/([<" or c.isdigit() or c in b"+-." or (
            c == b"<" and content.startswith(b"<<", pos)
        ):
            val, pos = _parse_object(content, pos)
            stack.append(val)
            continue
        m = _OP_RE.match(content, pos)
        if not m:
            pos += 1
            continue
        op = m.group(0).decode("latin-1")
        pos = m.end()

        def fnum(i: int, default: float = 0.0) -> float:
            try:
                v = stack[i]
                return float(v) if isinstance(v, (int, float)) else default
            except IndexError:
                return default

        if op == "BT":
            tm = tlm = (0.0, 0.0)
        elif op in ("Td", "TD"):
            if op == "TD":
                leading = -fnum(-1)
            tlm = (tlm[0] + fnum(-2), tlm[1] + fnum(-1))
            tm = tlm
        elif op == "Tm":
            tlm = (fnum(-2), fnum(-1))
            tm = tlm
        elif op == "TL":
            leading = fnum(-1)
        elif op == "T*":
            tlm = (tlm[0], tlm[1] - leading)
            tm = tlm
        elif op in ("Tj", "'", '"'):
            if op in ("'", '"'):  # both imply the T* line advance
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
            s = stack[-1] if stack else b""
            if isinstance(s, bytes):
                spans.append(
                    {
                        "kind": "txt",
                        "text": _decode_pdf_string(s),
                        "media_ref": None,
                        "x": tm[0],
                        "y": tm[1],
                    }
                )
        elif op == "TJ":
            arr = stack[-1] if stack and isinstance(stack[-1], list) else []
            text = "".join(
                _decode_pdf_string(el) for el in arr if isinstance(el, bytes)
            )
            if text:
                spans.append(
                    {
                        "kind": "txt",
                        "text": text,
                        "media_ref": None,
                        "x": tm[0],
                        "y": tm[1],
                    }
                )
        elif op == "Do":
            name = stack[-1] if stack else None
            if isinstance(name, str) and name in image_names:
                spans.append(
                    {
                        "kind": "media",
                        "text": None,
                        "media_ref": image_names[name],
                        "x": tm[0],
                        "y": tm[1],
                    }
                )
        # operands always belong to the operator just executed
        stack = []
    return spans


def _layout_text(spans: list[dict], y_tol: float = 2.0) -> str:
    """Reading order: cluster text runs into lines on y (descending),
    sort by x within a line, join runs with a space and lines with \\n."""
    runs = [s for s in spans if s["kind"] == "txt" and s["text"]]
    if not runs:
        return ""
    runs.sort(key=lambda s: (-s["y"], s["x"]))
    lines: list[list[dict]] = []
    for r in runs:
        if lines and abs(lines[-1][0]["y"] - r["y"]) <= y_tol:
            lines[-1].append(r)
        else:
            lines.append([r])
    return "\n".join(
        " ".join(r["text"] for r in sorted(ln, key=lambda s: s["x"]))
        for ln in lines
    )


def parse_pdf(payload: bytes) -> dict:
    """Parse a PDF payload -> {'ok','version','n_pages','pages'} where
    each page is {'page_no','text','spans'} (spans in content order,
    text in layout reading order). Never raises on malformed input."""
    bad = {"ok": False, "version": None, "n_pages": 0, "pages": []}
    try:
        if not payload or not payload.startswith(b"%PDF-"):
            return bad
        version = payload[5:8].decode("latin-1", "replace")
        objs = _scan_objects(payload)
        if not objs:
            return bad
        doc = _Doc(objs)
        # /Encrypt lives in the trailer dict (classic xref) or in the
        # /Type /XRef stream dict (PDF 1.5+) — never in the catalog
        for m in re.finditer(rb"trailer", payload):
            tval, _ = _parse_object(payload, m.end())
            if isinstance(tval, dict) and "/Encrypt" in tval:
                return {**bad, "version": version}
        for _num, (val, _s) in objs.items():
            if (
                isinstance(val, dict)
                and val.get("/Type") == "/XRef"
                and "/Encrypt" in val
            ):
                return {**bad, "version": version}
        catalog = None
        for _num, (val, _s) in objs.items():
            if isinstance(val, dict) and val.get("/Type") == "/Catalog":
                catalog = val
                break
        if catalog is None or "/Encrypt" in catalog:
            return {**bad, "version": version}
        pages: list = []
        _walk_pages(doc, catalog.get("/Pages"), {}, pages, set())
        out_pages = []
        for i, pg in enumerate(pages):
            res = doc.resolve(pg.get("/Resources")) or {}
            xobjs = doc.resolve(res.get("/XObject")) if isinstance(res, dict) else {}
            image_names = {}
            if isinstance(xobjs, dict):
                for name, ref in xobjs.items():
                    tgt = doc.resolve(ref)
                    if isinstance(tgt, dict) and tgt.get("/Subtype") == "/Image":
                        obj_no = ref.num if isinstance(ref, Ref) else -1
                        image_names[name] = f"img:{obj_no}"
            contents = pg.get("/Contents")
            refs = contents if isinstance(contents, list) else [contents]
            body = b"\n".join(
                doc.stream(r) or b"" for r in refs if r is not None
            )
            spans = _interpret_content(body, image_names)
            out_pages.append(
                {
                    "page_no": i + 1,
                    "text": _layout_text(spans),
                    "spans": spans,
                }
            )
        return {
            "ok": True,
            "version": version,
            "n_pages": len(out_pages),
            "pages": out_pages,
        }
    except Exception:
        return bad


# ---------------------------------------------------------------------------
# Spark kernel (multimodal.py shape: mapInPandas over the scan, no shuffle)
# ---------------------------------------------------------------------------

PDF_PROFILE_SCHEMA = (
    "doc_id long, n_bytes long, ok boolean, pdf_version string, "
    "n_pages long, n_text_spans long, n_media_spans long, doc_text string"
)


def pdf_profile(df_with_payload: DataFrame) -> DataFrame:
    """Fused kernel: structural metadata AND the layout-ordered document
    text (pages joined by \\f) in ONE Arrow pass — the payload bytes
    deserialize once (the extract_media_features fusion pattern)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_b in batches:
            rows = []
            for doc_id, payload in zip(pdf_b["doc_id"], pdf_b["payload"]):
                p = bytes(payload) if payload is not None else b""
                d = parse_pdf(p)
                spans = [s for pg in d["pages"] for s in pg["spans"]]
                rows.append(
                    (
                        doc_id,
                        len(p),
                        d["ok"],
                        d["version"],
                        d["n_pages"],
                        sum(1 for s in spans if s["kind"] == "txt"),
                        sum(1 for s in spans if s["kind"] == "media"),
                        "\f".join(pg["text"] for pg in d["pages"]),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "ok", "pdf_version", "n_pages",
                    "n_text_spans", "n_media_spans", "doc_text",
                ],
            )

    return df_with_payload.mapInPandas(fn, PDF_PROFILE_SCHEMA)


# ---------------------------------------------------------------------------
# Minimal conformant writer (test scaffolding, like the jpeg.py encoder):
# classic xref, optional Flate content streams, optional image XObjects.
# ---------------------------------------------------------------------------

def build_pdf(
    pages: list[list[tuple]],
    compress: bool = False,
    images_per_page: int = 0,
) -> bytes:
    """pages: one list of (x, y, text) runs per page; runs are emitted in
    the GIVEN order (so tests can emit out of reading order). Each page
    optionally references `images_per_page` 1x1 image XObjects via Do."""
    objs: list[bytes] = []  # bodies; object number = index+1

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    font = add(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    img_ids = [
        add(
            b"<< /Type /XObject /Subtype /Image /Width 1 /Height 1 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 1 >>"
            b"\nstream\n\x7f\nendstream"
        )
        for _ in range(images_per_page)
    ]
    page_ids = []
    content_ids = []
    for runs in pages:
        parts = [b"BT /F1 12 Tf"]
        for x, y, text in runs:
            esc = (
                text.encode("latin-1")
                .replace(b"\\", b"\\\\")
                .replace(b"(", b"\\(")
                .replace(b")", b"\\)")
            )
            parts.append(
                b"1 0 0 1 %d %d Tm (%s) Tj" % (int(x), int(y), esc)
            )
        parts.append(b"ET")
        for i in range(images_per_page):
            parts.append(b"q 1 0 0 1 10 10 cm /Im%d Do Q" % i)
        body = b" ".join(parts)
        if compress:
            z = zlib.compress(body)
            content_ids.append(
                add(
                    b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
                    % (len(z), z)
                )
            )
        else:
            content_ids.append(
                add(
                    b"<< /Length %d >>\nstream\n%s\nendstream"
                    % (len(body), body)
                )
            )
    pages_id = len(objs) + len(pages) + 1  # pages node comes after leaves
    for cid in content_ids:
        xobj = b" ".join(
            b"/Im%d %d 0 R" % (i, oid) for i, oid in enumerate(img_ids)
        )
        page_ids.append(
            add(
                b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                b"/Resources << /Font << /F1 %d 0 R >> /XObject << %s >> >> "
                b"/Contents %d 0 R >>" % (pages_id, font, xobj, cid)
            )
        )
    kids = b" ".join(b"%d 0 R" % p for p in page_ids)
    assert add(
        b"<< /Type /Pages /Kids [%s] /Count %d >>" % (kids, len(page_ids))
    ) == pages_id
    catalog = add(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, catalog, xref_at)
    )
    return bytes(out)
