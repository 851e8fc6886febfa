"""Pure-Python oracles: per-document transliterations of the reference's
extraction semantics, used ONLY in tests/benchmarks to verify the Spark
pipeline under the north-rule invariant (span-sequence equality of
(kind, text, media_ref, order)).

Each function documents the reference behavior it mirrors (file:line into
/root/reference). This is single-document logic — it intentionally does NOT
scale; the Spark operators in `operators/` are the product.
"""

from __future__ import annotations

import io
import json
import xml.sax.saxutils
from pathlib import PurePosixPath
from typing import Any


def oracle_string_preparation(content: bytes | str) -> str:
    """Mirror of text_processor.py:27-41 (string_preparation):
    strict UTF-8 decode, '\\r'/'\\n' -> ' ', strip, quoteattr."""
    s = content.decode("utf-8") if isinstance(content, bytes) else content
    s = s.replace("\r", " ").replace("\n", " ")
    return xml.sax.saxutils.quoteattr(s.strip())


def oracle_ocr(spans: list[dict[str, Any]]) -> str:
    """Mirror of full_text_document_generator.py:89-109 (get_full_text_field):
    keep txt members, prepare each, sort by member name, join with ' '.

    In the spans model the zip member name is `media_ref` ('TXT%08d'), so
    sorting by media_ref string == the reference's sorted(file_contents).
    """
    contents = {
        s["media_ref"]: oracle_string_preparation(s["text"])
        for s in spans
        if s["kind"] == "txt"
    }
    return " ".join(contents[k] for k in sorted(contents))


def oracle_allfields(catalog_xml: str) -> str:
    """Mirror of full_text_document_generator.py:111-142
    (get_all_fields_field): iterparse fold over datafields with numeric tag
    > 99 at the 'start' event; append subfield texts (or element text when no
    children), stripping the accumulator before each append; final quoteattr.

    lxml is unavailable in this container; the fold runs at stdlib
    ElementTree 'end' events, where children are complete — equivalent for
    the (non-nested) MARC datafield shape, proven by the golden test against
    the reference's own fixture + expected string.
    """
    import xml.etree.ElementTree as ET

    acc = ""
    buf = io.BytesIO(catalog_xml.encode("utf-8"))
    for _event, element in ET.iterparse(buf, events=("end",)):
        if element.tag.find("datafield") > -1:
            tag = element.attrib.get("tag")
            try:
                if int(tag) > 99:
                    children = list(element)
                    if children:
                        for child in children:
                            acc = acc.strip() + " " + str(child.text)
                    elif element.text:
                        acc = acc.strip() + " " + str(element.text)
            except (ValueError, TypeError):
                pass
    return xml.sax.saxutils.quoteattr(acc)


_KIND_RANK = {"txt": 0, "html": 1, "img": 2}


def oracle_extracted_spans(
    spans: list[dict[str, Any]],
) -> list[tuple[str, str, str, int]]:
    """North-rule invariant oracle: the extracted span sequence
    (kind, text, media_ref, offset) in canonical (offset, kind, media_ref)
    order. txt -> string_preparation; html -> main-content extraction then
    string_preparation; img -> ''."""
    from index_search_monorepo_spark.functions.html import extract_main_content

    out = []
    for s in spans:
        if s["kind"] == "txt":
            text = oracle_string_preparation(s["text"])
        elif s["kind"] == "html":
            text = oracle_string_preparation(extract_main_content(s["text"]))
        else:
            text = ""
        out.append((s["kind"], text, s["media_ref"], s["offset"]))
    out.sort(key=lambda t: (t[3], _KIND_RANK.get(t[0], 9), t[2]))
    return out


def oracle_mets_fields(
    page_features: list[dict[str, Any]],
    scanning_order: str,
    reading_order: str,
    cover_tag: str,
) -> dict[str, Any]:
    """Mirror of mets_file_extractor.py:52-86 + full_text_document_generator
    .py:25-43: ht_page_feature = distinct flattened ', '-split LABEL values
    (reference returns list(set(...)) — unordered, so compare sorted);
    reading-order fields pass through."""
    feats: list[str] = []
    for p in page_features:
        label = p["features"]
        if "," in label:
            feats.extend(item for item in label.split(", "))
        else:
            feats.append(label)
    return {
        "ht_page_feature": sorted(set(feats)),
        "ht_scanning_order": scanning_order,
        "ht_reading_order": reading_order,
        "ht_cover_tag": cover_tag,
    }


def oracle_mysql_fields(
    doc_id: str,
    rights_rows: list[dict],
    heldby_rows: list[dict],
    coll_rows: list[dict],
) -> dict[str, Any]:
    """Mirror of mysql_data_extractor.py:91-116:
      rights        — emitted only when EXACTLY ONE rights_current row matches
      ht_heldby     — member list, absent if empty
      ht_heldby_brlm— members with access_count > 0, absent if empty
      coll_id       — distinct MColl_ID, default [0]
    NOTE: the reference's large-collection SQL (mysql_data_extractor.py:56-59)
    is missing the mb_coll_item↔mb_collection join predicate; we implement the
    documented intent (item's collections with num_items > MAX_ITEM_IDS) —
    see test_enrichment.py for the quirk note.
    Lists compared sorted (reference emits DB row order, unspecified)."""
    out: dict[str, Any] = {}
    if len(rights_rows) == 1:
        out["rights"] = rights_rows[0]["attr"]
    heldby = sorted(r["member_id"] for r in heldby_rows)
    if heldby:
        out["ht_heldby"] = heldby
    brlm = sorted(r["member_id"] for r in heldby_rows if r["access_count"] > 0)
    if brlm:
        out["ht_heldby_brlm"] = brlm
    colls = sorted({r["MColl_ID"] for r in coll_rows})
    out["coll_id"] = colls if colls else [0]
    return out


def oracle_item_metadata(record: dict[str, Any], ht_id: str) -> dict[str, Any]:
    """Mirror of catalog_metadata.py:46-106 (CatalogItemMetadata):
      volume_enumcron — ht_id_display[0].split('|')[2], emitted iff len > 1;
                        IndexError -> [] (catalog_metadata.py:58-65, 78-79)
      enumPublishDate — QUIRK (catalog_metadata.py:73-76): doc_json entries
                        have no 'ht_json' key, so the value is ALWAYS None and
                        the field is dropped by the falsy-skipping serializer
                        (text_processor.py:67). We preserve: always absent.
      htsource        — positional pick by index of ht_id in record['ht_id'],
                        IndexError -> element 0 (catalog_metadata.py:95-106)
      vol_id          — the ht_id
      bothPublishDate — record['enumPublishDate'] iff record has truthy 'date'
                        AND 'enumPublishDate' (catalog_metadata.py:21-23)
    """
    out: dict[str, Any] = {}
    if record.get("date") and record.get("enumPublishDate"):
        out["bothPublishDate"] = record.get("enumPublishDate")
    try:
        venum = record.get("ht_id_display")[0].split("|")[2]
    except IndexError:
        venum = []
    # J6 walrus quirk (catalog_metadata.py:85-93): condition is
    # `enum_pubdate and (ht_id == htid)` — enum_pubdate truthiness gates.
    doc_json = [
        item
        for item in json.loads(record.get("ht_json"))
        if item.get("enum_pubdate") and ht_id == item.get("htid")
    ]
    if len(doc_json) > 0:
        ep = doc_json[0].get("ht_json")  # always None — quirk preserved
        if ep:  # falsy-drop at serialization
            out["enumPublishDate"] = ep
    if len(venum) > 1:
        out["volume_enumcron"] = venum
    pos = record.get("ht_id").index(ht_id)
    srcs = record.get("htsource")
    out["htsource"] = srcs[pos] if pos < len(srcs) else srcs[0]
    out["vol_id"] = ht_id
    return out


def oracle_pairtree_sanitize(obj_id: str) -> str:
    """Mirror of ht_document.py:34 (F6): '.'->',', ':'->'+', '/'->'='."""
    return obj_id.translate(str.maketrans({".": ",", ":": "+", "/": "="}))


def oracle_pairtree_path(obj_id: str) -> str:
    """Mirror of ht_document.py:63-74: the 2-char pairtree shard path of
    the sanitized object id; golden: '39015051333915' ->
    '/39/01/50/51/33/39/15/39015051333915'."""
    s = oracle_pairtree_sanitize(obj_id)
    shards = [s[i : i + 2] for i in range(0, len(s), 2)]
    return "/" + "/".join(shards) + "/" + s


def oracle_doc_id_from_zip_path(path: str, namespace: str | None = None) -> str:
    """Zip file stem -> ht_id. The stem is the pairtree-sanitized object id
    (ht_document.py:34); reverse it and prepend the namespace (ht_id =
    namespace '.' object_id, mysql_data_extractor.py:26-38)."""
    stem = PurePosixPath(path.split("file:")[-1]).name
    if stem.endswith(".zip"):
        stem = stem[:-4]
    obj_id = stem.translate(str.maketrans({",": ".", "+": ":", "=": "/"}))
    return f"{namespace}.{obj_id}" if namespace else obj_id
