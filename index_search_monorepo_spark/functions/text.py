"""Scalar text functions (SURVEY.md §2.7 F1–F7) as *pure column expressions*.

These reproduce, bit-exactly, the string semantics of the reference's
`libs/common_lib/src/ht_utils/text_processor.py:27-41` (string_preparation),
`:10-24` (xmlesc), and `app/ht_indexer/src/document_generator/
mysql_data_extractor.py:26-38` (namespace/id split) — but as JVM-side Catalyst
expressions so they run inside whole-stage codegen, never in Python, on the
100 TB hot path (one Python twin, `string_preparation`, serves text that is
already inside a Python worker). The Python oracles live in
`index_search_monorepo_spark/oracle/reference_oracle.py` and the parity tests
in `tests/test_text.py` (including Hypothesis round-trips vs CPython's
`xml.sax.saxutils.quoteattr`).
"""

from __future__ import annotations

from xml.sax.saxutils import quoteattr

from pyspark.sql import Column
from pyspark.sql import functions as F

# The exact set of characters CPython's str.strip() removes (str.isspace()
# truth set). Java's trim()/\s are narrower (no U+00A0, U+1680, ... and no
# \x1c-\x1f), so we strip with an explicit character class.
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f "
    "\x85\xa0 "
    "           "
    "    　"
)

def pystrip(col: Column) -> Column:
    """Python-str.strip() parity: strip the full unicode whitespace set.

    btrim with an explicit character set is O(stripped ends), not a
    full-string regex pass — on the per-page OCR hot path the previous
    anchored regexp_replace was one of ~9 full-string passes per page
    (memory-bandwidth-bound at 32 cores; see BENCH scaling notes)."""
    return F.btrim(col, F.lit(PY_WHITESPACE))


def _xml_escape(col: Column) -> Column:
    """xml.sax.saxutils.escape: '&' first, then '<', '>'."""
    col = F.replace(col, F.lit("&"), F.lit("&amp;"))
    col = F.replace(col, F.lit("<"), F.lit("&lt;"))
    col = F.replace(col, F.lit(">"), F.lit("&gt;"))
    return col


def quoteattr_expr(col: Column, crlf_possible: bool = True) -> Column:
    """Bit-exact `xml.sax.saxutils.quoteattr` (CPython) as a column expr.

    Semantics (matched against CPython source; golden-tested):
      1. escape & < > plus quoteattr's extra entities \\n->&#10;
         \\r->&#13; \\t->&#9;
      2. if '"' in s: if "'" also in s -> wrap in '"', escaping '"'->&quot;
                      else -> wrap in "'"
         else -> wrap in '"'

    Pass crlf_possible=False when the input provably contains no \\r/\\n
    (e.g. after string_preparation's CR/LF->space replacement) to skip two
    full-string no-op passes. The escaped intermediate is bound once via a
    single-element transform: this expression runs inside higher-order
    lambdas (the per-page OCR path) where interpreted evaluation has no
    common-subexpression elimination, so a naive `when(contains(esc),...)`
    recomputes the whole escape chain up to 3x per page."""
    esc = _xml_escape(col)
    if crlf_possible:
        esc = F.replace(esc, F.lit("\n"), F.lit("&#10;"))
        esc = F.replace(esc, F.lit("\r"), F.lit("&#13;"))
    esc = F.replace(esc, F.lit("\t"), F.lit("&#9;"))

    def wrap(e: Column) -> Column:
        has_dq = F.contains(e, F.lit('"'))
        has_sq = F.contains(e, F.lit("'"))
        return (
            F.when(
                has_dq & has_sq,
                F.concat(
                    F.lit('"'),
                    F.replace(e, F.lit('"'), F.lit("&quot;")),
                    F.lit('"'),
                ),
            )
            .when(has_dq, F.concat(F.lit("'"), e, F.lit("'")))
            .otherwise(F.concat(F.lit('"'), e, F.lit('"')))
        )

    return F.element_at(F.transform(F.array(esc), lambda e: wrap(e)), 1)


def string_preparation_expr(col: Column) -> Column:
    """F1 — reference `string_preparation` (text_processor.py:27-41):
    replace '\\r'->' ', '\\n'->' ', str.strip(), then quoteattr().

    The reference takes raw bytes and strict-decodes UTF-8 first; in our
    columnar model decode happened at ingest and undecodable pages are routed
    to the error sink (see operators/errors.py), so this expression starts
    from a string column.
    """
    # translate fuses the two single-char replaces into ONE string pass
    s = F.translate(col, "\r\n", "  ")
    # CR/LF were just replaced, so quoteattr's &#10;/&#13; passes are no-ops
    return quoteattr_expr(pystrip(s), crlf_possible=False)


def string_preparation(s: str) -> str:
    """Python twin of `string_preparation_expr`, for text that is already
    in a Python worker (the html classifier's Arrow UDF prepares its own
    output instead of handing it back to an interpreted JVM lambda)."""
    return quoteattr(s.replace("\r", " ").replace("\n", " ").strip())


def xmlesc_expr(col: Column) -> Column:
    """F2 — reference `xmlesc` (text_processor.py:10-24): five-entity
    translate. Note &apos;/&quot; are escaped here, unlike quoteattr."""
    col = F.replace(col, F.lit("&"), F.lit("&amp;"))
    col = F.replace(col, F.lit("<"), F.lit("&lt;"))
    col = F.replace(col, F.lit(">"), F.lit("&gt;"))
    col = F.replace(col, F.lit("'"), F.lit("&apos;"))
    col = F.replace(col, F.lit('"'), F.lit("&quot;"))
    return col


def namespace_expr(doc_id: Column) -> Column:
    """F5 — namespace = text before the FIRST '.'
    (mysql_data_extractor.py:26-38)."""
    return F.split(doc_id, "\\.", 2)[0]


def object_id_expr(doc_id: Column) -> Column:
    """F5 — object id = remainder after the first '.'; NULL when no dot
    (reference returns None)."""
    parts = F.split(doc_id, "\\.", 2)
    return F.when(F.size(parts) > 1, parts[1]).otherwise(F.lit(None))


def zero_pad_id_expr(col: Column, width: int = 9) -> Column:
    """F7 — zfill(9) iff shorter (ht_utils.py:133-140). lpad also truncates
    longer strings, zfill does not — guard with length."""
    return F.when(F.length(col) < width, F.lpad(col, width, "0")).otherwise(col)


def strip_leading_zeros_expr(col: Column) -> Column:
    """F7 — lstrip('0') or '0' (ht_utils.py:142-148)."""
    stripped = F.regexp_replace(col, "^0+", "")
    return F.when(stripped == "", F.lit("0")).otherwise(stripped)


def pairtree_sanitize_expr(col: Column) -> Column:
    """F6 — pairtree character sanitize (ht_document.py:63-74 /
    oracle_pairtree_sanitize, column form): '.'->',',
    ':'->'+', '/'->'='."""
    return F.translate(col, "./:", ",=+")


def pairtree_path_expr(col: Column) -> Column:
    """F6 — 2-char pairtree shard path of the sanitized object id
    (ht_document.py:63-74): '39015051333915' ->
    '/39/01/50/51/33/39/15/39015051333915'. Pure codegen: translate +
    regexp_extract_all + array_join."""
    s = pairtree_sanitize_expr(col)
    # bind the sanitized id once behind a single-expression boundary
    # (CLAUDE.md lesson #1: interpreted exprs referenced k times run k
    # times) — element_at(transform(array(s), ...), 1)
    return F.element_at(
        F.transform(
            F.array(s),
            lambda x: F.concat(
                F.lit("/"),
                F.array_join(
                    F.regexp_extract_all(x, F.lit("(.{1,2})"), 1), "/"
                ),
                F.lit("/"),
                x,
            ),
        ),
        1,
    )
