"""Spec tests for the boilerplate classifier (functions/html.py) — the
north-rule net-new capability. The spec function doubles as the test oracle
for span-sequence equality, so its behavior is pinned here directly, and
the regex fast path the Spark UDF takes is property-tested against it."""

from __future__ import annotations

import random

from hypothesis import given, settings, strategies as st

from index_search_monorepo_spark.functions.html import (
    MAX_LINK_DENSITY,
    MIN_BLOCK_CHARS,
    _fast_main_content,
    extract_main_content,
    extract_main_content_batch,
)
from index_search_monorepo_spark.sources.synthetic import _html_text

CONTENT = "This is a long enough paragraph of real article content to keep."
NAVBAR = '<div><a href="/">Home</a> <a href="/x">About</a> <a href="/y">More</a></div>'


def test_keeps_long_content_drops_link_dense_nav():
    html = f"<html><body>{NAVBAR}<p>{CONTENT}</p></body></html>"
    assert extract_main_content(html) == CONTENT


def test_min_block_chars():
    short = "too short"
    assert len(short) < MIN_BLOCK_CHARS
    assert extract_main_content(f"<p>{short}</p>") == ""
    long_enough = "x" * MIN_BLOCK_CHARS
    assert extract_main_content(f"<p>{long_enough}</p>") == long_enough


def test_link_density_threshold():
    text = "Read the full story here today"  # 30 chars
    linky = f'<p><a href="#">{text[:15]}</a>{text[15:]}</p>'
    # link density 0.5 > MAX_LINK_DENSITY -> dropped
    assert MAX_LINK_DENSITY < 0.5
    assert extract_main_content(linky) == ""
    plain = f"<p>{text}</p>"
    assert extract_main_content(plain) == text


def test_script_style_dropped_and_leaf_blocks_only():
    html = (
        "<div>wrapper stray text that is quite long but not a leaf block"
        f"<p>{CONTENT}</p>"
        f"<script>var boilerplate = '{CONTENT}';</script>"
        f"<style>p {{ color: red }}</style>"
        "</div>"
    )
    assert extract_main_content(html) == CONTENT


def test_multiple_blocks_in_document_order():
    a = "First paragraph with plenty of characters for the threshold."
    b = "Second paragraph also long enough to pass the length check."
    html = f"<article><p>{a}</p><p>{b}</p></article>"
    assert extract_main_content(html) == f"{a} {b}"


def test_never_raises_on_garbage():
    assert extract_main_content("") == ""
    assert extract_main_content("<<<<not html>>>>") == ""
    assert extract_main_content("<p unclosed") == ""
    assert extract_main_content_batch(["", f"<p>{CONTENT}</p>"]) == ["", CONTENT]


def test_whitespace_normalized():
    messy = "Lots   of\n\nwhitespace   inside this long enough block here."
    html = f"<p>Lots   of\n\nwhitespace   inside this long enough block here.</p>"
    want = " ".join(messy.split())
    assert extract_main_content(html) == want


# ------------------------------------------------- fast path vs the spec

_MARKUP = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<h2>", "</h2>", "<li>", "</li>",
    "<span>", "</span>", "<b>", "</b>", "<html>", "<body>", "</body>",
    "<P>", "</P >", "</ p>", "<DIV>", "</Div\n>", "<br>", "<br/>",
    '<a href="/x">', "</a>", "<A HREF='/y'>", "</A>", '<img src="i.png">',
    '<p class="main text">', "<div id='nav' >", '<p\tdata-x = "a>b">',
    "<p class=x>", "<div id=nav>", "<input disabled>",
    '<p\xa0class="x">', "</p\xa0>", "<p\x0b>", "<p\x00>", "<p-x>",
    "<!-- note -->", "<!--<p>hidden text inside a comment block</p>-->",
    "<!DOCTYPE html>", "<![CDATA[x < y]]>", "<?xml version='1.0'?>", "</>",
    "<script>var s = '<p>';</script>", "<style>p { color: red }</style>",
    "<title>a title</title>", "<textarea><p>typed</p></textarea>",
    "<script>", "</script>", "<style>", "<title>", "<textarea>",
    "<p", '<div class="x', "<unknown>", "</unknown>",
])
_TEXT = st.sampled_from([
    "plain words of ordinary article text ",
    "a fairly long sentence that passes the minimum block length ",
    "&amp;", "&copy", "&copy;", "&#x41;", "&#0;", "&", " & ", "&notit; ",
    "&#", "&#x;", "<", " < ", "<3", "a<", "\xa0", "\x0b", "\x00", "\n",
    "\t", "  ", "\r\n",
])
_HTML_DOCS = st.lists(st.one_of(_MARKUP, _TEXT), max_size=40).map("".join)


@settings(max_examples=1000, deadline=None)
@given(_HTML_DOCS)
def test_fast_path_matches_spec(html):
    """Zero mismatches: wherever the fast path answers, it answers exactly
    what HTMLParser does; the batch entry (fast path or fallback) always
    equals the spec."""
    fast = _fast_main_content(html)
    assert fast is None or fast == extract_main_content(html)
    assert extract_main_content_batch([html]) == [extract_main_content(html)]


def test_fast_path_subset_boundary():
    inside = [
        f'<P class="a" id=\'b\'>{CONTENT} &amp; &copy &#x41; 1 < 2</P >',
        f"<div><p>{CONTENT}</p>\xa0<a href='/'>x</a></div><br><img src=\"i\">",
        f"<ul><li><b>{CONTENT}</b></li></ul> trailing < text &",
        "",
    ]
    for html in inside:
        assert _fast_main_content(html) == extract_main_content(html)
    outside = [
        f"<!-- c --><p>{CONTENT}</p>", "<!DOCTYPE html>", "<?pi?>", "<br/>",
        "</ p>", "<p class=x>", '<p\xa0class="x">', "<p\x0b>",
        "<script>x</script>", "<style>", "<title>", "<textarea>", "<p",
        "<unknown>",
    ]
    for html in outside:
        assert _fast_main_content(html) is None, html


def test_synthetic_html_takes_fast_path():
    """Every html span the synthetic corpora generate stays on the fast
    path — a fallback here would silently give back the UDF speed-up."""
    rng = random.Random(0)
    for _ in range(300):
        html = _html_text(rng)
        fast = _fast_main_content(html)
        assert fast is not None and fast == extract_main_content(html)


# --------------------------------------------------------- DOM weights (r5)


def test_dom_weights_drop_negative_classes():
    """A long, link-free comment block passes the density rules but must be
    dropped by the class/id tri-state (opt-in)."""
    html = (
        "<p>the genuine article body text is long enough to keep</p>"
        '<div class="comment">this comment thread text is also long enough'
        " to keep by density rules alone</div>"
    )
    from index_search_monorepo_spark.functions.html import (
        extract_main_content,
    )

    assert "comment thread" in extract_main_content(html)
    out = extract_main_content(html, dom_weights=True)
    assert "comment thread" not in out
    assert "genuine article body" in out


def test_dom_weights_negative_propagates_to_children():
    html = (
        '<div class="sidebar"><p>long enough nested sidebar paragraph text'
        " here</p></div>"
        "<p>real content paragraph stays in the output here</p>"
    )
    from index_search_monorepo_spark.functions.html import (
        extract_main_content,
    )

    out = extract_main_content(html, dom_weights=True)
    assert "sidebar" not in out
    assert "real content paragraph" in out


def test_dom_weights_positive_keeps_short_blocks():
    from index_search_monorepo_spark.functions.html import (
        extract_main_content,
    )

    html = '<p class="article-text">short but real</p>'
    assert extract_main_content(html) == ""          # < MIN_BLOCK_CHARS
    assert extract_main_content(html, dom_weights=True) == "short but real"


def test_dom_weights_negative_wins_tie():
    from index_search_monorepo_spark.functions.html import (
        extract_main_content,
    )

    html = '<p class="main-footer">long enough text in an ambiguous box</p>'
    assert extract_main_content(html, dom_weights=True) == ""


def test_dom_weights_off_by_default_is_stable():
    """The flag must not change the default path (existing span goldens)."""
    from index_search_monorepo_spark.functions.html import (
        extract_main_content,
    )

    html = '<div class="comment">long enough comment text to keep here</div>'
    assert extract_main_content(html) == (
        "long enough comment text to keep here"
    )


# ------------------------------------------------------- DOM metadata (r5)


def test_parse_html_metadata_full():
    from index_search_monorepo_spark.functions.html import (
        parse_html_metadata,
    )

    html = (
        '<html lang="de"><head><title> My  Title </title>'
        '<meta name="description" content="a page">'
        '<link rel="canonical" href="/canon">'
        "</head><body>"
        '<a href="/one">first</a>'
        '<a href="two.html">second link</a>'
        '<a href="mailto:x@y.z">mail</a>'
        '<a>no href</a>'
        "<script>var a = '<a href=\"/fake\">x</a>';</script>"
        "</body></html>"
    )
    m = parse_html_metadata(html, base_uri="http://ex.org/dir/page")
    assert m["title"] == "My Title"
    assert m["lang"] == "de"
    assert m["description"] == "a page"
    assert m["canonical"] == "http://ex.org/canon"
    assert m["links"] == [
        ("http://ex.org/one", "first"),
        ("http://ex.org/dir/two.html", "second link"),
    ]


def test_parse_html_metadata_no_base_keeps_raw_hrefs():
    from index_search_monorepo_spark.functions.html import (
        parse_html_metadata,
    )

    m = parse_html_metadata('<a href="/rel">x</a>')
    assert m["links"] == [("/rel", "x")]
    assert m["title"] is None


def test_parse_html_metadata_never_raises():
    from index_search_monorepo_spark.functions.html import (
        parse_html_metadata,
    )

    for junk in ("", None, "<<<>>>", "<a href='"):
        m = parse_html_metadata(junk or "")
        assert m["links"] == [] and m["title"] is None
