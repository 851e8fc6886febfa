"""Boilerplate classification / main-content extraction over kind='html'
spans — the net-new capability required by the north rule (the reference
indexes raw OCR without boilerplate stripping; SURVEY.md §2.9
`classify_boilerplate`).

Deterministic text-density heuristic in the spirit of the public Arc90
Readability and jusText algorithms (Pomikálek 2011): score block elements by
text length and link density; keep content blocks; join with a single space.
Implemented on stdlib html.parser (no lxml in this container).

Two tokenizers drive ONE set of classification handlers (`_ContentParser`):
 - the spec, `extract_main_content`: stdlib `HTMLParser` over any input.
   The per-document test oracle (`oracle_extracted_spans`) calls it, so the
   oracle never depends on the fast path;
 - the fast path, `_fast_main_content`: one regex over a strict HTML subset
   (text, whitelisted start tags with quoted attributes, plain end tags,
   ASCII whitespace inside tags). Anything outside the subset returns None
   and that one input re-runs on the spec. Only `extract_main_content_batch`
   (the Spark Arrow UDF's entry) tries it.
Span-sequence equality between Spark and the oracle is exact because the
fast path is property-tested against the spec
(tests/test_html_classifier.py), not because both run the same tokenizer.

Spec (the function IS the spec — deterministic by construction):
 - block elements: p, h1..h6, li, td, th, blockquote, pre, article, section,
   div
 - character data accumulates into the INNERMOST open block; text inside an
   <a> additionally accumulates into that block's link-text
 - script/style contents are dropped
 - on block close: normalize whitespace; keep iff
     * the block saw no nested block element (leaf blocks only — a wrapper
       div's own stray text is boilerplate), and
     * normalized length >= MIN_BLOCK_CHARS, and
     * link_density = len(link_text)/len(text) <= MAX_LINK_DENSITY
 - kept blocks are emitted in close order (== document order for leaf
   blocks); joined with a single space
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

_WS = re.compile(r"\s+")

BLOCK_TAGS = frozenset(
    ["p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
     "blockquote", "pre", "article", "section", "div"]
)
_SKIP_TAGS = frozenset(["script", "style"])
_VOID_TAGS = frozenset(
    ["br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr"]
)
MIN_BLOCK_CHARS = 25
MAX_LINK_DENSITY = 0.33

# DOM-weight heuristics (r5; opt-in via dom_weights=True): Arc90
# Readability's class/id scoring reduced to a deterministic tri-state.
# A block whose class/id matches NEGATIVE_HINTS is boilerplate regardless
# of density (and so is everything nested under it — comment threads are
# full of long, link-free leaf blocks the density rules alone would keep);
# a POSITIVE match keeps shorter blocks (>= MIN_POSITIVE_CHARS) and relaxes
# the link-density cap to MAX_POSITIVE_LINK_DENSITY. Positive hints do NOT
# propagate to children (conservative: a content wrapper often contains a
# nav bar).
NEGATIVE_HINTS = re.compile(
    r"comment|sidebar|footer|foot|nav|menu|advert|banner|promo|share|"
    r"social|sponsor|widget|breadcrumb|pager|popup|masthead",
)
POSITIVE_HINTS = re.compile(
    r"article|content|main|entry|post|text|story|column|bodycopy",
)
MIN_POSITIVE_CHARS = 10
MAX_POSITIVE_LINK_DENSITY = 0.66


def _norm(text: str) -> str:
    return _WS.sub(" ", text).strip()


class _Block:
    __slots__ = ("text", "link_text", "has_nested_block", "weight")

    def __init__(self, weight: int = 0) -> None:
        self.text: list[str] = []
        self.link_text: list[str] = []
        self.has_nested_block = False
        self.weight = weight


def _dom_weight(attrs) -> int:
    """Tri-state class/id score: -1 negative, +1 positive, 0 neutral.
    Negative wins on a tie (a 'main-footer' is a footer)."""
    hints = " ".join(
        v for k, v in attrs if k in ("class", "id") and v
    ).lower()
    if not hints:
        return 0
    if NEGATIVE_HINTS.search(hints):
        return -1
    if POSITIVE_HINTS.search(hints):
        return 1
    return 0


class _ContentParser(HTMLParser):
    def __init__(self, dom_weights: bool = False) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[_Block] = []
        self.kept: list[str] = []
        self.a_depth = 0
        self.skip_depth = 0
        self.dom_weights = dom_weights

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            return
        if tag in _SKIP_TAGS:
            self.skip_depth += 1
            return
        if tag == "a":
            self.a_depth += 1
        if tag in BLOCK_TAGS:
            for b in self.blocks:
                b.has_nested_block = True
            weight = 0
            if self.dom_weights:
                weight = _dom_weight(attrs)
                # negativity propagates: every block nested under an open
                # negative block is boilerplate (comment threads)
                if any(b.weight < 0 for b in self.blocks):
                    weight = -1
            self.blocks.append(_Block(weight))

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        if tag == "a":
            self.a_depth = max(0, self.a_depth - 1)
        if tag in BLOCK_TAGS and self.blocks:
            b = self.blocks.pop()
            if b.has_nested_block or b.weight < 0:
                return
            text = _norm("".join(b.text))
            link_text = _norm("".join(b.link_text))
            min_chars = (
                MIN_POSITIVE_CHARS if b.weight > 0 else MIN_BLOCK_CHARS
            )
            max_ld = (
                MAX_POSITIVE_LINK_DENSITY
                if b.weight > 0
                else MAX_LINK_DENSITY
            )
            if len(text) < min_chars:
                return
            if len(link_text) / len(text) > max_ld:
                return
            self.kept.append(text)

    def handle_data(self, data):
        if self.skip_depth or not self.blocks:
            return
        self.blocks[-1].text.append(data)
        if self.a_depth:
            self.blocks[-1].link_text.append(data)


def extract_main_content(html: str, dom_weights: bool = False) -> str:
    """Classify each leaf block as content vs boilerplate and return the
    concatenated content text. Deterministic; returns '' on unparseable or
    empty input (never raises — bad HTML is boilerplate, not an error).
    dom_weights=True adds the Readability-style class/id tri-state on top
    of the density rules (opt-in so existing span goldens are stable)."""
    if not html:
        return ""
    try:
        parser = _ContentParser(dom_weights=dom_weights)
        parser.feed(html)
        parser.close()
    except Exception:
        return ""
    return " ".join(parser.kept)


# Fast-path tag whitelist. Every other name (script/style, which HTMLParser
# reads as CDATA, and title/textarea, which newer CPython reads as RCDATA)
# sends the document to the spec.
_FAST_TAGS = BLOCK_TAGS | _VOID_TAGS | frozenset(
    ["a", "html", "body", "head", "header", "footer", "nav", "main", "aside",
     "span", "b", "i", "u", "s", "em", "strong", "small", "big", "sub",
     "sup", "code", "kbd", "samp", "var", "abbr", "cite", "dfn", "q", "mark",
     "font", "center", "ul", "ol", "dl", "dt", "dd", "table", "thead",
     "tbody", "tfoot", "tr", "caption", "figure", "figcaption", "label"]
)
# One token per match, alternatives tried in order:
#  text  — a run up to the next markup `<`; a `<` not followed by
#          [A-Za-z/!?] is text to HTMLParser too;
#  start — <name (ws attr ws* = ws* "v"|'v')* ws* > ;
#  end   — </name ws* > ;
#  bad   — any other `<`: the document is outside the subset.
# Every position matches some alternative, so findall's tuples tile the
# document (findall builds no match objects, about half the cost of
# finditer here).
# Whitespace inside tags is the ASCII set only: HTMLParser's \s is Unicode,
# but its tag name runs through NBSP and friends (`<p\xa0class="x">` is one
# tag named 'p\xa0class="x"'), so this subset stays out of that corner.
_WS_TAG = r"[ \t\n\r\f]"
_FAST_TOKEN = re.compile(
    r"(?P<text>(?:[^<]|<(?![A-Za-z/!?]))[^<]*(?:<(?![A-Za-z/!?])[^<]*)*)"
    r"|<(?P<start>[A-Za-z][A-Za-z0-9]*)"
    rf"(?:{_WS_TAG}+[A-Za-z_:][-A-Za-z0-9_:.]*{_WS_TAG}*={_WS_TAG}*"
    r"(?:\"[^\"]*\"|'[^']*'))*"
    rf"{_WS_TAG}*>"
    rf"|</(?P<end>[A-Za-z][A-Za-z0-9]*){_WS_TAG}*>"
    r"|(?P<bad><)"
)


def _fast_main_content(html: str) -> str | None:
    """`extract_main_content(html)` for documents inside the fast-path
    subset (module docstring); None for any other document. Drives the
    spec's handlers directly, so only tokenization differs from the spec."""
    parser = _ContentParser()
    for text, start, end, bad in _FAST_TOKEN.findall(html):
        if text:
            parser.handle_data(unescape(text))
            continue
        if bad:
            return None
        tag = (start or end).lower()
        if tag not in _FAST_TAGS:
            return None
        if start:
            parser.handle_starttag(tag, [])
        else:
            parser.handle_endtag(tag)
    return " ".join(parser.kept)


def extract_main_content_batch(texts, dom_weights: bool = False) -> list[str]:
    """Vectorized form over a sequence (the Spark UDF's entry): each text
    takes the fast path when it fits the subset, else the spec. dom_weights
    needs attributes, which the fast path does not parse."""
    out = []
    for t in texts:
        fast = None if dom_weights or not t else _fast_main_content(t)
        out.append(extract_main_content(t, dom_weights) if fast is None else fast)
    return out


class _MetadataParser(HTMLParser):
    """One-pass DOM metadata collector: first <title> text, <html lang>,
    meta description, canonical link, and every <a href> with its
    normalized anchor text (script/style subtrees skipped)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title_parts: list[str] = []
        self.in_title = False
        self.title_done = False
        self.lang: str | None = None
        self.description: str | None = None
        self.canonical: str | None = None
        self.links: list[tuple[str, str]] = []
        self._a_href: str | None = None
        self._a_parts: list[str] = []
        self.skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self.skip_depth += 1
            return
        d = dict(attrs)
        if tag == "html" and self.lang is None:
            self.lang = d.get("lang")
        elif tag == "title" and not self.title_done:
            self.in_title = True
        elif tag == "meta":
            if (
                (d.get("name") or "").lower() == "description"
                and self.description is None
            ):
                self.description = d.get("content")
        elif tag == "link":
            if (
                (d.get("rel") or "").lower() == "canonical"
                and self.canonical is None
            ):
                self.canonical = d.get("href")
        elif tag == "a":
            if self._a_href is not None:  # nested <a>: close the outer one
                self.links.append((self._a_href, _norm("".join(self._a_parts))))
            self._a_href = d.get("href")
            self._a_parts = []

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        if tag == "title":
            self.in_title = False
            self.title_done = True
        elif tag == "a" and self._a_href is not None:
            self.links.append((self._a_href, _norm("".join(self._a_parts))))
            self._a_href = None
            self._a_parts = []

    def handle_data(self, data):
        if self.skip_depth:
            return
        if self.in_title:
            self.title_parts.append(data)
        if self._a_href is not None:
            self._a_parts.append(data)


def parse_html_metadata(html: str, base_uri: str | None = None) -> dict:
    """DOM metadata dict: title, lang, description, canonical,
    links [(href, anchor)] — hrefs resolved against base_uri (stdlib
    urljoin) and filtered to http(s) when a base is given; href-less <a>
    anchors are ignored. Never raises; empty/unparseable -> all-None with
    no links."""
    out = {
        "title": None,
        "lang": None,
        "description": None,
        "canonical": None,
        "links": [],
    }
    if not html:
        return out
    try:
        p = _MetadataParser()
        p.feed(html)
        p.close()
    except Exception:
        return out
    title = _norm("".join(p.title_parts))
    out["title"] = title or None
    out["lang"] = p.lang
    out["description"] = p.description
    out["canonical"] = p.canonical
    links = [(h, a) for h, a in p.links if h]
    if base_uri:
        from urllib.parse import urljoin, urlsplit

        resolved = []
        for h, a in links:
            try:
                absu = urljoin(base_uri, h)
            except ValueError:
                continue
            if urlsplit(absu).scheme in ("http", "https"):
                resolved.append((absu, a))
        links = resolved
        if out["canonical"]:
            try:
                out["canonical"] = urljoin(base_uri, out["canonical"])
            except ValueError:
                pass
    out["links"] = links
    return out
