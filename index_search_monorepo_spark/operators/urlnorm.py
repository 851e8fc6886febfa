"""RFC 3986 URL canonicalization — the crawl tier's dedup primitive.

The frontier (operators/frontier.py), the URL filters
(operators/urlfilter.py) and the link graph (operators/pagerank.py) all
key on URL strings; without canonicalization the same resource spelled
`HTTP://Ex.COM:80/a/../b` and `http://ex.com/b` is fetched, filtered and
counted twice. This module normalizes absolute hierarchical URLs with
the standard safe transformations (RFC 3986 §6.2.2 syntax-based
normalization plus the crawl-specific query cleanup every production
crawler applies):

 - scheme and host lowercased; trailing root-dot of the host stripped
 - default ports dropped (http:80, https:443); userinfo preserved
 - fragment removed
 - percent-encoding normalized in path and query: hex digits uppercased,
   unreserved characters (ALPHA / DIGIT / '-' '.' '_' '~', §2.3) decoded
 - dot-segments resolved (§5.2.4 remove_dot_segments) AFTER percent
   normalization, so `/%2e%2e/` collapses like `/../` (WHATWG order)
 - empty path -> '/'
 - query: empty params dropped, tracking params removed (utm_* prefix
   family plus the exact names in TRACKING_PARAMS), remaining params
   byte-sorted (stable canonical form; disable with sort_query=False)

Everything is pure Catalyst codegen — split / transform / aggregate /
regexp over the URL string, zero Python, zero shuffles — so it composes
into any scan at 100 TB for free. The per-step intermediates are bound
behind Project boundaries by the df-level API (CLAUDE.md lesson #1:
interpreted HOFs get no common-subexpression elimination).

`canonical_url_py` is an independently-written pure-Python mirror used
by the tests (property + planted cases); the driver gate pins planted
hand-derivable classes on the `string_preparation` entry.

Reference parity note: the reference repo normalizes identifiers, not
URLs (its inputs are pairtree ids); this operator is part of the
web-scale crawl tier the north rule adds on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_BIG = 1 << 30

# RFC 3986 §2.3 unreserved characters, keyed by UPPERCASE hex code
UNRESERVED = {
    f"{ord(c):02X}": c
    for c in (
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        "abcdefghijklmnopqrstuvwxyz"
        "0123456789-._~"
    )
}

# Exact tracking-param names every major crawl/analytics cleanup drops;
# utm_* is matched as a prefix family.
TRACKING_PARAMS = (
    "fbclid",
    "gclid",
    "msclkid",
    "mc_eid",
    "igshid",
    "yclid",
    "_ga",
)
TRACKING_PREFIXES = ("utm_",)


def _unreserved_map() -> Column:
    pairs: list[Column] = []
    for code, ch in UNRESERVED.items():
        pairs.append(F.lit(code))
        pairs.append(F.lit(ch))
    return F.create_map(*pairs)


def pct_normalize_expr(col: Column) -> Column:
    """Uppercase %XX hex, decode unreserved characters. Split on '%':
    every piece after the first begins where an escape started."""
    m = _unreserved_map()
    pieces = F.split(col, "%", -1)

    def fix(p: Column, i: Column) -> Column:
        code = F.upper(F.substring(p, 1, 2))
        dec = F.try_element_at(m, code)
        tail = F.substring(p, 3, _BIG)
        return F.when(i == 0, p).otherwise(
            F.when(~p.rlike("^[0-9A-Fa-f]{2}"), F.concat(F.lit("%"), p))
            .when(dec.isNotNull(), F.concat(dec, tail))
            .otherwise(F.concat(F.lit("%"), code, tail))
        )

    return F.array_join(F.transform(pieces, fix), "")


def remove_dot_segments_expr(path: Column) -> Column:
    """RFC 3986 §5.2.4 over an absolute path (leading '/'), as one
    aggregate over the segment array: '.' skipped, '..' pops (never the
    root), a final '.' or '..' leaves a trailing slash, duplicate
    slashes are preserved (they are real empty segments per the RFC)."""
    segs = F.split(path, "/", -1)
    stack = F.aggregate(
        segs,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when((s == "..") & (F.size(acc) > 1), F.slice(acc, 1, F.size(acc) - 1))
            .when(s == "..", acc)
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    joined = F.array_join(stack, "/")
    ends_dot = path.rlike(r"(^|/)\.\.?$")
    joined = F.when(
        ends_dot & ~joined.endswith("/"), F.concat(joined, F.lit("/"))
    ).otherwise(joined)
    return F.when(joined == "", F.lit("/")).otherwise(joined)


def clean_query_expr(
    q: Column,
    drop_exact: tuple[str, ...] = TRACKING_PARAMS,
    drop_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
    sort_query: bool = True,
) -> Column:
    """'&'-split params: drop empties and tracking params, byte-sort."""
    params = F.split(q, "&", -1)

    def keep(p: Column) -> Column:
        name = F.substring_index(p, "=", 1)
        cond = p != ""
        if drop_exact:
            cond = cond & ~name.isin(*drop_exact)
        for pref in drop_prefixes:
            cond = cond & ~name.startswith(pref)
        return cond

    kept = F.filter(params, keep)
    if sort_query:
        kept = F.array_sort(kept)
    return F.array_join(kept, "&")


def with_canonical_url(
    df: DataFrame,
    url_col: str = "url",
    out_col: str = "canon_url",
    sort_query: bool = True,
    drop_params: tuple[str, ...] = TRACKING_PARAMS,
    drop_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
) -> DataFrame:
    """Adds `out_col` = canonical form of `url_col`. Non-hierarchical
    inputs (no `scheme://`) pass through trimmed and unchanged. Each
    stage is a separate Project so no stage's expression is re-evaluated
    by the next (lesson #1)."""
    u0, sch, aft = "_cu0", "_cusch", "_cuaft"
    auth, rest = "_cuauth", "_curest"
    host, port = "_cuhost", "_cuport"
    pr, qr = "_cupraw", "_cuqraw"
    pn, qn = "_cupn", "_cuqn"
    tmp = [u0, sch, aft, auth, rest, host, port, pr, qr, pn, qn]

    out = (
        df.withColumn(u0, F.trim(F.col(url_col)))
        # fragment strip rides the same Project as the trim binding
        .withColumn(u0, F.regexp_replace(F.col(u0), "#.*$", ""))
        .withColumn(
            sch,
            F.lower(
                F.regexp_extract(F.col(u0), r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1)
            ),
        )
        .withColumn(
            aft,
            F.regexp_replace(F.col(u0), r"^[A-Za-z][A-Za-z0-9+.\-]*://", ""),
        )
        .withColumn(auth, F.regexp_extract(F.col(aft), r"^([^/?]*)", 1))
        .withColumn(
            rest, F.col(aft).substr(F.length(auth) + 1, F.lit(_BIG))
        )
        # authority -> userinfo@ (kept verbatim) + host + :port
        .withColumn(
            host,
            F.lower(
                F.regexp_replace(
                    F.regexp_extract(F.col(auth), r"([^@]*)$", 1),
                    r"(:\d*)?$",
                    "",
                )
            ),
        )
        .withColumn(
            host, F.regexp_replace(F.col(host), r"\.$", "")
        )
        .withColumn(
            port,
            F.regexp_extract(
                F.regexp_extract(F.col(auth), r"([^@]*)$", 1), r":(\d+)$", 1
            ),
        )
        .withColumn(pr, F.regexp_extract(F.col(rest), r"^([^?]*)", 1))
        .withColumn(
            qr,
            F.when(
                F.instr(F.col(rest), "?") > 0,
                F.col(rest).substr(
                    F.instr(F.col(rest), "?") + 1, F.lit(_BIG)
                ),
            ).otherwise(F.lit("")),
        )
        .withColumn(pn, pct_normalize_expr(F.col(pr)))
        .withColumn(pn, remove_dot_segments_expr(F.col(pn)))
        .withColumn(
            qn,
            clean_query_expr(
                pct_normalize_expr(F.col(qr)),
                drop_exact=drop_params,
                drop_prefixes=drop_prefixes,
                sort_query=sort_query,
            ),
        )
    )
    ui = F.regexp_extract(F.col(auth), r"^(.*@)", 1)
    default_port = (
        (F.col(port) == "")
        | ((F.col(sch) == "http") & (F.col(port) == "80"))
        | ((F.col(sch) == "https") & (F.col(port) == "443"))
    )
    assembled = F.concat(
        F.col(sch),
        F.lit("://"),
        ui,
        F.col(host),
        F.when(default_port, F.lit("")).otherwise(
            F.concat(F.lit(":"), F.col(port))
        ),
        F.col(pn),
        F.when(F.col(qn) == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col(qn))
        ),
    )
    out = out.withColumn(
        out_col,
        F.when(F.col(sch) == "", F.col(u0)).otherwise(assembled),
    )
    return out.drop(*tmp)


# ---------------------------------------------------------------- python ---
# Independent mirror for tests: same semantics, written against the RFC
# directly (not a transliteration of the expressions above).


def _pct_normalize_py(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "%" and i + 2 < len(s) + 1:
            hx = s[i + 1 : i + 3]
            if len(hx) == 2 and all(
                ch in "0123456789abcdefABCDEF" for ch in hx
            ):
                code = hx.upper()
                out.append(UNRESERVED.get(code, "%" + code))
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _remove_dot_segments_py(path: str) -> str:
    stack: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(stack) > 1:
                stack.pop()
            continue
        stack.append(seg)
    joined = "/".join(stack)
    last = path.rsplit("/", 1)[-1]
    if last in (".", "..") and not joined.endswith("/"):
        joined += "/"
    return joined or "/"


def canonical_url_py(
    url: str,
    sort_query: bool = True,
    drop_params: tuple[str, ...] = TRACKING_PARAMS,
    drop_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
) -> str:
    import re as _re

    u = url.strip()
    u = _re.sub(r"#.*$", "", u, flags=_re.DOTALL)
    m = _re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*)://", u)
    if not m:
        return u
    scheme = m.group(1).lower()
    after = u[m.end() :]
    am = _re.match(r"^([^/?]*)", after)
    auth = am.group(1)
    rest = after[len(auth) :]
    ui = auth[: auth.rindex("@") + 1] if "@" in auth else ""
    hostport = auth[len(ui) :]
    pm = _re.search(r":(\d*)$", hostport)
    if pm:
        host, port = hostport[: pm.start()], pm.group(1)
    else:
        host, port = hostport, ""
    host = host.lower()
    if host.endswith("."):
        host = host[:-1]
    if (
        port == ""
        or (scheme == "http" and port == "80")
        or (scheme == "https" and port == "443")
    ):
        port_s = ""
    else:
        port_s = ":" + port
    qpos = rest.find("?")
    path = rest if qpos < 0 else rest[:qpos]
    query = "" if qpos < 0 else rest[qpos + 1 :]
    path = _remove_dot_segments_py(_pct_normalize_py(path))
    params = [p for p in _pct_normalize_py(query).split("&") if p]
    kept = []
    for p in params:
        name = p.split("=", 1)[0]
        if name in drop_params or any(
            name.startswith(pre) for pre in drop_prefixes
        ):
            continue
        kept.append(p)
    if sort_query:
        kept.sort()
    q_s = "?" + "&".join(kept) if kept else ""
    return f"{scheme}://{ui}{host}{port_s}{path}{q_s}"
