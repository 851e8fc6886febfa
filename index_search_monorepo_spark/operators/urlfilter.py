"""URL/domain curation operators (C4 / RefinedWeb-style source filtering).

Web-scale training corpora are filtered by where a document came from
before any content signal is computed: extract the host from the document
URL, reduce it to a registered domain, and drop documents whose domain —
or any parent domain — is on a blocklist (RefinedWeb §3.1 "URL filtering";
C4 applied the same idea with a word-level blocklist). This module gives
that stage a Spark-first shape:

 - host/registered-domain/TLD extraction is pure codegen regex + array
   expressions in the Java-regex/RE2 common subset, so the DuckDB oracle
   reproduces every byte (the pii.py parity discipline);
 - blocklist matching is label-suffix-aware ("example.com" blocks
   "www.example.com" but never "notexample.com") via a bounded per-row
   suffix array (a host has only as many suffixes as labels);
 - a static blocklist (Python list) compiles to a LITERAL array membership
   test (`with_url_features(blocked=...)`'s flag) — zero joins, the flag
   rides the scan.

No counterpart in /root/reference (it indexes a closed library corpus);
part of the training-data curation set the build brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Host part of an absolute URL: scheme '://', optional userinfo, then
# everything up to ':' (port), '/', '?' or '#'. Java-regex/RE2 common
# subset (non-capturing groups + character classes only).
_HOST_RE = r"^[a-z][a-z0-9+.\-]*://(?:[^/?#@]+@)?([^/?#:]+)"
_HOST_RE_SQL = "^[a-z][a-z0-9+.\\-]*://(?:[^/?#@]+@)?([^/?#:]+)"
_IP_RE = r"^[0-9]{1,3}(\.[0-9]{1,3}){3}$"


def host_expr(url: Column) -> Column:
    """Lowercased host of an absolute URL ('' when not an absolute URL).
    NULL urls behave as '' — a NULL here would propagate into the blocked
    flag and make `filter(~blocked)` silently drop every null-URL row."""
    h = F.regexp_extract(
        F.lower(F.coalesce(url, F.lit(""))), _HOST_RE, 1
    )
    return F.regexp_replace(h, r"\.$", "")


def is_ip_host_expr(host: Column) -> Column:
    return host.rlike(_IP_RE)


def tld_expr(host: Column) -> Column:
    return F.coalesce(
        F.try_element_at(F.split(host, r"\."), F.lit(-1)), F.lit("")
    )


def registered_domain_expr(host: Column) -> Column:
    """Last two labels of the host ('example.com' for 'a.b.example.com');
    IP hosts and single-label hosts pass through unchanged. A public-
    suffix-list lookup slots in here when precision beyond label count
    is needed — the join shape below does not change."""
    labels = F.split(host, r"\.")
    return F.when(
        is_ip_host_expr(host) | (F.size(labels) <= 1), host
    ).otherwise(F.array_join(F.slice(labels, -2, 2), "."))


def domain_suffixes_expr(host: Column) -> Column:
    """All label suffixes of a host: 'a.b.com' -> ['a.b.com','b.com','com'].

    Bounded by label count (hosts have ~2-6 labels), so the per-row array
    is tiny regardless of corpus size. The labels array is bound once as
    a lambda variable (CLAUDE.md lesson 1: interpreted HOFs have no CSE).
    """
    return F.element_at(
        F.transform(
            F.array(F.split(host, r"\.")),
            lambda ls: F.transform(
                F.sequence(F.lit(1), F.size(ls)),
                lambda i: F.array_join(F.slice(ls, i, F.size(ls)), "."),
            ),
        ),
        1,
    )


def with_url_features(
    df: DataFrame,
    url_col: str = "url",
    blocked: list[str] | None = None,
    prefix: str = "url_",
) -> DataFrame:
    """Add host / registered-domain / TLD / IP-host columns (and, when a
    static `blocked` list is given, a `<prefix>blocked` flag).

    Pure per-row column expressions — the flag against a static list is a
    literal-array membership test on the suffix array, so the whole stage
    is a zero-shuffle projection that rides the scan. The host is bound
    once behind a Project boundary: five derived columns reference it and
    regex extraction is not cheap (CLAUDE.md lesson 1).
    """
    host_c = f"{prefix}host"
    out = df.withColumn(host_c, host_expr(F.col(url_col)))
    h = F.col(host_c)
    out = (
        out.withColumn(f"{prefix}registered_domain", registered_domain_expr(h))
        .withColumn(f"{prefix}tld", tld_expr(h))
        .withColumn(f"{prefix}is_ip", is_ip_host_expr(h))
    )
    if blocked is not None:
        lits = F.array(*[F.lit(b.lower()) for b in blocked]) if blocked else (
            F.array().cast("array<string>")
        )
        out = out.withColumn(
            f"{prefix}blocked",
            F.arrays_overlap(domain_suffixes_expr(h), lits),
        )
    return out


def oracle_url_sql(url_sql: str, blocked: list[str] | None = None) -> dict:
    """DuckDB SQL mirroring the Spark expressions byte-for-byte (parity
    helper in the pii.py style). Returns {'host','registered_domain',
    'tld','is_ip'[, 'blocked']} SQL fragments over `url_sql`."""
    host = (
        f"regexp_replace(regexp_extract(lower(coalesce({url_sql}, '')), "
        f"'{_HOST_RE_SQL}', 1), '\\.$', '')"
    )
    ls = f"string_split({host}, '.')"
    is_ip = f"regexp_matches({host}, '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}$')"
    out = {
        "host": host,
        "registered_domain": (
            f"CASE WHEN {is_ip} OR len({ls}) <= 1 THEN {host} "
            f"ELSE array_to_string({ls}[greatest(len({ls})-1,1):len({ls})],"
            f" '.') END"
        ),
        "tld": f"coalesce({ls}[len({ls})], '')",
        "is_ip": is_ip,
    }
    if blocked is not None:
        litlist = ", ".join("'" + b.lower() + "'" for b in blocked)
        sfx = (
            f"list_transform(generate_series(1, len({ls})), "
            f"i -> array_to_string({ls}[i:len({ls})], '.'))"
        )
        out["blocked"] = (
            f"len(list_filter({sfx}, "
            f"s -> list_contains([{litlist}], s))) > 0"
        )
    return out
