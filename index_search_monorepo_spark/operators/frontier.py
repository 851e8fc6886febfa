"""Crawl-frontier scheduling — deterministic politeness-aware fetch order
over a URL feed.

Closes the crawl loop the other r5 operators open: sitemap seeds
(sources/sitemap.py) and page outlinks feed URLs,
robots admission (operators/robots.py) filters them, PageRank
(operators/pagerank.py) supplies priority — this operator turns the
survivors into a fetch schedule a fleet of fetchers can execute without
hammering any single host:

 - **fetcher**: which of `n_fetchers` owns the URL — md5-fold of the
   HOST (packing.hash_key_expr, the cross-engine-exact primitive), so
   one host always lands on one fetcher and per-host politeness can be
   enforced locally, the standard crawler sharding (host-locality also
   amortizes DNS/TLS).
 - **wave**: the URL's position in its host's FIFO — row_number over
   (host) ordered by (priority DESC, url ASC). One URL per host per
   wave IS the politeness guarantee; a host with k URLs takes k waves
   regardless of how hot it is.
 - **queue_pos**: total order within (fetcher, wave), same sort — the
   deterministic dispatch order inside one fetcher's wave.

Everything is exact: md5 sharding and row_number over a TOTAL order
(priority, then unique url) are bit-identical in Spark and DuckDB, so
the schedule itself sits under the driver oracle gate. Callers must
ensure `url` is unique (dedup upstream); ties in the sort would
otherwise make row_number engine-dependent.

Scale shape: two shuffles, both on slim (url, host, priority) rows —
one hash-partition by host for the wave window, one by (fetcher, wave)
for the dispatch order. The frontier is ~1e10 rows at 100 TB corpus
scale but each row is ~100 bytes; document text never enters this
operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.packing import (
    hash_key_expr,
    hash_key_sql,
)

FETCHER_SALT = "fetcher"


def frontier_schedule(
    urls: DataFrame,
    n_fetchers: int = 16,
    host_col: str = "host",
    url_col: str = "url",
    priority_col: str | None = None,
    delay_col: str | None = None,
) -> DataFrame:
    """URL feed -> feed + (fetcher, wave, queue_pos). Higher priority
    fetches earlier; without a priority column the order is pure
    url-lexicographic FIFO.

    With `delay_col` (per-row host crawl-delay in seconds, e.g. the
    robots.txt Crawl-delay surfaced by robots.host_rules) the schedule
    also emits `not_before_sec` = (wave - 1) * delay: the earliest
    fetch offset that honors the host's requested spacing, since the
    host's wave-k URL fetches k-1 politeness intervals after its first.
    Fetchers dispatching (wave, queue_pos) order and honoring
    not_before_sec satisfy every host's Crawl-delay by construction."""
    prio = (
        F.col(priority_col) if priority_col else F.lit(0).cast("long")
    )
    fetcher = (
        hash_key_expr(F.col(host_col), salt=FETCHER_SALT)
        % int(n_fetchers)
    ).cast("long")
    with_f = urls.withColumn("fetcher", fetcher).withColumn(
        "_prio", prio
    )
    wave_w = Window.partitionBy(host_col).orderBy(
        F.desc("_prio"), F.asc(url_col)
    )
    with_wave = with_f.withColumn(
        "wave", F.row_number().over(wave_w).cast("long")
    )
    pos_w = Window.partitionBy("fetcher", "wave").orderBy(
        F.desc("_prio"), F.asc(url_col)
    )
    out = with_wave.withColumn(
        "queue_pos", F.row_number().over(pos_w).cast("long")
    ).drop("_prio")
    if delay_col is not None:
        out = out.withColumn(
            "not_before_sec",
            ((F.col("wave") - 1) * F.col(delay_col)).cast("long"),
        )
    return out


def oracle_frontier_sql(
    urls: str,
    n_fetchers: int = 16,
    host_col: str = "host",
    url_col: str = "url",
    priority_sql: str = "0",
    delay_sql: str | None = None,
    extra_cols: tuple[str, ...] = (),
) -> str:
    """DuckDB mirror of `frontier_schedule` as one SELECT body over a
    `urls` CTE/table — same md5 fetcher fold, same total-order windows.
    `extra_cols` pass through untouched (e.g. a doc_id for joining the
    schedule back to a gate row); `delay_sql` (seconds, evaluated
    against the urls relation) mirrors `delay_col`."""
    f = f"({hash_key_sql(host_col, salt=FETCHER_SALT)}) % {int(n_fetchers)}"
    passthru = "".join(f"{c}, " for c in extra_cols)
    nb = (
        f",\n         CAST((wave - 1) * _delay AS BIGINT) AS not_before_sec"
        if delay_sql is not None
        else ""
    )
    delay_inner = (
        f",\n           CAST({delay_sql} AS BIGINT) AS _delay"
        if delay_sql is not None
        else ""
    )
    return f"""
  SELECT {passthru}{host_col}, {url_col}, fetcher, wave,
         CAST(row_number() OVER (
             PARTITION BY fetcher, wave
             ORDER BY _prio DESC, {url_col} ASC) AS BIGINT) AS queue_pos{nb}
  FROM (
    SELECT {passthru}{host_col}, {url_col},
           CAST({f} AS BIGINT) AS fetcher,
           CAST({priority_sql} AS BIGINT) AS _prio{delay_inner},
           CAST(row_number() OVER (
               PARTITION BY {host_col}
               ORDER BY {priority_sql} DESC, {url_col} ASC) AS BIGINT)
             AS wave
    FROM {urls}
  )"""
