"""URL/domain features (C4/RefinedWeb-style source curation): host
extraction parity with the DuckDB oracle, label-suffix blocklist flag
semantics, and the zero-join plan pin for the static blocklist."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators import urlfilter as U

URLS = [
    (0, "https://www.Example.COM/path?q=1"),
    (1, "http://sub.a.example.com:8080/x"),
    (2, "https://user:pw@blog.example.org/p#frag"),
    (3, "http://192.168.10.1/admin"),
    (4, "https://single/x"),
    (5, "not a url"),
    (6, "ftp://files.example.net./dir"),
    (7, "https://notexample.com/ok"),
]


def _frame(spark):
    return spark.createDataFrame(URLS, ["doc_id", "url"])


class TestHostExtraction:
    def test_features(self, spark):
        rows = {
            r["doc_id"]: (
                r["url_host"],
                r["url_registered_domain"],
                r["url_tld"],
                r["url_is_ip"],
            )
            for r in U.with_url_features(_frame(spark)).collect()
        }
        assert rows[0] == ("www.example.com", "example.com", "com", False)
        assert rows[1] == ("sub.a.example.com", "example.com", "com", False)
        assert rows[2] == ("blog.example.org", "example.org", "org", False)
        assert rows[3] == ("192.168.10.1", "192.168.10.1", "1", True)
        assert rows[4] == ("single", "single", "single", False)
        assert rows[5] == ("", "", "", False)
        # trailing dot stripped
        assert rows[6] == ("files.example.net", "example.net", "net", False)

    def test_suffixes(self, spark):
        out = (
            _frame(spark)
            .filter(F.col("doc_id") == 1)
            .select(
                U.domain_suffixes_expr(
                    U.host_expr(F.col("url"))
                ).alias("s")
            )
            .collect()[0]["s"]
        )
        assert out == [
            "sub.a.example.com",
            "a.example.com",
            "example.com",
            "com",
        ]

    def test_duckdb_parity(self, spark):
        """Every extraction column must match the oracle SQL byte-for-byte
        (the contract-gate guarantee, checked here at module grain)."""
        blocked = ["example.com", "192.168.10.1"]
        sdf = U.with_url_features(_frame(spark), blocked=blocked)
        srows = {
            r["doc_id"]: (
                r["url_host"],
                r["url_registered_domain"],
                r["url_tld"],
                r["url_is_ip"],
                r["url_blocked"],
            )
            for r in sdf.collect()
        }
        frags = U.oracle_url_sql("url", blocked=blocked)
        con = duckdb.connect()
        vals = ", ".join(
            f"({i}, '{u}')" for i, u in URLS
        )
        orows = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                f"SELECT doc_id, {frags['host']}, "
                f"{frags['registered_domain']}, {frags['tld']}, "
                f"{frags['is_ip']}, {frags['blocked']} "
                f"FROM (VALUES {vals}) AS t(doc_id, url)"
            ).fetchall()
        }
        assert srows == orows


def _kept(df, blocked):
    """doc_ids the static blocklist flag leaves unblocked."""
    return sorted(
        r["doc_id"]
        for r in U.with_url_features(df, blocked=blocked).collect()
        if not r["url_blocked"]
    )


class TestBlocklist:
    def test_static_suffix_semantics(self, spark):
        kept = _kept(_frame(spark), ["example.com", "example.org"])
        # drops 0,1 (example.com suffix) and 2 (example.org); keeps the
        # lookalike notexample.com, the IP, and everything else
        assert kept == [3, 4, 5, 6, 7]

    def test_static_plan_is_zero_join(self, spark):
        """The 100 TB pin: a static blocklist must compile to a pure
        projection — no Exchange, no join operator anywhere in the plan."""
        plan = (
            U.with_url_features(_frame(spark), blocked=["example.com"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan
        assert "Join" not in plan, plan

    def test_empty_static_list_keeps_all(self, spark):
        assert _kept(_frame(spark), []) == [i for i, _ in URLS]


class TestNullUrl:
    def test_null_url_rows_survive_static_filter(self, spark):
        """Review finding: NULL url made the blocked flag NULL and
        filter(~NULL) silently dropped the row; a null-URL doc is
        unblocked."""
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        schema = StructType(
            [StructField("doc_id", LongType()),
             StructField("url", StringType())]
        )
        df = spark.createDataFrame(
            [(0, None), (1, "https://x.blocked.com/a"),
             (2, "https://ok.example.org/b")],
            schema,
        )
        assert _kept(df, ["blocked.com"]) == [0, 2]
        feats = {
            r["doc_id"]: (r["url_host"], r["url_blocked"])
            for r in U.with_url_features(
                df, blocked=["blocked.com"]
            ).collect()
        }
        assert feats[0] == ("", False)
