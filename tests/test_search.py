"""ht_search read-path parity: query shaping (F12/F13 goldens from the
reference's ht_query_test.py), dismax scoring engine (W2), facets (A6),
stable export (S7/W3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from index_search_monorepo_spark.search import (
    RIGHTS_PUBLIC_DOMAIN,
    SearchQuery,
    boost_phrase_fields,
    boost_query_fields,
    exact_phrase_query,
    export_all,
    facet_counts,
    facet_params,
    manage_string_query,
    query_filter_creator_rights,
    query_filter_creator_string,
    search,
    with_dismax_score,
)


# --- F12/F13 golden parity (ht_query_test.py:37-105) -----------------------


def test_boost_fields_golden():
    data = [["allfieldsProper", 2], ["allfields", 1], ["titleProper", 50]]
    assert boost_query_fields(data) == [
        "allfieldsProper^2", "allfields^1", "titleProper^50",
    ]
    assert boost_phrase_fields(data) == (
        "allfieldsProper^2 allfields^1 titleProper^50"
    )


def test_rights_filter_golden():
    expected = (
        "rights:(25 OR 15 OR 18 OR 1 OR 21 OR 23 OR 19 OR 13 OR 11 OR 20"
        " OR 7 OR 10 OR 24 OR 14 OR 17 OR 22 OR 12)"
    )
    assert query_filter_creator_rights("rights", RIGHTS_PUBLIC_DOMAIN) == expected


def test_string_filter_golden():
    assert query_filter_creator_string("id", ["a", "b"]) == 'id:("a" OR "b")'


def test_phrase_and_operator_queries():
    assert exact_phrase_query("information retrieval") == (
        '"information retrieval"'
    )
    assert manage_string_query("information retrieval") == {
        "q": '"information retrieval"'
    }
    assert manage_string_query("information retrieval", "OR") == {
        "q": "information OR retrieval", "q.op": "OR",
    }


def test_facet_params_golden():
    p = facet_params()
    assert p["facet.mincount"] == 1 and p["facet.limit"] == 30
    assert p["facet"] == "on"
    assert p["facet.field"][0] == "topicStr"


def test_params_dict_shape():
    q = SearchQuery(q="dog food", operator="AND", rights=[25, 15])
    p = q.params()
    assert p["defType"] == "edismax" and p["mm"] == "100%"
    assert p["q"] == "dog AND food"
    assert p["fq"] == "rights:(25 OR 15)"


# --- dismax engine ----------------------------------------------------------


@pytest.fixture()
def corpus(spark):
    rows = [
        ("d1", "apple banana apple", "apple pie", 25, ["t1", "t2"]),
        ("d2", "banana pie pie", "cherry", 9, ["t2"]),
        ("d3", "apple pie apple pie", "apple", 25, ["t1"]),
        ("d4", "nothing relevant", "none", 25, []),
    ]
    return spark.createDataFrame(
        rows, "id string, body string, title string, rights int,"
        " topics array<string>"
    )


def _q(**kw):
    base = dict(
        qf=[("body", 1.0), ("title", 10.0)],
        pf=[("body", 100.0)],
        tie=0.5,
        fl=["id"],
    )
    base.update(kw)
    return SearchQuery(**base)


def test_dismax_arithmetic(corpus):
    # q='apple pie' OR; hand-computed:
    # d1: apple: body 2*1=2, title 1*10=10 -> 10+.5*2=11; pie: body 0,
    #     title 10 -> 10; phrase 'apple pie' not in body -> score 21
    # d2: apple 0; pie: body 2, title 0 -> 2 ; score 2
    # d3: apple: body 2, title 10 -> 11; pie: body 2 -> 2; phrase in body
    #     twice -> +100 once; score 113
    # d4: no match -> NULL (dropped)
    got = {
        r["id"]: r["score"]
        for r in search(corpus, _q(q="apple pie", operator="OR")).collect()
    }
    assert got == {"d1": 21.0, "d2": 2.0, "d3": 113.0}


def test_score_explanation_breakdown(corpus):
    """W2 per-doc score explanation (ht_full_text_searcher.py:47-53): one
    (term, field, boost, field_score) entry per pair; field scores
    recombine to the scalar score under the dismax formula."""
    out = {
        r["id"]: r
        for r in search(
            corpus, _q(q="apple pie", operator="OR"), explain=True
        ).collect()
    }
    d1 = {(e["term"], e["field"]): e for e in out["d1"]["score_explanation"]}
    assert d1[("apple", "body")]["field_score"] == 2.0  # tf=2 * boost 1
    assert d1[("apple", "title")]["field_score"] == 10.0  # tf=1 * boost 10
    assert d1[("pie", "body")]["field_score"] == 0.0
    assert d1[("pie", "title")]["field_score"] == 10.0
    assert d1[("apple", "title")]["boost"] == 10.0
    # recombine: per term max + tie*(sum-max), summed over terms
    tie = 0.5
    score = 0.0
    for t in ("apple", "pie"):
        fs = [d1[(t, f)]["field_score"] for f in ("body", "title")]
        score += max(fs) + tie * (sum(fs) - max(fs))
    assert score == out["d1"]["score"] == 21.0


def test_mm_100_and_exact_phrase(corpus):
    # AND: both terms must match somewhere -> d2 drops (no apple)
    got = search(corpus, _q(q="apple pie", operator="AND"))
    assert [r["id"] for r in got.collect()] == ["d3", "d1"]
    # exact phrase: the phrase must appear in a qf field -> d1 drops too
    # (has 'apple pie' only in title: title IS a qf field -> d1 stays);
    # d3 has it in body
    got2 = search(corpus, _q(q="apple pie", operator=None))
    assert [r["id"] for r in got2.collect()] == ["d3", "d1"]


def test_rights_filter_and_pagination(corpus):
    q = _q(q="apple pie", operator="OR", rights=[25], rows=1)
    assert [r["id"] for r in search(corpus, q).collect()] == ["d3"]
    q2 = _q(q="apple pie", operator="OR", rights=[25], rows=1, start=1)
    assert [r["id"] for r in search(corpus, q2).collect()] == ["d1"]


def test_match_all_and_id_filter(corpus):
    q = _q(q=None, id_filter=["d2", "d4"])
    got = search(corpus, q)
    assert sorted(r["id"] for r in got.collect()) == ["d2", "d4"]


def test_facet_counts(corpus):
    facets = facet_counts(corpus, ["topics", "rights"], mincount=1, limit=30)
    topics = {r["value"]: r["count"] for r in facets["topics"].collect()}
    assert topics == {"t1": 2, "t2": 2}
    rights = {r["value"]: r["count"] for r in facets["rights"].collect()}
    assert rights == {25: 3, 9: 1}


def test_export_all_stable_order(corpus):
    q = _q(q=None, fl=["id", "title"], rights=[25])
    out = export_all(corpus, q).collect()
    assert [r["id"] for r in out] == ["d1", "d3", "d4"]
    assert out[0]["title"] == "apple pie"


def test_score_plan_is_codegen(corpus):
    """The scoring plan must stay JVM-side: no BatchEvalPython / Python UDF
    nodes in the physical plan."""
    df = with_dismax_score(corpus, _q(q="apple pie", operator="OR"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


# --- BM25 (r5) --------------------------------------------------------------


class TestBm25:
    DOCS = [
        (0, "spark spark spark query engine"),
        (1, "spark es es hybrid search stack here"),
        (2, "nothing relevant in this document at all"),
        (3, "es"),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.DOCS, ["doc_id", "text"])

    def test_e6_variant_hand_math(self, spark):
        """Integer spec check on one hand-computed document."""
        from index_search_monorepo_spark.search.engine import (
            with_bm25_score_e6,
        )

        terms = ["spark", "es"]
        got = {
            r["doc_id"]: r["bm25_e6"]
            for r in with_bm25_score_e6(self._df(spark), terms).collect()
        }
        # corpus: N=4, T=5+7+7+1=20, avgdl_e3=5000
        # doc 3: dl=1, tf(spark)=0, tf(es)=1
        #   den_e3 = 1000 + 300 + (900000*1) DIV 5000 = 1480
        #   tfpart_e6 = 2200000000 DIV 1480 = 1486486
        #   idf(es): df=2 -> (2*4+1) DIV (2*2+1) = 1 -> bitlen=1
        #   score = 1486486; spark term contributes 0
        assert got[3] == 1486486, got
        assert got[2] == 0
        # df(spark)=2 as well; doc 0: dl=5, tf=3
        #   den_e3 = 3000+300+(900000*5) DIV 5000 = 4200
        #   tfpart = 6600000000 DIV 4200 = 1571428; idf=1
        assert got[0] == 1571428, got

    def test_e6_matches_duckdb_mirror(self, spark):
        import duckdb
        import pandas as pd

        from index_search_monorepo_spark.search.engine import (
            bm25_e6_oracle_sql,
            with_bm25_score_e6,
        )

        terms = ["spark", "es"]
        got = {
            r["doc_id"]: r["bm25_e6"]
            for r in with_bm25_score_e6(self._df(spark), terms).collect()
        }
        ctes, score = bm25_e6_oracle_sql(terms, table="t")
        con = duckdb.connect()
        con.register(
            "t", pd.DataFrame(self.DOCS, columns=["doc_id", "text"])
        )
        want = dict(
            con.execute(
                f"WITH {ctes} SELECT doc_id, {score} AS s"
                " FROM bm25tok CROSS JOIN bm25stats"
            ).fetchall()
        )
        assert got == want

    def test_plan_one_stats_agg_no_corpus_shuffle(self, spark):
        """The only Exchange feeds the one-row stats aggregate; scoring is
        a broadcast-joined projection."""
        from index_search_monorepo_spark.search.engine import (
            with_bm25_score_e6,
        )

        plan = (
            with_bm25_score_e6(self._df(spark), ["spark"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
