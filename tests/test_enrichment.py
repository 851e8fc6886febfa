"""J1–J4 enrichment vs the per-document oracle
(mysql_data_extractor.py:91-116 semantics)."""

from __future__ import annotations

from collections import defaultdict

import pytest

from index_search_monorepo_spark.operators.enrichment import with_mysql_fields
from index_search_monorepo_spark.oracle.reference_oracle import oracle_mysql_fields


def test_mysql_fields_match_oracle(spark, tables):
    docs = tables["documents_spans"].select("doc_id")
    out = with_mysql_fields(
        docs,
        tables["rights_current"],
        tables["holdings_htitem_htmember"],
        tables["mb_coll_item"],
        tables["mb_collection"],
    )
    got = {r["doc_id"]: r for r in out.collect()}

    rights_rows = defaultdict(list)
    for r in tables["rights_current"].collect():
        rights_rows[(r["namespace"], r["id"])].append(r.asDict())
    heldby_rows = defaultdict(list)
    for r in tables["holdings_htitem_htmember"].collect():
        heldby_rows[r["volume_id"]].append(r.asDict())
    large = {
        r["MColl_ID"]
        for r in tables["mb_collection"].collect()
        if r["num_items"] > 1000
    }
    coll_rows = defaultdict(list)
    for r in tables["mb_coll_item"].collect():
        if r["MColl_ID"] in large:
            coll_rows[r["extern_item_id"]].append(r.asDict())

    checked_exactly_one_guard = checked_brlm_subset = checked_default = 0
    for r in docs.collect():
        d = r["doc_id"]
        ns, _, obj = d.partition(".")
        want = oracle_mysql_fields(
            d, rights_rows.get((ns, obj), []), heldby_rows.get(d, []), coll_rows.get(d, [])
        )
        g = got[d]
        assert g["rights"] == want.get("rights"), d
        assert (list(g["ht_heldby"]) if g["ht_heldby"] is not None else None) == want.get(
            "ht_heldby"
        ), d
        assert (
            list(g["ht_heldby_brlm"]) if g["ht_heldby_brlm"] is not None else None
        ) == want.get("ht_heldby_brlm"), d
        assert list(g["coll_id"]) == want["coll_id"], d
        if len(rights_rows.get((ns, obj), [])) != 1:
            assert g["rights"] is None  # J1 exactly-one guard
            checked_exactly_one_guard += 1
        if g["ht_heldby_brlm"] is not None and g["ht_heldby"] is not None:
            assert set(g["ht_heldby_brlm"]) <= set(g["ht_heldby"])
            checked_brlm_subset += 1
        if not coll_rows.get(d):
            assert list(g["coll_id"]) == [0]  # J4 default
            checked_default += 1
    # corpus must actually exercise each branch
    assert checked_exactly_one_guard > 0
    assert checked_brlm_subset > 0
    assert checked_default > 0


@pytest.mark.parametrize("dim_join", [None, "shuffle_hash"])
def test_rights_key_splits_at_first_dot(spark, dim_join):
    """Rights rows ("a.b", "c") and ("a", "b.c") both concatenate to
    "a.b.c", but the pair join splits doc_id at its FIRST dot, so only
    ("a", "b.c") matches: one output row per doc under either hint."""
    docs = spark.createDataFrame([("a.b.c",), ("a.b",), ("x",)], "doc_id string")
    rights = spark.createDataFrame(
        [("a.b", "c", 1), ("a", "b.c", 2), ("a", "b", 3), ("x", None, 4)],
        "namespace string, id string, attr int",
    )
    holdings = spark.createDataFrame(
        [], "volume_id string, member_id string, access_count int"
    )
    coll_item = spark.createDataFrame([], "extern_item_id string, MColl_ID int")
    collection = spark.createDataFrame([], "MColl_ID int, num_items int")
    out = with_mysql_fields(
        docs, rights, holdings, coll_item, collection, dim_join=dim_join
    )
    got = sorted((r["doc_id"], r["rights"]) for r in out.collect())
    assert got == [("a.b", 3), ("a.b.c", 2), ("x", None)]
