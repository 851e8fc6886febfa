"""S13 Solr-doc XML serialization vs a transliterated Python oracle
(text_processor.py:43-70)."""

from __future__ import annotations

from index_search_monorepo_spark.functions.solrdoc import create_solr_string_expr


# --- oracle: direct transliteration of the reference logic -----------------

def _xmlesc(txt: str) -> str:
    table = str.maketrans(
        {"<": "&lt;", ">": "&gt;", "&": "&amp;", "'": "&apos;", '"': "&quot;"}
    )
    return txt.translate(table)


def _escape_values(v):
    return _xmlesc(v) if isinstance(v, str) else v


def _field_tag(k, v):
    return f'<field name="{k}">{_escape_values(v)}</field>'


def oracle_create_solr_string(d: dict) -> str:
    parts = []
    for k, v in d.items():
        if isinstance(v, list):
            for item in v:
                parts.append(_field_tag(k, item))
        elif v:
            parts.append(_field_tag(k, v))
    return f"<add><doc>{chr(10).join(parts)}</doc></add>"


DOCS = [
    {
        "id": "mb.1",
        "title": 'A "quoted" <title> & more',
        "author": ["Doe, Jane", "", "O'Brien"],  # empty list element KEPT
        "rights": 9,
        "coll_id": [0],
        "deleted": False,  # falsy -> dropped
        "searchonly": True,  # -> 'True'
        "empty": "",  # falsy -> dropped
        "zero": 0,  # falsy -> dropped
    },
    {
        "id": "mb.2",
        "title": "plain",
        "author": [],
        "rights": 25,
        "coll_id": [136739228, 7],
        "deleted": True,
        "searchonly": False,
        "empty": "x",
        "zero": 3,
    },
]


def test_solr_xml_matches_oracle(spark):
    cols = list(DOCS[0].keys())
    df = spark.createDataFrame(
        [tuple(d[c] for c in cols) for d in DOCS],
        "id string, title string, author array<string>, rights int,"
        " coll_id array<int>, deleted boolean, searchonly boolean,"
        " empty string, zero int",
    )
    got = {
        r["id"]: r["solr_xml"]
        for r in df.select("id", create_solr_string_expr(df, cols).alias("solr_xml"))
        .collect()
    }
    for d in DOCS:
        assert got[d["id"]] == oracle_create_solr_string(d), d["id"]
