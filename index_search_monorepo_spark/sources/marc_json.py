"""S8/F14 — Zephir MARC-JSON records (SURVEY.md §2.1 S8, §2.7 F14).

The reference reads a gzipped newline-delimited JSON export (one MARC record
per line), skipping blank and malformed lines, and converts each dict to a
pymarc Record (ht_marc_json_reader.py:11-102). MARC-JSON has dynamic keys
(`fields: [{"008": "..."}, {"245": {"ind1": ..., "subfields": [...]}}]`), so
a static from_json schema can't express it; instead `marc_json_record_udf`,
an Arrow-batched column function over the JSON lines, normalizes every
record into the engine's columnar MARC shape, after which every downstream
predicate/extract is a pure column expression (operators/marc_extracts.py):

    (leader: string,
     fields: array<struct<tag:string, data:string, ind1:string, ind2:string,
                          subfields:array<struct<code:string, value:string>>>>)

Control fields carry `data` (subfields NULL); data fields carry subfields in
order, accepting both the dict and the two-element-list subfield encodings
the reference tolerates (ht_marc_json_reader.py:59-74).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

SUBFIELD_STRUCT = StructType(
    [StructField("code", StringType()), StructField("value", StringType())]
)

MARC_FIELD_STRUCT = StructType(
    [
        StructField("tag", StringType()),
        StructField("data", StringType()),
        StructField("ind1", StringType()),
        StructField("ind2", StringType()),
        StructField("subfields", ArrayType(SUBFIELD_STRUCT)),
    ]
)

MARC_SCHEMA = StructType(
    [
        StructField("leader", StringType()),
        StructField("fields", ArrayType(MARC_FIELD_STRUCT)),
    ]
)


def normalize_marc_dict(data: dict) -> dict:
    """One MARC-JSON dict -> normalized record (dict_to_pymarc_record
    semantics, ht_marc_json_reader.py:31-84)."""
    fields = []
    for field_dict in data.get("fields", []):
        if not isinstance(field_dict, dict) or not field_dict:
            continue
        tag, value = next(iter(field_dict.items()))
        if isinstance(value, str):  # control field
            fields.append(
                {"tag": str(tag), "data": value, "ind1": None, "ind2": None,
                 "subfields": None}
            )
            continue
        subfields = []
        for sf in value.get("subfields", []) or []:
            if isinstance(sf, dict):
                for code, val in sf.items():
                    subfields.append({"code": str(code), "value": str(val)})
            elif isinstance(sf, list) and len(sf) == 2:
                subfields.append({"code": str(sf[0]), "value": str(sf[1])})
            # stray strings skipped, like the reference
        fields.append(
            {
                "tag": str(tag),
                "data": None,
                "ind1": str(value.get("ind1", " ")),
                "ind2": str(value.get("ind2", " ")),
                "subfields": subfields,
            }
        )
    return {"leader": data.get("leader"), "fields": fields}


def marc_json_record_udf():
    """S8 in column form: one MARC-JSON line string -> normalized record
    struct (leader, fields) through normalize_marc_dict. Blank/malformed/
    non-dict lines yield a null-leader record so callers can filter them —
    the column-level mirror of the reader's line-skip
    (ht_marc_json_reader.py:11-29). Arrow-batched pandas UDF, one stage,
    no shuffle.

    Marked nondeterministic ON PURPOSE (it is in fact deterministic):
    callers filter on the parsed struct (`rec.leader IS NOT NULL`), and
    PushDownPredicates substitutes the alias and pushes that predicate
    below the Project computing the struct — leaving TWO evaluation
    sites, i.e. two ArrowEvalPython stages parsing every line twice
    (same trap family as CLAUDE.md lesson #8; measured on the contract
    entry before this fix). The nondeterministic flag pins one
    evaluation; test_plans.py::test_marc_json_parse_runs_once."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(MARC_SCHEMA)
    def parse(lines: pd.Series) -> pd.DataFrame:
        rows = []
        for line in lines:
            line = (line or "").strip()
            rec = {"leader": None, "fields": None}
            if line:
                try:
                    data = json.loads(line)
                    if isinstance(data, dict):
                        rec = normalize_marc_dict(data)
                except (json.JSONDecodeError, AttributeError, TypeError,
                        ValueError):
                    # malformed JSON OR valid JSON with a shape the MARC
                    # normalizer cannot express (e.g. a numeric field
                    # value): drop the line, never fail the task
                    pass
            rows.append(rec)
        return pd.DataFrame(rows, columns=["leader", "fields"])

    return parse.asNondeterministic()
