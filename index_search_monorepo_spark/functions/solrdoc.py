"""S13/F3/F4 — Solr add-doc XML serialization (text_processor.py:43-96).

The reference's create_solr_string turns the assembled document dict into
`<add><doc><field name="k">escaped(v)</field>...</doc></add>`: one field tag
per list element, falsy non-list values dropped (None, '', 0, False),
string values xml-escaped (xmlesc: & < > ' " -> entities), non-strings
emitted via str(). Rebuilt as pure column expressions over the assembled
documents DataFrame — the per-doc dict loop becomes one concat per row.

Faithful quirks (tested against a transliterated Python oracle):
 - list elements are NOT falsy-filtered (only the `elif value:` scalar
   branch drops falsy; the list branch emits every element, text_processor
   .py:63-66) — empty strings inside lists produce empty field tags
 - integer 0 and boolean False are dropped; True serializes as 'True'
 - non-string values are not escaped (escape_values passes them through)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, StringType

from index_search_monorepo_spark.functions.text import xmlesc_expr


def _tag(key: str, value: Column) -> Column:
    return F.concat(
        F.lit(f'<field name="{key}">'), value, F.lit("</field>")
    )


def field_tags_expr(df: DataFrame, name: str) -> Column:
    """All field tags of one column as an array<string> (possibly empty)."""
    dt = df.schema[name].dataType
    col = F.col(name)
    if isinstance(dt, ArrayType):
        elem = (
            (lambda v: _tag(name, xmlesc_expr(v)))
            if isinstance(dt.elementType, StringType)
            else (lambda v: _tag(name, v.cast("string")))
        )
        return F.coalesce(F.transform(col, elem), F.array())
    if isinstance(dt, StringType):
        keep = col.isNotNull() & (col != "")
        return F.when(keep, F.array(_tag(name, xmlesc_expr(col)))).otherwise(
            F.array()
        )
    if isinstance(dt, BooleanType):
        # python str(True) == 'True'; False is falsy -> dropped
        return F.when(col, F.array(_tag(name, F.lit("True")))).otherwise(F.array())
    # numeric: 0 is falsy -> dropped; no escaping (passthrough branch)
    keep = col.isNotNull() & (col != 0)
    return F.when(keep, F.array(_tag(name, col.cast("string")))).otherwise(
        F.array()
    )


def create_solr_string_expr(df: DataFrame, columns: list[str] | None = None) -> Column:
    """One `<add><doc>...</doc></add>` string per row; field order = column
    order (the reference's dict-insertion order, §1.3 key accretion)."""
    cols = columns or df.columns
    parts = F.flatten(F.array(*[field_tags_expr(df, c) for c in cols]))
    return F.concat(
        F.lit("<add><doc>"), F.array_join(parts, "\n"), F.lit("</doc></add>")
    )
