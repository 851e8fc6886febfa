"""Dissertation metadata extracts over normalized MARC records
(SURVEY.md §2.2 P8/P9, §2.7 F9; reference:
app/data_operations/src/metadata_extractor/metadata_generator.py).

Every predicate/extract is a pure column expression over the
sources/marc_json.py columnar MARC shape — no pymarc objects, no per-row
Python; the contract's dissertation gate composes them into the
reference's keyword AND institution filter (generate_dissertation_rows,
:203-209).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_KEYWORDS = ("dissertation", "phd", "ph.d.", "doctoral", "degree of doctor")
KEYWORD_FIELDS = ("502", "653", "655", "650", "651", "500", "533")


def _fields_with_tag(fields: Column, tags: tuple[str, ...]) -> Column:
    tag_arr = F.array(*[F.lit(t) for t in tags])
    return F.filter(fields, lambda f: F.array_contains(tag_arr, f["tag"]))


def _format_field(f: Column) -> Column:
    """pymarc Field.format_field analog: control-field data, or subfield
    values joined by single spaces."""
    return F.coalesce(
        f["data"],
        F.array_join(F.transform(f["subfields"], lambda s: s["value"]), " "),
    )


def keyword_text_expr(fields: Column, tags: tuple[str, ...] = KEYWORD_FIELDS) -> Column:
    """P8 source text (metadata_generator.py:57-78): formatted text of the
    keyword fields, space-joined, lowercased."""
    return F.lower(
        F.array_join(
            F.transform(_fields_with_tag(fields, tags), _format_field), " "
        )
    )


def matches_keywords_expr(
    fields: Column, keywords: tuple[str, ...] = DEFAULT_KEYWORDS
) -> Column:
    """P8 (record_matches, :106-111): any keyword is a lowercase substring
    of the keyword text."""
    text = keyword_text_expr(fields)
    kw = F.array(*[F.lit(k.lower()) for k in keywords])
    # bind the concatenated text once; exists() references the lambda var
    return F.exists(
        F.array(text), lambda t: F.exists(kw, lambda k: t.contains(k))
    )


def subfield_values(fields: Column, tag: str, code: str) -> Column:
    """All values of {tag}${code}, in field order."""
    return F.flatten(
        F.transform(
            _fields_with_tag(fields, (tag,)),
            lambda f: F.transform(
                F.filter(f["subfields"], lambda s: s["code"] == F.lit(code)),
                lambda s: s["value"],
            ),
        )
    )


def has_institution_expr(fields: Column, institution_id: str = "MIU") -> Column:
    """P9 (get_specific_institution_records, :81-103): casefolded equality
    of any 974$b subfield."""
    want = institution_id.strip().casefold()
    return F.exists(
        subfield_values(fields, "974", "b"),
        lambda v: F.lower(F.trim(v)) == F.lit(want),
    )


def subjects_expr(fields: Column) -> Column:
    """collect_subjects (:139-155): 650/651/655/653 $a, stripped, non-empty,
    tag-priority order."""
    per_tag = [subfield_values(fields, t, "a") for t in ("650", "651", "655", "653")]
    flat = F.concat(*per_tag)
    return F.filter(F.transform(flat, lambda s: F.trim(s)), lambda s: s != "")


def pub_year_expr(fields: Column) -> Column:
    """F9 (extract_publication_year, :157-183): first 4-digit year in
    264$c, else 260$c, else ''."""
    csubs = F.concat(
        subfield_values(fields, "264", "c"), subfield_values(fields, "260", "c")
    )
    years = F.filter(
        F.transform(csubs, lambda v: F.regexp_extract(v, r"\d{4}", 0)),
        lambda y: y != "",
    )
    return F.coalesce(F.try_element_at(years, F.lit(1)), F.lit(""))


def control_number_expr(fields: Column) -> Column:
    """001 control field (extract_control_number)."""
    f001 = _fields_with_tag(fields, ("001",))
    return F.coalesce(
        F.try_element_at(F.transform(f001, lambda f: f["data"]), F.lit(1)),
        F.lit(""),
    )


def _first_subfield(fields: Column, tag: str, codes: tuple[str, ...]) -> Column:
    vals = F.concat(*[subfield_values(fields, tag, c) for c in codes])
    return F.try_element_at(
        F.filter(F.transform(vals, lambda s: F.trim(s)), lambda s: s != ""),
        F.lit(1),
    )


def title_expr(fields: Column) -> Column:
    """pymarc record.title analog: 245 $a + $b space-joined."""
    a = _first_subfield(fields, "245", ("a",))
    b = _first_subfield(fields, "245", ("b",))
    return F.trim(F.concat_ws(" ", a, b))
