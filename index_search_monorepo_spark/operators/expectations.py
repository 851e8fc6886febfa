"""Declarative data-quality constraints, compiled into ONE aggregation pass.

The reference validates feeds imperatively at ingest time — file-existence
and required-field checks scattered through the generator
(full_text_document_generator.py:32,101: missing METS/zip aborts the
document; generator_arguments.py builds-and-validates config) — and a bad
record surfaces as a per-document exception. At 100 TB the same need
(did the feed arrive complete? are keys unique? are values in domain?)
must be a *declared, single-scan* metrics job, not row-side exceptions:
this module is the Deequ shape (Schelter et al., "Automating Large-Scale
Data Quality Verification", VLDB 2018) re-expressed as one
groupBy().agg() whose result is a small rollup of (rule, observed,
target, ok) rows.

Design rules (all load-bearing at scale):

- **One scan, one aggregation.** Every rule in the check list compiles to
  aggregate expressions over the SAME groupBy().agg() — N rules never
  mean N jobs. Map-side partial aggregation does the heavy lifting; the
  reduced state is a handful of BIGINTs per group. ``uniqueness`` /
  ``key_unique`` rules add exact ``count(DISTINCT ...)`` columns, which
  Catalyst plans via Expand (one scan, replicated rows per distinct
  aggregate) — exactness costs one Expand replica per distinct column;
  for approximate distinct at extreme cardinality use
  ``sketches.hll_sketch`` instead (mergeable, oracle-checked).
- **Verdicts are integer-exact.** Ratio thresholds are per-mille and
  evaluated by cross-multiplication (``1000*nn >= mp*total``), never by
  float division; the reported observed ratio uses integer DIV. Every
  output column is BIGINT/VARCHAR so the same numbers are bit-identical
  in DuckDB (``checks_select_sql`` emits the mirror aggregates).
- **Failures are rows, never job failures** (repo convention): the result
  is a DataFrame with ``ok`` 0/1 per rule; callers gate downstream stages
  on it.
- **Regex rules** (``pattern``) must stay inside the Java-regex /
  DuckDB-RE2 common subset (same contract as operators/pii.py): no
  backrefs, no lookbehind, character classes and anchors only.

Check spec — a list of plain dicts, one per rule:

    {"rule_id": "qty_nn",  "kind": "completeness", "column": "l_quantity",
     "min_permille": 1000}
    {"rule_id": "pk_uniq", "kind": "uniqueness",   "column": "l_partkey",
     "min_permille": 1}
    {"rule_id": "key",     "kind": "key_unique",   "columns": ["a", "b"]}
    {"rule_id": "nrows",   "kind": "row_count",    "min_rows": 1,
     "max_rows": 10**12}
    {"rule_id": "price",   "kind": "bounds",       "column": "cents",
     "lo": 0, "hi": 10**9}
    {"rule_id": "flag",    "kind": "in_set",       "column": "l_returnflag",
     "values": ["A", "N", "R"]}
    {"rule_id": "fmt",     "kind": "pattern",      "column": "l_returnflag",
     "regex": "^[ANR]$", "min_permille": 1000}

Semantics (NULL handling is part of the contract):

- completeness: observed = permille of non-NULL rows; ok when
  1000*count(col) >= min_permille*count(*).
- uniqueness: observed = permille distinct among NON-NULL values;
  ok when 1000*count(distinct col) >= min_permille*count(col).
- key_unique: observed = number of EXTRA rows beyond one per key
  (0 when the key is unique); NULL key parts join under a sentinel so
  two all-NULL keys count as duplicates; ok when observed == 0.
- row_count: observed = row count; ok when min_rows <= n <= max_rows.
- bounds / in_set: observed = VIOLATION count among non-NULL values
  (NULL is completeness's business, not a range violation);
  ok when observed == 0.
- pattern: observed = permille of non-NULL values matching; ok when
  1000*matches >= min_permille*count(col).

Output (rule grain, default): one row per rule (per group when
``group_cols`` is set): ``rule_id, kind, column, observed, target_lo,
target_hi, ok`` — target_lo/target_hi echo the rule's threshold
(per-mille band, value bounds, or row-count band depending on kind).
Column mode (``as_columns=True``): one row per group with
``{rule_id}_obs`` / ``{rule_id}_ok`` columns, joinable onto other
rollups of the same grain (this is the driver-gate shape).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_KINDS = (
    "completeness",
    "uniqueness",
    "key_unique",
    "row_count",
    "bounds",
    "in_set",
    "pattern",
)

# NULL key parts fold to this sentinel inside key_unique's canonical key
# (so a NULL is one more duplicate value, not an excluded row — Spark's
# count(DISTINCT a, b) would silently drop NULL-bearing rows and DuckDB's
# would not, so neither engine's native multi-column distinct is used).
# \x01 rather than \x00: a NUL byte can't ride a SQL string literal.
_NULL_SENTINEL = "\x01<null>"
_KEY_SEP = "\x1f"
_NULL_SENTINEL_SQL = r"e'\x01<null>'"
_KEY_SEP_SQL = r"e'\x1F'"


def _norm_check(c: dict) -> dict:
    c = dict(c)
    rid = c.get("rule_id")
    if not rid or not _IDENT.match(rid):
        raise ValueError(f"rule_id must be an identifier, got {rid!r}")
    kind = c.get("kind")
    if kind not in _KINDS:
        raise ValueError(f"unknown check kind {kind!r} (valid: {_KINDS})")
    if kind in ("completeness", "uniqueness", "pattern"):
        mp = int(c.get("min_permille", 1000))
        if not 0 <= mp <= 1000:
            raise ValueError(f"{rid}: min_permille out of [0,1000]: {mp}")
        c["min_permille"] = mp
        c["_lo"], c["_hi"] = mp, 1000
    if kind in ("completeness", "uniqueness", "bounds", "in_set", "pattern"):
        if not c.get("column"):
            raise ValueError(f"{rid}: kind {kind} requires 'column'")
    if kind == "key_unique":
        cols = c.get("columns")
        if not cols:
            raise ValueError(f"{rid}: key_unique requires 'columns'")
        c["_lo"], c["_hi"] = 0, 0
    if kind == "row_count":
        c["_lo"] = int(c.get("min_rows", 0))
        c["_hi"] = int(c.get("max_rows", 2**62))
    if kind == "bounds":
        c["_lo"], c["_hi"] = int(c["lo"]), int(c["hi"])
    if kind == "in_set":
        vals = c.get("values")
        if not vals:
            raise ValueError(f"{rid}: in_set requires non-empty 'values'")
        c["_lo"], c["_hi"] = 0, 0
    if kind == "pattern":
        if not c.get("regex"):
            raise ValueError(f"{rid}: pattern requires 'regex'")
    return c


def _key_expr(cols: list[str]) -> Column:
    parts = [
        F.coalesce(F.col(col).cast("string"), F.lit(_NULL_SENTINEL))
        for col in cols
    ]
    return F.concat_ws(_KEY_SEP, *parts)


def _agg_exprs(i: int, c: dict) -> list[Column]:
    kind = c["kind"]
    col = c.get("column")
    if kind == "completeness":
        return [F.count(F.col(col)).alias(f"_c{i}_nn")]
    if kind == "uniqueness":
        return [
            F.count(F.col(col)).alias(f"_c{i}_nn"),
            F.count_distinct(F.col(col)).alias(f"_c{i}_nd"),
        ]
    if kind == "key_unique":
        return [F.count_distinct(_key_expr(c["columns"])).alias(f"_c{i}_nd")]
    if kind == "row_count":
        return []
    if kind == "bounds":
        x = F.col(col)
        viol = F.when(
            x.isNotNull() & ((x < F.lit(c["_lo"])) | (x > F.lit(c["_hi"]))),
            F.lit(1),
        ).otherwise(F.lit(0))
        return [F.sum(viol).cast("long").alias(f"_c{i}_viol")]
    if kind == "in_set":
        x = F.col(col)
        viol = F.when(x.isNotNull() & ~x.isin(list(c["values"])), F.lit(1)).otherwise(
            F.lit(0)
        )
        return [F.sum(viol).cast("long").alias(f"_c{i}_viol")]
    if kind == "pattern":
        x = F.col(col)
        m = F.when(x.rlike(c["regex"]), F.lit(1)).otherwise(F.lit(0))
        return [
            F.count(x).alias(f"_c{i}_nn"),
            F.sum(m).cast("long").alias(f"_c{i}_match"),
        ]
    raise AssertionError(kind)


def _agg_aliases(i: int, c: dict) -> list[str]:
    """Internal metric column names _agg_exprs(i, c) produces."""
    kind = c["kind"]
    if kind == "completeness":
        return [f"_c{i}_nn"]
    if kind == "uniqueness":
        return [f"_c{i}_nn", f"_c{i}_nd"]
    if kind == "key_unique":
        return [f"_c{i}_nd"]
    if kind == "row_count":
        return []
    if kind in ("bounds", "in_set"):
        return [f"_c{i}_viol"]
    if kind == "pattern":
        return [f"_c{i}_nn", f"_c{i}_match"]
    raise AssertionError(kind)


def _post_exprs(i: int, c: dict) -> tuple[Column, Column]:
    """(observed, ok) expressions over the aggregated row."""
    kind = c["kind"]
    if kind == "completeness":
        obs = F.expr(f"CAST((1000 * _c{i}_nn) DIV greatest(_total, 1) AS BIGINT)")
        ok = F.expr(f"1000 * _c{i}_nn >= {c['min_permille']} * _total")
    elif kind == "uniqueness":
        obs = F.expr(f"CAST((1000 * _c{i}_nd) DIV greatest(_c{i}_nn, 1) AS BIGINT)")
        ok = F.expr(f"1000 * _c{i}_nd >= {c['min_permille']} * _c{i}_nn")
    elif kind == "key_unique":
        obs = F.expr(f"CAST(_total - _c{i}_nd AS BIGINT)")
        ok = F.expr(f"_c{i}_nd = _total")
    elif kind == "row_count":
        obs = F.expr("CAST(_total AS BIGINT)")
        ok = F.expr(f"_total >= {c['_lo']} AND _total <= {c['_hi']}")
    elif kind in ("bounds", "in_set"):
        obs = F.expr(f"CAST(_c{i}_viol AS BIGINT)")
        ok = F.expr(f"_c{i}_viol = 0")
    elif kind == "pattern":
        obs = F.expr(f"CAST((1000 * _c{i}_match) DIV greatest(_c{i}_nn, 1) AS BIGINT)")
        ok = F.expr(f"1000 * _c{i}_match >= {c['min_permille']} * _c{i}_nn")
    else:  # pragma: no cover
        raise AssertionError(kind)
    return obs, F.when(ok, F.lit(1)).otherwise(F.lit(0)).cast("long")


def check_constraints(
    df: DataFrame,
    checks: list[dict],
    group_cols: list[str] | None = None,
    as_columns: bool = False,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Evaluate all checks in ONE aggregation pass over ``df``.

    Default output is rule grain (one row per rule, per group when
    ``group_cols`` is given). ``as_columns=True`` pivots to one row per
    group with ``{rule_id}_obs`` / ``{rule_id}_ok`` BIGINT columns.

    ``extra_aggs`` (column mode only): caller aggregate expressions that
    ride the SAME groupBy().agg() — a rollup and its quality checks in
    one scan instead of two (at 100 TB the metrics pass shares the pass
    that was already touching every byte). Their aliased columns come
    first in the output, after the group keys.
    """
    checks = [_norm_check(c) for c in checks]
    ids = [c["rule_id"] for c in checks]
    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate rule_id in checks: {ids}")
    if extra_aggs and not as_columns:
        raise ValueError("extra_aggs requires as_columns=True")
    aggs: list[Column] = [F.count(F.lit(1)).cast("long").alias("_total")]
    aggs.extend(extra_aggs or [])
    for i, c in enumerate(checks):
        aggs.extend(_agg_exprs(i, c))
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    agg = grouped.agg(*aggs)
    group_sel = [F.col(g) for g in (group_cols or [])]
    if as_columns:
        sel = list(group_sel)
        hidden = {"_total"} | {
            a for i, c in enumerate(checks) for a in _agg_aliases(i, c)
        }
        sel.extend(
            F.col(name)
            for name in agg.columns
            if name not in hidden and name not in (group_cols or [])
        )
        for i, c in enumerate(checks):
            obs, ok = _post_exprs(i, c)
            sel.append(obs.alias(f"{c['rule_id']}_obs"))
            sel.append(ok.alias(f"{c['rule_id']}_ok"))
        return agg.select(*sel)
    structs = []
    for i, c in enumerate(checks):
        obs, ok = _post_exprs(i, c)
        structs.append(
            F.struct(
                F.lit(c["rule_id"]).alias("rule_id"),
                F.lit(c["kind"]).alias("kind"),
                F.lit(c.get("column") or ",".join(c.get("columns", []))).alias(
                    "column"
                ),
                obs.cast("long").alias("observed"),
                F.lit(int(c["_lo"])).cast("long").alias("target_lo"),
                F.lit(int(c["_hi"])).cast("long").alias("target_hi"),
                ok.alias("ok"),
            )
        )
    return agg.select(*group_sel, F.inline(F.array(*structs)))


# --------------------------------------------------------------- oracle --


def _sql_quote(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(int(v))


def _key_sql(cols: list[str]) -> str:
    parts = ", ".join(
        f"coalesce(CAST({c} AS VARCHAR), {_NULL_SENTINEL_SQL})" for c in cols
    )
    return f"concat_ws({_KEY_SEP_SQL}, {parts})"


def checks_select_sql(checks: list[dict]) -> list[str]:
    """DuckDB select-items mirroring column mode: ``{rule_id}_obs`` and
    ``{rule_id}_ok`` per rule, bit-identical to :func:`check_constraints`
    with ``as_columns=True`` over the same rows/grouping."""
    checks = [_norm_check(c) for c in checks]
    out: list[str] = []
    for c in checks:
        rid, kind, col = c["rule_id"], c["kind"], c.get("column")
        if kind == "completeness":
            obs = f"(1000 * count({col})) // greatest(count(*), 1)"
            ok = f"1000 * count({col}) >= {c['min_permille']} * count(*)"
        elif kind == "uniqueness":
            obs = f"(1000 * count(DISTINCT {col})) // greatest(count({col}), 1)"
            ok = f"1000 * count(DISTINCT {col}) >= {c['min_permille']} * count({col})"
        elif kind == "key_unique":
            k = _key_sql(c["columns"])
            obs = f"count(*) - count(DISTINCT {k})"
            ok = f"count(DISTINCT {k}) = count(*)"
        elif kind == "row_count":
            obs = "count(*)"
            ok = f"count(*) >= {c['_lo']} AND count(*) <= {c['_hi']}"
        elif kind == "bounds":
            v = (
                f"coalesce(sum(CASE WHEN {col} IS NOT NULL AND "
                f"({col} < {c['_lo']} OR {col} > {c['_hi']}) "
                f"THEN 1 ELSE 0 END), 0)"
            )
            obs, ok = v, f"{v} = 0"
        elif kind == "in_set":
            vals = ", ".join(_sql_quote(v) for v in c["values"])
            v = (
                f"coalesce(sum(CASE WHEN {col} IS NOT NULL AND "
                f"{col} NOT IN ({vals}) THEN 1 ELSE 0 END), 0)"
            )
            obs, ok = v, f"{v} = 0"
        elif kind == "pattern":
            m = (
                f"coalesce(sum(CASE WHEN regexp_matches({col}, "
                f"{_sql_quote(c['regex'])}) THEN 1 ELSE 0 END), 0)"
            )
            obs = f"(1000 * {m}) // greatest(count({col}), 1)"
            ok = f"1000 * {m} >= {c['min_permille']} * count({col})"
        else:  # pragma: no cover
            raise AssertionError(kind)
        out.append(f"CAST({obs} AS BIGINT) AS {rid}_obs")
        out.append(f"CAST(CASE WHEN {ok} THEN 1 ELSE 0 END AS BIGINT) AS {rid}_ok")
    return out

