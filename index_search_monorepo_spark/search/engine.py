"""Spark-first full-text search over the extracted documents table
(SURVEY.md §3.2/§3.3, §2.5 W2, §2.4 A6, §2.1 S7).

The reference delegates scoring to Solr's edismax parser
(ht_query.py:157-222, boosts config_query.yaml); here the same dismax
semantics are a pure column-expression scoring plan over the documents
DataFrame — no UDFs, whole-stage codegen end to end:

  per query term t:
      field score s_f(t)   = boost_f * tf(t, f)      (term frequency)
      term score  s(t)     = max_f s_f(t) + tie * (sum_f s_f(t) - max_f)
  mm=100%: every term must match at least one field  (edismax minimum-match)
  phrase boost: + boost_pf once per pf field containing the whole phrase
  doc score = sum_t s(t) + phrase boosts

Scale shape: scoring is embarrassingly parallel (narrow, no shuffle); the
only shuffle is the global top-k ordering, which Spark executes as per-
partition top-k (TakeOrderedAndProject) — identical to Solr's per-shard
top-k + merge across its 11 shards (config_search.py:19-20, O12).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from index_search_monorepo_spark.search.query import SearchQuery


def _field_tokens(df: DataFrame, name: str) -> Column:
    """Lowercased token array of a field; multivalued fields are flattened
    (Solr analyzes each value of a multivalued field into one index)."""
    col = F.col(name)
    if isinstance(df.schema[name].dataType, ArrayType):
        col = F.array_join(col, " ")
    return F.filter(F.split(F.lower(col), " "), lambda t: t != F.lit(""))


def _tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda t: t == F.lit(term)))


def with_dismax_score(
    df: DataFrame,
    query: SearchQuery,
    score_col: str = "score",
    explain: bool = False,
) -> DataFrame:
    """Adds the dismax score column; rows failing mm=100% score NULL.

    Token arrays are materialized once per field behind a Project boundary
    (`_toks_*`) so the per-term tf expressions share one tokenize pass
    instead of recomputing it per (term, field).

    explain=True adds `score_explanation`: one struct per (term, field) with
    the field contribution — the per-document score breakdown the reference
    surfaces from Solr's debug.explain output
    (ht_full_text_searcher.py:47-53). Same narrow plan; the breakdown
    reuses the already-bound token arrays."""
    terms = query.terms()
    qf = [(f, b) for f, b in query.qf if f in df.columns]
    pf = [(f, b) for f, b in query.pf if f in df.columns]
    if not terms or not qf:
        out = df.withColumn(score_col, F.lit(1.0))
        if explain:
            out = out.withColumn(
                "score_explanation",
                F.array().cast(
                    "array<struct<term:string,field:string,boost:double,"
                    "field_score:double>>"
                ),
            )
        return out

    toks_cols = {f: f"_toks_{f}" for f, _ in {**dict(qf), **dict(pf)}.items()}
    scored = df
    for f, c in toks_cols.items():
        scored = scored.withColumn(c, _field_tokens(df, f))

    term_scores = []
    term_matched = []
    explain_entries = []
    for t in terms:
        fscores = [
            F.lit(float(b)) * _tf(F.col(toks_cols[f]), t).cast("double")
            for f, b in qf
        ]
        if explain:
            for (f, b), fs in zip(qf, fscores):
                explain_entries.append(
                    F.struct(
                        F.lit(t).alias("term"),
                        F.lit(f).alias("field"),
                        F.lit(float(b)).alias("boost"),
                        fs.alias("field_score"),
                    )
                )
        best = F.greatest(*fscores) if len(fscores) > 1 else fscores[0]
        total = sum(fscores[1:], fscores[0])
        term_scores.append(best + F.lit(query.tie) * (total - best))
        term_matched.append(best > 0)

    score = sum(term_scores[1:], term_scores[0])
    for f, b in pf:
        phrase = " ".join(terms)
        in_field = F.array_join(F.col(toks_cols[f]), " ").contains(phrase)
        score = score + F.when(in_field, F.lit(float(b))).otherwise(F.lit(0.0))

    if query.operator == "OR":
        matched = term_matched[0]
        for m in term_matched[1:]:
            matched = matched | m
    else:  # exact phrase and AND both require every term (mm=100%)
        matched = term_matched[0]
        for m in term_matched[1:]:
            matched = matched & m
    if query.operator is None and len(terms) > 1:
        # exact phrase: the full phrase must appear in at least one qf field
        phrase = " ".join(terms)
        any_phrase = None
        for f, _ in qf:
            hit = F.array_join(F.col(toks_cols[f]), " ").contains(phrase)
            any_phrase = hit if any_phrase is None else (any_phrase | hit)
        matched = matched & any_phrase

    scored = scored.withColumn(score_col, F.when(matched, score))
    if explain:
        scored = scored.withColumn(
            "score_explanation", F.array(*explain_entries)
        )
    return scored.drop(*toks_cols.values())


def search(
    df: DataFrame,
    query: SearchQuery,
    id_col: str = "id",
    explain: bool = False,
) -> DataFrame:
    """W2 relevance top-k with P5/P6/P7 filters and start/rows pagination
    (ht_searcher.py:150-164's start+=rows loop becomes offset/limit).
    explain=True appends the per-doc score_explanation breakdown
    (ht_full_text_searcher.py:47-53)."""
    out = df
    if query.rights:
        out = out.filter(F.col("rights").isin(query.rights))
    if query.id_filter:
        out = out.filter(F.col(id_col).isin(query.id_filter))
    out = with_dismax_score(out, query, explain=explain).filter(
        F.col("score").isNotNull()
    )
    out = out.orderBy(F.desc("score"), F.asc(id_col))
    if query.start:
        out = out.offset(query.start)
    out = out.limit(query.rows)
    fl = query.fl or [id_col]
    cols = [c for c in fl if c in out.columns]
    extra = ["score_explanation"] if explain else []
    return out.select(*cols, "score", *extra)


def facet_counts(
    df: DataFrame,
    facet_fields: list[str],
    mincount: int = 1,
    limit: int = 30,
) -> dict[str, DataFrame]:
    """A6 facet counts (ht_searcher.py:70-104; config_facet_filters.yaml):
    per field, value counts with mincount and limit, descending. Multivalued
    fields explode first (Solr facets count each value)."""
    out = {}
    for f in facet_fields:
        if f not in df.columns:
            continue
        col = df.select(
            F.explode(F.col(f)).alias("value")
            if isinstance(df.schema[f].dataType, ArrayType)
            else F.col(f).alias("value")
        ).filter(F.col("value").isNotNull())
        out[f] = (
            col.groupBy("value")
            .agg(F.count("*").cast("long").alias("count"))
            .filter(F.col("count") >= mincount)
            .orderBy(F.desc("count"), F.asc("value"))
            .limit(limit)
        )
    return out


def export_all(
    df: DataFrame, query: SearchQuery, id_col: str = "id"
) -> DataFrame:
    """S7 cursor export (export_all_results.py:127-174): the cursorMark loop
    is an HTTP artifact; the native operation is a stable-ordered full scan
    with the fl projection (process_results, :43-54)."""
    out = df
    if query.rights:
        out = out.filter(F.col("rights").isin(query.rights))
    fl = [c for c in (query.fl or [id_col]) if c in df.columns]
    return out.select(*fl).orderBy(id_col)


# --------------------------------------------------------------- BM25 (r5)
#
# Solr's default similarity since 6.0 is BM25 (the reference's edismax
# boosts, config_query.yaml, combine ON TOP of the field similarity) — the
# dismax plan above reproduced the boost algebra; this adds the similarity
# itself as with_bm25_score_e6, the ORACLE-EXACT form of Lucene BM25 per
# the repo's integer-arithmetic convention (CLAUDE.md: cents/e4 sums, DIV,
# round-before-rank). ln is not IEEE-correctly-rounded, so a float idf
# can drift between engines at a rounding boundary; instead idf uses the
# same bit-length log2 surrogate as operators/lm.py's NLL
# (bitlen((2N+1) DIV (2 df+1)) = floor(log2((N+.5)/(df+.5))) + 1) and the
# tf part is an exact rational in e3/e6 fixed point:
#     avgdl_e3   = (1000 T) DIV N
#     den_e3     = 1000 tf + 300 + (900000 dl) DIV avgdl_e3
#                  (k1=1.2, b=0.75: k1(1-b)=0.3, k1 b=0.9, k1+1=2.2)
#     tfpart_e6  = (2_200_000_000 tf) DIV den_e3
#     score_e6   = sum_t idf_sur(t) * tfpart_e6(t)
# Every intermediate fits a BIGINT for ANY corpus size (no T in a
# numerator: max term is 2.2e9 * tf).
#
# Scale shape: corpus stats (N, T, df per query term) are ONE map-side-
# combined aggregation producing ONE row, broadcast back over the corpus;
# scoring is a pure projection (zero shuffle); top-k is
# TakeOrderedAndProject — identical to the dismax plan.


def _term_eq(trm: str):
    """Closure factory: a `lambda t, trm=trm:` would count as a TWO-arg
    lambda and F.filter would bind the element INDEX to trm (CLAUDE.md
    lesson #2)."""

    def eq(t):
        return t == F.lit(trm)

    return eq


def _bm25_stats(
    df: DataFrame, terms: list[str], text_col: str
) -> DataFrame:
    toks = _field_tokens(df, text_col)
    base = df.select(
        F.size(toks).cast("long").alias("_dl"),
        *[
            (F.size(F.filter(toks, _term_eq(trm))) > 0)
            .cast("long")
            .alias(f"_has_{i}")
            for i, trm in enumerate(terms)
        ],
    )
    return base.agg(
        F.count("*").cast("long").alias("_N"),
        F.sum("_dl").cast("long").alias("_T"),
        *[
            F.sum(f"_has_{i}").cast("long").alias(f"_df_{i}")
            for i in range(len(terms))
        ],
    )


def with_bm25_score_e6(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
) -> DataFrame:
    """df + bm25_e6 (BIGINT): integer-exact BM25 with the log2-bitlen idf
    surrogate. One stats aggregation + broadcast, then pure projection."""
    from index_search_monorepo_spark.operators.lm import bitlen_expr

    stats = _bm25_stats(df, terms, text_col)
    toks = _field_tokens(df, text_col)
    bound = (
        df.join(F.broadcast(stats))
        .withColumn("_toks", toks)
        .withColumn("_dl", F.size(F.col("_toks")).cast("long"))
        .withColumn(
            "_avgdl_e3",
            F.greatest(F.expr("(1000 * _T) DIV _N"), F.lit(1).cast("long")),
        )
    )
    for i, trm in enumerate(terms):
        bound = bound.withColumn(
            f"_tf_{i}",
            F.size(
                F.filter(F.col("_toks"), _term_eq(trm))
            ).cast("long"),
        )
    score = F.lit(0).cast("long")
    for i in range(len(terms)):
        idf_sur = bitlen_expr(
            F.expr(f"(2 * _N + 1) DIV (2 * _df_{i} + 1)")
        )
        tfpart = F.expr(
            f"(2200000000 * _tf_{i}) DIV"
            f" (1000 * _tf_{i} + 300 + (900000 * _dl) DIV _avgdl_e3)"
        )
        score = score + idf_sur * tfpart
    keep = [c for c in df.columns]
    return bound.select(*keep, score.alias("bm25_e6"))


def bm25_e6_oracle_sql(
    terms: list[str], table: str = "documents", text_col: str = "text"
) -> tuple[str, str]:
    """(cte_block, score_expr) DuckDB mirror of with_bm25_score_e6 — kept
    next to the Spark exprs so the fixed-point spec cannot drift. The
    score_expr references per-doc `toks` from the `bm25tok` CTE and the
    one-row `bm25stats` CTE (cross join)."""
    tok = (
        f"bm25tok AS (SELECT *, list_filter(string_split(lower({text_col}),"
        " ' '), x -> x <> '') AS toks FROM " + table + ")"
    )
    df_cols = ", ".join(
        "CAST(sum(CASE WHEN len(list_filter(toks, x -> x = '{t}')) > 0"
        " THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}".format(t=t, i=i)
        for i, t in enumerate(terms)
    )
    stats = (
        "bm25stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(len(toks)) AS BIGINT) AS total_len, "
        + df_cols
        + " FROM bm25tok)"
    )
    parts = []
    for i, t in enumerate(terms):
        tf = f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT)"
        idf = (
            "CAST(length(bin((2 * n_docs + 1) // (2 * df_{i} + 1)))"
            " AS BIGINT)".format(i=i)
        )
        den = (
            f"(1000 * {tf} + 300 + (900000 * CAST(len(toks) AS BIGINT))"
            " // greatest((1000 * total_len) // n_docs, 1))"
        )
        parts.append(f"{idf} * ((2200000000 * {tf}) // {den})")
    return tok + ",\n" + stats, "CAST(" + " + ".join(parts) + " AS BIGINT)"
