"""Byte-pair-encoding tokenizer: corpus-parallel trainer + exact merge
application (Sennrich et al. 2016, the algorithm behind GPT-2/LLaMA-family
tokenizers).

Two halves, both Spark-first:

**Training** (`train_bpe`). The classic trainer is a loop over a
word-frequency table: count adjacent symbol pairs weighted by word
frequency, merge the most frequent pair everywhere, repeat. Distributed
shape: the corpus collapses ONCE to the distinct-pre-token frequency table
(map-side-combined wordcount — the only corpus-sized pass), and every
iteration then runs on that small table: explode adjacent pairs, one
map-side-combined sum, a deterministic argmax (count DESC, pair ASC — a
total order, so training is reproducible at any parallelism), and a
column rewrite applying the merge. The per-iteration collect is ONE row
(the argmax), the bounded-convergence-scalar pattern of
operators/dedup.py's cluster loop; `localCheckpoint` keeps the iterated
plan flat. At 100 TB the pre-token table is bounded by vocabulary
(~10^7 rows), not corpus size — the loop never touches documents again.

**Application** (`apply_bpe_merges_expr` / `with_bpe_tokens`). A learned
merge list is applied to a symbol array as a sequence of greedy
left-to-right folds, one per merge in rank order. This is exactly
equivalent to the rank-priority-queue algorithm in subword-nmt/HF
tokenizers for lists learned by this trainer: a merge can never create an
adjacency between two previously-separated older symbols (the merged
symbol sits between them), so earlier-rank pairs never reappear after a
later-rank pass, and one greedy pass per rank suffices; repeat-chains
inside one rank ("aaaa" under (a,a)) are handled by the fold itself.
Each fold is a pure higher-order `aggregate` — JVM-side, no Python — and
the DuckDB oracle mirrors it with `list_reduce` over single-element
lists, so segmentations are verified symbol-for-symbol.

Per-document cost shape: `with_bpe_tokens` (strategy='distinct') applies
the fold chain only to DISTINCT pre-tokens (bounded by vocabulary), then
broadcast-joins the segmentation back and re-aggregates per document —
the k-fold expression never runs per corpus row, and document text never
shuffles. strategy='inline' keeps everything row-local (zero joins) for
small merge lists.

No reference counterpart (the reference indexes whole OCR text); this is
the tokenization stage of the training-data-pipeline family (build
brief), sharing textstats.with_token_stats' pre-tokenizer
(BPE_PRETOKEN_RE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.textstats import (
    BPE_PRETOKEN_RE,
    _check_keep,
)

# plan-size guard: each merge adds one nested fold to the expression tree;
# past ~hundreds the analyzer cost dominates. Large production vocabs
# belong on the 'distinct' strategy anyway (the fold runs once per
# distinct pre-token), but the expression itself is capped to keep plan
# compilation bounded.
MAX_INLINE_MERGES = 256

_DOTALL_ANYCHAR = "(?s)."


def pretokens_expr(text: Column) -> Column:
    """GPT-2-style pre-tokens (textstats.BPE_PRETOKEN_RE), whitespace runs
    dropped — the unit BPE merges operate within (merges never cross
    pre-token boundaries)."""
    raw = F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0)
    return F.filter(raw, lambda t: ~t.rlike(r"^\s+$"))


def chars_expr(tok: Column) -> Column:
    """Initial symbolization: one symbol per character ((?s). so newlines
    inside pre-tokens survive; identical in Java regex and RE2)."""
    return F.regexp_extract_all(tok, F.lit(_DOTALL_ANYCHAR), 0)


def merge_once_expr(syms: Column, left: str, right: str) -> Column:
    """One greedy left-to-right merge pass: every adjacent (left, right)
    becomes left||right, leftmost-first, non-overlapping (the fold's
    accumulator state makes overlap impossible). Pure higher-order
    aggregate — JVM-side, null-safe on the empty array via
    try_element_at (ANSI mode: element_at would throw)."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - F.lit(1)),
                F.array(merged),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def apply_bpe_merges_expr(
    syms: Column, merges: list[tuple[str, str]]
) -> Column:
    """Full segmentation: fold chain over the rank-ordered merge list (see
    module docstring for the equivalence argument)."""
    if len(merges) > MAX_INLINE_MERGES:
        raise ValueError(
            f"{len(merges)} merges exceeds MAX_INLINE_MERGES "
            f"({MAX_INLINE_MERGES}); segment distinct pre-tokens via "
            "with_bpe_tokens(strategy='distinct') instead of inlining"
        )
    out = syms
    for left, right in merges:
        out = merge_once_expr(out, left, right)
    return out


def merge_once_sql(list_sql: str, left: str, right: str) -> str:
    """DuckDB mirror of merge_once_expr. list_reduce needs a uniform
    element type, so symbols ride as single-element lists; the seed is the
    first element, which is safe because the merge branch can never fire
    on an empty accumulator."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    # the lambda concatenates flat VARCHAR[] accumulators, so the reduce
    # already returns flat symbols; list_reduce raises on an empty input
    # list (Spark's aggregate returns the seed), hence the length guard
    return (
        f"CASE WHEN len({list_sql}) = 0 THEN CAST([] AS VARCHAR[]) ELSE"
        f" list_reduce(list_transform({list_sql}, s -> [s]),"
        f" (acc, x) -> CASE WHEN acc[-1] = '{q(left)}'"
        f" AND x[1] = '{q(right)}'"
        f" THEN array_pop_back(acc) || ['{q(left + right)}']"
        f" ELSE acc || x END) END"
    )


def apply_bpe_merges_sql(
    syms_sql: str, merges: list[tuple[str, str]]
) -> str:
    """DuckDB mirror of apply_bpe_merges_expr (chained fold passes)."""
    out = syms_sql
    for left, right in merges:
        out = f"({merge_once_sql(out, left, right)})"
    return out


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 16,
    min_pair_count: int = 2,
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """Learn a rank-ordered merge list from a corpus. Deterministic at any
    parallelism: pair selection is (count DESC, left ASC, right ASC).
    Stops early when no pair reaches min_pair_count. The returned list is
    plain data — feed it to with_bpe_tokens/apply_bpe_merges_expr, or
    persist it like any other model artifact."""
    pretok = (
        df.select(F.explode(pretokens_expr(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("syms", chars_expr(F.col("tok")))
        .select("syms", "cnt")
        .localCheckpoint()
    )
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pairs = (
            pretok.select(
                F.explode(
                    F.when(
                        F.size("syms") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda j: F.struct(
                                F.element_at(F.col("syms"), j).alias("l"),
                                F.element_at(F.col("syms"), j + 1).alias(
                                    "r"
                                ),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast(
                            "array<struct<l:string,r:string>>"
                        )
                    )
                ).alias("p"),
                F.col("cnt"),
            )
            .groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("p.l"), F.asc("p.r"))
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["n"] < min_pair_count:
            break
        best = pairs[0]["p"]
        merges.append((best["l"], best["r"]))
        pretok = pretok.withColumn(
            "syms", merge_once_expr(F.col("syms"), best["l"], best["r"])
        )
        if (i + 1) % checkpoint_every == 0:
            pretok = pretok.localCheckpoint()
    return merges


_BPE_PRODUCED = ("bpe_merged_tokens", "bpe_longest_sym")


def with_bpe_tokens(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    strategy: str = "distinct",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document BPE statistics under a learned merge list, at doc
    grain (every row kept, empty docs -> zeros):

      bpe_merged_tokens : total symbols after merging (the real "BPE
                          token count" a training-budget estimate needs —
                          textstats.subword_est approximates this)
      bpe_longest_sym   : character length of the longest merged symbol
                          (pins symbol CONTENT, not just counts)

    strategy='distinct' (default): segment DISTINCT pre-tokens only, then
    broadcast-join the per-token segmentation back onto exploded
    (doc_id, token) pairs and re-aggregate — the fold chain runs
    vocabulary-many times, not corpus-many; only slim pairs shuffle.
    strategy='inline': the fold chain runs inside one per-row projection —
    zero joins/shuffles, right when the merge list is small or rows are
    already fat."""
    _check_keep(keep, ("doc_id", *_BPE_PRODUCED))
    if strategy == "inline":
        segged = F.transform(
            F.col("_pts"),
            lambda t: apply_bpe_merges_expr(chars_expr(t), merges),
        )
        return (
            df.withColumn("_pts", pretokens_expr(F.col(text_col)))
            .withColumn("_seg", segged)
            .select(
                "doc_id",
                *keep,
                F.aggregate(
                    "_seg",
                    F.lit(0).cast("long"),
                    lambda acc, s: acc + F.size(s),
                ).alias("bpe_merged_tokens"),
                F.coalesce(
                    F.array_max(
                        F.flatten(
                            F.transform(
                                "_seg",
                                lambda s: F.transform(s, F.length),
                            )
                        )
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("bpe_longest_sym"),
            )
        )
    if strategy != "distinct":
        raise ValueError(f"unknown strategy {strategy!r}")
    tok = df.select(
        "doc_id", F.explode(pretokens_expr(F.col(text_col))).alias("tok")
    )
    seg = (
        tok.select("tok")
        .distinct()
        .withColumn(
            "_syms", apply_bpe_merges_expr(chars_expr(F.col("tok")), merges)
        )
        .select(
            "tok",
            F.size("_syms").cast("long").alias("_n_syms"),
            F.coalesce(
                F.array_max(F.transform("_syms", F.length)), F.lit(0)
            )
            .cast("long")
            .alias("_max_sym"),
        )
    )
    agg = (
        tok.join(F.broadcast(seg), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("_n_syms").cast("long").alias("bpe_merged_tokens"),
            F.max("_max_sym").cast("long").alias("bpe_longest_sym"),
        )
    )
    zero = F.lit(0).cast("long")
    out = df.select("doc_id", *keep).join(agg, "doc_id", "left")
    return out.select(
        "doc_id",
        *keep,
        F.coalesce("bpe_merged_tokens", zero).alias("bpe_merged_tokens"),
        F.coalesce("bpe_longest_sym", zero).alias("bpe_longest_sym"),
    )


def bpe_oracle_sql(
    merges: list[tuple[str, str]],
    source_cte: str = "documents",
    text_sql: str = "text",
) -> str:
    """DuckDB CTE chain mirroring with_bpe_tokens from scratch (pre-token
    regex -> char symbols -> fold chain -> per-doc aggregates). The final
    CTE `bpe_out` yields (doc_id, bpe_merged_tokens, bpe_longest_sym) at
    doc grain."""
    # textstats.BPE_PRETOKEN_RE with the apostrophe doubled for the SQL
    # string literal (same convention as contract._BPE_RE)
    re_sql = BPE_PRETOKEN_RE.replace("'", "''")
    seg = apply_bpe_merges_sql(
        f"regexp_extract_all(tok, '{_DOTALL_ANYCHAR}')", merges
    )
    return f"""
    bpe_tok AS (
      SELECT doc_id, unnest(list_filter(
               regexp_extract_all({text_sql}, '{re_sql}'),
               x -> NOT regexp_matches(x, '^\\s+$'))) AS tok
      FROM {source_cte}
    ),
    bpe_seg AS (
      SELECT tok, {seg} AS syms FROM (SELECT DISTINCT tok FROM bpe_tok)
    ),
    bpe_doc AS (
      SELECT t.doc_id,
             CAST(sum(len(s.syms)) AS BIGINT) AS bpe_merged_tokens,
             CAST(max(list_max(list_transform(s.syms, x -> len(x))))
               AS BIGINT) AS bpe_longest_sym
      FROM bpe_tok t JOIN bpe_seg s USING (tok)
      GROUP BY t.doc_id
    ),
    bpe_out AS (
      SELECT d.doc_id,
             coalesce(b.bpe_merged_tokens, 0) AS bpe_merged_tokens,
             coalesce(b.bpe_longest_sym, 0) AS bpe_longest_sym
      FROM {source_cte} d LEFT JOIN bpe_doc b USING (doc_id)
    )"""
