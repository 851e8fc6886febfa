"""Text-analysis operators for a large-scale training-data pipeline:
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure column expressions (whole-stage codegen, zero
Python, zero shuffle) — they scale linearly to 100 TB and their outputs are
integer-exact so the DuckDB oracle comparison is bit-stable.

These extend the reference's extraction stage (which indexes raw OCR with no
content analysis) with the ops a corpus-curation pipeline needs; they are
first-class `queries()` entries in the driver contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.skew import persist

# tiny deterministic "stopword" table for the language heuristic. The
# classification rule is intentionally simple/deterministic — the point of
# the oracle check is the distributed computation, not linguistic power.
EN_MARKERS = ("the", "a", "of", "and")
LANG_THRESHOLD_PMILLE = 60  # >= 6.0% marker tokens -> 'en-like'


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenizer; drops empty tokens (double spaces)."""
    return F.filter(F.split(text, " "), lambda t: t != F.lit(""))


def word_ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Space-joined word n-grams of an already-bound token array; empty
    array when there are fewer than n tokens. The single n-gram builder
    shared by the repetition signals and dedup.word_shingles_expr (r4
    review: two hand-rolled copies would drift). The caller MUST pass a
    bound attribute or lambda variable, never a raw tokenize expression —
    the n element_at references get no CSE inside the lambda (CLAUDE.md
    lesson #1), so an unbound expr re-evaluates per reference."""
    k = F.size(toks) - F.lit(n - 1)
    return F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _check_keep(keep: tuple[str, ...], produced: tuple[str, ...]) -> None:
    """keep= passthrough names must not collide with the operator's own
    output columns — a collision would emit two same-named columns and
    fail far downstream with AMBIGUOUS_REFERENCE (r4 review)."""
    clash = set(keep).intersection(produced)
    if clash:
        raise ValueError(
            f"keep columns {sorted(clash)} collide with produced columns"
        )


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    # _toks is bound once behind a Project boundary: CollapseProject refuses
    # to inline a non-cheap expression referenced more than once, so the
    # tokenize pass runs a single time per row (CLAUDE.md lesson #1).
    return df.withColumn("_toks", tokens_expr(F.col(text_col))).select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_unique_tokens"),
    )


# GPT-2-style pre-tokenizer, restricted to syntax both Java regex (Spark)
# and RE2 (DuckDB) support identically: no lookahead, unicode classes only.
# Leftmost-first alternation order is semantic (contractions before words).
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def with_token_stats(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """C11 combined: whitespace token counts AND BPE-style pre-tokenizer
    counts in one projection — one tokenize pass + one regexp pass per row,
    each bound once behind a Project boundary (CLAUDE.md lesson #1); the
    contract-gated shape covering both families. `keep` carries input
    columns through unchanged (plain refs, free) so composed per-row
    surfaces avoid a doc_id self-join."""
    _check_keep(keep, (
        "doc_id", "n_tokens", "n_chars", "n_unique_tokens", "n_bpe_tokens",
        "n_word_tokens", "n_numeric_tokens", "subword_est",
    ))
    pt = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0)
    return (
        df.withColumn("_toks", tokens_expr(F.col(text_col)))
        .withColumn(
            "_nws",
            F.filter(pt, lambda t: ~t.rlike(r"^\s+$")),
        )
        .select(
            "doc_id",
            *keep,
            F.size("_toks").cast("long").alias("n_tokens"),
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
            F.size(F.array_distinct("_toks"))
            .cast("long")
            .alias("n_unique_tokens"),
            F.size("_nws").cast("long").alias("n_bpe_tokens"),
            F.size(F.filter("_nws", lambda t: t.rlike(r"^ ?\p{L}")))
            .cast("long")
            .alias("n_word_tokens"),
            F.size(F.filter("_nws", lambda t: t.rlike(r"^ ?\p{N}")))
            .cast("long")
            .alias("n_numeric_tokens"),
            F.aggregate(
                "_nws",
                F.lit(0).cast("long"),
                lambda acc, t: acc
                + F.floor((F.length(F.btrim(t)) + 3) / 4).cast("long"),
            ).alias("subword_est"),
        )
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1 quality
    filters) — the curation heuristics that catch boilerplate-heavy and
    template-generated web text which length/stopword ratios miss:

      - dup_line_pmille       : per-mille of non-blank lines that are
                                repeats of an earlier identical line
      - dup_line_char_pmille  : per-mille of line characters contained in
                                those repeated occurrences
      - dup_2gram_pmille      : per-mille of word 2-grams that repeat
      - dup_3gram_pmille      : per-mille of word 3-grams that repeat
      - repetition_band       : 'repetitive' when any signal crosses its
                                Gopher-ish threshold (300/200/200/180),
                                else 'ok'

    Integer-exact per-mille arithmetic (1000*x DIV y) for bit-stable
    oracle parity. Pure column expressions — whole-stage codegen, zero
    Python, zero shuffle, linear at corpus scale. Every non-cheap array
    (lines, distinct lines, token n-grams) is bound once behind a Project
    boundary (CLAUDE.md lesson #1); input columns are preserved so the
    signals compose with other per-row surfaces without a self-join."""
    text = F.col(text_col)

    def grams(n: int) -> Column:
        return word_ngrams_from_tokens(F.col("_rtoks"), n)

    line_chars = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    bound = (
        df.withColumn(
            "_lines", F.filter(F.split(text, "\n"), lambda x: x != F.lit(""))
        )
        .withColumn("_dlines", F.array_distinct(F.col("_lines")))
        .withColumn("_rtoks", tokens_expr(text))
        .withColumn("_g2", grams(2))
        .withColumn("_g3", grams(3))
    )
    counted = bound.select(
        "*",
        F.size("_lines").cast("long").alias("n_lines"),
        F.size("_dlines").cast("long").alias("_n_dlines"),
        line_chars(F.col("_lines")).alias("_lchars"),
        line_chars(F.col("_dlines")).alias("_dchars"),
        F.size("_g2").cast("long").alias("_n_g2"),
        F.size(F.array_distinct("_g2")).cast("long").alias("_n_dg2"),
        F.size("_g3").cast("long").alias("_n_g3"),
        F.size(F.array_distinct("_g3")).cast("long").alias("_n_dg3"),
    )

    def pmille(num: str, den: str) -> Column:
        return F.expr(
            f"CAST(CASE WHEN {den} = 0 THEN 0"
            f" ELSE 1000 * ({num}) DIV {den} END AS BIGINT)"
        )

    dup_line = pmille("n_lines - _n_dlines", "n_lines")
    dup_lchar = pmille("_lchars - _dchars", "_lchars")
    dup_g2 = pmille("_n_g2 - _n_dg2", "_n_g2")
    dup_g3 = pmille("_n_g3 - _n_dg3", "_n_g3")
    out = counted.select(
        "*",
        dup_line.alias("dup_line_pmille"),
        dup_lchar.alias("dup_line_char_pmille"),
        dup_g2.alias("dup_2gram_pmille"),
        dup_g3.alias("dup_3gram_pmille"),
    ).select(
        "*",
        F.when(
            (F.col("dup_line_pmille") > 300)
            | (F.col("dup_line_char_pmille") > 200)
            | (F.col("dup_2gram_pmille") > 200)
            | (F.col("dup_3gram_pmille") > 180),
            F.lit("repetitive"),
        )
        .otherwise(F.lit("ok"))
        .alias("repetition_band"),
    )
    return out.drop(
        "_lines", "_dlines", "_rtoks", "_g2", "_g3",
        "_n_dlines", "_lchars", "_dchars",
        "_n_g2", "_n_dg2", "_n_g3", "_n_dg3",
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Integer-exact quality features + a per-mille lexical-diversity score:
    score = (1000 * unique_tokens) DIV tokens; quality bands on the score.
    Mirrors length/stopword-ratio heuristics used by corpus filters.

    Single tokenize pass per row: `_toks` is bound once (Project boundary),
    the integer counts are bound once more, and the score/band derive from
    the counts — cheap column refs, free to recompute."""
    counted = df.withColumn("_toks", tokens_expr(F.col(text_col))).select(
        "doc_id",
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_unique_tokens"),
        F.size(F.filter("_toks", lambda t: F.length(t) <= 2))
        .cast("long")
        .alias("n_short_tokens"),
    )
    # integer division (DIV) for exact parity with the SQL oracle
    score = F.expr("CAST(1000 * n_unique_tokens DIV n_tokens AS BIGINT)")
    band = (
        F.when(score >= 300, F.lit("high"))
        .when(score >= 150, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_unique_tokens",
        "n_short_tokens",
        score.alias("diversity_pmille"),
        band.alias("quality_band"),
    )


PUNCT_CHARS = ".,;:!?'\"()[]-"
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that")


def with_quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Punctuation-ratio and stopword-ratio quality signals (the corpus-
    filter heuristics alongside `with_quality_score`'s length/diversity):
    per-mille punct chars, per-mille stopword tokens, and a band —
    'noisy' (punct-heavy, OCR garbage / tables), 'flat' (no stopword mass,
    unsegmented or non-English), else 'clean'.

    Counting is replace-shrinkage per punct char (codegen'd String.replace,
    no regex-dialect risk vs the oracle) + one tokenize pass bound once."""
    counted = (
        df.withColumn("_toks", tokens_expr(F.col(text_col)))
        .select(
            "doc_id",
            F.length(F.col(text_col)).cast("long").alias("n_chars"),
            F.size("_toks").cast("long").alias("n_tokens"),
            sum(
                (
                    F.length(F.col(text_col))
                    - F.length(F.replace(F.col(text_col), F.lit(c)))
                    for c in PUNCT_CHARS
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_punct"),
            F.size(
                F.filter("_toks", lambda t: t.isin(*STOPWORDS))
            )
            .cast("long")
            .alias("n_stopwords"),
        )
    )
    punct_pm = F.expr(
        "CAST(CASE WHEN n_chars = 0 THEN 0"
        " ELSE 1000 * n_punct DIV n_chars END AS BIGINT)"
    )
    stop_pm = F.expr(
        "CAST(CASE WHEN n_tokens = 0 THEN 0"
        " ELSE 1000 * n_stopwords DIV n_tokens END AS BIGINT)"
    )
    band = (
        F.when(punct_pm > 150, F.lit("noisy"))
        .when(stop_pm < 30, F.lit("flat"))
        .otherwise(F.lit("clean"))
    )
    return counted.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_punct",
        "n_stopwords",
        punct_pm.alias("punct_pmille"),
        stop_pm.alias("stopword_pmille"),
        band.alias("signal_band"),
    )


def with_quality(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """C10 combined: lexical-diversity score AND punct/stopword signals in
    one projection, sharing a single tokenize pass (the standalone
    `with_quality_score` / `with_quality_signals` each tokenize once; a
    pipeline wanting both would pay twice and shuffle a join — this is the
    contract-gated one-pass shape).

    `keep` names input columns to carry through unchanged (plain attribute
    refs, free) — so callers composing quality with other per-row surfaces
    (e.g. the PII counts) stay one select pipeline instead of paying a
    doc_id self-join shuffle to reattach them."""
    _check_keep(keep, (
        "doc_id", "n_tokens", "n_unique_tokens", "n_short_tokens",
        "diversity_pmille", "quality_band", "n_chars", "n_punct",
        "n_stopwords", "punct_pmille", "stopword_pmille", "signal_band",
    ))
    counted = df.withColumn("_toks", tokens_expr(F.col(text_col))).select(
        "doc_id",
        *keep,
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).cast("long").alias("n_unique_tokens"),
        F.size(F.filter("_toks", lambda t: F.length(t) <= 2))
        .cast("long")
        .alias("n_short_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        sum(
            (
                F.length(F.col(text_col))
                - F.length(F.replace(F.col(text_col), F.lit(c)))
                for c in PUNCT_CHARS
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_punct"),
        F.size(F.filter("_toks", lambda t: t.isin(*STOPWORDS)))
        .cast("long")
        .alias("n_stopwords"),
    )
    score = F.expr("CAST(1000 * n_unique_tokens DIV n_tokens AS BIGINT)")
    quality_band = (
        F.when(score >= 300, F.lit("high"))
        .when(score >= 150, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    punct_pm = F.expr(
        "CAST(CASE WHEN n_chars = 0 THEN 0"
        " ELSE 1000 * n_punct DIV n_chars END AS BIGINT)"
    )
    stop_pm = F.expr(
        "CAST(CASE WHEN n_tokens = 0 THEN 0"
        " ELSE 1000 * n_stopwords DIV n_tokens END AS BIGINT)"
    )
    signal_band = (
        F.when(punct_pm > 150, F.lit("noisy"))
        .when(stop_pm < 30, F.lit("flat"))
        .otherwise(F.lit("clean"))
    )
    return counted.select(
        "doc_id",
        *keep,
        "n_tokens",
        "n_unique_tokens",
        "n_short_tokens",
        score.alias("diversity_pmille"),
        quality_band.alias("quality_band"),
        "n_chars",
        "n_punct",
        "n_stopwords",
        punct_pm.alias("punct_pmille"),
        stop_pm.alias("stopword_pmille"),
        signal_band.alias("signal_band"),
    )


# character-trigram profiles (8 highest-frequency trigrams per language,
# ASCII-only so Spark/DuckDB substring semantics cannot diverge). Order of
# the dict is the deterministic argmax tie-break order.
TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ing", " an", "nd ", "er ", "ed "),
    "fr": (" de", "es ", " le", "le ", "ent", "et ", " la", "ait"),
    "de": ("en ", "er ", "ch ", "der", "ein", "ich", "sch", "und"),
    "es": (" de", "de ", "os ", "la ", "el ", "as ", "ue ", "que"),
}


def _tri_count(lc: Column, tri: str) -> Column:
    """Non-overlapping occurrence count of `tri` via replace-shrinkage:
    (len - len(remove(tri))) / 3 — one codegen'd String.replace pass per
    trigram, identical semantics in DuckDB, integer-exact."""
    return (F.length(lc) - F.length(F.replace(lc, F.lit(tri)))) / 3


def with_lang_id_full(
    df: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """C9 combined: the stopword-marker heuristic AND the character-trigram
    profile vote in one projection (`marker_guess` / `ngram_guess`), sharing
    one tokenize pass and one lowercase pass. The contract-gated shape
    covering both language-ID families. `keep` carries input columns
    through unchanged (collision-checked), same passthrough contract as
    with_quality/with_token_stats."""
    _check_keep(keep, (
        "doc_id", "marker_hits", "n_tokens", "marker_pmille", "marker_guess",
        *[f"{lang}_hits" for lang in TRIGRAM_PROFILES], "ngram_guess",
    ))
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    counted = (
        df.withColumn("_toks", tokens_expr(F.col(text_col)))
        .withColumn("_lc", F.lower(F.col(text_col)))
        .select(
            "doc_id",
            *keep,
            F.size(F.filter("_toks", lambda t: F.array_contains(markers, t)))
            .cast("long")
            .alias("marker_hits"),
            F.size("_toks").cast("long").alias("n_tokens"),
            *[
                sum(
                    (_tri_count(F.col("_lc"), tri) for tri in tris),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"{lang}_hits")
                for lang, tris in TRIGRAM_PROFILES.items()
            ],
        )
    )
    pmille = F.expr("CAST(1000 * marker_hits DIV n_tokens AS BIGINT)")
    marker_guess = F.when(
        pmille >= LANG_THRESHOLD_PMILLE, F.lit("en-like")
    ).otherwise(F.lit("other"))
    best = F.greatest(*[F.col(f"{lang}_hits") for lang in TRIGRAM_PROFILES])
    ngram_guess = F.when(best == 0, F.lit("unknown"))
    for lang in TRIGRAM_PROFILES:
        ngram_guess = ngram_guess.when(F.col(f"{lang}_hits") == best, F.lit(lang))
    return counted.select(
        "doc_id",
        *keep,
        "marker_hits",
        "n_tokens",
        pmille.alias("marker_pmille"),
        marker_guess.alias("marker_guess"),
        *[f"{lang}_hits" for lang in TRIGRAM_PROFILES],
        ngram_guess.alias("ngram_guess"),
    )


def with_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    shingle_len: int = 8,
    stride: int = 4,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Document fingerprint: min-MD5 over overlapping character shingles
    (winnowing-style rolling fingerprint, MinHash k=1 over char n-grams).
    Robust to small edits at the tail; exact string output. ``keep``
    carries extra input columns through (module keep convention) so
    composed per-doc columns ride without a join."""
    text = F.col(text_col)
    n_sh = F.greatest(
        F.ceil((F.length(text) - F.lit(shingle_len) + 1) / F.lit(float(stride))),
        F.lit(1),
    ).cast("int")
    shingles = F.transform(
        F.sequence(F.lit(0), n_sh - 1),
        lambda i: F.md5(F.substring(text, i * stride + 1, shingle_len)),
    )
    return df.select(
        "doc_id",
        F.array_min(shingles).alias("fingerprint"),
        n_sh.cast("long").alias("n_shingles"),
        *keep,
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal
# ---------------------------------------------------------------------------

ENTROPY_PREFIX_COLS = ("n_chars", "distinct", "bits_e3", "low")


def with_char_entropy(
    df: DataFrame,
    text_col: str = "text",
    prefix: str = "ent_",
    low_bits_e3: int = 2000,
    min_chars: int = 20,
) -> DataFrame:
    """Per-document empirical character entropy — the compressibility-
    style garbage detector (RefinedWeb/DCLM filter low-compression-
    ratio pages; OCR line noise and padded boilerplate are exactly the
    low-entropy tail). True Shannon entropy is float; the repo's bitlen
    surrogate (operators/lm.py convention, length(bin(x)) in both
    engines) gives the integer-exact form

        sur       = sum_i c_i * (bitlen(n) - bitlen(c_i))
        bits_e3   = 1000 * sur DIV n        (~ millibits/char, +-2 bits)

    over the codepoint counts c_i (chars via regexp_extract_all
    '[\\s\\S]' — Java regex and RE2 both match one CODEPOINT, so
    Spark and DuckDB agree on non-ASCII text).

    Adds {prefix}n_chars, {prefix}distinct, {prefix}bits_e3 and the
    {prefix}low verdict (BIGINT 0/1: bits_e3 < low_bits_e3 over at
    least min_chars — short strings are exempt, their entropy is
    meaningless).

    Plan shape: pure projection — sort the char array once, derive run
    boundaries with index HOFs, fold the surrogate. Zero shuffles,
    zero Python; every multiply-referenced intermediate (char array,
    run starts, n, bitlen(n)) is bound behind a withColumn Project
    boundary (CLAUDE.md lesson #1), try_element_at throughout (ANSI
    mode). O(n log n) per row, no joins — survives any corpus size.

    Reference: no counterpart in hathitrust/index_search_monorepo;
    built per the brief's text-analysis category."""
    taken = {f"{prefix}{c}" for c in ENTROPY_PREFIX_COLS}
    clash = taken.intersection(df.columns)
    if clash:
        raise ValueError(
            f"with_char_entropy would overwrite input column(s)"
            f" {sorted(clash)}; rename them first"
        )
    from index_search_monorepo_spark.operators.lm import bitlen_expr

    s_col = f"_{prefix}s"
    n_col = f"{prefix}n_chars"
    bn_col = f"_{prefix}bn"
    st_col = f"_{prefix}starts"
    cn_col = f"_{prefix}counts"
    sur_col = f"_{prefix}sur"

    out = df.withColumn(
        s_col,
        F.array_sort(
            F.regexp_extract_all(F.col(text_col), F.lit(r"[\s\S]"), F.lit(0))
        ),
    )
    s = F.col(s_col)
    out = out.withColumn(n_col, F.size(s).cast("long"))
    n = F.col(n_col)
    out = out.withColumn(bn_col, bitlen_expr(n))
    # run starts: 1-based positions where the sorted char differs from
    # its predecessor (position 1 always starts a run)
    starts = F.when(n <= 0, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(1), F.greatest(n.cast("int"), F.lit(1))),
            lambda i: (i == 1)
            | (F.try_element_at(s, i) != F.try_element_at(s, i - 1)),
        )
    )
    out = out.withColumn(st_col, starts)
    st = F.col(st_col)
    ends = F.concat(
        F.slice(st, 2, F.greatest(F.size(st) - 1, F.lit(0))),
        F.array((n + 1).cast("int")),
    )
    out = out.withColumn(
        cn_col, F.zip_with(st, ends, lambda a, b: (b - a).cast("long"))
    )
    bn = F.col(bn_col)
    out = out.withColumn(
        sur_col,
        F.aggregate(
            F.col(cn_col),
            F.lit(0).cast("long"),
            lambda acc, c: acc + c * (bn - bitlen_expr(c)),
        ),
    )
    out = out.withColumn(
        f"{prefix}distinct", F.size(F.col(st_col)).cast("long")
    )
    out = out.withColumn(
        f"{prefix}bits_e3",
        F.when(n <= 0, F.lit(0).cast("long")).otherwise(
            F.expr(f"CAST(1000 * {sur_col} DIV {n_col} AS BIGINT)")
        ),
    )
    out = out.withColumn(
        f"{prefix}low",
        (
            (n >= min_chars)
            & (F.col(f"{prefix}bits_e3") < low_bits_e3)
        ).cast("long"),
    )
    return out.drop(s_col, bn_col, st_col, cn_col, sur_col)


def char_entropy_oracle_sql(
    source_cte: str = "documents",
    text_sql: str = "text",
    prefix: str = "ent_",
    low_bits_e3: int = 2000,
    min_chars: int = 20,
) -> str:
    """DuckDB mirror via an INDEPENDENT formulation (unnest + group by
    instead of sort + run boundaries — agreement is evidence both
    derivations are right). Exposes {prefix}out: (doc_id,
    {prefix}n_chars, {prefix}distinct, {prefix}bits_e3, {prefix}low)."""
    from index_search_monorepo_spark.operators.lm import bitlen_sql

    p = prefix
    return f"""
    {p}chars AS (
      SELECT doc_id,
             unnest(regexp_extract_all({text_sql}, '[\\s\\S]')) AS c
      FROM {source_cte}
    ),
    {p}cnt AS (
      SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
      FROM {p}chars GROUP BY doc_id, c
    ),
    {p}n AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS d
      FROM {p}cnt GROUP BY doc_id
    ),
    {p}agg AS (
      SELECT c.doc_id, n.n, n.d,
             CAST(sum(c.cnt * ({bitlen_sql('n.n')}
                   - {bitlen_sql('c.cnt')})) AS BIGINT) AS sur
      FROM {p}cnt c JOIN {p}n n USING (doc_id)
      GROUP BY c.doc_id, n.n, n.d
    ),
    {p}out AS (
      SELECT s.doc_id,
             CAST(coalesce(a.n, 0) AS BIGINT) AS {p}n_chars,
             CAST(coalesce(a.d, 0) AS BIGINT) AS {p}distinct,
             CAST(CASE WHEN coalesce(a.n, 0) = 0 THEN 0
                  ELSE 1000 * a.sur // a.n END AS BIGINT) AS {p}bits_e3,
             CAST(coalesce(a.n, 0) >= {min_chars}
                  AND CASE WHEN coalesce(a.n, 0) = 0 THEN 0
                      ELSE 1000 * a.sur // a.n END < {low_bits_e3}
               AS BIGINT) AS {p}low
      FROM {source_cte} s LEFT JOIN {p}agg a USING (doc_id)
    )"""


# ------------------------------------------------- adaptive quality cutoff --


def adaptive_quality_threshold(
    df: DataFrame,
    score_col: str,
    group_col: str,
    q_pmille: int = 100,
    lo: int = 0,
    hi: int = 1024,
    n_buckets: int = 64,
) -> DataFrame:
    """Per-group score threshold at the q_pmille-th quantile, from the
    mergeable histogram sketch (sketches.hist_sketch/hist_quantile_est):
    (group_col, score_thr, group_n). Absolute quality cutoffs are
    miscalibrated across languages/domains — a diversity score that means
    'boilerplate' in English is normal in an agglutinative language — so
    corpus filters in practice set the cutoff per stratum at a fixed
    percentile (the FineWeb/RefinedWeb adaptive-threshold recipe). The
    sketch keeps the pass map-side: raw scores never shuffle, the
    exchange carries ≤ n_buckets rows per group, and the estimate is
    deterministic with error ≤ one bucket width (the documented
    hist_quantile_est bound)."""
    from index_search_monorepo_spark.operators.sketches import (
        hist_quantile_est,
        hist_sketch,
    )

    sk = hist_sketch(df, score_col, lo, hi, n_buckets, group_cols=[group_col])
    return hist_quantile_est(
        sk, q_pmille, lo, hi, n_buckets, group_cols=[group_col]
    ).select(
        group_col,
        F.col("q_est").alias("score_thr"),
        F.col("n").alias("group_n"),
    )


def with_adaptive_quality(
    df: DataFrame,
    score_col: str,
    group_col: str,
    q_pmille: int = 100,
    lo: int = 0,
    hi: int = 1024,
    n_buckets: int = 64,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Adds ``adpt_thr`` (the row's group threshold) and ``adpt_keep``
    (BIGINT 1 when score >= threshold) — flag-don't-drop so the verdict
    is auditable and oracle-checkable at doc grain; compose with
    ``.filter("adpt_keep = 1")`` (adaptive_quality_filter) to excise.

    The per-group threshold table rides back as a ONE-ROW broadcast map
    (map_from_entries + crossJoin(broadcast) + try_element_at — the
    with_mixture_sampling convention, CLAUDE.md lesson #10): the corpus
    never shuffles, and when group_col is an expensive derived column
    (lang_id output) it is referenced only inside one Project. A NULL
    group looks up a NULL threshold → adpt_keep=0 (quarantine, not
    crash); bucket NULLs to a sentinel stratum upstream when they should
    participate.

    ``stats_df`` (r6): compute the threshold table from a DIFFERENT frame
    than the one being flagged — e.g. the raw column-pruned table scan —
    so a caller composing onto an already-enriched lineage does not drag
    that lineage (Arrow stages, derived columns) into the histogram
    rollup. Must contain score_col and group_col with the same values at
    the same grain; defaults to df (unchanged semantics)."""
    thr = adaptive_quality_threshold(
        stats_df if stats_df is not None else df,
        score_col, group_col, q_pmille, lo, hi, n_buckets
    )
    # r6: persist the ONE-ROW threshold map — unpersisted, every
    # materialization replays the whole histogram rollup (a full pruned
    # corpus pass over stats_df) plus its agg micro-stages; cached, a
    # steady-state run reads one row (lesson #11 applied to the end of
    # the rollup chain, not just its base)
    thr_map = persist(
        thr.filter(F.col(group_col).isNotNull()).agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col(group_col), F.col("score_thr")))
            ).alias("_adpt_thrs")
        )
    )
    out = (
        df.crossJoin(F.broadcast(thr_map))
        .withColumn(
            "adpt_thr", F.try_element_at(F.col("_adpt_thrs"), F.col(group_col))
        )
        .drop("_adpt_thrs")
    )
    return out.withColumn(
        "adpt_keep",
        F.when(F.col(score_col) >= F.col("adpt_thr"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long"),
    )


def adaptive_quality_filter(
    df: DataFrame,
    score_col: str,
    group_col: str,
    q_pmille: int = 100,
    lo: int = 0,
    hi: int = 1024,
    n_buckets: int = 64,
) -> DataFrame:
    """Drop rows below their group's adaptive quantile cutoff (keeps the
    adpt_thr evidence column; see with_adaptive_quality)."""
    return with_adaptive_quality(
        df, score_col, group_col, q_pmille, lo, hi, n_buckets
    ).filter(F.col("adpt_keep") == 1)
