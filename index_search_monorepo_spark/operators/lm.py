"""Unigram language-model quality scoring (CCNet-style) for corpus curation.

CCNet (Wenzek et al. 2020) ranks web documents by the perplexity of a
language model trained on a trusted corpus; low-perplexity documents look
like the training distribution, high-perplexity ones are noise/boilerplate.
This module is that stage re-expressed Spark-first, with one deliberate
substitution: the per-token negative log-likelihood is the **integer
bit-length surrogate**

    nll_bits(t) = bitlen(N + V) - bitlen(c(t) + 1)

where c(t) is the token's training count (0 for out-of-vocabulary), N the
total training-token count over the kept vocabulary, V the vocabulary size
(add-one smoothing mass), and bitlen(x) = length(bin(x)) — the position of
the highest set bit. bitlen(x) = floor(log2(x)) + 1, so nll_bits tracks
-log2 p(t) = log2((N + V) / (c(t) + 1)) to within 1 bit — monotone in the
probability and **bit-identical across engines** (Spark `bin()` and DuckDB
`bin()` both render the minimal binary string of a BIGINT), which is the
property the driver's value-hash oracle gate needs. A float KenLM score
would differ in last-ulp libm behavior between JVM and DuckDB and could
never be hash-gated; the bit-length surrogate keeps the *pipeline* (train
counts -> vocabulary cap -> per-document score) fully verifiable.

Pipeline shape (and why it scales):

 - `train_unigram_counts`: tokenize a deterministic hash-sampled training
   slice (packing.hash_sample_pmille — stable across runs and cluster
   layouts), explode, groupBy(token).count(). The canonical wordcount:
   partial aggregation collapses per-partition duplicates map-side, so the
   shuffle carries ~distinct-tokens-per-partition rows, never the corpus.
   The vocabulary is then capped to the `top_k` most frequent (count DESC,
   token ASC tie-break — total order, deterministic at any parallelism),
   exactly the vocabulary pruning a production KenLM build does.
 - `with_lm_nll`: score every document against the trained table.
   strategy='join' (default, JVM-side end to end): explode tokens, left
   broadcast-join the vocabulary (top_k-bounded — fits any executor),
   groupBy(doc_id) re-aggregate. The only exchange carries slim
   (doc_id, long) pairs with map-side partial sums; document text never
   shuffles. strategy='udf': an Arrow-batched pandas UDF over a
   SparkContext-broadcast python dict — zero shuffle, for callers composing
   onto already-fat rows; same columns bit-for-bit (pinned by test).

The module also carries the bigram upgrade of the same slot: stupid
backoff (Brants et al. 2007, "Large Language Models in Machine
Translation" — the LM family designed FOR distributed count tables;
scores are unnormalized ratios, which is exactly what makes them
integer-expressible). `train_bigram_counts` + `with_stupid_backoff`
score every token through a seen-bigram ratio, backing off to
alpha * unigram when the history is unseen — one slim explode, two
broadcast joins, corpus never shuffles.

No reference counterpart: hathitrust/index_search_monorepo indexes OCR
without model-based quality filtering; this extends the curation family
(operators/c4rules.py, operators/textstats.py) per the build brief.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.packing import hash_sample_pmille
from index_search_monorepo_spark.operators.skew import persist
from index_search_monorepo_spark.operators.textstats import (
    _check_keep,
    tokens_expr,
    word_ngrams_from_tokens,
)

DEFAULT_TOP_K = 65536


def bitlen_expr(x: Column) -> Column:
    """bitlen(x) = length of the minimal binary rendering of a BIGINT =
    floor(log2(x)) + 1 for x >= 1. Integer-exact in Spark and DuckDB
    (`length(bin(x))` in both); never computed through float log."""
    return F.length(F.bin(x.cast("long"))).cast("long")


def bitlen_sql(x_sql: str) -> str:
    """DuckDB mirror of bitlen_expr."""
    return f"CAST(length(bin(CAST({x_sql} AS BIGINT))) AS BIGINT)"


def train_unigram_counts(
    df: DataFrame,
    text_col: str = "text",
    train_pmille: int = 1000,
    salt: str = "lmtrain",
    top_k: int | None = DEFAULT_TOP_K,
    key_col: str = "doc_id",
) -> DataFrame:
    """(token, cnt) over the deterministic hash-sampled training slice,
    capped to the top_k most frequent tokens (count DESC, token ASC
    tie-break — a total order, so the cap is deterministic at any
    parallelism/partitioning). train_pmille < 1000 holds out documents the
    same way a CCNet reference-corpus split does; the sample is
    content-hash stable, never partition-order dependent."""
    src = df
    if train_pmille < 1000:
        src = df.filter(hash_sample_pmille(F.col(key_col), train_pmille, salt))
    counts = (
        src.select(F.explode(tokens_expr(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    if top_k is not None:
        counts = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(top_k)
    return counts


def _nll_table(counts: DataFrame) -> DataFrame:
    """(token, nll, oov_nll) — per-token bit-length NLL plus the OOV score
    replicated on every row (so scorers need no second scalar join). The
    totals frame is one row; the crossJoin is the one-row-broadcast-literal
    pattern (operators/dedup.py strip-set convention), not a cartesian."""
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("_N"),
        F.count("*").cast("long").alias("_V"),
    )
    smoothed = bitlen_expr(F.col("_N") + F.col("_V"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .withColumn("_bits_nv", smoothed)
        .select(
            "token",
            (F.col("_bits_nv") - bitlen_expr(F.col("cnt") + F.lit(1)))
            .alias("nll"),
            # OOV: c = 0 -> bitlen(0 + 1) = 1
            (F.col("_bits_nv") - F.lit(1)).cast("long").alias("oov_nll"),
        )
    )


_LM_PRODUCED = ("lm_tokens", "lm_oov", "lm_nll_bits", "lm_nll_mean_e3")


def with_lm_nll(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    strategy: str = "join",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Score each document against a trained unigram table
    (`train_unigram_counts` output). Adds, at doc grain (every input row
    kept, including empty documents):

      lm_tokens       : tokens scored (== whitespace token count)
      lm_oov          : tokens absent from the (capped) vocabulary
      lm_nll_bits     : sum of per-token bit-length NLLs (the document's
                        total "surprisal" in whole bits)
      lm_nll_mean_e3  : (1000 * lm_nll_bits) DIV lm_tokens — the
                        per-token mean in milli-bits, the CCNet-style
                        quality ranking key; 0 for empty documents

    strategy='join': explode -> broadcast-join vocab -> re-aggregate on
    doc_id (slim pairs only; map-side partial sums). strategy='udf':
    Arrow-batched pandas UDF over a broadcast dict, zero shuffle —
    identical outputs, pinned by tests/test_lm.py. strategy='map':
    the nll table rides as a ONE-ROW broadcast map (map_from_entries +
    crossJoin(broadcast) + try_element_at — the with_mixture_sampling
    convention, CLAUDE.md lessons #10/#11) and the score is a pure
    per-row HOF fold over the bound token array: zero corpus shuffle,
    zero doc-grain join, zero Python — the shape that composes onto a
    shared single-scan lineage (r6; identical outputs pinned by
    tests/test_lm.py)."""
    _check_keep(keep, ("doc_id", *_LM_PRODUCED))
    if strategy == "map":
        return _score_map(df, counts, text_col, keep)
    if strategy == "join":
        scored = _score_join(df, counts, text_col)
    elif strategy == "udf":
        scored = _score_udf(df, counts, text_col)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    out = df.select("doc_id", *keep).join(scored, "doc_id", "left")
    zero = F.lit(0).cast("long")
    return out.select(
        "doc_id",
        *keep,
        F.coalesce("lm_tokens", zero).alias("lm_tokens"),
        F.coalesce("lm_oov", zero).alias("lm_oov"),
        F.coalesce("lm_nll_bits", zero).alias("lm_nll_bits"),
        F.coalesce("lm_nll_mean_e3", zero).alias("lm_nll_mean_e3"),
    )


def _score_map(
    df: DataFrame,
    counts: DataFrame,
    text_col: str,
    keep: tuple[str, ...],
) -> DataFrame:
    """Join-free scorer: one-row broadcast (token -> nll) map + per-row
    fold. Output values are bit-identical to _score_join (integer
    arithmetic throughout): in-vocab tokens add their nll, OOV tokens add
    the shared oov_nll, empty/null docs score all-zeros exactly like the
    join path's left-join-miss coalesce."""
    nll = _nll_table(counts)
    # r6: persist the ONE-ROW map frame — unpersisted, each
    # materialization replays the nll-table micro-stages above the
    # (caller-persisted) counts; cached, it reads one row
    one_row = persist(
        nll.agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("token"), F.col("nll")))
            ).alias("_lm_nll_map"),
            # empty vocabulary: max over zero rows is NULL -> score 0
            # bits, matching the join path's coalesce(_oov_nll, 0)
            F.coalesce(F.max("oov_nll"), F.lit(0).cast("long")).alias(
                "_lm_oov_nll"
            ),
        )
    )
    toks = F.coalesce(
        tokens_expr(F.col(text_col)),
        F.array().cast("array<string>"),  # null text == no tokens (join path)
    )
    m = F.col("_lm_nll_map")
    oov = F.col("_lm_oov_nll")
    bound = (
        df.crossJoin(F.broadcast(one_row))
        # bind the token array once behind a Project boundary: it is
        # referenced by three downstream expressions (CLAUDE.md lesson #1)
        .withColumn("_lm_toks", toks)
    )
    lm_tokens = F.size("_lm_toks").cast("long")
    lm_oov = (
        F.size(
            F.filter("_lm_toks", lambda t: F.try_element_at(m, t).isNull())
        )
        .cast("long")
    )
    lm_bits = F.aggregate(
        F.col("_lm_toks"),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.coalesce(F.try_element_at(m, t), oov),
    ).cast("long")
    out = bound.withColumn("lm_tokens", lm_tokens).withColumn(
        "lm_oov", lm_oov
    ).withColumn("lm_nll_bits", lm_bits)
    return out.select(
        "doc_id",
        *keep,
        "lm_tokens",
        "lm_oov",
        "lm_nll_bits",
        F.expr(
            "CAST(CASE WHEN lm_tokens > 0"
            " THEN (1000 * lm_nll_bits) DIV lm_tokens"
            " ELSE 0 END AS BIGINT)"
        ).alias("lm_nll_mean_e3"),
    )


def _score_join(df: DataFrame, counts: DataFrame, text_col: str) -> DataFrame:
    tok = df.select(
        "doc_id", F.explode(tokens_expr(F.col(text_col))).alias("token")
    )
    nll = _nll_table(counts)
    per_tok = tok.join(F.broadcast(nll), "token", "left")
    agg = per_tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("lm_tokens"),
        F.sum(F.when(F.col("nll").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("lm_oov"),
        # sum() skips the LEFT-join-miss nulls: in-vocabulary bits only.
        # A join miss nulls the whole broadcast row (including oov_nll),
        # so the OOV score comes from the scalar aggregate below instead.
        F.sum("nll").alias("_invocab_bits"),
    )
    # OOV bits: oov_nll is constant over the nll table; fetch it once via a
    # one-row aggregate and broadcast it onto the slim per-doc frame.
    oov_scalar = nll.agg(F.max("oov_nll").alias("_oov_nll"))
    return (
        agg.crossJoin(F.broadcast(oov_scalar))
        .withColumn(
            "lm_nll_bits",
            (
                F.coalesce(F.col("_invocab_bits"), F.lit(0).cast("long"))
                + F.col("lm_oov") * F.coalesce("_oov_nll", F.lit(0))
            ).cast("long"),
        )
        .select(
            "doc_id",
            "lm_tokens",
            "lm_oov",
            "lm_nll_bits",
            F.expr(
                "CAST(CASE WHEN lm_tokens > 0"
                " THEN (1000 * lm_nll_bits) DIV lm_tokens"
                " ELSE 0 END AS BIGINT)"
            ).alias("lm_nll_mean_e3"),
        )
    )


def _score_udf(df: DataFrame, counts: DataFrame, text_col: str) -> DataFrame:
    """Zero-shuffle scorer: vocabulary (top_k-bounded) collected once and
    SparkContext-broadcast; an Arrow-batched pandas UDF sums bit-length
    NLLs per row. The collect is the broadcast-dim pattern (bounded by
    top_k, like the decontamination shingle set) — never corpus-sized."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    rows = _nll_table(counts).collect()
    table = {r["token"]: r["nll"] for r in rows}
    oov_nll = rows[0]["oov_nll"] if rows else 0
    spark = df.sparkSession
    btable = spark.sparkContext.broadcast((table, oov_nll))

    out_t = StructType(
        [
            StructField("lm_tokens", LongType()),
            StructField("lm_oov", LongType()),
            StructField("lm_nll_bits", LongType()),
            StructField("lm_nll_mean_e3", LongType()),
        ]
    )

    @F.pandas_udf(out_t)
    def score(texts: pd.Series) -> pd.DataFrame:
        tbl, oov = btable.value
        rows_out = []
        for text in texts:
            toks = [t for t in (text or "").split(" ") if t]
            bits = 0
            n_oov = 0
            for t in toks:
                v = tbl.get(t)
                if v is None:
                    n_oov += 1
                    bits += oov
                else:
                    bits += v
            n = len(toks)
            rows_out.append(
                (n, n_oov, bits, (1000 * bits) // n if n else 0)
            )
        return pd.DataFrame(
            rows_out,
            columns=["lm_tokens", "lm_oov", "lm_nll_bits", "lm_nll_mean_e3"],
        )

    # one struct column computed once, then fanned out to plain columns —
    # fan-out of struct FIELDS is cheap extraction, and the UDF sits behind
    # a Project boundary so it is not re-inlined per field (CLAUDE.md
    # lesson #1; the nondeterministic pin of lesson #9 is unnecessary here
    # because no filter is pushed across this projection by callers that
    # follow the documented keep/compose contract)
    tmp = df.select("doc_id", score(F.col(text_col)).alias("_lm"))
    return tmp.select("doc_id", "_lm.*")


_ML_PRODUCED = (
    "ml_tokens",
    "ml_in_mean_e3",
    "ml_gen_mean_e3",
    "ml_delta_e3",
    "ml_keep",
)


def with_moore_lewis(
    df: DataFrame,
    in_counts: DataFrame,
    gen_counts: DataFrame,
    text_col: str = "text",
    threshold_e3: int = 0,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Cross-entropy data selection (Moore & Lewis 2010, "Intelligent
    Selection of Language Model Training Data"): score every document by
    H_in(doc) - H_gen(doc) — the per-token cross-entropy under a model
    trained on the IN-DOMAIN seed minus the same under a GENERAL-corpus
    model — and keep documents below a threshold. A document that looks
    more like the target domain than like the background gets a negative
    delta; generic boilerplate scores near zero; out-of-domain noise
    scores positive. The deltas here are differences of the integer
    bit-length means (exact subtraction, no division), so the whole
    selection is oracle-checkable. Adds, at doc grain:

      ml_tokens      : tokens scored (same tokenizer both models)
      ml_in_mean_e3  : per-token mean NLL under the in-domain model
      ml_gen_mean_e3 : per-token mean NLL under the general model
      ml_delta_e3    : ml_in_mean_e3 - ml_gen_mean_e3 (signed)
      ml_keep        : 1 when ml_delta_e3 <= threshold_e3

    Plan shape: two broadcast-scored LM passes (see with_lm_nll) joined
    back on doc_id — the model tables are top_k-bounded; corpus text
    never shuffles."""
    _check_keep(keep, ("doc_id", *_ML_PRODUCED))
    a = with_lm_nll(df, in_counts, text_col).select(
        "doc_id",
        F.col("lm_tokens").alias("ml_tokens"),
        F.col("lm_nll_mean_e3").alias("ml_in_mean_e3"),
    )
    b = with_lm_nll(df, gen_counts, text_col).select(
        "doc_id",
        F.col("lm_nll_mean_e3").alias("ml_gen_mean_e3"),
    )
    out = df.select("doc_id", *keep).join(a, "doc_id").join(b, "doc_id")
    return out.select(
        "doc_id",
        *keep,
        "ml_tokens",
        "ml_in_mean_e3",
        "ml_gen_mean_e3",
        (F.col("ml_in_mean_e3") - F.col("ml_gen_mean_e3"))
        .cast("long")
        .alias("ml_delta_e3"),
        (
            (F.col("ml_in_mean_e3") - F.col("ml_gen_mean_e3"))
            <= F.lit(threshold_e3)
        )
        .cast("long")
        .alias("ml_keep"),
    )


def ml_oracle_sql(
    source_cte: str = "documents",
    text_sql: str = "text",
    in_pmille: int = 300,
    in_salt: str = "mlin",
    in_top_k: int = 12,
    gen_pmille: int = 500,
    gen_salt: str = "mlgen",
    gen_top_k: int = 20,
    threshold_e3: int = 0,
    in_hash_sql: str | None = None,
    gen_hash_sql: str | None = None,
) -> str:
    """DuckDB mirror of train(in) + train(gen) + with_moore_lewis; final
    CTE `ml_out` yields (doc_id, ml_tokens, ml_in_mean_e3,
    ml_gen_mean_e3, ml_delta_e3, ml_keep)."""
    chain_in = lm_oracle_sql(
        source_cte,
        text_sql,
        train_pmille=in_pmille,
        salt=in_salt,
        top_k=in_top_k,
        hash_sql=in_hash_sql,
        prefix="mlin",
    )
    chain_gen = lm_oracle_sql(
        source_cte,
        text_sql,
        train_pmille=gen_pmille,
        salt=gen_salt,
        top_k=gen_top_k,
        hash_sql=gen_hash_sql,
        prefix="mlgen",
    )
    return f"""
    {chain_in.lstrip()},
    {chain_gen.lstrip()},
    ml_out AS (
      SELECT i.doc_id,
             i.mlin_tokens AS ml_tokens,
             i.mlin_nll_mean_e3 AS ml_in_mean_e3,
             g.mlgen_nll_mean_e3 AS ml_gen_mean_e3,
             CAST(i.mlin_nll_mean_e3 - g.mlgen_nll_mean_e3 AS BIGINT)
               AS ml_delta_e3,
             CAST(i.mlin_nll_mean_e3 - g.mlgen_nll_mean_e3
                  <= {threshold_e3} AS BIGINT) AS ml_keep
      FROM mlin_out i JOIN mlgen_out g USING (doc_id)
    )"""


def train_bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    train_pmille: int = 1000,
    salt: str = "lmtrain",
    top_k: int | None = DEFAULT_TOP_K,
    key_col: str = "doc_id",
) -> DataFrame:
    """(big, cnt) over the same deterministic training slice as
    train_unigram_counts, where `big` is the space-joined word bigram;
    capped to the top_k most frequent (count DESC, bigram ASC — total
    order). Pair with train_unigram_counts(same slice) for
    with_stupid_backoff."""
    src = df
    if train_pmille < 1000:
        src = df.filter(hash_sample_pmille(F.col(key_col), train_pmille, salt))
    counts = (
        src.withColumn("_toks", tokens_expr(F.col(text_col)))
        .select(
            F.explode(word_ngrams_from_tokens(F.col("_toks"), 2)).alias(
                "big"
            )
        )
        .groupBy("big")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    if top_k is not None:
        counts = counts.orderBy(F.desc("cnt"), F.asc("big")).limit(top_k)
    return counts


def _sb_tables(
    uni_counts: DataFrame, bi_counts: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Build the two broadcastable scoring tables of the stupid-backoff
    model (Brants et al. 2007, §4 — the distributed-LM scoring rule
    S(w|w') = c(w'w)/c(w') when seen, else alpha * S(w)):

      uni : (token, uni_e6)  with uni_e6 = (1e6 * c) DIV N
      bi  : (big, bi_e6)     with bi_e6  = (1e6 * c_bi) DIV c_w1,
            kept only when w1 is in the capped unigram vocabulary (the
            denominator must come from the model artifact, not the
            corpus — a bigram whose history fell off the cap is pruned,
            the standard vocabulary-consistency rule)

    All integer DIV on non-negatives — bit-identical across engines."""
    totals = uni_counts.agg(F.sum("cnt").cast("long").alias("_N"))
    uni = (
        uni_counts.crossJoin(F.broadcast(totals))
        .select(
            "token",
            F.expr("(1000000 * cnt) DIV _N").cast("long").alias("uni_e6"),
        )
    )
    w1 = bi_counts.withColumn(
        "_w1", F.substring_index(F.col("big"), " ", 1)
    )
    bi = (
        w1.join(
            F.broadcast(
                uni_counts.select(
                    F.col("token").alias("_w1"),
                    F.col("cnt").alias("_c_w1"),
                )
            ),
            "_w1",
        )
        .select(
            "big",
            F.expr("(1000000 * cnt) DIV _c_w1").cast("long").alias("bi_e6"),
        )
    )
    return uni, bi


_SB_PRODUCED = (
    "sb_tokens",
    "sb_bigram_hits",
    "sb_backoffs",
    "sb_score_e6",
    "sb_mean_e6",
)


def with_stupid_backoff(
    df: DataFrame,
    uni_counts: DataFrame,
    bi_counts: DataFrame,
    text_col: str = "text",
    alpha_e3: int = 400,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Score each document with the stupid-backoff bigram LM (Brants et
    al. 2007 — the LM family built FOR distributed count tables; CCNet's
    KenLM slot re-expressed with integer-exact arithmetic). Adds, at doc
    grain (every input row kept):

      sb_tokens      : tokens scored
      sb_bigram_hits : tokens scored through a seen bigram
      sb_backoffs    : tokens at position >= 2 that backed off (alpha)
      sb_score_e6    : sum of per-token scores in 1e-6 units — bigram
                       ratio when seen; else alpha_e3/1000 * unigram
                       score ((1e6*c) DIV N, OOV = 1e6 DIV (N+V)); the
                       document's FIRST token takes the unigram path
                       without alpha (no history to back off from)
      sb_mean_e6     : sb_score_e6 DIV sb_tokens (0 for empty docs)

    Plan shape: ONE slim explode of (w, history-pair) structs built from
    the bound token array (the array itself never rides the exploded
    rows), two BROADCAST joins against the top_k-bounded model tables,
    one re-aggregation on doc_id carrying partial sums. Document text
    never shuffles. Reference: no counterpart (see module docstring)."""
    _check_keep(keep, ("doc_id", *_SB_PRODUCED))
    from index_search_monorepo_spark.operators.extraction import (
        explode_noinline,
    )

    uni, bi = _sb_tables(uni_counts, bi_counts)
    nv = uni_counts.agg(
        F.expr(
            "CAST(1000000 DIV (sum(cnt) + count(*)) AS BIGINT)"
        ).alias("_oov_e6")
    )
    toks = F.col("_toks")
    pairs = F.when(
        F.size(toks) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: F.struct(
                F.try_element_at(toks, i).alias("w"),
                F.when(
                    i > 1,
                    F.concat_ws(
                        " ",
                        F.try_element_at(toks, i - F.lit(1)),
                        F.try_element_at(toks, i),
                    ),
                ).alias("p"),
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<w:string,p:string>>")
    )
    exploded = (
        df.withColumn("_toks", tokens_expr(F.col(text_col)))
        .withColumn("_pairs", pairs)
        .select("doc_id", explode_noinline("_pairs").alias("s"))
        .select("doc_id", "s.w", "s.p")
    )
    scored = (
        exploded.join(F.broadcast(bi), exploded["p"] == bi["big"], "left")
        .join(F.broadcast(uni), exploded["w"] == uni["token"], "left")
        .crossJoin(F.broadcast(nv))
    )
    base = F.coalesce(F.col("uni_e6"), F.col("_oov_e6"))
    scored = scored.withColumn("_base", base).withColumn(
        "_tok_e6",
        F.when(F.col("bi_e6").isNotNull(), F.col("bi_e6"))
        .when(F.col("p").isNull(), F.col("_base"))
        .otherwise(F.expr(f"({alpha_e3} * _base) DIV 1000"))
        .cast("long"),
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("sb_tokens"),
        F.sum(F.when(F.col("bi_e6").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("sb_bigram_hits"),
        F.sum(
            F.when(
                F.col("p").isNotNull() & F.col("bi_e6").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("sb_backoffs"),
        F.sum("_tok_e6").cast("long").alias("sb_score_e6"),
    )
    out = df.select("doc_id", *keep).join(agg, "doc_id", "left")
    zero = F.lit(0).cast("long")
    return out.select(
        "doc_id",
        *keep,
        F.coalesce("sb_tokens", zero).alias("sb_tokens"),
        F.coalesce("sb_bigram_hits", zero).alias("sb_bigram_hits"),
        F.coalesce("sb_backoffs", zero).alias("sb_backoffs"),
        F.coalesce("sb_score_e6", zero).alias("sb_score_e6"),
        F.expr(
            "CAST(CASE WHEN coalesce(sb_tokens, 0) > 0"
            " THEN sb_score_e6 DIV sb_tokens ELSE 0 END AS BIGINT)"
        ).alias("sb_mean_e6"),
    )


def sb_oracle_sql(
    source_cte: str = "documents",
    text_sql: str = "text",
    train_pmille: int = 1000,
    salt: str = "lmtrain",
    top_k_uni: int = DEFAULT_TOP_K,
    top_k_bi: int = DEFAULT_TOP_K,
    alpha_e3: int = 400,
    hash_sql: str | None = None,
) -> str:
    """DuckDB CTE chain mirroring train_unigram_counts +
    train_bigram_counts + with_stupid_backoff from scratch; final CTE
    `sb_out` yields (doc_id, sb_tokens, sb_bigram_hits, sb_backoffs,
    sb_score_e6, sb_mean_e6) from `source_cte`."""
    toks = f"list_filter(string_split({text_sql}, ' '), x -> x <> '')"
    where = ""
    if train_pmille < 1000:
        assert hash_sql is not None
        where = f"WHERE ({hash_sql}) % 1000 < {train_pmille}"
    return f"""
    sb_src AS (
      SELECT doc_id, {toks} AS tk FROM {source_cte}
    ),
    sb_utrain AS (
      SELECT unnest(tk) AS token FROM sb_src {where}
    ),
    sb_ucnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM sb_utrain
      GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {top_k_uni}
    ),
    sb_btrain AS (
      SELECT unnest(list_transform(range(1, len(tk)),
               i -> tk[i] || ' ' || tk[i+1])) AS big
      FROM sb_src {where}
    ),
    sb_bcnt AS (
      SELECT big, CAST(count(*) AS BIGINT) AS cnt FROM sb_btrain
      GROUP BY big ORDER BY cnt DESC, big ASC LIMIT {top_k_bi}
    ),
    sb_tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_tot,
             CAST(count(*) AS BIGINT) AS v_tot FROM sb_ucnt
    ),
    sb_uni AS (
      SELECT token,
             CAST((1000000 * cnt) // (SELECT n_tot FROM sb_tot)
               AS BIGINT) AS uni_e6
      FROM sb_ucnt
    ),
    sb_bi AS (
      SELECT b.big,
             CAST((1000000 * b.cnt) // u.cnt AS BIGINT) AS bi_e6
      FROM sb_bcnt b
      JOIN sb_ucnt u ON u.token = split_part(b.big, ' ', 1)
    ),
    sb_doc AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(tk) + 1),
               i -> {{'w': tk[i],
                     'p': CASE WHEN i > 1
                          THEN tk[i-1] || ' ' || tk[i] END}})) AS s
      FROM sb_src
    ),
    sb_scored AS (
      SELECT d.doc_id, d.s.w AS w, d.s.p AS p, b.bi_e6,
             coalesce(u.uni_e6,
               (SELECT CAST(1000000 // (n_tot + v_tot) AS BIGINT)
                FROM sb_tot)) AS base
      FROM sb_doc d
      LEFT JOIN sb_bi b ON b.big = d.s.p
      LEFT JOIN sb_uni u ON u.token = d.s.w
    ),
    sb_agg AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS sb_tokens,
             CAST(sum(CASE WHEN bi_e6 IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS sb_bigram_hits,
             CAST(sum(CASE WHEN p IS NOT NULL AND bi_e6 IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS sb_backoffs,
             CAST(sum(CASE WHEN bi_e6 IS NOT NULL THEN bi_e6
                      WHEN p IS NULL THEN base
                      ELSE ({alpha_e3} * base) // 1000 END)
               AS BIGINT) AS sb_score_e6
      FROM sb_scored GROUP BY doc_id
    ),
    sb_out AS (
      SELECT s.doc_id,
             coalesce(a.sb_tokens, 0) AS sb_tokens,
             coalesce(a.sb_bigram_hits, 0) AS sb_bigram_hits,
             coalesce(a.sb_backoffs, 0) AS sb_backoffs,
             coalesce(a.sb_score_e6, 0) AS sb_score_e6,
             CAST(CASE WHEN coalesce(a.sb_tokens, 0) > 0
                  THEN a.sb_score_e6 // a.sb_tokens
                  ELSE 0 END AS BIGINT) AS sb_mean_e6
      FROM {source_cte} s LEFT JOIN sb_agg a USING (doc_id)
    )"""


def lm_oracle_sql(
    source_cte: str = "documents",
    text_sql: str = "text",
    train_pmille: int = 1000,
    salt: str = "lmtrain",
    top_k: int = DEFAULT_TOP_K,
    hash_sql: str | None = None,
    prefix: str = "lm",
) -> str:
    """DuckDB CTE chain mirroring train_unigram_counts + with_lm_nll
    (join strategy) from scratch: returns SQL whose final SELECT yields
    (doc_id, lm_tokens, lm_oov, lm_nll_bits, lm_nll_mean_e3) from
    `source_cte` (columns renamed {prefix}_* when a prefix is given, so
    two chains — e.g. Moore-Lewis's in-domain and general models — can
    coexist in one oracle). `hash_sql` must be packing.hash_key_sql('doc_id', salt)
    when train_pmille < 1000 (kept a caller-supplied fragment so this
    module never imports SQL-generation helpers it does not own)."""
    toks = f"list_filter(string_split({text_sql}, ' '), x -> x <> '')"
    where = ""
    if train_pmille < 1000:
        assert hash_sql is not None
        where = f"WHERE ({hash_sql}) % 1000 < {train_pmille}"
    return f"""
    {prefix}_train AS (
      SELECT unnest({toks}) AS token FROM {source_cte} {where}
    ),
    {prefix}_cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM {prefix}_train
      GROUP BY token ORDER BY cnt DESC, token ASC LIMIT {top_k}
    ),
    {prefix}_tot AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_tot,
             CAST(count(*) AS BIGINT) AS v_tot FROM {prefix}_cnt
    ),
    {prefix}_nll AS (
      SELECT token,
             {bitlen_sql('n_tot + v_tot')} - {bitlen_sql('cnt + 1')} AS nll,
             {bitlen_sql('n_tot + v_tot')} - 1 AS oov_nll
      FROM {prefix}_cnt, {prefix}_tot
    ),
    {prefix}_doc_tok AS (
      SELECT doc_id, unnest({toks}) AS token FROM {source_cte}
    ),
    {prefix}_scored AS (
      SELECT d.doc_id,
             CAST(count(*) AS BIGINT) AS {prefix}_tokens,
             CAST(sum(CASE WHEN v.nll IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS {prefix}_oov,
             CAST(sum(coalesce(v.nll,
               (SELECT {bitlen_sql('n_tot + v_tot')} - 1 FROM {prefix}_tot)))
               AS BIGINT) AS {prefix}_nll_bits
      FROM {prefix}_doc_tok d LEFT JOIN {prefix}_nll v USING (token)
      GROUP BY d.doc_id
    ),
    {prefix}_out AS (
      SELECT s.doc_id,
             coalesce(l.{prefix}_tokens, 0) AS {prefix}_tokens,
             coalesce(l.{prefix}_oov, 0) AS {prefix}_oov,
             coalesce(l.{prefix}_nll_bits, 0) AS {prefix}_nll_bits,
             CAST(CASE WHEN coalesce(l.{prefix}_tokens, 0) > 0
                  THEN (1000 * l.{prefix}_nll_bits) // l.{prefix}_tokens
                  ELSE 0 END AS BIGINT) AS {prefix}_nll_mean_e3
      FROM {source_cte} s LEFT JOIN {prefix}_scored l USING (doc_id)
    )"""
