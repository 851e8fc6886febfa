"""Training-export operators: sequence packing and deterministic sampling.

The last mile of a training-data pipeline: after curation, documents are
(a) sampled into mixture proportions and (b) packed into fixed-token-budget
training sequences. Both are here as first-class, oracle-checkable ops.

`pack_sequences` implements GPT-style concat-and-chunk packing: within a
shard, documents are concatenated in a deterministic order and the token
stream is cut every `budget` tokens. Each document learns which sequence it
starts in (`seq_id`), at which offset (`seq_offset`), and whether it spans a
sequence boundary — exactly the bookkeeping a packed-dataset writer needs.
This semantics (concatenate-then-chunk, documents may straddle boundaries)
is the standard LM-pretraining packing; it is fully window-expressible, so
the whole op is one hash-partition shuffle + a linear per-shard scan.
`pack_bins_ffd` is the OTHER packing used in practice (SFT-style sample
packing): whole documents first-fit-decreasing into token-budget bins,
never split — greedy and sequential PER SHARD, so it runs as one
applyInPandas stage behind the same shard shuffle.

`hash_sample_pmille` is deterministic content-hash sampling (mod-1000 on an
md5-derived key): stable across runs and cluster sizes, join-free, and
mirrorable bit-for-bit in the DuckDB oracle. Per-stratum rates compose as a
CASE over the stratum column.

Scale: the only exchange in packing is the repartition-by-shard implied by
the window; shard count is a parameter (thousands at 100 TB), budget
chunking within a shard is embarrassingly parallel afterwards. Sampling is
per-row, zero shuffle.

Hashes are md5-derived (identical lowercase hex in both engines), same
convention as operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.skew import persist

# number of leading md5 hex digits folded into the integer hash key:
# 6 digits = 24 bits, safely inside exact BIGINT arithmetic in both engines
HASH_HEX_DIGITS = 6


def hash_key_expr(key: Column, salt: str = "") -> Column:
    """Deterministic integer in [0, 16^HASH_HEX_DIGITS) from an md5 of the
    (salted) key — the shared primitive for sharding and sampling."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1,
                    HASH_HEX_DIGITS),
        16,
        10,
    ).cast("long")


def hash_key_sql(key_sql: str, salt: str = "") -> str:
    """DuckDB mirror of hash_key_expr (positional hex-digit fold, the
    dedup_simhash strpos convention). The salt is SQL-escaped; key_sql is
    a trusted SQL expression."""
    h = f"md5('{salt.replace(chr(39), chr(39) * 2)}'"
    h += f" || CAST({key_sql} AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (HASH_HEX_DIGITS - 1 - i)}"
        for i in range(HASH_HEX_DIGITS)
    )
    return f"({terms})"


def hash_sample_pmille(
    key: Column, rate_pmille: Column | int, salt: str = "sample"
) -> Column:
    """True for a deterministic ~rate_pmille/1000 subset of keys. Stable
    across runs/cluster layouts; different salts give independent samples
    (held-out splits, A/B corpora)."""
    rate = F.lit(rate_pmille) if isinstance(rate_pmille, int) else rate_pmille
    return (hash_key_expr(key, salt) % 1000) < rate


def isqrt_cols(x: Column) -> Column:
    """Exact integer sqrt (floor) of a non-negative BIGINT, identical in
    Spark and DuckDB: float sqrt seeds the answer, two integer comparisons
    correct the possible off-by-one from double rounding. Callers must
    bind the input behind a Project boundary when x is non-cheap — the
    seed is referenced three times (CLAUDE.md lesson #1); here it is only
    ever applied to tiny stratum-count frames."""
    s0 = F.floor(F.sqrt(x.cast("double"))).cast("long")
    return (
        s0
        + F.when((s0 + 1) * (s0 + 1) <= x, F.lit(1)).otherwise(F.lit(0))
        - F.when(s0 * s0 > x, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")


def isqrt_sql(x_sql: str) -> str:
    """DuckDB mirror of isqrt_cols (same seed-and-correct formula; DuckDB
    floor(sqrt()) returns DOUBLE, so the seed is cast back to BIGINT)."""
    s0 = f"CAST(floor(sqrt(CAST({x_sql} AS DOUBLE))) AS BIGINT)"
    return (
        f"({s0} + CASE WHEN ({s0} + 1) * ({s0} + 1) <= ({x_sql})"
        f" THEN 1 ELSE 0 END"
        f" - CASE WHEN {s0} * {s0} > ({x_sql}) THEN 1 ELSE 0 END)"
    )


_MIX_PRODUCED = ("mix_rate_pmille", "mix_copies")


def with_mixture_sampling(
    df: DataFrame,
    stratum_col: str,
    target_total: int | None = None,
    rate_cap_pmille: int = 8000,
    salt: str = "mix",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture reweighting (alpha = 0.5, the multilingual
    sampling rule of XLM-R / mBERT): strata (languages, domains, sources)
    are re-balanced so a stratum's share of the output corpus is
    proportional to sqrt(n_s) instead of n_s — rare strata are up-sampled,
    dominant strata down-sampled. Adds, preserving all input columns:

      mix_rate_pmille : the stratum's expected copies-per-document in
                        per-mille (integer), capped at rate_cap_pmille
      mix_copies      : THIS document's deterministic integer copy count —
                        rate DIV 1000 guaranteed copies plus one more for
                        the md5-hash fraction of documents selected by the
                        fractional remainder (hash_sample_pmille semantics:
                        stable across runs and cluster layouts)

    Exact integer arithmetic end to end: w_s = isqrt(n_s * 10^6)
    (milli-precision sqrt), rate = ((B * 1000 DIV n_s) * w_s) DIV W with
    W = sum(w_s) and B = target_total (default: corpus size, i.e. a
    resampling to the same total). The division ORDER is part of the spec
    — both engines evaluate the identical expression, which is what the
    value-hash oracle gate verifies; intermediates stay under 2^63 for
    corpora to 10^12 docs.

    Scale shape: one map-side-combined groupBy over the stratum column
    (output rows = #strata), a one-row total, then a broadcast join of the
    tiny rate table back onto the corpus — the corpus itself never
    shuffles. Materializing the copies (explode over
    sequence(1, mix_copies)) is left to the writer stage so this operator
    stays row-preserving and oracle-checkable at doc grain."""
    clash = set(_MIX_PRODUCED) | {"_n_s", "_w_s", "_W", "_B"}
    clash &= set(df.columns)
    if clash:
        raise ValueError(
            f"with_mixture_sampling would overwrite column(s) "
            f"{sorted(clash)}; rename them first"
        )
    # The stratum rollup is stratum-grain (tiny) but its LINEAGE is a full
    # pass over df — and it is read by THREE consumers (totals, rates, and
    # transitively the output join's broadcast build). Unpersisted, a
    # narrow upstream pipeline (no Exchange for AQE to reuse) is
    # re-evaluated once per consumer: measured 3 full corpus passes and a
    # 10x wall hit when df carries expensive derived columns (lang_id's
    # trigram profile, r5). Persisting the slim rollup caps the upstream
    # cost at ONE pruned pass regardless of fan-out.
    counts = persist(
        df.groupBy(stratum_col).agg(F.count("*").cast("long").alias("_n_s"))
    )
    weights = counts.withColumn(
        "_w_s", isqrt_cols(F.col("_n_s") * F.lit(1_000_000))
    )
    totals = weights.agg(
        F.sum("_w_s").cast("long").alias("_W"),
        F.sum("_n_s").cast("long").alias("_B_default"),
    )
    rates = (
        weights.crossJoin(F.broadcast(totals))
        .withColumn(
            "_B",
            F.lit(target_total).cast("long")
            if target_total is not None
            else F.col("_B_default"),
        )
        .select(
            stratum_col,
            F.least(
                F.expr("((_B * 1000 DIV _n_s) * _w_s) DIV _W"),
                F.lit(rate_cap_pmille).cast("long"),
            ).alias("mix_rate_pmille"),
        )
    )
    # The rate table rides back as a ONE-ROW broadcast map (the dedup
    # strip-set convention), NOT an equi-join on the stratum column. A
    # BroadcastHashJoin keyed on a derived column substitutes the key
    # expression into the join operator, bypassing the CollapseProject
    # non-cheap-used-twice guard — when the stratum is an expensive
    # derived column (lang_id's trigram argmax) the measured cost was
    # 5 s vs 0.7 s for the same rows at sf0.1 (r5 plan audit). With the
    # map lookup the stratum attribute is referenced twice in ONE
    # downstream Project (passthrough + lookup), which is exactly the
    # shape CollapseProject refuses to inline — single evaluation.
    # A NULL stratum is excluded from the map (it would be an illegal
    # map key) and looks up to a NULL rate — callers must bucket nulls
    # into a sentinel stratum first; lang-ID guesses here are never null.
    # r6: the ONE-ROW map frame is persisted too — unpersisted, every
    # materialization replays the weights -> totals-broadcast ->
    # crossJoin -> map-agg micro-stage chain above the cached counts
    # (fixed scheduler latency per run, corpus-independent); cached,
    # a steady-state run reads one row
    rate_map = persist(
        rates.filter(F.col(stratum_col).isNotNull()).agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(F.col(stratum_col), F.col("mix_rate_pmille"))
                )
            ).alias("_mix_rates")
        )
    )
    out = (
        df.crossJoin(F.broadcast(rate_map))
        .withColumn(
            "mix_rate_pmille",
            F.try_element_at(F.col("_mix_rates"), F.col(stratum_col)),
        )
        .drop("_mix_rates")
    )
    frac_pick = (
        hash_key_expr(F.col(key_col), salt) % 1000
        < F.col("mix_rate_pmille") % 1000
    )
    return out.withColumn(
        "mix_copies",
        (
            F.expr("mix_rate_pmille DIV 1000")
            + F.when(frac_pick, F.lit(1)).otherwise(F.lit(0))
        ).cast("long"),
    )


def mixture_oracle_sql(
    source_cte: str,
    stratum_sql: str,
    target_total_sql: str | None = None,
    rate_cap_pmille: int = 8000,
    salt: str = "mix",
    key_sql: str = "doc_id",
) -> str:
    """DuckDB CTE chain mirroring with_mixture_sampling from scratch; the
    final CTE `mix_out` yields (doc_id-grain rows of source_cte) +
    (mix_rate_pmille, mix_copies) keyed by `key_sql`."""
    b = target_total_sql or "(SELECT sum(_n_s) FROM mix_w)"
    return f"""
    mix_cnt AS (
      SELECT {stratum_sql} AS _stratum, CAST(count(*) AS BIGINT) AS _n_s
      FROM {source_cte} GROUP BY 1
    ),
    mix_w AS (
      SELECT _stratum, _n_s,
             {isqrt_sql('_n_s * 1000000')} AS _w_s
      FROM mix_cnt
    ),
    mix_rate AS (
      -- DuckDB sum(BIGINT) is HUGEINT; cast every aggregate edge back to
      -- BIGINT so the emitted column types match Spark LongType exactly
      SELECT _stratum,
             CAST(least(((CAST({b} AS BIGINT) * 1000 // _n_s) * _w_s)
                          // CAST((SELECT sum(_w_s) FROM mix_w) AS BIGINT),
                        {rate_cap_pmille}) AS BIGINT) AS mix_rate_pmille
      FROM mix_w
    ),
    mix_out AS (
      SELECT s.*, r.mix_rate_pmille,
             CAST(r.mix_rate_pmille // 1000
                  + CASE WHEN {hash_key_sql(key_sql, salt)} % 1000
                              < r.mix_rate_pmille % 1000
                         THEN 1 ELSE 0 END AS BIGINT) AS mix_copies
      FROM {source_cte} s
      JOIN mix_rate r ON {stratum_sql} = r._stratum
    )"""


def pack_sequences(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    budget: int = 2048,
    n_shards: int = 16,
    order_col: str = "doc_id",
    shard_salt: str = "pack",
) -> DataFrame:
    """Concat-and-chunk packing bookkeeping per document (GPT-style):

      shard            : md5-hash shard in [0, n_shards) — the unit of
                         packing; token mass balances across shards by
                         hash uniformity
      seq_id           : index (within the shard) of the fixed-`budget`
                         sequence this document STARTS in
      seq_offset       : token offset of the document inside that sequence
      n_seqs_spanned   : how many sequences the document touches (1 unless
                         it straddles a boundary; 0-token docs touch 1)
      crosses_boundary : 1 when n_seqs_spanned > 1 (BIGINT for oracle
                         hashing, epd_matches convention)

    Deterministic given (order_col, budget, n_shards, salt): the stream
    order within a shard is ORDER BY order_col (callers must pass a
    tie-free key — doc_id — or the packing is partition-order dependent).
    One shuffle (the window's hash partition on shard); the cumulative
    sum is a single linear pass per shard. Input columns are preserved;
    a pre-existing column named like an output (or scratch) column would
    be silently clobbered, so that is an error."""
    taken = {"shard", "seq_id", "seq_offset", "n_seqs_spanned",
             "crosses_boundary", "_cum_prev", "_end_seq"}
    clash = taken.intersection(df.columns)
    if clash:
        raise ValueError(
            f"pack_sequences would overwrite input column(s) {sorted(clash)};"
            " rename them first"
        )
    toks = F.col(tokens_col).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    shard = (hash_key_expr(F.col(order_col), shard_salt) % n_shards).cast(
        "long"
    )
    out = (
        df.withColumn("shard", shard)
        .withColumn(
            "_cum_prev", F.coalesce(F.sum(toks).over(w), F.lit(0).cast("long"))
        )
        .select(
            "*",
            # integer DIV keeps the arithmetic exact at any cumulative
            # token count (float division drifts past 2^53)
            F.expr(f"CAST(_cum_prev DIV {budget} AS BIGINT)").alias("seq_id"),
            (F.col("_cum_prev") % budget).alias("seq_offset"),
            F.expr(
                f"CAST(CASE WHEN {tokens_col} > 0"
                f" THEN (_cum_prev + CAST({tokens_col} AS BIGINT) - 1)"
                f" DIV {budget}"
                f" ELSE _cum_prev DIV {budget} END AS BIGINT)"
            ).alias("_end_seq"),
        )
        .select(
            "*",
            (F.col("_end_seq") - F.col("seq_id") + 1).alias("n_seqs_spanned"),
            F.when(F.col("_end_seq") > F.col("seq_id"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("crosses_boundary"),
        )
    )
    return out.drop("_cum_prev", "_end_seq")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    n_per: int,
    key_col: str,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic k-per-stratum uniform sample WITHOUT replacement:
    keep the n_per rows with the smallest (md5-fold(key), key) sort key
    inside each stratum — a TOTAL order, so the sample is bit-stable at
    any parallelism/partitioning and re-runs pick the same rows
    (hash_sample_pmille's per-row Bernoulli cousin cannot promise an
    exact per-stratum count; this does). Different salts give
    independent samples.

    Plan: ONE shuffle keyed on the stratum + a window row_number. A
    window partition puts each stratum on one task — for bounded n_per
    with a pathologically hot stratum, pre-prune with the KMV
    per-partition bottom-k shape (operators/sketches.kmv_sketch) before
    the window; at the corpus strata this repo samples (language,
    domain, first letter) the window is the right default."""
    if n_per < 1:
        raise ValueError(f"n_per must be >= 1, got {n_per}")
    key = F.col(key_col)
    w = Window.partitionBy(stratum_col).orderBy(
        hash_key_expr(key, salt).asc(), key.asc()
    )
    return (
        df.withColumn("_srn", F.row_number().over(w))
        .filter(F.col("_srn") <= n_per)
        .drop("_srn")
    )


def stratified_sample_summary(
    sampled: DataFrame, stratum_col: str, value_col: str
) -> DataFrame:
    """(stratum, samp_n, samp_md5) — per-stratum sample size and the
    md5 of the canonical comma-joined ASCENDING value serialization
    (gate evidence; DuckDB mirror: md5(string_agg(v, ',' ORDER BY v)))."""
    return sampled.groupBy(stratum_col).agg(
        F.count("*").cast("long").alias("samp_n"),
        F.md5(
            F.concat_ws(",", F.array_sort(F.collect_list(value_col)))
        ).alias("samp_md5"),
    )


def stratified_sample_oracle_sql(
    source_sql: str,
    stratum_sql: str,
    key_sql: str,
    n_per: int,
    salt: str = "strat",
    prefix: str = "strat_",
) -> str:
    """DuckDB CTE chain replaying stratified_sample + summary; exposes
    {prefix}out: (stratum, samp_n, samp_md5)."""
    if n_per < 1:
        raise ValueError(f"n_per must be >= 1, got {n_per}")
    h = hash_key_sql("v", salt)
    return f"""
    {prefix}src AS (
      SELECT {stratum_sql} AS stratum, {key_sql} AS v FROM {source_sql}
    ),
    {prefix}rn AS (
      SELECT stratum, v,
             row_number() OVER (PARTITION BY stratum
                                ORDER BY {h}, v) AS rn
      FROM {prefix}src
    ),
    {prefix}out AS (
      SELECT stratum, CAST(count(*) AS BIGINT) AS samp_n,
             md5(string_agg(v, ',' ORDER BY v)) AS samp_md5
      FROM {prefix}rn WHERE rn <= {n_per} GROUP BY stratum
    )"""


# ---------------------------------------------------------------------------
# Overlapping-window document chunking (the within-doc counterpart of
# pack_sequences' cross-doc concat-and-chunk): long documents are cut
# into fixed-`size` token windows advancing by stride = size - overlap,
# so consecutive chunks share `overlap` tokens — the standard chunker
# for context-window-bounded training examples and retrieval corpora
# (BERT-style striding). The reference never chunks (Solr indexes whole
# documents; full_text_document_generator.py emits one doc per volume);
# this is training-pipeline surface.
#
# Chunk geometry is pure integer arithmetic over the bound token array:
#   n_chunks  = 0                          if n = 0
#             = 1                          if n <= size
#             = (n - size + stride - 1) DIV stride + 1   otherwise
#   chunk i   = tokens[i*stride + 1 .. i*stride + size]  (1-based slice)
#   last chunk length = n - (n_chunks - 1) * stride  (in (overlap, size])
# so every token is covered, chunk i and i+1 share exactly `overlap`
# tokens (when chunk i is full), and no degenerate tail shorter than
# overlap+1 is ever emitted. Zero shuffles: with_chunks is a pure map
# stage.
# ---------------------------------------------------------------------------


def _check_chunking(size: int, overlap: int) -> int:
    if size <= 0:
        raise ValueError(f"chunk size must be positive, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(
            f"overlap must be in [0, size), got overlap={overlap}"
            f" size={size}"
        )
    return size - overlap


def with_chunks(
    df: DataFrame,
    text_col: str = "text",
    size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Adds `n_chunks` (BIGINT) and `chunks` (array<string>, each chunk
    space-rejoined) from the whitespace token family
    (textstats.tokens_expr — the same tokens the n_tokens gates count).
    The token array is bound once behind a Project boundary (CLAUDE.md
    lesson #1: the transform lambda references it n_chunks times)."""
    from index_search_monorepo_spark.operators.textstats import tokens_expr

    stride = _check_chunking(size, overlap)
    taken = {"n_chunks", "chunks", "_ck_toks", "_ck_n"}
    clash = taken.intersection(df.columns)
    if clash:
        raise ValueError(
            f"with_chunks would overwrite input column(s) {sorted(clash)};"
            " rename them first"
        )
    out = (
        df.withColumn("_ck_toks", tokens_expr(F.col(text_col)))
        .withColumn("_ck_n", F.size("_ck_toks").cast("long"))
        .withColumn(
            "n_chunks",
            F.expr(
                f"CAST(CASE WHEN _ck_n <= 0 THEN 0"
                f" WHEN _ck_n <= {size} THEN 1"
                f" ELSE (_ck_n - {size} + {stride} - 1) DIV {stride} + 1"
                f" END AS BIGINT)"
            ),
        )
        .withColumn(
            "chunks",
            F.when(
                F.col("n_chunks") == 0, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("_ck_toks"),
                            (i * stride + 1).cast("int"),
                            size,
                        ),
                        " ",
                    ),
                )
            ),
        )
    )
    return out.drop("_ck_toks", "_ck_n")


# ---------------------------------------------------------------------------
# SFT-style sample packing: first-fit-decreasing bin packing of WHOLE
# documents into fixed-token-budget bins (documents never split — the
# instruction-tuning / sample-packing counterpart of pack_sequences'
# concat-and-chunk, where documents may straddle boundaries). Greedy FFD
# is inherently a sequential fold over the shard's sorted items, which is
# exactly the brief's sanctioned applyInPandas case: the built-in
# operators can't express "first bin that still fits" without an O(bins)
# nested fold per row. One Exchange (the shard hash-partition); shards
# bound both memory and the O(n·bins) scan; the assignment is
# deterministic (md5 shard, (tokens DESC, doc ASC) total order, greedy
# first-fit) so it is bit-stable across runs and partition layouts.
# ---------------------------------------------------------------------------


def ffd_pack_py(
    items: list[tuple[int, int]], size: int
) -> list[tuple[int, int, bool]]:
    """Independent pure-Python FFD mirror for the tests: items are
    (n_tokens, doc_id) pairs; returns (doc_id, bin_id, oversize) with
    bin ids in creation order. Oversize items (n_tokens > size) each
    take their own flagged bin; they participate in the same ordering
    so both implementations must agree on bin numbering."""
    order = sorted(items, key=lambda t: (-t[0], t[1]))
    fills: list[int] = []
    out = []
    for tok, doc in order:
        if tok > size:
            fills.append(tok)
            out.append((doc, len(fills) - 1, True))
            continue
        placed = None
        for i in range(len(fills)):
            if fills[i] + tok <= size:
                placed = i
                break
        if placed is None:
            fills.append(tok)
            placed = len(fills) - 1
        else:
            fills[placed] += tok
        out.append((doc, placed, False))
    return out


def pack_bins_ffd(
    df: DataFrame,
    size: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_shards: int = 16,
    shard_salt: str = "binpack",
) -> DataFrame:
    """(doc_id, n_tokens, shard, bin_id, bin_oversize): greedy
    first-fit-decreasing assignment of whole documents to token-budget
    bins, per md5 shard. `(shard, bin_id)` identifies a bin; a document
    longer than `size` gets its own bin flagged `bin_oversize` (errors
    are rows, never job failures — the caller routes them). At 100 TB
    the shard count is the parallelism knob exactly as in
    pack_sequences; packing quality degrades only by the per-shard
    boundary waste, which shrinks as shards grow."""
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(token_col).cast("long").alias("n_tokens"),
        (hash_key_expr(F.col(id_col), salt=shard_salt) % n_shards)
        .cast("long")
        .alias("shard"),
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        fills: list[int] = []
        bin_ids: list[int] = []
        oversize: list[bool] = []
        for tok in pdf["n_tokens"]:
            tok = int(tok)
            if tok > size:
                fills.append(tok)
                bin_ids.append(len(fills) - 1)
                oversize.append(True)
                continue
            for i, fill in enumerate(fills):
                if fill + tok <= size:
                    fills[i] += tok
                    bin_ids.append(i)
                    break
            else:
                fills.append(tok)
                bin_ids.append(len(fills) - 1)
            oversize.append(False)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "n_tokens": pdf["n_tokens"].to_numpy(),
                "shard": pdf["shard"].to_numpy(),
                "bin_id": bin_ids,
                "bin_oversize": oversize,
            }
        )

    return base.groupBy("shard").applyInPandas(
        pack,
        schema=(
            "doc_id long, n_tokens long, shard long,"
            " bin_id long, bin_oversize boolean"
        ),
    )


def chunk_oracle_fragments(
    toks_sql: str = "t", size: int = 64, overlap: int = 16
) -> dict[str, str]:
    """DuckDB mirror of the chunk geometry over a BOUND token-list SQL
    expression (bind {_TOKS} in a CTE first — same single-binding
    discipline as the Spark side). Fragments: n_chunks, chunk0_md5
    (md5 of the first chunk, '' for empty docs) and last_tokens (exact
    token count of the final chunk)."""
    stride = _check_chunking(size, overlap)
    n = f"len({toks_sql})"
    n_chunks = (
        f"CASE WHEN {n} = 0 THEN 0 WHEN {n} <= {size} THEN 1"
        f" ELSE ({n} - {size} + {stride} - 1) // {stride} + 1 END"
    )
    chunk0 = f"array_to_string(list_slice({toks_sql}, 1, {size}), ' ')"
    return {
        "n_chunks": f"CAST({n_chunks} AS BIGINT)",
        "chunk0_md5": f"CASE WHEN {n} = 0 THEN '' ELSE md5({chunk0}) END",
        "last_tokens": (
            f"CAST(CASE WHEN {n} = 0 THEN 0"
            f" ELSE {n} - (({n_chunks}) - 1) * {stride} END AS BIGINT)"
        ),
    }


# ------------------------------------------------------- group-aware split --


def with_group_split(
    df: DataFrame,
    group_col: str,
    splits: tuple[tuple[str, int], ...] = (
        ("train", 980),
        ("val", 10),
        ("test", 10),
    ),
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: the fold is computed on a
    GROUP key (domain, source feed, dedup cluster id), never on the
    document id, so every member of a group lands in the SAME split —
    near-duplicates and same-source documents cannot straddle train and
    eval, the contamination path a doc-keyed split leaves open (the same
    failure class decontaminate() guards against, applied to the split
    boundary itself).

    ``splits`` are (name, permille) in order; permilles must be positive
    and sum to exactly 1000 — the assignment covers the fold space with
    no gap and no overlap. Adds ``{out_col}_fold`` (BIGINT in [0, 1000),
    the md5 fold of the salted group key — hash_key_expr, the module's
    shared sampling primitive) and ``{out_col}`` (VARCHAR split name).

    Scale: join-free, shuffle-free, one md5 per row — the split of a
    100 TB corpus costs a map-side projection, and the assignment is
    reproducible from (group key, salt) alone: re-runs, backfills, and
    incremental batches agree without coordination. Different salts give
    independent fold spaces (fresh split redraws)."""
    names = [nm for nm, _ in splits]
    weights = [w for _, w in splits]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate split names: {names}")
    if any(w <= 0 for w in weights) or sum(weights) != 1000:
        raise ValueError(
            f"split permilles must be positive and sum to 1000: {splits}"
        )
    fold_col = f"{out_col}_fold"
    out = df.withColumn(
        fold_col, (hash_key_expr(F.col(group_col), salt) % 1000).cast("long")
    )
    cum = 0
    case = None
    for nm, w in splits[:-1]:
        cum += w
        cond = F.col(fold_col) < cum
        case = F.when(cond, F.lit(nm)) if case is None else case.when(
            cond, F.lit(nm)
        )
    last = F.lit(splits[-1][0])
    return out.withColumn(
        out_col, last if case is None else case.otherwise(last)
    )


def group_split_sql(
    group_sql: str,
    splits: tuple[tuple[str, int], ...] = (
        ("train", 980),
        ("val", 10),
        ("test", 10),
    ),
    salt: str = "split",
) -> tuple[str, str]:
    """DuckDB mirror of with_group_split: returns (fold_sql, case_sql)
    over the same md5 fold (hash_key_sql) and threshold chain."""
    fold = f"({hash_key_sql(group_sql, salt)} % 1000)"
    cum = 0
    whens = []
    for nm, w in splits[:-1]:
        cum += w
        whens.append(f"WHEN {fold} < {cum} THEN '{nm}'")
    case = (
        f"(CASE {' '.join(whens)} ELSE '{splits[-1][0]}' END)"
        if whens
        else f"'{splits[-1][0]}'"
    )
    return f"CAST({fold} AS BIGINT)", case


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    n_buckets: int = 1024,
    salt: str = "neg",
    stride: int = 7919,
) -> DataFrame:
    """k deterministic contrastive NEGATIVES per anchor row —
    (id_col, neg_ord 1..k, neg_id) — without a cross join or RNG.

    The contrastive-training export step (in-batch negatives are biased
    by batch composition; corpus-level negatives need a sample of "some
    other document" per anchor, reproducible across runs and cluster
    layouts). Mechanism: every doc hashes into one of `n_buckets`
    buckets; each bucket elects ONE representative (min secondary-hash
    order — pseudo-random, decorrelated from the bucket fold); anchor
    j-th negative = the representative of bucket
    (own_bucket + j·stride) mod n_buckets. One slim groupBy for the
    representative table (n_buckets rows, broadcast) and one equality
    join — the corpus scans once, nothing quadratic anywhere.
    Anchors occasionally get fewer than k rows (target bucket empty, or
    the representative IS the anchor) — documented, deterministic.
    `stride` must not be a multiple of n_buckets (every target would be
    the anchor's own bucket)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if stride % n_buckets == 0:
        raise ValueError(
            f"stride {stride} is a multiple of n_buckets {n_buckets}"
        )
    b = hash_key_expr(F.col(id_col), salt) % n_buckets
    docs = df.select(F.col(id_col).alias("_aid"), b.alias("_ab"))
    rep = (
        docs.groupBy(F.col("_ab").alias("_rb"))
        .agg(
            F.min(
                F.struct(
                    hash_key_expr(F.col("_aid"), salt + ":rep").alias("h"),
                    F.col("_aid").alias("rid"),
                )
            ).alias("_r")
        )
        .select("_rb", F.col("_r.rid").alias("_rid"))
    )
    offs = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("neg_ord"),
                ((F.col("_ab") + F.lit(j * stride)) % n_buckets).alias("_tb"),
            )
            for j in range(1, k + 1)
        ]
    )
    anchors = docs.select("_aid", F.explode(offs).alias("p")).select(
        "_aid", F.col("p.neg_ord").alias("neg_ord"), F.col("p._tb").alias("_tb")
    )
    return (
        anchors.join(F.broadcast(rep), anchors["_tb"] == rep["_rb"], "left")
        .filter(F.col("_rid").isNotNull() & (F.col("_rid") != F.col("_aid")))
        .select(
            F.col("_aid").alias(id_col),
            "neg_ord",
            F.col("_rid").alias("neg_id"),
        )
    )


def negatives_oracle_sql(
    source_cte: str,
    id_sql: str = "doc_id",
    k: int = 3,
    n_buckets: int = 1024,
    salt: str = "neg",
    stride: int = 7919,
) -> str:
    """DuckDB CTE chain mirroring negative_samples; exposes neg_tbl with
    (anchor_id, neg_ord, neg_id)."""
    h_bucket = hash_key_sql(id_sql, salt)
    h_rep = hash_key_sql("aid", salt + ":rep")
    return f"""
    ng_docs AS (
      SELECT {id_sql} AS aid,
             {h_bucket} % {n_buckets} AS ab
      FROM {source_cte}
    ),
    ng_rep AS (
      SELECT ab AS rb, aid AS rid FROM (
        SELECT ab, aid,
               row_number() OVER (PARTITION BY ab
                                  ORDER BY {h_rep}, aid) AS rn
        FROM ng_docs
      ) WHERE rn = 1
    ),
    ng_off AS (
      SELECT aid, CAST(j AS BIGINT) AS neg_ord,
             (ab + j * {stride}) % {n_buckets} AS tb
      FROM ng_docs, (SELECT unnest(generate_series(1, {k})) AS j)
    ),
    neg_tbl AS (
      SELECT d.aid AS anchor_id, d.neg_ord, r.rid AS neg_id
      FROM ng_off d JOIN ng_rep r ON r.rb = d.tb
      WHERE r.rid <> d.aid
    )"""
