"""Distributed sketches: HyperLogLog (Flajolet et al. 2007) cardinality
and Count-Min (Cormode & Muthukrishnan 2005) frequency estimation.

Counting distinct keys exactly at 100 TB means shuffling every key to its
reducer — the one thing a well-shaped pipeline avoids. The HLL sketch
replaces that with a CONSTANT-size register vector (2^p BIGINTs) that is
(a) built map-side with partial aggregation (groupBy(bucket).max(rho)
collapses per-partition duplicates before the exchange — the shuffle
carries at most 2^p rows per partition, never the keys), and (b)
mergeable across shards/days/tables by pointwise max — the property that
makes it a lakehouse staple (Spark's own approx_count_distinct is a
HLL++ under the hood; this module is the open-register variant whose
STATE is a first-class DataFrame you can store, union, and oracle-check).

Determinism contract: the hash is the repo's md5 hex-prefix fold
(operators/packing.py convention) widened to 12 hex digits = 48 bits
(16^12 = 2^48, safely inside exact BIGINT arithmetic in both engines):

    h      = fold(md5(salt || key)[:12])          # 48 bits
    bucket = h DIV 2^(48-p)                        # top p bits
    w      = h % 2^(48-p)                          # remaining bits
    rho    = (48-p) - bitlen(w) + 1, or (48-p)+1 when w = 0

bitlen via length(bin(x)) (operators/lm.py) — every register value is
integer-exact and bit-identical in Spark and DuckDB, so the full
register VECTOR rides the driver's value-hash gate. Only the final
estimate (alpha_m * m^2 / sum 2^-r, with the small/large-range
corrections of the paper) is float — it is pytest-checked against an
independent Python mirror and against true distinct counts, never
hash-gated.

Reference: no counterpart in hathitrust/index_search_monorepo (Solr
owns its own cardinality estimates); built per the brief's custom-
operator category ("a novel sketch").
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.lm import bitlen_expr, bitlen_sql
from index_search_monorepo_spark.operators.skew import persist

HLL_HEX_DIGITS = 12  # 48 hash bits; BIGINT-exact in both engines
HLL_BITS = 4 * HLL_HEX_DIGITS
DEFAULT_P = 12


def _hash48_expr(key: Column, salt: str) -> Column:
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), key.cast("string"))),
            1,
            HLL_HEX_DIGITS,
        ),
        16,
        10,
    ).cast("long")


def _hash48_sql(key_sql: str, salt: str) -> str:
    h = f"md5('{salt}' || CAST({key_sql} AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (HLL_HEX_DIGITS - 1 - i)}"
        for i in range(HLL_HEX_DIGITS)
    )
    return f"({terms})"


def hll_sketch(
    df: DataFrame,
    key_col: str,
    p: int = DEFAULT_P,
    salt: str = "hll",
) -> DataFrame:
    """(bucket, r) register vector over the distinct values of `key_col`
    — only buckets with at least one hit appear (absent bucket = r 0).
    One map-side-combined aggregation; the exchange carries at most 2^p
    rows per upstream partition regardless of input size."""
    if not 2 <= p <= 16:
        raise ValueError(f"p must be in [2, 16], got {p}")
    wbits = HLL_BITS - p
    h = _hash48_expr(F.col(key_col), salt)
    bound = df.select(h.alias("_h"))
    wexp = F.col("_h") % F.lit(2**wbits)
    rho = F.when(
        wexp == 0, F.lit(wbits + 1)
    ).otherwise(F.lit(wbits) - bitlen_expr(wexp) + F.lit(1))
    return (
        bound.select(
            F.expr(f"_h DIV {2 ** wbits}").cast("long").alias("bucket"),
            rho.cast("long").alias("_rho"),
        )
        .groupBy("bucket")
        .agg(F.max("_rho").cast("long").alias("r"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union register vectors by pointwise max — the mergeability that
    lets shard/daily sketches roll up without touching raw keys."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("r").cast("long").alias("r"))


def hll_estimate(sketch: DataFrame, p: int = DEFAULT_P) -> float:
    """Cardinality estimate from a register DataFrame (Flajolet et al.
    2007 §4 with the standard small-range linear-counting and 48-bit
    large-range corrections). Drives a bounded collect (≤ 2^p rows) —
    the sketch is a constant-size artifact, never corpus-sized."""
    regs = {int(r["bucket"]): int(r["r"]) for r in sketch.collect()}
    return _estimate_py(regs, p)


def _estimate_py(regs: dict[int, int], p: int) -> float:
    m = 2**p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    s = sum(2.0 ** -regs.get(i, 0) for i in range(m))
    e = alpha * m * m / s
    if e <= 2.5 * m:
        zeros = m - len([v for v in regs.values() if v > 0])
        if zeros:
            return m * math.log(m / zeros)
        return e
    two48 = float(1 << HLL_BITS)
    if e > two48 / 30.0:
        return -two48 * math.log(1.0 - e / two48)
    return e


def hll_sketch_py(values, p: int = DEFAULT_P, salt: str = "hll") -> dict:
    """Independent Python mirror of hll_sketch (tests + small-data
    callers)."""
    wbits = HLL_BITS - p
    regs: dict[int, int] = {}
    for v in values:
        h = int(
            hashlib.md5((salt + str(v)).encode()).hexdigest()[
                :HLL_HEX_DIGITS
            ],
            16,
        )
        bucket = h >> wbits
        w = h % (1 << wbits)
        rho = wbits + 1 if w == 0 else wbits - w.bit_length() + 1
        if regs.get(bucket, 0) < rho:
            regs[bucket] = rho
    return regs


DEFAULT_CMS_D = 4
DEFAULT_CMS_W = 64


def _cms_col_expr(key: Column, j: int, w: int, salt: str) -> Column:
    """Row-j column index: md5 hex-prefix fold of the j-salted key,
    mod w. Same fold family as packing.hash_key_expr; the 'j|' salt
    prefix makes the d rows pairwise-independent-enough in the standard
    CMS sense while staying engine-portable."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{salt}{j}|"), key.cast("string"))
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % F.lit(w)
    )


def _cms_col_sql(key_sql: str, j: int, w: int, salt: str) -> str:
    h = f"md5('{salt}{j}|' || CAST({key_sql} AS VARCHAR))"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(({terms}) % {w})"


def cms_sketch(
    df: DataFrame,
    key_col: str,
    d: int = DEFAULT_CMS_D,
    w: int = DEFAULT_CMS_W,
    salt: str = "cms",
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005): (row, col, c)
    counter matrix over the MULTISET of `key_col` values — d salted
    hash rows x w counters, each occurrence increments one counter per
    row. Estimates are biased HIGH only (min over rows), the property
    heavy-hitter screens rely on. Mergeable by pointwise SUM
    (cms_merge) — shard/day sketches roll up without raw keys; the
    exchange carries at most d*w rows per partition (map-side combine),
    never the keys."""
    if d < 1 or w < 1:
        raise ValueError(f"need d >= 1 and w >= 1, got d={d} w={w}")
    key = F.col(key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("row"),
                _cms_col_expr(key, j, w, salt).alias("col"),
            )
            for j in range(d)
        ]
    )
    return (
        df.select(F.explode(cells).alias("s"))
        .groupBy(F.col("s.row").alias("row"), F.col("s.col").alias("col"))
        .agg(F.count("*").cast("long").alias("c"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Pointwise-sum union of counter matrices (same d/w/salt)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(
        F.sum("c").cast("long").alias("c")
    )


def cms_query(
    sketch: DataFrame,
    df: DataFrame,
    key_col: str,
    d: int = DEFAULT_CMS_D,
    w: int = DEFAULT_CMS_W,
    salt: str = "cms",
    out_col: str = "cms_est",
) -> DataFrame:
    """Point-query every row of `df`: adds `out_col` = min over the d
    rows of the addressed counters (0 when a cell was never touched).
    The sketch is broadcast (≤ d*w rows); the input gains one slim
    d-way explode and re-aggregation — no corpus shuffle."""
    key = F.col(key_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).cast("long").alias("row"),
                _cms_col_expr(key, j, w, salt).alias("col"),
            )
            for j in range(d)
        ]
    )
    exploded = df.select(key_col, F.explode(cells).alias("s")).select(
        key_col,
        F.col("s.row").alias("row"),
        F.col("s.col").alias("col"),
    )
    got = (
        exploded.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0).cast("long")))
            .cast("long")
            .alias(out_col)
        )
    )
    return df.join(got, key_col, "left")


def cms_query_py(
    regs: dict[tuple[int, int], int],
    value,
    d: int = DEFAULT_CMS_D,
    w: int = DEFAULT_CMS_W,
    salt: str = "cms",
) -> int:
    """Independent Python mirror of one point query."""
    est = None
    for j in range(d):
        h = int(
            hashlib.md5(f"{salt}{j}|{value}".encode()).hexdigest()[:6], 16
        )
        c = regs.get((j, h % w), 0)
        est = c if est is None else min(est, c)
    return est or 0


def cms_sketch_py(
    values,
    d: int = DEFAULT_CMS_D,
    w: int = DEFAULT_CMS_W,
    salt: str = "cms",
) -> dict:
    """Independent Python mirror of cms_sketch."""
    regs: dict[tuple[int, int], int] = {}
    for v in values:
        for j in range(d):
            h = int(
                hashlib.md5(f"{salt}{j}|{v}".encode()).hexdigest()[:6],
                16,
            )
            cell = (j, h % w)
            regs[cell] = regs.get(cell, 0) + 1
    return regs


def cms_oracle_sql(
    source_sql: str,
    key_sql: str,
    d: int = DEFAULT_CMS_D,
    w: int = DEFAULT_CMS_W,
    salt: str = "cms",
) -> str:
    """DuckDB CTE chain mirroring cms_sketch; final CTE `cms_out`
    yields (row, col, c)."""
    arms = " UNION ALL ".join(
        f"SELECT {j} AS row, {_cms_col_sql('k', j, w, salt)} AS col"
        f" FROM cms_keys"
        for j in range(d)
    )
    return f"""
    cms_keys AS (
      SELECT {key_sql} AS k FROM {source_sql}
    ),
    cms_cells AS (
      {arms}
    ),
    cms_out AS (
      SELECT CAST(row AS BIGINT) AS row, CAST(col AS BIGINT) AS col,
             CAST(count(*) AS BIGINT) AS c
      FROM cms_cells GROUP BY row, col
    )"""


def cms_point_oracle_sql(
    key_sql: str,
    d: int = DEFAULT_CMS_D,
    w: int = DEFAULT_CMS_W,
    salt: str = "cms",
) -> str:
    """Scalar SQL fragment: the min-over-rows point query of `key_sql`
    against the cms_out CTE (compose after cms_oracle_sql)."""
    lookups = ", ".join(
        "coalesce((SELECT c FROM cms_out WHERE row = "
        f"{j} AND col = {_cms_col_sql(key_sql, j, w, salt)}), 0)"
        for j in range(d)
    )
    return f"least({lookups})"


def hll_oracle_sql(
    source_sql: str,
    key_sql: str,
    p: int = DEFAULT_P,
    salt: str = "hll",
) -> str:
    """DuckDB CTE chain mirroring hll_sketch; final CTE `hll_out` yields
    (bucket, r). `source_sql` is a table/CTE name, `key_sql` the key
    expression."""
    wbits = HLL_BITS - p
    h = _hash48_sql(key_sql, salt)
    return f"""
    hll_h AS (
      SELECT {h} AS h FROM {source_sql}
    ),
    hll_rho AS (
      SELECT CAST(h // {2 ** wbits} AS BIGINT) AS bucket,
             CAST(CASE WHEN h % {2 ** wbits} = 0 THEN {wbits + 1}
                  ELSE {wbits} - {bitlen_sql(f"h % {2 ** wbits}")} + 1
                  END AS BIGINT) AS rho
      FROM hll_h
    ),
    hll_out AS (
      SELECT bucket, CAST(max(rho) AS BIGINT) AS r
      FROM hll_rho GROUP BY bucket
    )"""


# ------------------------------------------------------------------ bloom --
#
# Bloom filter (Bloom 1970) as a first-class DataFrame artifact: the
# membership companion to HLL/CMS. The 100 TB use case is JOIN PRUNING —
# semi-joining a 100 TB fact side against a key set normally shuffles
# the fact side; a Bloom sketch of the key set is a few thousand BIGINTs
# that broadcast everywhere and filter scan-side with zero exchanges and
# zero false negatives (Spark's own runtime row-level filtering injects
# exactly this shape; here the STATE is an inspectable, mergeable,
# oracle-checkable DataFrame).
#
# Determinism contract: k independent positions from the module's 48-bit
# md5 fold, pos_j = hash48(salt||j||':'||key) % m_bits; the bit array is
# packed into 63-BIT words (bits 0..62 — bit 63 is unused because
# 1::BIGINT << 63 overflows DuckDB's checked shift), word = pos DIV 63.
# Every word is integer-exact and bit-identical in Spark and DuckDB, so
# the full packed vector rides the driver's value-hash gate.

BLOOM_WORD_BITS = 63
BLOOM_MAX_M = 16 ** HLL_HEX_DIGITS  # positions must stay inside 48 bits


def _bloom_pos_expr(key: Column, j: int, m_bits: int, salt: str) -> Column:
    return _hash48_expr(key, f"{salt}{j}:") % m_bits


def _bloom_pos_sql(key_sql: str, j: int, m_bits: int, salt: str) -> str:
    return f"({_hash48_sql(key_sql, f'{salt}{j}:')} % {m_bits})"


def _bloom_check(m_bits: int, k: int) -> None:
    if not 1 <= m_bits <= BLOOM_MAX_M:
        raise ValueError(f"m_bits must be in [1, 2^48], got {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def bloom_sketch(
    df: DataFrame,
    key_col: str | Column,
    m_bits: int = 1 << 13,
    k: int = 3,
    salt: str = "bloom",
) -> DataFrame:
    """(word, bits) — the packed Bloom bit array over df's key column.
    Each row contributes k set bits; ONE map-side-combined groupBy(word)
    bit_or folds them, so the exchange carries at most m_bits/63 slim
    rows per partition and the raw keys never shuffle (the HLL/CMS plan
    shape). Absent words are all-zero (dense reconstruction happens in
    the query, not the artifact)."""
    _bloom_check(m_bits, k)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    positions = F.explode(
        F.array(*[_bloom_pos_expr(key, j, m_bits, salt) for j in range(k)])
    ).alias("_pos")
    return (
        df.select(positions)
        .select(
            F.expr(f"_pos DIV {BLOOM_WORD_BITS}").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                f" CAST(_pos % {BLOOM_WORD_BITS} AS INT))"
            ).alias("_mask"),
        )
        .groupBy("word")
        .agg(F.expr("CAST(bit_or(_mask) AS BIGINT)").alias("bits"))
    )


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """Pointwise OR of same-shape sketches — union of the key sets
    without touching the keys (shard/day rollups)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("word").agg(
        F.expr("CAST(bit_or(bits) AS BIGINT)").alias("bits")
    )


def bloom_might_contain(
    df: DataFrame,
    sketch: DataFrame,
    key_col: str | Column,
    m_bits: int = 1 << 13,
    k: int = 3,
    salt: str = "bloom",
    out_col: str = "bloom_hit",
) -> DataFrame:
    """df + out_col (boolean): true iff ALL k bits are set — no false
    negatives, tunable false positives (~(1-e^(-kn/m))^k). The sketch
    collapses to a ONE-ROW broadcast word->bits map (map_from_entries +
    crossJoin(broadcast) + try_element_at — CLAUDE.md lesson #10's
    shape), so membership is a pure projection: zero exchanges on df's
    side, the exact plan a scan-side join-pruning filter needs."""
    _bloom_check(m_bits, k)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    blob = F.broadcast(
        sketch.agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("_bloom_map")
        )
    )
    out = df.crossJoin(blob)
    # bind each position ONCE behind a Project boundary — it feeds both
    # the word lookup and the mask (interpreted exprs get no CSE,
    # CLAUDE.md lesson #1)
    for j in range(k):
        out = out.withColumn(
            f"_bp{j}", _bloom_pos_expr(key, j, m_bits, salt)
        )
    hit = None
    for j in range(k):
        word_bits = F.coalesce(
            F.try_element_at(
                F.col("_bloom_map"),
                F.expr(f"_bp{j} DIV {BLOOM_WORD_BITS}"),
            ),
            F.lit(0).cast("long"),
        )
        mask = F.expr(
            "shiftleft(CAST(1 AS BIGINT),"
            f" CAST(_bp{j} % {BLOOM_WORD_BITS} AS INT))"
        )
        this = word_bits.bitwiseAND(mask) != 0
        hit = this if hit is None else (hit & this)
    return (
        out.withColumn(out_col, hit)
        .drop("_bloom_map", *[f"_bp{j}" for j in range(k)])
    )


def bloom_sketch_py(
    values, m_bits: int = 1 << 13, k: int = 3, salt: str = "bloom"
) -> dict[int, int]:
    """Independent Python mirror of bloom_sketch: {word: bits}."""
    _bloom_check(m_bits, k)
    words: dict[int, int] = {}
    for v in values:
        for j in range(k):
            h = int(
                hashlib.md5(
                    f"{salt}{j}:{v}".encode()
                ).hexdigest()[:HLL_HEX_DIGITS],
                16,
            )
            pos = h % m_bits
            w, b = divmod(pos, BLOOM_WORD_BITS)
            words[w] = words.get(w, 0) | (1 << b)
    return words


def bloom_contains_py(
    value,
    words: dict[int, int],
    m_bits: int = 1 << 13,
    k: int = 3,
    salt: str = "bloom",
) -> bool:
    """Independent Python mirror of bloom_might_contain for one key."""
    for j in range(k):
        h = int(
            hashlib.md5(
                f"{salt}{j}:{value}".encode()
            ).hexdigest()[:HLL_HEX_DIGITS],
            16,
        )
        pos = h % m_bits
        w, b = divmod(pos, BLOOM_WORD_BITS)
        if not words.get(w, 0) & (1 << b):
            return False
    return True


def bloom_oracle_sql(
    key_sql: str,
    source_sql: str,
    m_bits: int = 1 << 13,
    k: int = 3,
    salt: str = "bloom",
) -> str:
    """DuckDB CTE chain mirroring bloom_sketch; final CTE `bloom_tbl`
    yields (word, bits)."""
    _bloom_check(m_bits, k)
    pos_rows = " UNION ALL ".join(
        f"SELECT {_bloom_pos_sql(key_sql, j, m_bits, salt)} AS pos"
        f" FROM {source_sql}"
        for j in range(k)
    )
    return f"""
    bloom_pos AS ({pos_rows}),
    bloom_tbl AS (
      SELECT CAST(pos // {BLOOM_WORD_BITS} AS BIGINT) AS word,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS}
                  AS INTEGER)) AS BIGINT) AS bits
      FROM bloom_pos GROUP BY 1
    )"""


def bloom_point_oracle_sql(
    key_sql: str,
    m_bits: int = 1 << 13,
    k: int = 3,
    salt: str = "bloom",
    table: str = "bloom_tbl",
) -> str:
    """Scalar SQL (1/0 BIGINT) testing key_sql against a built
    bloom_tbl — the DuckDB mirror of bloom_might_contain."""
    _bloom_check(m_bits, k)
    checks = []
    for j in range(k):
        pos = _bloom_pos_sql(key_sql, j, m_bits, salt)
        word = f"({pos} // {BLOOM_WORD_BITS})"
        mask = (
            f"(CAST(1 AS BIGINT) << CAST({pos} % {BLOOM_WORD_BITS}"
            " AS INTEGER))"
        )
        checks.append(
            f"(coalesce((SELECT bits FROM {table} t"
            f" WHERE t.word = {word}), 0) & {mask}) <> 0"
        )
    return (
        "CAST(CASE WHEN " + " AND ".join(checks) + " THEN 1 ELSE 0 END"
        " AS BIGINT)"
    )


# -------------------------------------------------------------- histogram --
#
# Fixed-bucket histogram sketch — the DISTRIBUTION companion completing
# the family (HLL = distinct, CMS = frequency, Bloom = membership):
# exact quantiles at 100 TB sort or shuffle every value; a B-bucket
# histogram ships <= B BIGINTs per group, map-side combines, and merges
# across shards/days by pointwise sum. Quantile answers are bucket-
# lower-bound estimates with error <= one bucket width — the screening
# trade every production quantile sketch makes, here in fully
# deterministic integer arithmetic so the ENTIRE sketch state and the
# derived quantile estimates are bit-identical in Spark and DuckDB and
# ride the driver's value-hash gate (Spark's own approx_percentile
# keeps float KLL state that no external engine can replay).
#
# Values are caller-scaled integers (the repo's e4-cents convention);
# bucket = clamp((v - lo) * B DIV (hi - lo), 0, B-1).


def _hist_check(lo: int, hi: int, n_buckets: int) -> None:
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")


def _hist_bucket_sql(v_sql: str, lo: int, hi: int, n_buckets: int) -> str:
    return (
        f"least(greatest((({v_sql}) - {lo}) * {n_buckets}"
        f" // ({hi} - {lo}), 0), {n_buckets - 1})"
    )


def hist_sketch(
    df: DataFrame,
    value_col: str | Column,
    lo: int,
    hi: int,
    n_buckets: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols..., bucket, cnt) — the histogram state. ONE map-side-
    combined groupBy: the exchange carries at most n_buckets rows per
    (partition, group); raw values never shuffle."""
    _hist_check(lo, hi, n_buckets)
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    gcols = list(group_cols or [])
    bucket = F.expr(
        f"least(greatest((_hv - {lo}) * {n_buckets}"
        f" DIV ({hi} - {lo}), 0), {n_buckets - 1})"
    )
    return (
        df.select(*gcols, v.cast("long").alias("_hv"))
        .select(*gcols, bucket.cast("long").alias("bucket"))
        .groupBy(*gcols, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Pointwise sum of same-shape sketches (shard/day rollups)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    keys = [c for c in out.columns if c != "cnt"]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys).agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def hist_quantile_est(
    sketch: DataFrame,
    q_pmille: int,
    lo: int,
    hi: int,
    n_buckets: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """(group_cols..., q_est, n) — deterministic quantile estimate from
    the histogram state: the LOWER BOUND of the smallest bucket whose
    running count reaches ceil(q_pmille * N / 1000). Error <= one bucket
    width by construction; integer-exact, replayed bit-for-bit by
    hist_quantile_oracle_sql. Two slim shuffles over the <= B-row-per-
    group sketch, never the data."""
    _hist_check(lo, hi, n_buckets)
    if not 0 < q_pmille <= 1000:
        raise ValueError(f"q_pmille must be in (0, 1000], got {q_pmille}")
    gcols = list(group_cols or [])
    w_tot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    w_cum = w_tot.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    width = hi - lo
    est = F.expr(f"{lo} + (bucket * {width}) DIV {n_buckets}")
    hit = (
        sketch.withColumn("_cum", F.sum("cnt").over(w_cum))
        .withColumn("_n", F.sum("cnt").over(w_tot))
        .withColumn(
            "_target",
            F.expr(f"(_n * {int(q_pmille)} + 999) DIV 1000"),
        )
        .filter(F.col("_cum") >= F.col("_target"))
    )
    return hit.groupBy(*gcols).agg(
        F.min(est.cast("long")).alias("q_est"),
        F.max("_n").cast("long").alias("n"),
    )


def hist_sketch_py(
    values, lo: int, hi: int, n_buckets: int = 64
) -> dict[int, int]:
    """Independent Python mirror of hist_sketch: {bucket: cnt}."""
    _hist_check(lo, hi, n_buckets)
    out: dict[int, int] = {}
    for v in values:
        b = min(max((int(v) - lo) * n_buckets // (hi - lo), 0),
                n_buckets - 1)
        out[b] = out.get(b, 0) + 1
    return out


def hist_quantile_py(
    buckets: dict[int, int],
    q_pmille: int,
    lo: int,
    hi: int,
    n_buckets: int = 64,
) -> int:
    """Independent Python mirror of hist_quantile_est."""
    n = sum(buckets.values())
    target = (n * q_pmille + 999) // 1000
    cum = 0
    for b in sorted(buckets):
        cum += buckets[b]
        if cum >= target:
            return lo + b * (hi - lo) // n_buckets
    raise ValueError("empty sketch")


def hist_oracle_sql(
    v_sql: str,
    source_sql: str,
    lo: int,
    hi: int,
    n_buckets: int = 64,
    group_sql: str | None = None,
) -> str:
    """DuckDB CTE mirroring hist_sketch; exposes hist_tbl:
    (group?, bucket, cnt)."""
    _hist_check(lo, hi, n_buckets)
    b = _hist_bucket_sql(v_sql, lo, hi, n_buckets)
    g = f"{group_sql}, " if group_sql else ""
    gb = "1, 2" if group_sql else "1"
    return f"""
    hist_tbl AS (
      SELECT {g}CAST({b} AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {source_sql} GROUP BY {gb}
    )"""


def hist_quantile_oracle_sql(
    q_pmille: int,
    lo: int,
    hi: int,
    n_buckets: int = 64,
    group_sql: str | None = None,
    table: str = "hist_tbl",
    prefix: str = "hist_",
) -> str:
    """DuckDB CTE mirroring hist_quantile_est over a built hist_tbl;
    exposes {prefix}q: (group?, q_est, n). Distinct prefixes let several
    quantiles ride one oracle."""
    _hist_check(lo, hi, n_buckets)
    part = f"PARTITION BY {group_sql} " if group_sql else ""
    g = f"{group_sql}, " if group_sql else ""
    gb = f"GROUP BY {group_sql}" if group_sql else ""
    width = hi - lo
    return f"""
    {prefix}cum AS (
      SELECT {g}bucket, cnt,
             sum(cnt) OVER ({part}ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS _cum,
             sum(cnt) OVER ({part}) AS _n
      FROM {table}
    ),
    {prefix}q AS (
      SELECT {g}CAST(min({lo} + bucket * {width} // {n_buckets})
                     AS BIGINT) AS q_est,
             CAST(max(_n) AS BIGINT) AS n
      FROM {prefix}cum
      WHERE _cum >= (_n * {int(q_pmille)} + 999) // 1000
      {gb}
    )"""


# ------------------------------------------------------------ KMV / theta --
#
# K-minimum-values (bottom-k) sketch — the SET-OPERATION member of the
# family (HLL = distinct count, CMS = frequency, Bloom = membership,
# histogram = quantiles; KMV/theta = distinct count UNDER set algebra):
# Bar-Yossef et al. 2002, productionized as the DataSketches theta
# sketch. The 100 TB use case the others can't answer: "how much does
# corpus B overlap corpus A" (contamination rate, crawl-refresh overlap,
# cross-shard vocabulary intersection) without shuffling either corpus —
# |A ∩ B| from two k-row artifacts. HLL can union (pointwise max) but
# cannot intersect; KMV intersects because the k smallest hash values of
# a set are a uniform SAMPLE of it, and theta = min(kth(A), kth(B))
# makes the two samples comparable below a common threshold.
#
# Determinism contract: the state is the EXACT k smallest distinct
# 48-bit md5-fold hash values (module convention) — a plan-invariant,
# engine-replayable set, so the full sketch and every derived integer
# (kth min, match count, theta) ride the driver's value-hash gate. Only
# the cardinality estimates ((k-1)·2^48/kth; matches·2^48/theta) are
# float, pytest-checked against truth like hll_estimate.
#
# Plan shape: a narrow hash projection, then ONE Arrow-batched
# per-partition pruner holding a running bottom-k (bounded state, emits
# <= k slim BIGINTs per partition — the corpus never shuffles and never
# sorts), then distinct + TakeOrderedAndProject over the <= k·P
# candidate rows. Pure-Catalyst alternatives are all worse at scale:
# groupBy(hv) dedups but ships EVERY distinct key through the exchange;
# orderBy(hv).limit(k) is bounded but multiset duplicates can evict
# distinct values from the window. The pruner is conservative (a value
# it drops is >= k values that survive), so the final bottom-k is exact
# regardless of partitioning or Arrow batch boundaries.
#
# Reference: no counterpart in hathitrust/index_search_monorepo; built
# per the brief's custom-operator category.

DEFAULT_KMV_K = 256
KMV_MAX_HASH = 16 ** HLL_HEX_DIGITS  # 2^48: exclusive upper hash bound


def _kmv_check(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def kmv_sketch(
    df: DataFrame,
    key_col: str | Column,
    k: int = DEFAULT_KMV_K,
    salt: str = "kmv",
) -> DataFrame:
    """(hv) — the k smallest distinct 48-bit hash values of the key
    column. Exact and plan-invariant; see the section comment for why
    the per-partition Arrow pruner is the scalable build."""
    _kmv_check(k)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    bound = df.select(_hash48_expr(key, salt).alias("hv"))

    def prune(batches):
        import numpy as np
        import pandas as pd

        best = None
        for pdf in batches:
            vals = pdf["hv"].to_numpy(dtype="int64")
            arr = (
                np.unique(vals)
                if best is None
                else np.unique(np.concatenate([best, vals]))
            )
            best = arr[:k]
        if best is not None and len(best):
            yield pd.DataFrame({"hv": best})

    return (
        bound.mapInPandas(prune, schema="hv long")
        .distinct()
        .orderBy("hv")
        .limit(k)
    )


def kmv_merge(*sketches: DataFrame, k: int = DEFAULT_KMV_K) -> DataFrame:
    """Bottom-k of the union of sketches — sketch-of-union exactly,
    because each input retains its k smallest and the union's k smallest
    are among them. Inputs are <= k rows each; this never touches data."""
    _kmv_check(k)
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("hv").limit(k)


def kmv_summary(sketch: DataFrame) -> DataFrame:
    """One row (kmv_n, kmv_kth, kmv_md5): size, kth smallest hash, and
    the md5 of the canonical comma-joined ascending serialization —
    integer/text-exact, oracle-replayable (kmv_summary_oracle_sql)."""
    return sketch.agg(
        F.count("*").cast("long").alias("kmv_n"),
        F.max("hv").cast("long").alias("kmv_kth"),
        F.when(
            F.count("*") > 0,
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("hv")),
                        lambda v: v.cast("string"),
                    ),
                )
            ),
        ).alias("kmv_md5"),
    )


def kmv_intersect(
    a: DataFrame, b: DataFrame, k: int = DEFAULT_KMV_K
) -> DataFrame:
    """One row (theta, n_match): the theta-sketch intersection evidence.
    theta = least of the two kth mins (2^48 when a sketch is not full —
    it then retains EVERY distinct hash); n_match = hashes present in
    BOTH sketches below theta. Integer-exact; the float estimate
    n_match * 2^48 / theta lives in kmv_intersect_estimate_py. Both
    sides are <= k-row artifacts — the one-row nested-loop count is
    bounded by construction, the corpora are never touched."""
    _kmv_check(k)
    m = F.lit(KMV_MAX_HASH).cast("long")

    def _stats(s: DataFrame, n: str, mx: str) -> DataFrame:
        return s.agg(
            F.count("*").cast("long").alias(n),
            F.max("hv").cast("long").alias(mx),
        )

    theta = (
        _stats(a, "_na", "_ma")
        .crossJoin(_stats(b, "_nb", "_mb"))
        .select(
            F.least(
                F.when(F.col("_na") >= k, F.col("_ma")).otherwise(m),
                F.when(F.col("_nb") >= k, F.col("_mb")).otherwise(m),
            )
            .cast("long")
            .alias("theta")
        )
    )
    both = a.join(b, "hv").select("hv")
    return (
        theta.join(both, F.col("hv") < F.col("theta"), "left")
        .groupBy("theta")
        .agg(F.count("hv").cast("long").alias("n_match"))
    )


def kmv_sketch_py(
    values, k: int = DEFAULT_KMV_K, salt: str = "kmv"
) -> list[int]:
    """Independent Python mirror of kmv_sketch: ascending bottom-k."""
    _kmv_check(k)
    hs = {
        int(
            hashlib.md5((salt + str(v)).encode()).hexdigest()[
                :HLL_HEX_DIGITS
            ],
            16,
        )
        for v in values
    }
    return sorted(hs)[:k]


def kmv_estimate_py(sketch: list[int], k: int = DEFAULT_KMV_K) -> float:
    """Cardinality estimate: exact |sketch| when not full, else the
    unbiased (k-1) * 2^48 / kth-min (Bar-Yossef et al. 2002)."""
    _kmv_check(k)
    if len(sketch) < k:
        return float(len(sketch))
    return (k - 1) * float(KMV_MAX_HASH) / float(sketch[k - 1])


def kmv_intersect_estimate_py(theta: int, n_match: int) -> float:
    """|A ∩ B| estimate from kmv_intersect's integer evidence: each
    retained hash below theta represents 2^48/theta elements."""
    return n_match * float(KMV_MAX_HASH) / float(theta)


def kmv_oracle_sql(
    source_sql: str,
    key_sql: str,
    k: int = DEFAULT_KMV_K,
    salt: str = "kmv",
    prefix: str = "kmv_",
) -> str:
    """DuckDB CTE chain mirroring kmv_sketch; exposes {prefix}out: (hv).
    Distinct prefixes let several sketches ride one oracle."""
    _kmv_check(k)
    h = _hash48_sql(key_sql, salt)
    return f"""
    {prefix}h AS (
      SELECT DISTINCT {h} AS hv FROM {source_sql}
    ),
    {prefix}out AS (
      SELECT CAST(hv AS BIGINT) AS hv FROM {prefix}h
      ORDER BY hv LIMIT {k}
    )"""


def kmv_summary_oracle_sql(table: str, prefix: str = "kmvs_") -> str:
    """CTE mirroring kmv_summary over a built {table}; exposes
    {prefix}out: (kmv_n, kmv_kth, kmv_md5)."""
    return f"""
    {prefix}out AS (
      SELECT CAST(count(*) AS BIGINT) AS kmv_n,
             CAST(max(hv) AS BIGINT) AS kmv_kth,
             md5(string_agg(CAST(hv AS VARCHAR), ',' ORDER BY hv))
               AS kmv_md5
      FROM {table}
    )"""


def kmv_intersect_oracle_sql(
    table_a: str,
    table_b: str,
    k: int = DEFAULT_KMV_K,
    prefix: str = "kmvi_",
) -> str:
    """CTE mirroring kmv_intersect over two built sketches; exposes
    {prefix}out: (theta, n_match)."""
    _kmv_check(k)

    def arm(t: str) -> str:
        return (
            f"CASE WHEN (SELECT count(*) FROM {t}) >= {k}"
            f" THEN (SELECT max(hv) FROM {t}) ELSE {KMV_MAX_HASH} END"
        )

    return f"""
    {prefix}theta AS (
      SELECT CAST(least({arm(table_a)}, {arm(table_b)}) AS BIGINT)
        AS theta
    ),
    {prefix}out AS (
      SELECT t.theta,
             CAST((SELECT count(*) FROM {table_a} a
                   JOIN {table_b} b USING (hv)
                   WHERE a.hv < t.theta) AS BIGINT) AS n_match
      FROM {prefix}theta t
    )"""


# ---------------------------------------------------------------------------
# Misra-Gries frequent items -> two-pass EXACT heavy hitters
#
# CMS answers "how often does THIS key occur"; it cannot FIND the heavy
# keys without enumerating candidates. Exact top keys via groupBy over
# the raw key column shuffles every distinct key — at 10^12 events over
# URLs/users that is the scan-sized shuffle this repo's plans avoid.
# The classic fix (Misra & Gries 1982; merge rule per Agarwal, Cormode,
# Huang, Phillips, Wei & Yi, "Mergeable Summaries", PODS 2012) is a
# k-counter bounded summary per partition with the containment
# guarantee: any key whose TRUE count in partition p exceeds N_p/(k+1)
# survives p's summary, so a key absent from EVERY summary has global
# count <= sum_p N_p/(k+1) = N/(k+1). The per-partition summaries are
# therefore a guaranteed SUPERSET of {x : c(x) > N/(k+1)} — the
# candidate-pruning pass. A second pass recounts ONLY the candidates
# exactly (map-side combined; the exchange carries <= n_candidates + 1
# rows per partition, never raw keys) and thresholds at c*(k+1) > N.
#
# Determinism contract: the MG summaries themselves are partition-
# layout-dependent (counter values depend on arrival order) — they are
# an INTERMEDIATE, never an output. The final guaranteed set
# {x : c(x) > N/(k+1)} with exact counts is layout-invariant and
# SQL-replayable (heavy_hitters_oracle_sql) — that is what rides the
# driver gate; the superset guarantee itself is property-tested across
# adversarial repartitionings in tests/test_sketches.py.
#
# Reference: no counterpart in hathitrust/index_search_monorepo; built
# per the brief's custom-operator / sketch category.
# ---------------------------------------------------------------------------

DEFAULT_MG_K = 64


def _mg_check(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def mg_candidates(
    df: DataFrame, key_col: str, k: int = DEFAULT_MG_K
) -> DataFrame:
    """Pass 1: per-partition Misra-Gries summaries. Emits
    (key, mg_count) with <= k rows PER INPUT PARTITION — zero shuffle
    (mapInPandas over the slim key projection), bounded state. mg_count
    is a lower bound on the key's count within its partition; the union
    over partitions contains every key with global count > N/(k+1).

    Batch-merge formulation (vectorized; Mergeable Summaries Lemma 1):
    fold each Arrow batch's exact value_counts into the running
    summary, then if more than k counters remain subtract the (k+1)-th
    largest count from all and keep the strictly positive ones — the
    same error accounting as element-at-a-time MG decrements."""
    _mg_check(k)
    field = df.schema[key_col]
    out_schema = f"key {field.dataType.simpleString()}, mg_count long"
    keys = df.select(F.col(key_col).alias("key")).filter(
        F.col("key").isNotNull()
    )

    def summarize(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            vc = pdf["key"].value_counts()
            for key, cnt in vc.items():
                counters[key] = counters.get(key, 0) + int(cnt)
            if len(counters) > k:
                # subtract the (k+1)-th largest from everyone; keep > 0
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: c - sub for key, c in counters.items() if c > sub
                }
        if counters:
            yield pd.DataFrame(
                {
                    "key": list(counters.keys()),
                    "mg_count": list(counters.values()),
                }
            )

    return keys.mapInPandas(summarize, schema=out_schema)


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    k: int = DEFAULT_MG_K,
    max_candidates: int = 100_000,
) -> DataFrame:
    """Two-pass exact heavy hitters: (key, cnt, guaranteed) for every
    MG candidate, where guaranteed = cnt*(k+1) > N (integer, no
    division). The guaranteed rows are EXACTLY {x : c(x) > N/(k+1)}
    with exact counts — layout-invariant, oracle-replayable. Rows with
    guaranteed = false are true counts of surviving candidates below
    the threshold (useful diagnostics, also exact, but their SET is
    layout-dependent — filter on `guaranteed` for deterministic
    output).

    Pass 2 is ONE aggregation computing candidate counts AND the total
    N together: non-candidate keys collapse to a single NULL group, so
    the exchange carries <= n_candidates + 1 rows per partition after
    partial aggregation. The candidate list is a bounded collect
    (<= input partitions x k, guarded by max_candidates) — the repo's
    broadcast-dim pattern. The tiny grouped rollup is persisted (its
    lineage is the full pass-2 scan and BOTH the output and the total-N
    broadcast read it)."""
    _mg_check(k)
    cand_rows = mg_candidates(df, key_col, k).select("key").distinct()
    cands = [r["key"] for r in cand_rows.limit(max_candidates + 1).collect()]
    if len(cands) > max_candidates:
        raise ValueError(
            f"mg_candidates produced more than max_candidates="
            f"{max_candidates} keys; raise k-side pruning or the cap"
        )
    key = F.col(key_col)
    grouped = (
        df.filter(key.isNotNull())
        .groupBy(
            F.when(key.isin(cands), key).alias("key")
            if cands
            else F.lit(None).cast(df.schema[key_col].dataType).alias("key")
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    grouped = persist(grouped)
    total = grouped.agg(F.sum("cnt").cast("long").alias("n"))
    return (
        grouped.filter(F.col("key").isNotNull())
        .crossJoin(F.broadcast(total))
        .select(
            "key",
            "cnt",
            (F.col("cnt") * F.lit(k + 1) > F.col("n")).alias("guaranteed"),
        )
    )


def mg_candidates_py(values, k: int = DEFAULT_MG_K) -> dict:
    """Independent element-at-a-time Python mirror of classic MG
    (Misra & Gries 1982): +1 on hit, insert when room, decrement-all
    on overflow. Used to cross-check the batch-merge formulation's
    guarantee, not its exact counter values (both are valid MG
    summaries; counter values legitimately differ)."""
    _mg_check(k)
    counters: dict = {}
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < k:
            counters[v] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def heavy_hitters_oracle_sql(
    source_cte: str,
    key_sql: str,
    k: int,
    prefix: str = "hh_",
) -> str:
    """CTE chain replaying the deterministic final output from scratch:
    exact counts thresholded at cnt*(k+1) > N. Exposes {prefix}out:
    (key, cnt) — the guaranteed heavy-hitter set."""
    _mg_check(k)
    p = prefix
    return f"""
    {p}cnt AS (
      SELECT {key_sql} AS key, CAST(count(*) AS BIGINT) AS cnt
      FROM {source_cte} WHERE {key_sql} IS NOT NULL GROUP BY 1
    ),
    {p}tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM {p}cnt),
    {p}out AS (
      SELECT c.key, c.cnt FROM {p}cnt c, {p}tot t
      WHERE c.cnt * {k + 1} > t.n
    )"""
