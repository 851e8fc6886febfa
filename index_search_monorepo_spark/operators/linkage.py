"""Record linkage / entity resolution: blocked candidate generation,
integer edit-distance scoring, sorted-neighborhood blocking, and
transitive match clustering.

Reference: no counterpart in hathitrust/index_search_monorepo (its
dedup surface is document-content keyed); built per the brief's
data-integration category — the Fellegi-Sunter pipeline shape
(block -> compare -> classify -> cluster) every large-scale entity
resolution system uses (Splink, Zingg, dedupe.io publish the same
decomposition).

Scale shapes:

 - `blocked_candidate_pairs`: candidate generation is an EQUALITY
   self-join on the blocking key — never an all-pairs compare (which is
   quadratic in the table). A hot block is the 100 TB failure mode
   (one block with 1e6 rows = 5e11 pairs), so occupancy is checked
   first and the operator RAISES past `max_block_rows` (the
   semantic_dedup convention: a loud error beats a silent
   near-cartesian).
 - `sorted_neighborhood_pairs`: the OTHER classic blocking family
   (Hernandez & Stolfo SNM) — global sort by a key, pair every row with
   its `window` successors. Spark has no scalable global-rank window
   (one partition = one task), so this is done range-partition-exactly:
   repartitionByRange defines globally contiguous chunks, in-chunk
   pairs come from lead() windows parallel per chunk, and the only
   rows that can pair ACROSS chunks are each chunk's first/last
   `window` rows (anything deeper has >= window rows between it and
   the seam) — those boundary rows (2·window per chunk, tiny by
   construction) pair in one single-partition window. The emitted pair
   set is partition-count-invariant (test-pinned), so planners can
   size chunks freely.
 - similarity scoring is integer per-mille (1000 - lev·1000 DIV
   max(len)) — levenshtein is a JVM builtin on both engines, so the
   score is bit-identical in DuckDB with zero float drift.
 - `match_entities`: transitive closure over the match pairs reuses
   dedup.duplicate_clusters (min-label propagation with star
   contraction); the oracle replays it as a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from index_search_monorepo_spark.operators.dedup import duplicate_clusters
from index_search_monorepo_spark.operators.skew import persist

__all__ = [
    "blocked_candidate_pairs",
    "with_name_similarity",
    "fuzzy_matches",
    "sorted_neighborhood_pairs",
    "match_entities",
    "fuzzy_matches_oracle_sql",
    "snm_oracle_sql",
    "entity_oracle_sql",
]


def _div(num, den):
    """Exact integer floor division for non-negative operands: align the
    numerator to a multiple first so the double division is lossless."""
    return ((num - F.pmod(num, den)) / den).cast("long")


def blocked_candidate_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    max_block_rows: int = 100_000,
) -> DataFrame:
    """Candidate pairs (id_a, id_b, name_a, name_b) for every unordered
    pair of rows sharing the blocking key, id_a < id_b. Raises when any
    block exceeds `max_block_rows` (bounded driver-side check — one
    limit(1) collect, the semantic_dedup convention)."""
    if not block_cols:
        raise ValueError("blocked_candidate_pairs requires block_cols")
    hot = (
        df.groupBy(*block_cols)
        .count()
        .filter(F.col("count") > max_block_rows)
        .limit(1)
        .collect()
    )
    if hot:
        key = ", ".join(f"{c}={hot[0][c]!r}" for c in block_cols)
        raise ValueError(
            f"blocked_candidate_pairs: block ({key}) holds"
            f" {hot[0]['count']} > max_block_rows={max_block_rows} rows;"
            " the in-block pair join would be near-quadratic — refine"
            " the blocking key"
        )
    a = df.select(
        *block_cols,
        F.col(id_col).alias("id_a"),
        F.col(name_col).alias("name_a"),
    )
    b = df.select(
        *block_cols,
        F.col(id_col).alias("id_b"),
        F.col(name_col).alias("name_b"),
    )
    return a.join(b, block_cols).filter(F.col("id_a") < F.col("id_b"))


def with_name_similarity(pairs: DataFrame) -> DataFrame:
    """pairs + (lev, sim_pmille): Levenshtein distance between name_a
    and name_b and the integer per-mille similarity
    1000 - lev*1000 DIV max(len_a, len_b, 1) — 1000 = identical, 0 =
    nothing shared; integer-exact on both engines."""
    lev = F.levenshtein("name_a", "name_b")
    den = F.greatest(
        F.length("name_a"), F.length("name_b"), F.lit(1)
    ).cast("long")
    return pairs.withColumn("lev", lev.cast("long")).withColumn(
        "sim_pmille",
        (F.lit(1000) - _div(F.col("lev") * 1000, den)).cast("long"),
    )


def fuzzy_matches(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list[str],
    min_sim_pmille: int = 800,
    max_block_rows: int = 100_000,
) -> DataFrame:
    """The composed linkage compare stage: blocked candidates scored and
    thresholded. Returns (id_a, id_b, name_a, name_b, lev, sim_pmille)
    for pairs at or above `min_sim_pmille`."""
    pairs = blocked_candidate_pairs(
        df, id_col, name_col, block_cols, max_block_rows
    )
    return with_name_similarity(pairs).filter(
        F.col("sim_pmille") >= min_sim_pmille
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    window: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """SNM candidate pairs: every row paired with its `window`
    successors in the global (sort_col, id_col) order. Returns
    (id_a, id_b, dist) with dist = rank distance (1..window) and
    id_a/id_b in that global order (NOT numeric order).

    Output is independent of `num_partitions` (pair completeness across
    chunk seams is handled by the boundary pass — see module
    docstring); defaults to spark.sql.shuffle.partitions."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    np_ = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    slim = df.select(F.col(id_col).alias("_id"), F.col(sort_col).alias("_s"))
    # persisted: the in-chunk and boundary passes BOTH read this frame,
    # and RangePartitioner samples its boundaries — recomputing it for
    # each consumer would let the two passes see different chunkings
    # (the seam-completeness argument needs ONE chunking). Slim
    # (id, sort) rows only.
    ranged = persist(
        slim.repartitionByRange(np_, "_s", "_id").withColumn(
            "_pid", F.spark_partition_id()
        )
    )
    w_pid = Window.partitionBy("_pid").orderBy("_s", "_id")
    leads = F.array(
        *[
            F.struct(
                F.lead("_id", j).over(w_pid).alias("id_b"),
                F.lit(j).cast("long").alias("dist"),
            )
            for j in range(1, window + 1)
        ]
    )
    in_chunk = (
        ranged.withColumn(
            "_nb", F.filter(leads, lambda s: s["id_b"].isNotNull())
        )
        .select(F.col("_id").alias("id_a"), F.explode("_nb").alias("p"))
        .select("id_a", F.col("p.id_b").alias("id_b"),
                F.col("p.dist").alias("dist"))
    )
    # Boundary rows: first/last `window` rows of each chunk. Everything
    # deeper has >= window same-chunk rows between it and the seam, so
    # it cannot pair across chunks. The boundary set is globally
    # CONTIGUOUS around each seam, so seam-local rank distance equals
    # global rank distance for cross-chunk pairs (and sub-window chunks
    # are wholly contained, keeping multi-seam spans exact).
    rn = F.row_number().over(w_pid)
    rn_d = F.row_number().over(
        Window.partitionBy("_pid").orderBy(F.desc("_s"), F.desc("_id"))
    )
    edge = (
        ranged.withColumn("_rn", rn)
        .withColumn("_rnd", rn_d)
        .filter((F.col("_rn") <= window) | (F.col("_rnd") <= window))
        .select("_id", "_s", "_pid")
    )
    # single-partition window over <= 2*window*num_partitions slim rows
    # — tiny by construction (documented scale bound, not corpus-sized)
    w_all = Window.orderBy("_s", "_id")
    cross = (
        edge.withColumn(
            "_nb",
            F.filter(
                F.array(
                    *[
                        F.struct(
                            F.lead("_id", j).over(w_all).alias("id_b"),
                            F.lead("_pid", j).over(w_all).alias("pid_b"),
                            F.lit(j).cast("long").alias("dist"),
                        )
                        for j in range(1, window + 1)
                    ]
                ),
                lambda s: s["id_b"].isNotNull(),
            ),
        )
        .select(
            F.col("_id").alias("id_a"),
            F.col("_pid").alias("pid_a"),
            F.explode("_nb").alias("p"),
        )
        .filter(F.col("pid_a") != F.col("p.pid_b"))
        .select("id_a", F.col("p.id_b").alias("id_b"),
                F.col("p.dist").alias("dist"))
    )
    return in_chunk.unionByName(cross)


def match_entities(
    matches: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Transitive closure over match pairs -> (doc_id, cluster_id,
    is_canonical): the entity-id assignment (cluster_id = min member
    id). Reuses dedup.duplicate_clusters' min-label propagation."""
    return duplicate_clusters(matches, id_a, id_b)


def fuzzy_matches_oracle_sql(
    source_cte: str,
    id_sql: str,
    name_sql: str,
    block_sqls: list[str],
    min_sim_pmille: int = 800,
) -> str:
    """DuckDB CTE mirroring fuzzy_matches; exposes match_tbl with
    (id_a, id_b, name_a, name_b, lev, sim_pmille)."""
    on = " AND ".join(f"a.{b} = b.{b}" for b in block_sqls)
    return f"""
    lk_rows AS (
      SELECT {id_sql} AS lk_id, {name_sql} AS lk_name,
             {', '.join(block_sqls)}
      FROM {source_cte}
    ),
    lk_scored AS (
      SELECT a.lk_id AS id_a, b.lk_id AS id_b,
             a.lk_name AS name_a, b.lk_name AS name_b,
             CAST(levenshtein(a.lk_name, b.lk_name) AS BIGINT) AS lev
      FROM lk_rows a JOIN lk_rows b ON {on} AND a.lk_id < b.lk_id
    ),
    match_tbl AS (
      SELECT *,
             CAST(1000 - (lev * 1000) //
               greatest(length(name_a), length(name_b), 1) AS BIGINT)
               AS sim_pmille
      FROM lk_scored
      WHERE 1000 - (lev * 1000) //
              greatest(length(name_a), length(name_b), 1)
            >= {min_sim_pmille}
    )"""


def snm_oracle_sql(
    source_cte: str,
    id_sql: str,
    sort_sql: str,
    window: int = 3,
) -> str:
    """DuckDB CTE mirroring sorted_neighborhood_pairs via the
    INDEPENDENT global row_number + rank-distance self-join
    formulation; exposes snm_tbl with (id_a, id_b, dist)."""
    return f"""
    snm_r AS (
      SELECT {id_sql} AS snm_id,
             row_number() OVER (ORDER BY {sort_sql}, {id_sql}) AS rnk
      FROM {source_cte}
    ),
    snm_tbl AS (
      SELECT a.snm_id AS id_a, b.snm_id AS id_b,
             CAST(b.rnk - a.rnk AS BIGINT) AS dist
      FROM snm_r a JOIN snm_r b
        ON b.rnk > a.rnk AND b.rnk <= a.rnk + {window}
    )"""


def entity_oracle_sql(match_cte: str = "match_tbl") -> str:
    """DuckDB recursive-CTE transitive closure over `match_cte`
    (id_a, id_b) pairs; exposes entity_tbl with (doc_id, cluster_id) —
    cluster_id = min id reachable through the match graph."""
    return f"""
    ent_edges AS (
      SELECT id_a AS src, id_b AS dst FROM {match_cte}
      UNION SELECT id_b, id_a FROM {match_cte}
    ),
    ent_reach AS (
      SELECT src, dst FROM ent_edges
      UNION
      SELECT r.src, e.dst
      FROM ent_reach r JOIN ent_edges e ON e.src = r.dst
    ),
    entity_tbl AS (
      SELECT src AS doc_id,
             CAST(least(src, min(dst)) AS BIGINT) AS cluster_id
      FROM ent_reach GROUP BY src
    )"""
