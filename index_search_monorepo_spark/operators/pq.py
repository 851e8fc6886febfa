"""Product quantization (Jégou, Douze & Schmid 2011) — the vector-
compression half of the FAISS IVF-PQ shape whose coarse half
(similarity.ivf_* / kmeans_codebook) this repo already ships. At 10^9+
vectors the embeddings themselves are the storage and bandwidth cost
(64 floats = 256 B/vec); PQ splits the dimension into m subspaces,
k-means-quantizes each independently, and stores ONE CODE PER SUBSPACE
(m small ints — 64× smaller at m=4, k<=256).

L2 is the metric here (and in the paper) because squared euclidean
DECOMPOSES BY SUBSPACE: ||x−q||² = Σ_j ||x_j − q_j||², which is what
makes sum-of-per-subspace-quantizer distances a valid approximation.
The repo's cosine operators stay the exact/IVF path; production
pipelines L2-normalize embeddings first, where L2 order == cosine
order.

Plan shapes (the 100 TB contract):
  * encode — broadcast(one-row model) × corpus map: ZERO corpus
    shuffle (the ivf_assign shape), per-row HOF argmin with the
    subvector bound once per subspace (CLAUDE.md lesson #1).
  * train — Lloyd per subspace in ONE pass per iteration for ALL
    subspaces together: E-step = encode (no shuffle), M-step =
    double posexplode to (sub, code, pos) partial means — the
    kmeans_iterate shape; the shuffle carries ≤ m·k·d_sub partials
    per partition, never vectors. Codebooks collect per iteration
    (m·k·d_sub doubles, bounded tiny) and re-enter as literals —
    Spark ML's driver-loop lineage truncation.

Determinism contract: centroid coordinates are 6 dp-rounded
(kmeans_iterate convention) and distances are 6 dp-rounded before the
argmin with ties to the LOWEST code — assignment is replayable in
DuckDB (pq_codes_oracle_ctes) for the untrained (seed-codebook) model;
trained models are pinned by pytest mirrors (tests/test_pq.py), same
split as kmeans (oracle replays iterations only where the gate needs
them).

Reference: no counterpart in hathitrust/index_search_monorepo; built
per the brief's similarity-search category.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _check(dim: int, m: int) -> None:
    if m < 1 or dim < 1 or dim % m != 0:
        raise ValueError(
            f"dim must be a positive multiple of m, got dim={dim} m={m}"
        )


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_book_literal(
    spark: SparkSession, books: list[list[list[float]]]
) -> DataFrame:
    """One-row model from driver-side books[j][code] = centroid coords
    (m·k·d_sub doubles — bounded tiny; the corpus never visits the
    driver). Codes are POSITIONS: books[j][c] answers code c."""
    lit_books = F.array(
        *[
            F.array(
                *[
                    F.array(
                        *[F.lit(float(x)).cast("double") for x in cent]
                    )
                    for cent in book
                ]
            )
            for book in books
        ]
    )
    return spark.range(1).select(lit_books.alias("books"))


def pq_seed_books(
    emb: DataFrame,
    m: int,
    dim: int,
    seed_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Untrained model: subspace centroids = the 6 dp-rounded
    subvectors of the seed vectors in SORTED seed-id order (code = rank
    — deterministic, SQL-replayable; the production bootstrap before
    pq_train's Lloyd refinement). Bounded collect of k seed rows — the
    broadcast-dim pattern."""
    _check(dim, m)
    if not seed_ids:
        raise ValueError("need at least one seed id")
    d_sub = dim // m
    rows = (
        emb.filter(F.col(id_col).isin(seed_ids))
        .select(
            F.col(id_col).alias("_id"),
            F.transform(
                F.col(vec_col), lambda x: F.round(x.cast("double"), 6)
            ).alias("_v"),
        )
        .orderBy("_id")
        .collect()
    )
    if len(rows) != len(seed_ids):
        raise ValueError("some seed ids are missing from the corpus")
    books = [
        [
            [float(x) for x in r["_v"][j * d_sub : (j + 1) * d_sub]]
            for r in rows
        ]
        for j in range(m)
    ]
    return pq_book_literal(emb.sparkSession, books)


def _code_for_sub(sub: Column, book: Column) -> Column:
    """argmin code for one subvector against one subspace book; the
    subvector binds ONCE via the single-element-transform trick
    (lesson #1 — k centroids would otherwise re-evaluate it)."""

    def best(bound: Column) -> Column:
        scored = F.transform(
            book,
            lambda c, i: F.struct(
                F.round(-_sqdist(bound, c), 6).alias("nd2"),
                (-i).cast("long").alias("neg_code"),
            ),
        )
        return -F.array_max(scored)["neg_code"]

    return F.element_at(F.transform(F.array(sub), best), 1)


def pq_encode(
    emb: DataFrame,
    model: DataFrame,
    m: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vid, codes array<long>) — zero corpus shuffle: broadcast
    one-row model × per-row HOF argmin per subspace."""
    _check(dim, m)
    d_sub = dim // m
    vec = _as_double(F.col(vec_col))
    codes = F.transform(
        F.sequence(F.lit(1), F.lit(m)),
        lambda j: _code_for_sub(
            F.slice(vec, (j - 1) * d_sub + 1, d_sub),
            F.element_at(F.col("books"), j),
        ).cast("long"),
    )
    return emb.join(F.broadcast(model)).select(
        F.col(id_col).alias("vid"), codes.alias("codes")
    )


def pq_train(
    emb: DataFrame,
    m: int,
    dim: int,
    seed_ids: list[int],
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd-refined PQ model. Each iteration: encode (E, no shuffle),
    per-(subspace, code, coordinate) means (M — double posexplode,
    map-side-combined partials), empty codes keep their previous
    centroid, coordinates 6 dp-round, books collect + re-enter as
    literals (lineage truncation)."""
    _check(dim, m)
    d_sub = dim // m
    model = pq_seed_books(emb, m, dim, seed_ids, id_col, vec_col)
    books = model.collect()[0]["books"]
    books = [[list(c) for c in book] for book in books]
    spark = emb.sparkSession
    for _ in range(int(iters)):
        enc = pq_encode(emb, model, m, dim, id_col, vec_col)
        joined = enc.join(
            emb.select(
                F.col(id_col).alias("vid"),
                _as_double(F.col(vec_col)).alias("_v"),
            ),
            "vid",
        )
        means = (
            joined.select(
                F.posexplode("codes").alias("_j0", "code"), "_v"
            )
            .select(
                "_j0",
                "code",
                F.posexplode(
                    F.slice(
                        F.col("_v"),
                        F.col("_j0") * d_sub + 1,
                        d_sub,
                    )
                ).alias("pos", "val"),
            )
            .groupBy("_j0", "code", "pos")
            .agg(F.round(F.avg("val"), 6).alias("cval"))
            .collect()
        )
        new_books = [
            [list(c) for c in book] for book in books
        ]  # keep-previous default
        acc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            acc.setdefault((r["_j0"], r["code"]), {})[r["pos"]] = r[
                "cval"
            ]
        for (j, c), coords in acc.items():
            new_books[j][c] = [
                coords[p] for p in range(d_sub)
            ]
        books = new_books
        model = pq_book_literal(spark, books)
    return model


def pq_codes_oracle_ctes(
    m: int,
    dim: int,
    seed_ids: list[int],
    source: str = "embeddings",
    id_sql: str = "vec_id",
    vec_sql: str = "embedding",
    prefix: str = "pq_",
) -> str:
    """DuckDB CTE chain replaying pq_seed_books + pq_encode from
    scratch; exposes {prefix}codes: (vid, sub, code) — the untrained
    (seed-codebook) assignment, 6 dp-rounded distances, ties to the
    lowest code, matching _code_for_sub exactly."""
    _check(dim, m)
    if not seed_ids:
        raise ValueError("need at least one seed id")
    d_sub = dim // m
    ids = ", ".join(str(int(i)) for i in sorted(seed_ids))
    p = prefix
    return f"""
    {p}seeds AS (
      SELECT row_number() OVER (ORDER BY {id_sql}) - 1 AS code,
             list_transform({vec_sql},
                            x -> round(CAST(x AS DOUBLE), 6)) AS cvec
      FROM {source} WHERE {id_sql} IN ({ids})
    ),
    {p}cells AS (
      SELECT e.{id_sql} AS vid, j.j AS sub, s.code,
             round(list_sum(list_transform(generate_series(1, {d_sub}),
               i -> (CAST(e.{vec_sql}[j.j * {d_sub} + i] AS DOUBLE)
                     - s.cvec[j.j * {d_sub} + i])
                  * (CAST(e.{vec_sql}[j.j * {d_sub} + i] AS DOUBLE)
                     - s.cvec[j.j * {d_sub} + i]))), 6) AS d2
      FROM {source} e
      CROSS JOIN (SELECT unnest(generate_series(0, {m - 1})) AS j) j
      CROSS JOIN {p}seeds s
    ),
    {p}codes AS (
      SELECT vid, sub, code
      FROM (
        SELECT vid, sub, code,
               row_number() OVER (PARTITION BY vid, sub
                                  ORDER BY d2, code) AS rn
        FROM {p}cells
      ) WHERE rn = 1
    )"""
