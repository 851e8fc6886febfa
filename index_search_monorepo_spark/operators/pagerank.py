"""Integer-exact PageRank and inlink anchor aggregation over a link graph.

Input is an edge feed (one row per anchor: source URL, target URL, anchor
text); these operators are the graph-analytics layer on top of it: PageRank
for crawl-frontier prioritization / quality weighting, and per-target
anchor aggregation (the classic index-time anchor-text fold — inbound
anchors describe a page better than its own boilerplate). The reference's
engine has no graph operator; this extends the north rule's web-scale
extraction tier.

Design decisions, in scale order:

 - **Integer fixed point (1e-9 rank units), never floats.** Every
   arithmetic step is BIGINT `div`/`%`: contributions are
   `rank_e9 div out_degree`, damping is `85 * x div 100`. Integer sums
   are associative and commutative, so results are bit-identical across
   engines, partition counts, and shuffle orders — which is what lets a
   DuckDB oracle replay the SAME iterations and value-hash-match
   (`oracle_pagerank_ctes`, kept in this module so the two engines cannot
   drift). Floor losses strictly shrink total mass (sum(rank) <= 1e9),
   they never create it.
 - **Multigraph semantics.** Parallel (src, dst) edges each carry mass
   and out-degree counts edges, not distinct targets — dedup upstream if
   single-edge semantics are wanted.
 - **Dangling mass is redistributed uniformly each iteration** (the
   standard correction): nodes with no outlinks would otherwise leak
   their mass out of the system. The dangling sum is a ONE-ROW aggregate
   broadcast back — never a driver collect.
 - **Shuffle shape per iteration**: one src-keyed join (ranks+degree onto
   edges), one groupBy(dst) partial-aggregated sum, one left join back to
   nodes. Ranks and degrees are node-grain (small next to edges); the
   edge table is scanned once per iteration, so callers running many
   iterations should `persist()` the edge frame. Lineage grows linearly with
   `iters`; for tens of iterations checkpoint every ~10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

E9 = 1_000_000_000
E6 = 1_000_000


def pagerank_e9(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
    truncate_every: int | None = None,
) -> DataFrame:
    """(node, rank_e9) after `iters` synchronous PageRank iterations.

    rank_e9 is the node's rank mass in 1e-9 units (BIGINT). Nodes are
    `distinct(src) UNION distinct(dst)`. damping_pct is the classic d as
    an integer percent (85 = 0.85); teleport mass per node is
    `(100-d) * (1e9 div n) div 100`.

    `truncate_every=k` localCheckpoints the rank frame every k iterations:
    each iteration references `ranks` twice (contribution join + dangling
    anti-join), so the LOGICAL plan doubles per iteration — at 8+
    iterations Catalyst planning time, not execution, becomes the job
    (measured: 55 s for a 3-node graph at iters=8 untruncated, ~4 s with
    k=2). Values are unchanged; only lineage is cut. For production-deep
    runs pick k=2-4.
    """
    teleport_pct = 100 - int(damping_pct)
    e = edges.select(F.col(src).alias("pr_src"), F.col(dst).alias("pr_dst"))
    nodes = (
        e.select(F.col("pr_src").alias("node"))
        .union(e.select(F.col("pr_dst").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count("*").cast("long").alias("pr_n"))
    deg = e.groupBy(F.col("pr_src").alias("node")).agg(
        F.count("*").cast("long").alias("pr_deg")
    )
    ranks = (
        nodes.crossJoin(F.broadcast(n_df))
        .select("node", F.expr(f"{E9} div pr_n").alias("rank_e9"))
    )
    for _i in range(int(iters)):
        contrib = (
            e.join(
                ranks.select(
                    F.col("node").alias("pr_src"), "rank_e9"
                ).join(
                    deg.select(F.col("node").alias("pr_src"), "pr_deg"),
                    "pr_src",
                ),
                "pr_src",
            )
            .select(
                F.col("pr_dst").alias("node"),
                F.expr("rank_e9 div pr_deg").alias("pr_part"),
            )
            .groupBy("node")
            .agg(F.sum("pr_part").cast("long").alias("pr_c"))
        )
        dang = ranks.join(deg, "node", "left_anti").agg(
            F.coalesce(F.sum("rank_e9"), F.lit(0))
            .cast("long")
            .alias("pr_dang")
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dang))
            .join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"({teleport_pct} * ({E9} div pr_n)) div 100"
                    f" + ({int(damping_pct)} * (coalesce(pr_c,"
                    " CAST(0 AS BIGINT)) + pr_dang div pr_n)) div 100"
                ).alias("rank_e9"),
            )
        )
        if (
            truncate_every
            and (_i + 1) % truncate_every == 0
            and _i + 1 < int(iters)
        ):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def oracle_pagerank_ctes(
    edges: str,
    iters: int = 3,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> tuple[str, str]:
    """(cte_block, final_ranks_name) — DuckDB CTE chain replaying the SAME
    integer iterations as `pagerank_e9` over an `edges` CTE/table with
    `src`/`dst` columns. Kept next to the operator so the two engines
    cannot drift. DuckDB's `//` is floor division and every operand here
    is non-negative, matching Spark's `div`; aggregates are CAST back to
    BIGINT (DuckDB widens SUM to HUGEINT)."""
    t = 100 - int(damping_pct)
    d = int(damping_pct)
    parts = [
        f"""prnodes AS (
  SELECT {src} AS node FROM {edges}
  UNION SELECT {dst} AS node FROM {edges}
),
prn AS (SELECT CAST(count(*) AS BIGINT) AS pr_n FROM prnodes),
prdeg AS (
  SELECT {src} AS node, CAST(count(*) AS BIGINT) AS pr_deg
  FROM {edges} GROUP BY {src}
),
prrank0 AS (
  SELECT node, CAST({E9} // pr_n AS BIGINT) AS rank_e9
  FROM prnodes CROSS JOIN prn
)"""
    ]
    for i in range(1, int(iters) + 1):
        prev = f"prrank{i - 1}"
        parts.append(
            f"""prcontrib{i} AS (
  SELECT e.{dst} AS node,
         CAST(sum(r.rank_e9 // g.pr_deg) AS BIGINT) AS pr_c
  FROM {edges} e
  JOIN {prev} r ON e.{src} = r.node
  JOIN prdeg g ON e.{src} = g.node
  GROUP BY e.{dst}
),
prdang{i} AS (
  SELECT CAST(coalesce(sum(r.rank_e9), 0) AS BIGINT) AS pr_dang
  FROM {prev} r LEFT JOIN prdeg g ON r.node = g.node
  WHERE g.node IS NULL
),
prrank{i} AS (
  SELECT p.node,
         CAST(({t} * ({E9} // pr_n)) // 100
              + ({d} * (coalesce(c.pr_c, 0) + pr_dang // pr_n)) // 100
           AS BIGINT) AS rank_e9
  FROM prnodes p
  CROSS JOIN prn
  CROSS JOIN prdang{i}
  LEFT JOIN prcontrib{i} c ON p.node = c.node
)"""
        )
    return ",\n".join(parts), f"prrank{iters}"


def inlink_anchors(
    links: DataFrame,
    src: str = "doc_id",
    dst: str = "href",
    anchor: str = "anchor",
) -> DataFrame:
    """Per-target inlink evidence: (node, n_inlinks, n_sources,
    top_anchor) — the index-time anchor-text fold. top_anchor is the most
    frequent inbound anchor string with a deterministic lexicographic
    tie-break (count DESC, anchor ASC), so the result is exact, not
    order-of-arrival.

    Shuffle shape: one groupBy(dst, anchor) partial-aggregated count,
    then a window + final aggregate both keyed by dst — the (dst, anchor)
    counts table is tiny next to the link feed, and the corpus text never
    moves."""
    per_anchor = (
        links.groupBy(
            F.col(dst).alias("node"), F.col(anchor).alias("_anchor")
        )
        .agg(
            F.count("*").cast("long").alias("_cnt"),
            F.countDistinct(F.col(src)).cast("long").alias("_srcs"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("node").orderBy(
        F.desc("_cnt"), F.asc("_anchor")
    )
    return (
        per_anchor.withColumn("_rn", F.row_number().over(w))
        .groupBy("node")
        .agg(
            F.sum("_cnt").cast("long").alias("n_inlinks"),
            F.sum("_srcs").cast("long").alias("n_source_anchor_pairs"),
            F.max(F.when(F.col("_rn") == 1, F.col("_anchor"))).alias(
                "top_anchor"
            ),
        )
    )


def oracle_inlink_anchors_sql(
    edges: str,
    src: str = "src",
    dst: str = "dst",
    anchor: str = "anchor",
) -> str:
    """DuckDB mirror of `inlink_anchors` as one CTE body (SELECT ...):
    same grouping, same deterministic tie-break."""
    return f"""
  SELECT node,
         CAST(sum(_cnt) AS BIGINT) AS n_inlinks,
         CAST(sum(_srcs) AS BIGINT) AS n_source_anchor_pairs,
         max(CASE WHEN _rn = 1 THEN _anchor END) AS top_anchor
  FROM (
    SELECT node, _anchor, _cnt, _srcs,
           row_number() OVER (PARTITION BY node
                              ORDER BY _cnt DESC, _anchor ASC) AS _rn
    FROM (
      SELECT {dst} AS node, {anchor} AS _anchor,
             CAST(count(*) AS BIGINT) AS _cnt,
             CAST(count(DISTINCT {src}) AS BIGINT) AS _srcs
      FROM {edges}
      GROUP BY {dst}, {anchor}
    )
  )
  GROUP BY node"""


def hits_e6(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    truncate_every: int | None = None,
) -> DataFrame:
    """(node, hub_e6, auth_e6) after `iters` synchronous HITS iterations
    (Kleinberg hubs-and-authorities) in integer 1e-6 units.

    The normalization is the part that needs care in integer arithmetic:
    the classic per-step rescale is `x_i * scale div sum(x)`, but
    `auth_raw` is bounded by E * 1e6 (E = edge count), so the multiply
    overflows BIGINT past ~9e12 edges. Dividing FIRST bounds every
    intermediate by the raw sums themselves: each step computes
    `denom = greatest(sum(raw) div 1e6, 1)` (a one-row broadcast
    aggregate) and then `x_i = raw_i div denom` — a COARSE L1
    normalization: the floored denom lets total mass wobble within
    [~1e6/2, 2e6) instead of pinning it, which is fine because HITS
    scores are scale-free (only relative order matters) and what must be
    exact is cross-engine bit-equality — every operand order is fixed,
    so Spark and DuckDB agree bit-for-bit at any partitioning.
    Overflow-safe to ~9e12 edges. Hubs start uniform at 1e6 (the first
    auth step normalizes scale away). Nodes with no inbound edges get
    auth 0; no outbound, hub 0 — never NULL.

    Shuffle shape per iteration: one src-keyed join + groupBy(dst) sum
    (auth step), one dst-keyed join + groupBy(src) sum (hub step); the
    node-grain score frames are small next to edges, and both one-row
    denominators are broadcast, never collected.
    """
    e = edges.select(F.col(src).alias("h_src"), F.col(dst).alias("h_dst"))
    nodes = (
        e.select(F.col("h_src").alias("node"))
        .union(e.select(F.col("h_dst").alias("node")))
        .distinct()
    )
    hubs = nodes.select("node", F.lit(E6).cast("long").alias("hub_e6"))
    auths = None
    for _i in range(int(iters)):
        araw = (
            e.join(
                hubs.select(F.col("node").alias("h_src"), "hub_e6"),
                "h_src",
            )
            .groupBy(F.col("h_dst").alias("node"))
            .agg(F.sum("hub_e6").cast("long").alias("a_raw"))
        )
        adenom = araw.agg(
            F.greatest(
                F.expr(f"sum(a_raw) div {E6}"), F.lit(1)
            ).cast("long").alias("a_den")
        )
        auths = (
            nodes.join(araw, "node", "left")
            .crossJoin(F.broadcast(adenom))
            .select(
                "node",
                F.expr(
                    "coalesce(a_raw, CAST(0 AS BIGINT)) div a_den"
                ).alias("auth_e6"),
            )
        )
        hraw = (
            e.join(
                auths.select(F.col("node").alias("h_dst"), "auth_e6"),
                "h_dst",
            )
            .groupBy(F.col("h_src").alias("node"))
            .agg(F.sum("auth_e6").cast("long").alias("h_raw"))
        )
        hdenom = hraw.agg(
            F.greatest(
                F.expr(f"sum(h_raw) div {E6}"), F.lit(1)
            ).cast("long").alias("h_den")
        )
        hubs = (
            nodes.join(hraw, "node", "left")
            .crossJoin(F.broadcast(hdenom))
            .select(
                "node",
                F.expr(
                    "coalesce(h_raw, CAST(0 AS BIGINT)) div h_den"
                ).alias("hub_e6"),
            )
        )
        # same lineage-doubling as pagerank_e9 (araw/hraw each referenced
        # twice: denominator aggregate + score projection) — cut every k
        # iterations for deep runs; values unchanged.
        if (
            truncate_every
            and (_i + 1) % truncate_every == 0
            and _i + 1 < int(iters)
        ):
            hubs = hubs.localCheckpoint(eager=True)
            auths = auths.localCheckpoint(eager=True)
    return hubs.join(auths, "node")


def oracle_hits_ctes(
    edges: str,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> tuple[str, str]:
    """(cte_block, final_name) — DuckDB CTE chain replaying the SAME
    integer HITS iterations as `hits_e6` over an `edges` CTE/table.
    All operands non-negative, so DuckDB's `//` matches Spark's `div`;
    SUMs are CAST back to BIGINT (DuckDB widens to HUGEINT)."""
    parts = [
        f"""hnodes AS (
  SELECT {src} AS node FROM {edges}
  UNION SELECT {dst} AS node FROM {edges}
),
hhub0 AS (SELECT node, CAST({E6} AS BIGINT) AS hub_e6 FROM hnodes)"""
    ]
    for i in range(1, int(iters) + 1):
        prev = f"hhub{i - 1}"
        parts.append(
            f"""haraw{i} AS (
  SELECT e.{dst} AS node, CAST(sum(h.hub_e6) AS BIGINT) AS a_raw
  FROM {edges} e JOIN {prev} h ON e.{src} = h.node
  GROUP BY e.{dst}
),
haden{i} AS (
  SELECT greatest(CAST(sum(a_raw) AS BIGINT) // {E6}, 1) AS a_den
  FROM haraw{i}
),
hauth{i} AS (
  SELECT n.node,
         CAST(coalesce(r.a_raw, 0) // a_den AS BIGINT) AS auth_e6
  FROM hnodes n CROSS JOIN haden{i}
  LEFT JOIN haraw{i} r ON n.node = r.node
),
hhraw{i} AS (
  SELECT e.{src} AS node, CAST(sum(a.auth_e6) AS BIGINT) AS h_raw
  FROM {edges} e JOIN hauth{i} a ON e.{dst} = a.node
  GROUP BY e.{src}
),
hhden{i} AS (
  SELECT greatest(CAST(sum(h_raw) AS BIGINT) // {E6}, 1) AS h_den
  FROM hhraw{i}
),
hhub{i} AS (
  SELECT n.node,
         CAST(coalesce(r.h_raw, 0) // h_den AS BIGINT) AS hub_e6
  FROM hnodes n CROSS JOIN hhden{i}
  LEFT JOIN hhraw{i} r ON n.node = r.node
)"""
        )
    parts.append(
        f"""hitsfinal AS (
  SELECT h.node, h.hub_e6, a.auth_e6
  FROM hhub{iters} h JOIN hauth{iters} a ON h.node = a.node
)"""
    )
    return ",\n".join(parts), "hitsfinal"


def oriented_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree-ordered orientation of the distinct undirected edge set:
    (u, v, du, dv) with rank(u) < rank(v) under the (degree, node)
    total order; self-loops and parallel edges dropped.

    The Suri-Vassilvitskii trick that makes distributed triangle
    counting tractable: orienting every edge from the lower-ranked
    endpoint bounds each node's OUT-degree by O(sqrt(m)) (a node with
    out-degree d has d higher-ranked neighbors, each of degree >= its
    own, so d^2 <= 2m) — which bounds the wedge join's per-key fan-out.
    Without it the hub node of a star graph generates degree^2 wedges."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("long").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    j = und.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )


def triangles(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """All triangles of the undirected simple graph, one row each:
    (ta, tb, tc) in (degree, node) rank order — each triangle appears
    exactly once. Wedge generation joins the oriented edge set to
    itself on the LOW-rank apex (fan-out bounded by the orientation,
    see oriented_edges), then one more equality join closes the wedge.
    Everything shuffles on node keys; edges are the largest frame that
    moves."""
    o = oriented_edges(edges, src, dst)
    o1 = o.select(
        F.col("u").alias("ta"),
        F.col("v").alias("tb"),
        F.col("dv").alias("_db1"),
    )
    o2 = o.select(
        F.col("u").alias("ta"),
        F.col("v").alias("tc"),
        F.col("dv").alias("_dc1"),
    )
    rank_lt = (F.col("_db1") < F.col("_dc1")) | (
        (F.col("_db1") == F.col("_dc1")) & (F.col("tb") < F.col("tc"))
    )
    wedges = o1.join(o2, "ta").filter(rank_lt)
    closer = o.select(F.col("u").alias("tb"), F.col("v").alias("tc"))
    return wedges.join(closer, ["tb", "tc"]).select("ta", "tb", "tc")


def node_triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, n_triangles): how many triangles each node participates
    in — the local clustering numerator. Nodes in no triangle are
    absent (left-join + coalesce at the consumer)."""
    t = triangles(edges, src, dst)
    return (
        t.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def oracle_triangles_sql(edges_cte: str) -> str:
    """DuckDB CTE chain mirroring triangles/node_triangle_counts over
    `edges_cte` (src, dst): exposes tri_tbl (ta, tb, tc) and tri_node
    (node, n_triangles). Same (degree, node) orientation — bit-identical
    triangle identities."""
    return f"""
    tri_und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM {edges_cte} WHERE src <> dst
    ),
    tri_deg AS (
      SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS n FROM tri_und UNION ALL SELECT b FROM tri_und
      ) GROUP BY n
    ),
    tri_o AS (
      SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS u,
             CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS v,
             CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END
               AS dv
      FROM tri_und u
      JOIN tri_deg da ON da.n = u.a
      JOIN tri_deg db ON db.n = u.b
    ),
    tri_tbl AS (
      SELECT o1.u AS ta, o1.v AS tb, o2.v AS tc
      FROM tri_o o1
      JOIN tri_o o2 ON o2.u = o1.u
        AND (o1.dv, o1.v) < (o2.dv, o2.v)
      JOIN tri_o o3 ON o3.u = o1.v AND o3.v = o2.v
    ),
    tri_node AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT ta AS node FROM tri_tbl
        UNION ALL SELECT tb FROM tri_tbl
        UNION ALL SELECT tc FROM tri_tbl
      ) GROUP BY node
    )"""
