"""Graph analytics over relational edge tables.

The near-dup clustering path (`operators/components.py`) already treats
pair tables as graphs; this module adds the other two staples an
analytics engine is expected to run over such tables — triangle
counting (clustering structure) and PageRank (importance) — both as
pure DataFrame plans with deterministic, oracle-replayable arithmetic.

**Triangle counting** uses the degree-orientation algorithm (the MapReduce
classic from Suri & Vassilvitskii's "Counting Triangles and the Curse
of the Last Reducer", WWW'11): orient every undirected edge from the
lower-ranked to the higher-ranked endpoint under the total order
(degree, node), then count wedges that close.  Orientation bounds
per-node out-degree by O(sqrt(m)) on any graph, which is what keeps
the wedge join from exploding on skewed (power-law) graphs — the
hub's wedges are generated at its *low-degree* neighbors, never at the
hub itself.  Plan: two joins on oriented edges + one join back to the
edge set; every join is an equi-join Catalyst can shuffle-hash.

**PageRank** runs a fixed number of synchronous iterations in
integer-scaled arithmetic: ranks are maintained as ``BIGINT`` in units
of 1e-12 (SCALE = 10^12), per-edge contributions use integer division
``rank div degree``, and the damping update is ``base + (85·incoming)
div 100``.  Integer sums are associative — the result is EXACTLY
reproducible regardless of partitioning or engine, unlike a double
PageRank whose per-node sums are order-dependent.  The driver loop
unrolls a handful of iterations into one plan (each iteration = one
aggregation exchange); a convergence-driven variant would
``localCheckpoint`` per round like ``connected_components`` does.

Undirected inputs are symmetrized, so every node has out-degree ≥ 1 —
no dangling-mass correction is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PR_SCALE = 10**12


def canonical_edges(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Distinct undirected edges as (a, b) with a < b, self-loops dropped."""
    a, b = F.col(a_col), F.col(b_col)
    return (
        pairs.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, degree) from canonical undirected edges."""
    both = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    )
    return both.groupBy("node").agg(F.count("*").alias("degree"))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One row: (n_nodes, n_edges, n_triangles) of the undirected graph.

    Degree-orientation wedge counting — see module docstring.  The
    rank is dense row_number over (degree, node): a global window over
    the NODE table only (bounded — nodes, not edges; for billion-node
    graphs swap in zipWithIndex-style two-level numbering).

    The oriented edge list is referenced three times (both wedge sides
    plus the closing probe), so it is materialized once via
    ``localCheckpoint`` — without it every reference re-expands the
    whole upstream graph (dedup + degree + rank joins) in the plan,
    and a 100 TB input would be scanned three times.  Same discipline
    as ``connected_components``'s per-round checkpoint.
    """
    edges = edges.localCheckpoint()
    deg = degrees(edges)
    rank_w = Window.orderBy(F.col("degree").asc(), F.col("node").asc())
    ranked = deg.select(
        "node", F.row_number().over(rank_w).alias("rk")
    )

    ra = ranked.select(F.col("node").alias("a"), F.col("rk").alias("rka"))
    rb = ranked.select(F.col("node").alias("b"), F.col("rk").alias("rkb"))
    oriented = (
        edges.join(ra, "a")
        .join(rb, "b")
        .select(
            F.least("rka", "rkb").alias("src"),
            F.greatest("rka", "rkb").alias("dst"),
        )
    )
    oriented = oriented.localCheckpoint()

    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "u").filter(F.col("v") < F.col("w"))
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])

    counts = tri.agg(F.count("*").alias("n_triangles"))
    return (
        deg.agg(F.count("*").alias("n_nodes"))
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))
        .crossJoin(counts)
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 3,
    top_k: int | None = None,
) -> DataFrame:
    """Integer-scaled PageRank (d = 0.85) over canonical undirected edges.

    Returns (node, rank_scaled) — rank in units of 1e-12, exactly
    reproducible (all-integer arithmetic).  ``top_k`` truncates to the
    k highest (rank desc, node asc) via TakeOrderedAndProject.

    The degree table and directed edge list are referenced every
    iteration and the rank frame feeds the next round, so all three are
    ``localCheckpoint``ed — keeping the plan LINEAR in ``n_iter``
    instead of exponential in re-expanded subtrees (the integer math is
    deterministic, so truncating lineage loses nothing).
    """
    edges = edges.localCheckpoint()
    deg = degrees(edges).localCheckpoint()
    n_nodes = deg.count()  # scalar driver value: sizes the constants only
    base = (15 * PR_SCALE) // (100 * n_nodes)
    init = PR_SCALE // n_nodes

    directed = edges.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(edges.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    directed = directed.localCheckpoint()

    rank = deg.select("node", F.lit(init).cast("long").alias("rank_scaled"))
    for _ in range(n_iter):
        contrib = (
            rank.join(deg, "node")
            .select(
                F.col("node").alias("src"),
                F.expr("rank_scaled div degree").cast("long").alias("contrib"),
            )
        )
        incoming = (
            directed.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("contrib").alias("incoming"))
        )
        rank = (
            deg.select("node")
            .join(incoming.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr("85 * coalesce(incoming, 0) div 100")
                ).cast("long").alias("rank_scaled"),
            )
        )
        rank = rank.localCheckpoint()
    if top_k is not None:
        rank = rank.orderBy(
            F.col("rank_scaled").desc(), F.col("node").asc()
        ).limit(top_k)
    return rank


def pagerank_oracle_sql(edges_cte: str, n_iter: int = 3, top_k: int = 10) -> str:
    """DuckDB twin of :func:`pagerank`: the fixed iterations unrolled as
    chained CTEs over an ``edges(a, b)`` CTE body supplied by the caller."""
    parts = [
        f"WITH {edges_cte}",
        """,
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT a AS node FROM edges UNION ALL SELECT b AS node FROM edges
  ) GROUP BY node
),
consts AS (
  SELECT (15 * 1000000000000) // (100 * COUNT(*)) AS base,
         1000000000000 // COUNT(*) AS init
  FROM deg
),
directed AS (
  SELECT a AS src, b AS dst FROM edges
  UNION ALL SELECT b AS src, a AS dst FROM edges
),
r0 AS (SELECT node, (SELECT init FROM consts) AS rank_scaled FROM deg)""",
    ]
    for i in range(n_iter):
        parts.append(
            f""",
c{i + 1} AS (
  SELECT r.node AS src, r.rank_scaled // d.degree AS contrib
  FROM r{i} r JOIN deg d ON r.node = d.node
),
r{i + 1} AS (
  SELECT d.node,
         CAST((SELECT base FROM consts)
           + (85 * COALESCE(SUM(c.contrib), 0)) // 100 AS BIGINT) AS rank_scaled
  FROM deg d
  LEFT JOIN directed e ON e.dst = d.node
  LEFT JOIN c{i + 1} c ON c.src = e.src
  GROUP BY d.node
)"""
        )
    parts.append(
        f"""
SELECT node, rank_scaled FROM r{n_iter}
ORDER BY rank_scaled DESC, node ASC LIMIT {top_k}
"""
    )
    return "\n".join(parts)


def bfs_levels(
    pairs: DataFrame,
    source: int | None = None,
    max_hops: int = 6,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """Shortest-hop distance from ``source`` to every node reachable in
    ``max_hops`` BFS rounds, as (node, dist) — the Pregel/GraphX BFS
    shape expressed as an iterative DataFrame fixpoint.

    ``source=None`` picks the smallest node id (deterministic without a
    second pass: it is min over the edge table, one agg — broadcast as
    a 1-row frame, never a driver-side collect of graph data).

    Per-round work is FRONTIER-sized, not graph-sized: only the nodes
    first reached last round expand through the symmetrized edge list
    (one equi-join), and a left-anti join against the settled table
    drops re-reached nodes — in synchronous BFS a node's first round
    IS its shortest hop count, so settled entries are final and never
    re-aggregated.  Per-round ``localCheckpoint`` keeps the plan
    linear in rounds, exactly like :func:`pagerank`, and the loop
    short-circuits the moment a frontier comes back empty (the
    checkpoint has already materialized it, so the emptiness probe is
    free — no wasted full-graph rounds after convergence).

    At 100 TB: rounds scale with graph diameter, not size, and each
    round touches O(frontier·degree) edge rows plus one node-keyed
    anti-join; the edge table partitions by src once and every round's
    join reuses that partitioning.  The reference (a flat Dask
    pipeline) has no graph surface at all — this rounds out the
    pair-table analytics family (components / triangles / PageRank)
    the near-dup clustering path already relies on.
    """
    edges = canonical_edges(pairs, a_col, b_col)
    directed = edges.unionAll(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    if source is None:
        src = directed.agg(F.min("a").alias("node"))
    else:
        src = directed.sparkSession.createDataFrame(
            [(int(source),)], "node long"
        )
    frontier = src.select(
        F.col("node").cast("long").alias("node"), F.lit(0).alias("dist")
    ).localCheckpoint()
    dist = frontier
    for hop in range(1, max_hops + 1):
        if frontier.isEmpty():
            break
        expanded = (
            frontier.join(directed, frontier["node"] == directed["a"], "inner")
            .select(F.col("b").alias("node"))
            .distinct()
        )
        frontier = (
            expanded.join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
            .localCheckpoint()
        )
        dist = dist.unionAll(frontier).localCheckpoint()
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def bfs_oracle_sql(edges_cte: str, max_hops: int = 6) -> str:
    """DuckDB twin of :func:`bfs_levels` (source = min node id): a
    recursive CTE bounded by ``max_hops``, folded with min(dist)."""
    return f"""
WITH RECURSIVE {edges_cte},
und AS (
  SELECT a, b FROM edges UNION SELECT b, a FROM edges
),
bfs AS (
  SELECT (SELECT MIN(a) FROM und) AS node, 0 AS dist
  UNION
  SELECT u.b AS node, bfs.dist + 1 AS dist
  FROM bfs JOIN und u ON u.a = bfs.node
  WHERE bfs.dist < {max_hops}
)
SELECT node, CAST(MIN(dist) AS INTEGER) AS dist FROM bfs GROUP BY node
"""
