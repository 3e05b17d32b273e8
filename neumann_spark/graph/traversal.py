"""Graph traversals — SURVEY.md §2.9: BFS, shortest paths, weighted paths.

The reference traverses via per-node adjacency lists (`traverse` BFS
`graph_engine/src/lib.rs:4674-4790`, `find_path` `:4794`, Dijkstra
`find_weighted_path` `:4933`). The distributed analog is *frontier
expansion*: each hop is one join of the frontier against the edge table,
with min-dist dedup — Pregel's data-flow form. Iterations localCheckpoint()
to cut lineage (SURVEY.md §7 risk register); the edge table is cached once
and reused across hops so repeated scans are memory-speed.

Bounded-depth semantics mirror the reference's `max_depth` guards; the
Bellman-Ford variant computes min-weight over paths of ≤ K hops, which is
exactly Dijkstra's answer once K ≥ graph diameter.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neumann_spark.graph.model import GRAPH_SQL_CTE, edges_df, undirected_edges
from neumann_spark.registry import register
from neumann_spark.session import local_df
from neumann_spark.sqlutil import lit_in

# recursive-CTE-enabled variant of the shared graph derivation
RECURSIVE_CTE = GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1)


def bfs_levels(
    edges: DataFrame, sources: DataFrame, max_depth: int, src_col: str = "source"
) -> DataFrame:
    """Multi-source BFS: returns (source, node, dist) with dist = hop count
    of the shortest path ≤ max_depth (`traverse`/`find_path`,
    `graph_engine/src/lib.rs:4674,4794`).

    `sources` must have columns (source, node). Each level: frontier ⋈ edges
    → anti-join against visited → new frontier. Each new level is
    localCheckpointed, so the next level's join and the visited union read
    it once instead of recomputing it, and an empty level ends the walk."""
    visited = sources.select(src_col, "node", F.lit(0).alias("dist"))
    frontier = visited
    e = edges.select("src", "dst")
    # shallow walks (≤4 hops) broadcast the frontier and visited sides: the
    # expansion join and the anti-join become map-side over the edge table,
    # so the big side never shuffles. A deep frontier can exceed broadcast
    # limits, so deep walks keep shuffle joins and leave the choice to AQE.
    hint = F.broadcast if max_depth <= 4 else (lambda df: df)
    for depth in range(1, max_depth + 1):
        nxt = (
            hint(frontier).join(e, frontier.node == e.src)
            .select(src_col, F.col("dst").alias("node"), F.lit(depth).alias("dist"))
            .dropDuplicates([src_col, "node"])
            .join(hint(visited.select(src_col, "node")), [src_col, "node"], "left_anti")
            .localCheckpoint(eager=False)
        )
        visited = visited.unionAll(nxt)
        frontier = nxt
        if nxt.isEmpty():  # materializes the level's checkpoint
            break
    return visited


def hop_distance(edges: DataFrame, a: int, b: int, max_depth: int) -> Optional[int]:
    """Hop count of the shortest a–b path over symmetrized `edges` if it is
    ≤ max_depth, else None (`find_path`, `graph_engine/src/lib.rs:4794`).

    Meet-in-the-middle BFS with both frontiers and visited maps on the
    driver. Each round is ONE collect of `edges` filtered to
    `src IN (<frontier of a ∪ frontier of b>)`, which grows both sides by a
    hop; with one hop of budget left only the smaller frontier grows. After
    a round the visited maps are the balls of radius la around a and lb
    around b, so they meet iff the distance is ≤ la + lb, and then the
    least da[x] + db[x] over the meeting nodes is that distance. The rows
    collected per round are the edges incident to the two frontiers: the
    search assumes point-query frontiers, as `bfs_levels`' broadcast
    frontiers at ≤ 4 hops do. `a == b` runs no job."""
    if a == b:
        return 0
    seen, fronts, hops = [{a: 0}, {b: 0}], [{a}, {b}], [0, 0]
    while (all(fronts) and sum(hops) < max_depth
           and not seen[0].keys() & seen[1].keys()):
        sides = ((0, 1) if sum(hops) + 1 < max_depth
                 else (min((0, 1), key=lambda s: len(fronts[s])),))
        adj = defaultdict(list)
        hit = edges.filter(lit_in("src", set().union(*(fronts[s] for s in sides))))
        for u, v in hit.select("src", "dst").collect():
            adj[u].append(v)
        for s in sides:
            hops[s] += 1
            fronts[s] = {v for u in fronts[s] for v in adj[u] if v not in seen[s]}
            seen[s].update(dict.fromkeys(fronts[s], hops[s]))
    meet = seen[0].keys() & seen[1].keys()
    return min((seen[0][x] + seen[1][x] for x in meet), default=None)


@register(
    "graph_bfs_levels",
    oracle=RECURSIVE_CTE
    + """
    , walk AS (
      SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
      UNION ALL
      SELECT e.dst, w.dist + 1 FROM walk w JOIN uedges e ON e.src = w.node
      WHERE w.dist < 3
    )
    SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
    """,
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS from customer#1, depth ≤ 3, undirected (`traverse`,
    `graph_engine/src/lib.rs:4674-4790`)."""
    e = undirected_edges(edges_df(spark, sf_dir)).cache()
    src = spark.range(1, 2).select(
        F.lit(1).cast("bigint").alias("source"), F.col("id").cast("bigint").alias("node")
    )
    out = bfs_levels(e, src, 3).select("node", "dist")
    return out


def bounded_dijkstra(
    edges: DataFrame, source_id: int, max_hops: int
) -> DataFrame:
    """Min-weight path by iterative relaxation (Bellman-Ford over ≤ max_hops
    hops) — the data-flow form of `find_weighted_path` Dijkstra
    (`graph_engine/src/lib.rs:4933`). Returns (node, dist)."""
    e = edges.select("src", "dst", "weight")
    dist = local_df(e.sparkSession,
        [(source_id, 0.0)], "node bigint, dist double"
    )
    for _ in range(max_hops):
        # bounded-hop frontier stays small: broadcast it so the edge table
        # never shuffles in the relaxation join (same frontier-broadcast
        # shape as bfs_levels). Deep relaxations fall back to shuffle joins.
        lhs = F.broadcast(dist) if max_hops <= 4 else dist
        relaxed = (
            lhs.join(e, dist.node == e.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("weight")).alias("dist"))
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


@register(
    "graph_weighted_shortest_path",
    oracle=RECURSIVE_CTE
    + """
    , walk AS (
      SELECT CAST(1 AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS w, 0 AS hops
      UNION ALL
      SELECT e.dst, w.w + e.weight, w.hops + 1
      FROM walk w JOIN uedges e ON e.src = w.node
      WHERE w.hops < 3
    )
    SELECT node, ROUND(MIN(w), 4) AS dist FROM walk GROUP BY node
    """,
)
def graph_weighted_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest distance from customer#1 over ≤ 3 hops, undirected
    (`find_weighted_path`, `graph_engine/src/lib.rs:4933`). Path weights are
    identical double sequences in both engines (hop-order accumulation), so
    MIN matches bit-for-bit; rounded for hash stability."""
    e = undirected_edges(edges_df(spark, sf_dir)).cache()
    dist = bounded_dijkstra(e, 1, 3)
    return dist.select("node", F.round("dist", 4).alias("dist"))


@register(
    "graph_closeness_sampled",
    oracle=RECURSIVE_CTE
    + """
    , walk AS (
      SELECT id AS source, id AS node, 0 AS dist FROM nodes
      WHERE label = 'customer' AND id % 150 = 1
      UNION ALL
      SELECT w.source, e.dst, w.dist + 1
      FROM walk w JOIN uedges e ON e.src = w.node
      WHERE w.dist < 3
    ),
    sp AS (
      SELECT source, node, MIN(dist) AS dist FROM walk GROUP BY source, node
    )
    SELECT source,
           COUNT(*) AS n_reached,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(dist), 6) AS closeness
    FROM sp WHERE dist > 0 GROUP BY source
    """,
)
def graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality over sampled sources
    (`graph_engine/src/lib.rs:7222`), bounded-radius (≤3 hops) like the
    reference's sampling_ratio escape hatch for O(V·E) costs. Multi-source
    BFS batches all sources through the same frontier joins — one pass,
    source count only widens rows, not stages."""
    e = undirected_edges(edges_df(spark, sf_dir)).cache()
    from neumann_spark.graph.model import nodes_df

    srcs = (
        nodes_df(spark, sf_dir)
        .filter((F.col("label") == "customer") & (F.col("id") % 150 == 1))
        .select(F.col("id").alias("source"), F.col("id").alias("node"))
    )
    sp = bfs_levels(e, srcs, 3).filter(F.col("dist") > 0)
    return sp.groupBy("source").agg(
        F.count("*").alias("n_reached"),
        F.round(F.count("*").cast("double") / F.sum("dist"), 6).alias("closeness"),
    )


@register(
    "graph_variable_paths",
    oracle=RECURSIVE_CTE
    + """
    , walk AS (
      SELECT CAST(1 AS BIGINT) AS node, [CAST(1 AS BIGINT)] AS path, 0 AS hops
      UNION ALL
      SELECT e.dst, list_append(w.path, e.dst), w.hops + 1
      FROM walk w JOIN uedges e ON e.src = w.node
      WHERE w.hops < 3 AND NOT list_contains(w.path, e.dst)
    )
    SELECT node AS dst, hops, COUNT(*) AS n_paths
    FROM walk WHERE hops BETWEEN 2 AND 3
    GROUP BY node, hops
    """,
)
def graph_variable_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length simple-path enumeration, 2..3 hops from customer#1
    (`find_variable_paths` / `find_all_paths`, `graph_engine/src/lib.rs:
    5405,5076`; Cypher `*2..3`). Each hop extends the frontier with the
    visited-path array and rejects cycles (`NOT array_contains`) — the
    reference's cycle check and max-depth guard, expressed as joins.

    Scale: simple-path counting is inherently exponential; the hop bound IS
    the guard (SURVEY.md §7 risk register). Path arrays stay in the frontier
    only — the output aggregates them away."""
    e = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst").localCheckpoint(
        eager=True
    )
    frontier = local_df(spark, [(1, [1], 0)], "node bigint, path array<bigint>, hops int")
    out_parts = []
    for depth in range(1, 4):
        frontier = (
            frontier.join(e, frontier.node == e.src)
            .filter(~F.array_contains(F.col("path"), F.col("dst")))
            .select(
                F.col("dst").alias("node"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                F.lit(depth).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
        if depth >= 2:
            out_parts.append(frontier.select("node", "hops"))
    paths = out_parts[0]
    for p in out_parts[1:]:
        paths = paths.unionAll(p)
    return paths.groupBy(F.col("node").alias("dst"), "hops").agg(
        F.count("*").alias("n_paths")
    )


@register(
    "graph_all_weighted_paths",
    oracle=RECURSIVE_CTE
    + """
    , walk AS (
      SELECT CAST(1 AS BIGINT) AS node, [CAST(1 AS BIGINT)] AS path,
             CAST(0.0 AS DOUBLE) AS w, 0 AS hops
      UNION ALL
      SELECT e.dst, list_append(w.path, e.dst), w.w + e.weight, w.hops + 1
      FROM walk w JOIN uedges e ON e.src = w.node
      WHERE w.hops < 4 AND w.node <> 13 AND NOT list_contains(w.path, e.dst)
    )
    SELECT array_to_string(path, '->') AS path, hops, ROUND(w, 4) AS total_weight
    FROM walk WHERE node = 13
    """,
)
def graph_all_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enumerate ALL simple paths customer#1 -> customer#13 within 4 hops,
    each with its cumulative weight (`find_all_weighted_paths`,
    `graph_engine/src/lib.rs:5211` — the enumerate-everything variant next
    to `find_weighted_path`'s single-best answer). Same frontier-extension
    shape as `graph_variable_paths` plus a weight accumulator; paths are
    pruned at the target (a simple path cannot revisit 13 anyway — the
    filter just skips dead extension work). Weight sums are hop-order
    double accumulations, bit-identical across engines; the hop bound is
    the exponential-enumeration guard (SURVEY.md §7)."""
    e = (
        undirected_edges(edges_df(spark, sf_dir))
        .select("src", "dst", "weight")
        .localCheckpoint(eager=False)
    )
    frontier = local_df(spark,
        [(1, [1], 0.0, 0)],
        "node bigint, path array<bigint>, w double, hops int",
    )
    hits = []
    for depth in range(1, 5):
        frontier = (
            frontier.filter(F.col("node") != 13)
            .join(e, frontier.node == e.src)
            .filter(~F.array_contains(F.col("path"), F.col("dst")))
            .select(
                F.col("dst").alias("node"),
                F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                (F.col("w") + F.col("weight")).alias("w"),
                F.lit(depth).alias("hops"),
            )
            .localCheckpoint(eager=False)
        )
        hits.append(frontier.filter(F.col("node") == 13))
    out = hits[0]
    for h in hits[1:]:
        out = out.unionAll(h)
    return out.select(
        F.concat_ws("->", F.col("path").cast("array<string>")).alias("path"),
        "hops",
        F.round("w", 4).alias("total_weight"),
    )
