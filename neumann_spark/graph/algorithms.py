"""Graph algorithms — SURVEY.md §2.9 (table 2).

Two execution tiers, mirroring how the reference itself splits them:

* **Iterative data-flow algorithms** (PageRank `graph_engine/src/lib.rs:6943`,
  connected components `:6898`, label propagation `:7361`, k-core
  `algorithms/kcore.rs:101`, eigenvector `:7278`, triangles
  `algorithms/triangles.rs`, node similarity `algorithms/similarity.rs`) —
  expressed as bounded loops of join+groupBy over the edges DataFrame. A
  round that tests a fixpoint or an empty frontier ends in
  `model.superstep`: one eager checkpoint job cuts the lineage and returns
  the round's row count and signature (a label sum, a max), so the test
  costs no second action and runs every round. These scale: each round is
  one shuffle keyed on node id, so a 1000-executor cluster runs them on
  billions of edges. Fixed iteration counts make them oracle-checkable via
  unrolled SQL CTEs (generated below); an early exit at the provable
  fixpoint returns exactly the fixed-round answer.

* **Small-graph driver-side algorithms** (Tarjan SCC `algorithms/scc.rs:133`,
  Brandes betweenness `lib.rs:7058`, Kruskal MST `algorithms/mst.rs:164`,
  Louvain `lib.rs:7442`, A* `algorithms/astar.rs:192`) — the reference runs
  these single-node too; we collect the (filtered) edge list behind an
  explicit size guard and run the textbook algorithm, exactly as SURVEY.md
  §2.9 maps them ("driver-side on collected subgraph"). The scale path for
  each is documented on the function.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neumann_spark.graph.model import (
    GRAPH_SQL_CTE, edges_df, nodes_df, superstep, undirected_edges)
from neumann_spark.registry import register
from neumann_spark.session import local_df

DAMPING = 0.85
PR_ITERS = 10
CC_ROUNDS = 12
LPA_ROUNDS = 4
KCORE_K = 3
KCORE_ROUNDS = 15
EV_ITERS = 8

MAX_COLLECT_EDGES = 5_000_000  # guard for driver-side algorithms


# --------------------------------------------------------------------------
# PageRank — fixed-iteration, simplified dangling handling (each iteration:
# pr = (1-d)/N + d * Σ_in pr/outdeg), matching unrolled SQL exactly.
# --------------------------------------------------------------------------


def pagerank(
    nodes: DataFrame, edges: DataFrame, iters: int = PR_ITERS, damping: float = DAMPING
) -> DataFrame:
    """PageRank (`graph_engine/src/lib.rs:6943`; config damping/max_iter).

    Data-flow form: one shuffle per iteration (contributions grouped by dst).
    Each node also messages itself over a self-loop of degree +inf, whose
    share `pr / deg` is exactly 0.0 and leaves every sum unchanged, so `pr`
    comes straight from the groupBy and a node without in-edges gets
    exactly `base`, as in the oracle's COALESCE. At 100 TB: partition edges
    by src so the contribution join is co-located, and use
    `spark.sql.adaptive` to coalesce the small pr side."""
    n_total = nodes.count()
    ids = nodes.select("id")
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # under AQE, localCheckpoint(eager=False) still runs every upstream
    # shuffle stage as a job when called (a warm call of this function runs
    # 16 jobs at sf0.001 for its one explicit count())
    e = (
        edges.select("src", "dst").join(outdeg, "src")
        .unionAll(ids.select("id", "id", F.lit(float("inf"))))  # self-loops
        .localCheckpoint(eager=False)
    )
    pr = ids.select("id", F.lit(1.0 / n_total).alias("pr"))
    base = (1.0 - damping) / n_total
    for it in range(iters):
        pr = (
            e.join(pr, e.src == pr.id)
            .groupBy(F.col("dst").alias("id"))
            .agg((F.lit(base) + F.lit(damping) * F.sum(F.col("pr") / F.col("deg"))).alias("pr"))
        )
        # pr feeds one consumer per round, so the lazy plan grows linearly
        # (AQE still runs each round's shuffle as its own job). A checkpoint
        # every 6 rounds caps optimizer time on very long runs.
        if it % 6 == 5:
            pr = pr.localCheckpoint(eager=False)
    return pr


def _pagerank_sql(iters: int = PR_ITERS, damping: float = DAMPING) -> str:
    parts = [
        GRAPH_SQL_CTE,
        ", nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        ", outdeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM edges GROUP BY src)",
        ", pr0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", pr{t} AS MATERIALIZED (
  SELECT n.id,
         (1 - {damping}) / (SELECT n FROM nn)
         + {damping} * COALESCE(SUM(p.pr / d.deg), 0.0) AS pr
  FROM nodes n
  LEFT JOIN edges e ON e.dst = n.id
  LEFT JOIN pr{t-1} p ON p.id = e.src
  LEFT JOIN outdeg d ON d.id = e.src
  GROUP BY n.id
)"""
        )
    parts.append(f"\nSELECT id, ROUND(pr, 8) AS pagerank FROM pr{iters}")
    return "".join(parts)


@register("graph_pagerank", oracle=_pagerank_sql())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 10 iterations, d=0.85 (`graph_engine/src/lib.rs:6943`)."""
    pr = pagerank(nodes_df(spark, sf_dir), edges_df(spark, sf_dir))
    return pr.select("id", F.round("pr", 8).alias("pagerank"))


# --------------------------------------------------------------------------
# Connected components — min-label propagation (HCC), fixed rounds.
# --------------------------------------------------------------------------


def connected_components(
    nodes: DataFrame, uedges: DataFrame, rounds: int = CC_ROUNDS
) -> DataFrame:
    """Connected components (`graph_engine/src/lib.rs:6898`) by iterative
    min-id propagation; `rounds` must exceed the graph diameter (asserted by
    convergence tests). Scale path: GraphFrames/GraphX use the same HCC idea
    with large-star/small-star acceleration; one shuffle per round here.
    The message edges carry one self-loop per node, so a round's label is
    one min over the node and its neighbours in `nodes` — the oracle's
    `LEAST(comp, COALESCE(min neighbour, comp))`."""
    ids = nodes.select("id")
    e = (
        uedges.select("src", "dst")
        .join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
        .unionAll(ids.select("id", "id"))  # self-loops
        .localCheckpoint(eager=False)
    )
    comp = ids.select("id", F.col("id").alias("comp"))
    prev_sig = None
    for _ in range(rounds):
        comp, stats = superstep(
            e.join(comp, e.dst == comp.id)
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("comp").alias("comp")),
            F.sum("comp").alias("sig"),
        )
        # labels only ever decrease, so an unchanged sum IS the fixpoint —
        # early exit returns exactly the fixed-round oracle's answer
        if stats["sig"] == prev_sig:
            break
        prev_sig = stats["sig"]
    return comp


def _cc_sql(rounds: int = CC_ROUNDS) -> str:
    parts = [GRAPH_SQL_CTE, ", c0 AS MATERIALIZED (SELECT id, id AS comp FROM nodes)"]
    for t in range(1, rounds + 1):
        parts.append(
            f""", c{t} AS MATERIALIZED (
  SELECT c.id,
         LEAST(MIN(c.comp), COALESCE(MIN(cm.comp), MIN(c.comp))) AS comp
  FROM c{t-1} c
  LEFT JOIN uedges e ON e.src = c.id
  LEFT JOIN c{t-1} cm ON cm.id = e.dst
  GROUP BY c.id
)"""
        )
    parts.append(f"\nSELECT id, comp FROM c{rounds}")
    return "".join(parts)


@register("graph_connected_components", oracle=_cc_sql())
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via min-id propagation, 12 rounds (past the
    fixture graph's diameter — convergence asserted in tests)."""
    return connected_components(
        nodes_df(spark, sf_dir), undirected_edges(edges_df(spark, sf_dir))
    )


# --------------------------------------------------------------------------
# Label propagation — synchronous, most-frequent-neighbor-label with
# deterministic min tie-break, fixed rounds.
# --------------------------------------------------------------------------


def label_propagation(
    nodes: DataFrame, uedges: DataFrame, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """Label propagation communities (`graph_engine/src/lib.rs:7361`),
    synchronous variant: every round each node adopts its neighbors' most
    frequent label (ties → min label). Deterministic by construction."""
    from pyspark.sql import Window

    e = uedges.select("src", "dst").localCheckpoint(eager=False)
    lbl = nodes.select("id", F.col("id").alias("lbl"))
    for _ in range(rounds):
        counts = (
            e.join(lbl, e.dst == lbl.id)
            .groupBy("src", "lbl")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("src").orderBy(F.col("cnt").desc(), F.col("lbl"))
        best = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("src").alias("bid"), F.col("lbl").alias("best_lbl"))
        )
        lbl = (
            lbl.join(best, lbl.id == best.bid, "left")
            .select("id", F.coalesce("best_lbl", F.col("lbl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return lbl


def _lpa_sql(rounds: int = LPA_ROUNDS) -> str:
    parts = [GRAPH_SQL_CTE, ", l0 AS MATERIALIZED (SELECT id, id AS lbl FROM nodes)"]
    for t in range(1, rounds + 1):
        parts.append(
            f""", b{t} AS MATERIALIZED (
  SELECT src AS id, lbl FROM (
    SELECT e.src, m.lbl, COUNT(*) AS cnt,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY COUNT(*) DESC, m.lbl) AS rn
    FROM uedges e JOIN l{t-1} m ON m.id = e.dst
    GROUP BY e.src, m.lbl
  ) WHERE rn = 1
), l{t} AS MATERIALIZED (
  SELECT x.id, COALESCE(b.lbl, x.lbl) AS lbl
  FROM l{t-1} x LEFT JOIN b{t} b ON b.id = x.id
)"""
        )
    parts.append(f"\nSELECT id, lbl AS community FROM l{rounds}")
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA, 4 rounds, min tie-break."""
    lbl = label_propagation(
        nodes_df(spark, sf_dir), undirected_edges(edges_df(spark, sf_dir))
    )
    return lbl.select("id", F.col("lbl").alias("community"))


# --------------------------------------------------------------------------
# k-core — iterative degree pruning, fixed rounds (≥ convergence).
# --------------------------------------------------------------------------


def kcore(
    uedges: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """k-core decomposition (`graph_engine/src/algorithms/kcore.rs:101`):
    repeatedly drop nodes with in-core degree < k. Each round = one groupBy
    + two semi-joins; at scale the edge table shrinks monotonically so later
    rounds are cheap. Returns surviving node ids."""
    e = uedges.select("src", "dst").localCheckpoint(eager=False)
    surv, stats = superstep(e.select(F.col("src").alias("id")).distinct())
    prev_n = stats["n"]
    for _ in range(rounds):
        e_in = e.join(surv.withColumnRenamed("id", "src"), "src", "left_semi").join(
            surv.withColumnRenamed("id", "dst"), "dst", "left_semi"
        )
        surv, stats = superstep(
            e_in.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("id"))
        )
        # survivors shrink monotonically: stable count ⇒ fixpoint ⇒ identical
        # to the fully-unrolled oracle
        if stats["n"] == prev_n:
            break
        prev_n = stats["n"]
    return surv


def _kcore_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    parts = [GRAPH_SQL_CTE, ", s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM uedges)"]
    for t in range(1, rounds + 1):
        parts.append(
            f""", s{t} AS MATERIALIZED (
  SELECT e.src AS id FROM uedges e
  JOIN s{t-1} a ON a.id = e.src
  JOIN s{t-1} b ON b.id = e.dst
  GROUP BY e.src HAVING COUNT(*) >= {k}
)"""
        )
    parts.append(f"\nSELECT id FROM s{rounds}")
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_sql())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the undirected graph, 15 pruning rounds (convergence
    asserted in tests)."""
    return kcore(undirected_edges(edges_df(spark, sf_dir)))


# --------------------------------------------------------------------------
# Eigenvector centrality — power iteration with max-normalization.
# --------------------------------------------------------------------------


def eigenvector_centrality(
    nodes: DataFrame, uedges: DataFrame, iters: int = EV_ITERS
) -> DataFrame:
    """Eigenvector centrality by power iteration
    (`graph_engine/src/lib.rs:7278`): ev ← A·ev, normalized by max each
    round. One shuffle per round; the round's max rides its checkpoint job."""
    e = uedges.select("src", "dst").localCheckpoint(eager=False)
    nodes_c = nodes.select("id").localCheckpoint(eager=False)
    ev = nodes_c.select("id", F.lit(1.0).alias("ev"))
    for _ in range(iters):
        raw, stats = superstep(
            e.join(ev, e.dst == ev.id).groupBy("src").agg(F.sum("ev").alias("raw")),
            F.max("raw").alias("mx"),
        )
        ev = nodes_c.join(raw, nodes_c.id == raw.src, "left").select(
            "id", (F.coalesce("raw", F.lit(0.0)) / F.lit(stats["mx"] or 1.0)).alias("ev")
        )
    return ev


def _ev_sql(iters: int = EV_ITERS) -> str:
    parts = [GRAPH_SQL_CTE, ", e0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS ev FROM nodes)"]
    for t in range(1, iters + 1):
        parts.append(
            f""", r{t} AS MATERIALIZED (
  SELECT e.src AS id, SUM(m.ev) AS raw
  FROM uedges e JOIN e{t-1} m ON m.id = e.dst
  GROUP BY e.src
), e{t} AS MATERIALIZED (
  SELECT n.id,
         COALESCE(r.raw, 0.0) / (SELECT MAX(raw) FROM r{t}) AS ev
  FROM nodes n LEFT JOIN r{t} r ON r.id = n.id
)"""
        )
    parts.append(f"\nSELECT id, ROUND(ev, 6) AS eigenvector FROM e{iters} WHERE ev > 0.0")
    return "".join(parts)


@register("graph_eigenvector", oracle=_ev_sql())
def graph_eigenvector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality, 8 power iterations, max-normalized."""
    ev = eigenvector_centrality(
        nodes_df(spark, sf_dir), undirected_edges(edges_df(spark, sf_dir))
    )
    return ev.filter(F.col("ev") > 0.0).select("id", F.round("ev", 6).alias("eigenvector"))


# --------------------------------------------------------------------------
# Triangles / node similarity — pure join formulations.
# --------------------------------------------------------------------------


@register(
    "graph_triangle_count",
    oracle=GRAPH_SQL_CTE
    + """
    , ue AS (SELECT src AS a, dst AS b FROM uedges WHERE src < dst)
    SELECT COUNT(*) AS n_triangles
    FROM ue e1
    JOIN ue e2 ON e2.a = e1.b
    JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count (`graph_engine/src/algorithms/triangles.rs`) via the
    oriented 3-join. Orientation is by (degree, id) — every triangle has
    exactly one transitive-source match under ANY acyclic orientation, so
    the count equals the oracle's id-oriented count, but degree ordering
    bounds the wedge fan-out by the LOW endpoint's degree: hub–hub wedges
    never materialize, which is what survives skewed graphs at 100 TB
    (the Cohen / GraphX formulation)."""
    e = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst")
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    ue = (
        e.join(deg.select(F.col("src"), F.col("d").alias("ds")), "src")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("d").alias("dd")), "dst"
        )
        .filter(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .cache()
    )
    e1 = ue
    e2 = ue.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = ue.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    return (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (e1.a == e3.a3) & (e2.c == e3.c3))
        .agg(F.count("*").alias("n_triangles"))
    )


@register(
    "graph_node_similarity_jaccard",
    oracle=GRAPH_SQL_CTE
    + """
    , adj AS (SELECT dst AS cust, src AS supp FROM edges WHERE edge_type = 'supplies'),
      deg AS (SELECT cust, COUNT(*) AS d FROM adj GROUP BY cust),
      common AS (
        SELECT x.cust AS a, y.cust AS b, COUNT(*) AS c
        FROM adj x JOIN adj y ON x.supp = y.supp AND x.cust < y.cust
        GROUP BY x.cust, y.cust HAVING COUNT(*) >= 2
      )
    SELECT c.a, c.b,
           ROUND(CAST(c.c AS DOUBLE) / (da.d + db.d - c.c), 6) AS jaccard
    FROM common c JOIN deg da ON da.cust = c.a JOIN deg db ON db.cust = c.b
    """,
)
def graph_node_similarity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard node similarity over shared-supplier neighborhoods
    (`graph_engine/src/algorithms/similarity.rs:108-248`): |N∩|/|N∪| via a
    self-join on the adjacency list — the same co-occurrence join a
    similarity join at 100 TB would use (blocked by the shared neighbor)."""
    adj = (
        edges_df(spark, sf_dir)
        .filter(F.col("edge_type") == "supplies")
        .select(F.col("dst").alias("cust"), F.col("src").alias("supp"))
    ).cache()
    deg = adj.groupBy("cust").agg(F.count("*").alias("d"))
    x = adj.select(F.col("cust").alias("a"), "supp")
    y = adj.select(F.col("cust").alias("b"), F.col("supp").alias("supp_y"))
    common = (
        x.join(y, (F.col("supp") == F.col("supp_y")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )
    da = deg.select(F.col("cust").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("cust").alias("b"), F.col("d").alias("db"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("c").cast("double") / (F.col("da") + F.col("db") - F.col("c")), 6
            ).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Driver-side small-graph algorithms (reference runs these single-node too).
# --------------------------------------------------------------------------


def _collect_edges(uedges: DataFrame, cols=("src", "dst", "weight")) -> list[tuple]:
    n = uedges.count()
    if n > MAX_COLLECT_EDGES:
        raise ValueError(
            f"graph too large to collect ({n} edges > {MAX_COLLECT_EDGES}); "
            "use the distributed variant or sample"
        )
    return [tuple(r) for r in uedges.select(*cols).collect()]


_SCC_ORACLE_SQL = GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1) + """
    , dedges AS MATERIALIZED (
        SELECT src, dst FROM edges
        UNION
        SELECT CAST(o_custkey AS BIGINT) AS src,
               CAST(1000000 + l_suppkey AS BIGINT) AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderkey % 41 = 0
      ),
      reach AS (
        SELECT src AS a, dst AS b FROM dedges
        UNION
        SELECT r.a, e.dst FROM reach r JOIN dedges e ON e.src = r.b
      ),
      mutual AS MATERIALIZED (
        SELECT r1.a, r1.b FROM reach r1
        JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        WHERE r1.a <> r1.b
      )
    SELECT a AS id, LEAST(a, MIN(b)) AS scc FROM mutual GROUP BY a
    """


def _scc_input_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed fixture edges + reverse 'purchases' edges (o_orderkey % 41)
    so non-trivial cycles exist — shared input of `graph_scc_tarjan` and
    `graph_scc_distributed`."""
    from neumann_spark.catalog import load
    from neumann_spark.graph.model import SUPPLIER_BASE

    e = edges_df(spark, sf_dir).select("src", "dst")
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 41 == 0)
    purchases = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (F.lit(SUPPLIER_BASE) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    return e.unionAll(purchases)


@register("graph_scc_tarjan", oracle=_SCC_ORACLE_SQL)
def graph_scc_tarjan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED SMALL-GRAPH FAST PATH for SCC — the canonical §2.9 form is
    `graph_scc_distributed` (forward-backward coloring, joins+groupBy
    only); use this Tarjan tier only under MAX_COLLECT_EDGES, mirroring
    the reference's own single-node execution model
    (`graph_engine/src/algorithms/scc.rs:133`). Runs on the directed graph
    plus reverse 'purchases' edges (o_orderkey % 41) so non-trivial cycles
    exist; differential-tested equal to the distributed form. Oracle: full
    transitive closure by recursive CTE, component = mutual-reachability
    class keyed by its min member (singleton classes excluded on both
    sides). Closure size is quadratic in the largest SCC — fine at oracle
    scale (sf <= 0.01), which is why the Spark side doesn't use it."""
    edges = _collect_edges(_scc_input_edges(spark, sf_dir), cols=("src", "dst"))

    graph: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        graph[s].append(d)
    # iterative Tarjan
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    comp: dict[int, int] = {}
    counter = [0]
    nodes_all = sorted(set(graph) | {d for _, d in edges})
    for root in nodes_all:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            children = graph.get(v, [])
            for i in range(pi, len(children)):
                w = children[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                cid = min(members)
                for m in members:
                    comp[m] = cid
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    rows = [(int(n), int(comp[n])) for n in nodes_all]
    multi = {c for c in comp.values() if sum(1 for x in comp.values() if x == c) > 1}
    out = local_df(spark, rows, "id bigint, scc bigint")
    return out.filter(F.col("scc").isin([int(c) for c in multi]) if multi else F.lit(False))


BETW_LEVELS = 10  # >= max BFS depth from the sampled sources (9 at sf0.001)


def _betweenness_oracle_sql(levels: int = BETW_LEVELS) -> str:
    """Unrolled Brandes: forward level-synchronous BFS carrying σ (one
    MATERIALIZED CTE per level, visited-set anti-join), then backward
    dependency CTEs δ_d from the deepest level up. σ values are integer
    sums (exact in doubles); δ is rounded to 4 decimals on both sides —
    bc magnitudes reach ~1e5, so a 1e-6 grid would sit inside float-sum
    reassociation noise."""
    parts = [
        """
    , lv0 AS MATERIALIZED (
        SELECT id AS source, id AS node, CAST(1.0 AS DOUBLE) AS sigma
        FROM nodes WHERE label = 'customer' AND id % 10 = 1
      ),
      vis0 AS MATERIALIZED (SELECT source, node FROM lv0)
    """
    ]
    for k in range(1, levels + 1):
        parts.append(
            f""",
      lv{k} AS MATERIALIZED (
        SELECT l.source, e.dst AS node, SUM(l.sigma) AS sigma
        FROM lv{k - 1} l JOIN uedges e ON e.src = l.node
        LEFT JOIN vis{k - 1} v ON v.source = l.source AND v.node = e.dst
        WHERE v.node IS NULL
        GROUP BY l.source, e.dst
      ),
      vis{k} AS MATERIALIZED (
        SELECT source, node FROM vis{k - 1}
        UNION ALL SELECT source, node FROM lv{k}
      )"""
        )
    parts.append(
        f""",
      dl{levels} AS MATERIALIZED (
        SELECT source, node, CAST(0.0 AS DOUBLE) AS delta FROM lv{levels} WHERE 1 = 0
      )"""
    )
    for d in range(levels - 1, 0, -1):
        parts.append(
            f""",
      dl{d} AS MATERIALIZED (
        SELECT l.source, l.node,
               SUM(l.sigma / n.sigma * (1.0 + COALESCE(dn.delta, 0.0))) AS delta
        FROM lv{d} l
        JOIN uedges e ON e.src = l.node
        JOIN lv{d + 1} n ON n.source = l.source AND n.node = e.dst
        LEFT JOIN dl{d + 1} dn ON dn.source = n.source AND dn.node = n.node
        GROUP BY l.source, l.node
      )"""
        )
    union = "\n        UNION ALL ".join(
        f"SELECT node, delta FROM dl{d}" for d in range(1, levels)
    )
    parts.append(
        f"""
    SELECT node AS id, ROUND(SUM(delta), 4) AS betweenness
    FROM ({union})
    GROUP BY node
    HAVING ROUND(SUM(delta), 4) > 0
    ORDER BY ROUND(SUM(delta), 4) DESC, node
    LIMIT 50
    """
    )
    return "".join(parts)


@register(
    "graph_betweenness_sampled",
    oracle=GRAPH_SQL_CTE + _betweenness_oracle_sql(),
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality, Brandes with source sampling
    (`graph_engine/src/lib.rs:7058`, `sampling_ratio` config): DISTRIBUTED
    multi-source BFS forward pass (σ counts) + level-wise backward dependency
    accumulation — see `betweenness_distributed` below. Top-50 by rounded
    score (ties by id). Oracle: the same Brandes recurrence unrolled into
    per-level SQL CTEs (`_betweenness_oracle_sql`)."""
    from neumann_spark.graph.model import nodes_df as _nodes

    srcs = (
        _nodes(spark, sf_dir)
        .filter((F.col("label") == "customer") & (F.col("id") % 10 == 1))
        .select(F.col("id").alias("source"), F.col("id").alias("node"))
    )
    ue = undirected_edges(edges_df(spark, sf_dir))
    bc = betweenness_distributed(ue, srcs)
    return (
        bc.select("id", F.round("betweenness", 4).alias("betweenness"))
        .filter(F.col("betweenness") > 0)
        .orderBy(F.col("betweenness").desc(), F.col("id"))
        .limit(50)
    )


def betweenness_driver_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-node Brandes on the collected edge list (the reference's own
    execution tier) — retained as the differential check for the
    distributed implementation."""
    ue = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst")
    edges = _collect_edges(ue, cols=("src", "dst"))
    adj: dict[int, list[int]] = defaultdict(list)
    for s, d in edges:
        adj[s].append(d)
    for v in adj:
        adj[v].sort()
    sources = sorted(v for v in adj if v < 1_000_000 and v % 10 == 1)
    bc: dict[int, float] = defaultdict(float)
    for s in sources:
        # Brandes single-source
        dist = {s: 0}
        sigma = {s: 1.0}
        order = [s]
        head = 0
        preds: dict[int, list[int]] = defaultdict(list)
        while head < len(order):
            v = order[head]
            head += 1
            for w in adj.get(v, []):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    order.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] = sigma.get(w, 0.0) + sigma[v]
                    preds[w].append(v)
        delta: dict[int, float] = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    rows = sorted(
        ((int(v), round(x, 6)) for v, x in bc.items() if x > 0),
        key=lambda t: (-t[1], t[0]),
    )[:50]
    return local_df(spark, rows, "id bigint, betweenness double")


def _mst_oracle_sql() -> str:
    """Oracle for Kruskal on the fixture graph, derived from the cut
    property rather than simulating union-find:

    * every weight-1.0 located_in/part_of edge is a tree edge (the backbone
      is a forest rooted at the 5 regions — each customer/supplier/nation
      has exactly one parent edge — and every supplies weight is a >900
      money sum, so Kruskal accepts the whole backbone first);
    * after the backbone, components == regions, so the remaining Kruskal
      run is over the region-contracted graph: repeatedly pick the globally
      minimum (weight, src, dst) supplies edge whose endpoint regions are in
      different components and merge — at most 4 picks for 5 regions,
      unrolled below (a pick round on an already-connected graph is empty).
    """
    parts = [
        """
    , rc AS MATERIALIZED (
        SELECT CAST(c_custkey AS BIGINT) AS id, n.n_regionkey AS r
        FROM customer JOIN nation n ON n.n_nationkey = c_nationkey
      ),
      rs AS MATERIALIZED (
        SELECT CAST(1000000 + s_suppkey AS BIGINT) AS id, n.n_regionkey AS r
        FROM supplier JOIN nation n ON n.n_nationkey = s_nationkey
      ),
      cand AS MATERIALIZED (
        SELECT e.src, e.dst, e.weight, rc.r AS ra, rs.r AS rb
        FROM edges e
        JOIN rc ON rc.id = e.dst JOIN rs ON rs.id = e.src
        WHERE e.edge_type = 'supplies' AND rc.r <> rs.r
      ),
      comp0 AS MATERIALIZED (SELECT r_regionkey AS r, r_regionkey AS comp FROM region)
    """
    ]
    for i in range(1, 5):
        p = i - 1
        parts.append(
            f""",
      pick{i} AS MATERIALIZED (
        SELECT c.dst AS e_src, c.src AS e_dst, c.weight AS e_w,
               x.comp AS ca, y.comp AS cb
        FROM cand c
        JOIN comp{p} x ON x.r = c.ra JOIN comp{p} y ON y.r = c.rb
        WHERE x.comp <> y.comp
        ORDER BY c.weight, c.dst, c.src LIMIT 1
      ),
      comp{i} AS MATERIALIZED (
        SELECT r, CASE WHEN comp IN (SELECT ca FROM pick{i})
                         OR comp IN (SELECT cb FROM pick{i})
                       THEN (SELECT LEAST(ca, cb) FROM pick{i})
                       ELSE comp END AS comp
        FROM comp{p}
      )"""
        )
    parts.append(
        """
    SELECT src, dst, ROUND(weight, 2) AS weight
    FROM edges WHERE edge_type IN ('located_in', 'part_of')
    UNION ALL
    SELECT e_src, e_dst, ROUND(e_w, 2) FROM pick1
    UNION ALL SELECT e_src, e_dst, ROUND(e_w, 2) FROM pick2
    UNION ALL SELECT e_src, e_dst, ROUND(e_w, 2) FROM pick3
    UNION ALL SELECT e_src, e_dst, ROUND(e_w, 2) FROM pick4
    """
    )
    return "".join(parts)


@register("graph_mst_kruskal", oracle=GRAPH_SQL_CTE + _mst_oracle_sql())
def graph_mst_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED SMALL-GRAPH FAST PATH for MST — the canonical §2.9 form is
    `graph_mst_boruvka` (min-edge per component + contracted-label merge,
    fully distributed); this Kruskal union-find tier runs only under
    MAX_COLLECT_EDGES, mirroring the reference's single-node model
    (`graph_engine/src/algorithms/mst.rs:164`). Deterministic
    (weight, src, dst) ordering; differential-tested equal. Oracle: cut-
    property decomposition (see `_mst_oracle_sql`) — the independently-derived
    check the driver hashes against."""
    ue = (
        undirected_edges(edges_df(spark, sf_dir))
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "weight")
    )
    edges = sorted(_collect_edges(ue), key=lambda t: (t[2], t[0], t[1]))
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    chosen = []
    for s, d, w in edges:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
            chosen.append((int(s), int(d), float(round(w, 2))))
    return local_df(spark, chosen, "src bigint, dst bigint, weight double")


LOUVAIN_ROUNDS = 4
LOUVAIN_EPS = 1e-9


def _louvain_sql(rounds: int = LOUVAIN_ROUNDS) -> str:
    """Unrolled synchronous Louvain (see `graph_louvain`): per round,
    community strengths and node→community neighbor weights are exact
    decimal sums; the modularity gain is one fixed double expression rounded
    to 12 dp; the argmax move is a (gain DESC, c) window."""
    parts = [
        """
    , kdeg AS MATERIALIZED (
        SELECT src AS v, CAST(SUM(CAST(weight AS DECIMAL(18,2))) AS DOUBLE) AS k
        FROM uedges GROUP BY src
      ),
      m2 AS MATERIALIZED (
        SELECT CAST(SUM(CAST(weight AS DECIMAL(18,2))) AS DOUBLE) AS m FROM uedges
      ),
      cm0 AS MATERIALIZED (SELECT v, v AS c FROM kdeg)
    """
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(
            f""",
      st{t} AS MATERIALIZED (
        SELECT cm.c, CAST(SUM(CAST(k.k AS DECIMAL(18,2))) AS DOUBLE) AS st
        FROM cm{p} cm JOIN kdeg k ON k.v = cm.v GROUP BY cm.c
      ),
      nw{t} AS MATERIALIZED (
        SELECT e.src AS v, cm.c,
               CAST(SUM(CAST(e.weight AS DECIMAL(18,2))) AS DOUBLE) AS w_in
        FROM uedges e JOIN cm{p} cm ON cm.v = e.dst
        WHERE e.src <> e.dst
        GROUP BY e.src, cm.c
      ),
      mv{t} AS MATERIALIZED (
        SELECT v, c, gain,
               ROW_NUMBER() OVER (PARTITION BY v ORDER BY gain DESC, c) AS rn
        FROM (
          SELECT n.v, n.c,
                 ROUND(n.w_in / (SELECT m FROM m2)
                       - st.st * k.k * 2
                         / ((SELECT m FROM m2) * (SELECT m FROM m2)), 12) AS gain
          FROM nw{t} n
          JOIN cm{p} cur ON cur.v = n.v
          JOIN st{t} st ON st.c = n.c
          JOIN kdeg k ON k.v = n.v
          WHERE n.c <> cur.c
        )
      ),
      cm{t} AS MATERIALIZED (
        SELECT cur.v, COALESCE(m.c, cur.c) AS c
        FROM cm{p} cur
        LEFT JOIN (SELECT v, c FROM mv{t} WHERE rn = 1 AND gain > {LOUVAIN_EPS}) m
          ON m.v = cur.v
      )"""
        )
    parts.append(
        f""",
      cmin AS MATERIALIZED (
        SELECT c, MIN(v) AS community FROM cm{rounds} GROUP BY c
      )
    SELECT cm.v AS id, cmin.community
    FROM cm{rounds} cm JOIN cmin ON cmin.c = cm.c
    """
    )
    return "".join(parts)


@register("graph_louvain", oracle=GRAPH_SQL_CTE + _louvain_sql())
def graph_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain communities (`graph_engine/src/lib.rs:7442`) — deterministic
    SYNCHRONOUS variant, fully distributed: each round every node evaluates
    the modularity gain of joining each neighbor community *against the
    previous assignment* and the best (gain DESC, community ASC) move above
    epsilon is applied simultaneously; fixed LOUVAIN_ROUNDS rounds; final
    labels canonicalized to the min member id. The reference's sequential
    in-pass updates don't distribute; the synchronous form is the standard
    parallel Louvain and is oracle-checkable (unrolled SQL, `_louvain_sql`).
    Determinism: k/σ_tot/neighbor weights are exact decimal sums; the gain
    expression is a single identical double computation rounded to 12 dp.

    Scale: per round one groupBy on community (σ_tot), one edge join +
    groupBy on (node, community), one window argmax per node — all shuffles
    keyed on node/community ids; no driver collect."""
    ue = undirected_edges(edges_df(spark, sf_dir))
    return louvain_communities(ue)


def louvain_communities(ue: DataFrame, rounds: int = LOUVAIN_ROUNDS) -> DataFrame:
    """DataFrame-level synchronous Louvain over symmetric (src, dst, weight)
    edges — the primitive behind `graph_louvain`, also runnable on the
    engine facade's session overlay graph (GRAPH LOUVAIN COMMUNITIES)."""
    ue = ue.select("src", "dst", "weight").localCheckpoint(eager=False)
    kdeg = (
        ue.groupBy(F.col("src").alias("v"))
        .agg(F.sum(F.col("weight").cast("decimal(18,2)")).cast("double").alias("k"))
        .localCheckpoint(eager=False)
    )
    m2 = float(
        ue.agg(
            F.sum(F.col("weight").cast("decimal(18,2)")).cast("double")
        ).collect()[0][0]
    )
    cm = kdeg.select("v", F.col("v").alias("c"))
    from pyspark.sql import Window

    for _ in range(rounds):
        st = cm.join(kdeg, "v").groupBy("c").agg(
            F.sum(F.col("k").cast("decimal(18,2)")).cast("double").alias("st")
        )
        nw = (
            ue.filter(F.col("src") != F.col("dst"))
            .join(cm.select(F.col("v").alias("dst"), "c"), "dst")
            .groupBy(F.col("src").alias("v"), "c")
            .agg(
                F.sum(F.col("weight").cast("decimal(18,2)"))
                .cast("double")
                .alias("w_in")
            )
        )
        cur = cm.select("v", F.col("c").alias("cur_c"))
        gain = F.round(
            F.col("w_in") / F.lit(m2)
            - F.col("st") * F.col("k") * F.lit(2.0) / (F.lit(m2) * F.lit(m2)),
            12,
        )
        cand = (
            nw.join(cur, "v")
            .filter(F.col("c") != F.col("cur_c"))
            .join(st, "c")
            .join(kdeg, "v")
            .select("v", "c", gain.alias("gain"))
        )
        w = Window.partitionBy("v").orderBy(F.col("gain").desc(), F.col("c"))
        moves = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("gain") > LOUVAIN_EPS))
            .select("v", F.col("c").alias("new_c"))
        )
        cm = (
            cm.join(moves, "v", "left")
            .select("v", F.coalesce("new_c", "c").alias("c"))
            .localCheckpoint(eager=False)
        )
    cmin = cm.groupBy("c").agg(F.min("v").alias("community"))
    return cm.join(cmin, "c").select(F.col("v").alias("id"), "community")


def astar_search(
    edges: list[tuple[int, int, float]],
    start: int,
    goal: int,
    heuristic: str = "zero",
    coords: Optional[dict[int, tuple[float, float]]] = None,
) -> tuple[dict[int, float], list[int], int]:
    """A* (`graph_engine/src/algorithms/astar.rs:192`) with the reference's
    heuristic options: 'zero' (= Dijkstra), 'euclidean' (`astar.rs:302`),
    'manhattan' (`astar.rs:344`) over node coordinates. Returns
    (dist-so-far map, canonical path, popped-node count). The path is
    reconstructed *canonically* — at each node the minimum-id predecessor
    satisfying dist[p] + w(p,v) == dist[v] (exact float equality; the argmin
    path's sums are hop-order accumulations, identical in any engine) — so
    the result is independent of heap pop order and SQL-reproducible."""
    import heapq

    adj: dict[int, list[tuple[int, float]]] = defaultdict(list)
    radj: dict[int, list[tuple[int, float]]] = defaultdict(list)
    for s, d, w in edges:
        adj[s].append((d, w))
        radj[d].append((s, w))

    if heuristic == "zero":
        h = lambda v: 0.0  # noqa: E731
    else:
        if coords is None:
            raise ValueError(f"heuristic '{heuristic}' requires coords")
        gx, gy = coords[goal]
        if heuristic == "euclidean":
            h = lambda v: (  # noqa: E731
                ((coords[v][0] - gx) ** 2 + (coords[v][1] - gy) ** 2) ** 0.5
            )
        elif heuristic == "manhattan":
            h = lambda v: abs(coords[v][0] - gx) + abs(coords[v][1] - gy)  # noqa: E731
        else:
            raise ValueError(f"unknown heuristic: {heuristic}")

    dist = {start: 0.0}
    done: set[int] = set()
    popped = 0
    pq: list[tuple[float, int]] = [(h(start), start)]
    while pq:
        f0, v = heapq.heappop(pq)
        if v in done:
            continue
        done.add(v)
        popped += 1
        if v == goal:
            break
        for u, w in adj.get(v, []):
            nd = dist[v] + w
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(pq, (nd + h(u), u))
    path: list[int] = []
    if goal in dist:
        cur = goal
        path.append(cur)
        while cur != start:
            preds = [
                p
                for p, w in radj.get(cur, [])
                if p in dist and dist[p] + w == dist[cur]
            ]
            cur = min(preds)
            path.append(cur)
        path.reverse()
    return dist, path, popped


ASTAR_HOPS = 12  # Bellman-Ford bound for the oracle; >= optimal path hops


def _bf_rounds_sql(hops: int, start: int) -> str:
    """Unrolled iterative Bellman-Ford: d_k = min(d_{k-1}, d_{k-1}+edge),
    one MATERIALIZED CTE per round (path *enumeration* would be exponential
    on hub nodes). The min-of-sums recurrence has a unique float fixpoint
    with positive weights, so converged values match Dijkstra bit-for-bit."""
    parts = [
        f", d0 AS MATERIALIZED (SELECT CAST({start} AS BIGINT) AS node,"
        " CAST(0.0 AS DOUBLE) AS dist)"
    ]
    for k in range(1, hops + 1):
        parts.append(
            f""",
      d{k} AS MATERIALIZED (
        SELECT node, MIN(dist) AS dist FROM (
          SELECT node, dist FROM d{k - 1}
          UNION ALL
          SELECT e.dst AS node, d.dist + e.weight AS dist
          FROM d{k - 1} d JOIN uedges e ON e.src = d.node
        ) GROUP BY node
      )"""
        )
    parts.append(f", dist AS MATERIALIZED (SELECT node, dist FROM d{hops})")
    return "".join(parts)


_ASTAR_ORACLE = (
    GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1)
    + _bf_rounds_sql(ASTAR_HOPS, 1)
    + """
    , pred AS MATERIALIZED (
      SELECT e.dst AS node, MIN(e.src) AS p
      FROM uedges e
      JOIN dist ds ON ds.node = e.src
      JOIN dist dd ON dd.node = e.dst
      WHERE ds.dist + e.weight = dd.dist
      GROUP BY e.dst
    ),
    back AS (
      SELECT CAST(17 AS BIGINT) AS node, 0 AS back_idx
      UNION ALL
      SELECT pred.p, b.back_idx + 1 FROM back b JOIN pred ON pred.node = b.node
      WHERE b.node <> 1
    )
    SELECT CAST((SELECT MAX(back_idx) FROM back) - b.back_idx AS INT) AS step,
           b.node,
           ROUND(d.dist, 4) AS cum_weight
    FROM back b JOIN dist d ON d.node = b.node
    """
)


@register("graph_astar_path", oracle=_ASTAR_ORACLE)
def graph_astar_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED SMALL-GRAPH FAST PATH for weighted pathfinding — the
    canonical §2.9 form is `graph_astar_distributed` (bounded-Dijkstra
    frontier relaxation + distributed predecessor back-walk); this
    driver-side A* (`graph_engine/src/algorithms/astar.rs:192`) runs only
    under MAX_COLLECT_EDGES, where the priority-queue heuristic search
    (zero here; euclidean/manhattan exercised on coordinate-weighted
    graphs in tests) beats job-per-hop latency. customer#1 ->
    customer#17. Oracle: 12-hop
    Bellman-Ford min-distances + the same canonical min-id predecessor walk,
    in recursive SQL."""
    ue = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst", "weight")
    edges = _collect_edges(ue)
    dist, path, _ = astar_search(edges, 1, 17, "zero")
    rows = [(i, int(n), float(round(dist[n], 4))) for i, n in enumerate(path)]
    return local_df(spark, rows, "step int, node bigint, cum_weight double")


@register("graph_astar_distributed", oracle=_ASTAR_ORACLE)
def graph_astar_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted pathfinding — THE CANONICAL (PRIMARY) §2.9 FORM (same
    source/goal and Bellman-Ford + canonical-predecessor oracle as the
    guarded `graph_astar_path` fast path): min distances by `bounded_dijkstra`
    frontier relaxation (hop-order float sums match Bellman-Ford
    bit-for-bit), predecessors by one join (min src with
    dist[src] + w = dist[dst], exact float equality), and the back-walk
    from the goal as one broadcast join per hop — bounded by the path
    length, never collecting the graph. Differential equality with the
    driver-side A* is asserted in tests/test_graph.py."""
    from neumann_spark.graph.traversal import bounded_dijkstra

    ue = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst", "weight")
    dist = bounded_dijkstra(ue, 1, ASTAR_HOPS).localCheckpoint(eager=False)
    pred = (
        ue.join(dist.select(F.col("node").alias("src"), F.col("dist").alias("sdist")), "src")
        .join(dist.select(F.col("node").alias("dst"), F.col("dist").alias("ddist")), "dst")
        .filter(F.col("sdist") + F.col("weight") == F.col("ddist"))
        .groupBy("dst")
        .agg(F.min("src").alias("p"))
        .select(F.col("dst").alias("node"), "p")
        .localCheckpoint(eager=False)
    )
    cur = local_df(spark, [(17, 0)], "node bigint, back_idx int")
    back = cur
    for _ in range(ASTAR_HOPS):
        head = cur.head()
        if head is None or head["node"] == 1:
            break
        cur = (
            pred.join(F.broadcast(cur), "node")
            .select(F.col("p").alias("node"), (F.col("back_idx") + 1).alias("back_idx"))
            .localCheckpoint(eager=False)
        )
        back = back.unionAll(cur)
    mx = back.agg(F.max("back_idx").alias("mx"))
    return (
        back.crossJoin(F.broadcast(mx))
        .join(dist, "node")
        .select(
            (F.col("mx") - F.col("back_idx")).cast("int").alias("step"),
            "node",
            F.round("dist", 4).alias("cum_weight"),
        )
    )


@register(
    "graph_adamic_adar",
    oracle=GRAPH_SQL_CTE
    + """
    , adj AS (SELECT dst AS cust, src AS supp FROM edges WHERE edge_type = 'supplies'),
      sdeg AS (SELECT supp, COUNT(*) AS d FROM adj GROUP BY supp)
    SELECT x.cust AS a, y.cust AS b,
           ROUND(SUM(1.0 / LN(sd.d)), 6) AS adamic_adar,
           COUNT(*) AS common_neighbors
    FROM adj x
    JOIN adj y ON x.supp = y.supp AND x.cust < y.cust
    JOIN sdeg sd ON sd.supp = x.supp
    WHERE sd.d > 1
    GROUP BY x.cust, y.cust
    HAVING COUNT(*) >= 2
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar + common-neighbors node similarity
    (`graph_engine/src/algorithms/similarity.rs:108-248`): Σ 1/ln(deg(z))
    over shared neighbors z — the co-occurrence join blocked by the shared
    neighbor, weighting rare hubs higher."""
    adj = (
        edges_df(spark, sf_dir)
        .filter(F.col("edge_type") == "supplies")
        .select(F.col("dst").alias("cust"), F.col("src").alias("supp"))
        .cache()
    )
    sdeg = adj.groupBy("supp").agg(F.count("*").alias("d")).filter(F.col("d") > 1)
    x = adj.select(F.col("cust").alias("a"), "supp")
    y = adj.select(F.col("cust").alias("b"), F.col("supp").alias("supp_y"))
    return (
        x.join(y, (F.col("supp") == F.col("supp_y")) & (F.col("a") < F.col("b")))
        .join(sdeg, "supp")
        .groupBy("a", "b")
        .agg(
            F.round(F.sum(1.0 / F.log(F.col("d"))), 6).alias("adamic_adar"),
            F.count("*").alias("common_neighbors"),
        )
        .filter(F.col("common_neighbors") >= 2)
    )


# --- node-similarity family (`similarity.rs:108-248`) ---------------------
# All six reference measures share one shape: a self-join of the supplies
# adjacency blocked by the shared neighbor (supplier), then a per-pair
# aggregate. Pairs are restricted to >= 2 common neighbors (as the Jaccard /
# Adamic-Adar entries already do) to bound output. At 100 TB the only
# shuffle keys are supp (pair generation) and (a, b) (scoring) — the same
# co-occurrence join shape as dedup.

_SIM_ADJ_SQL = """
    , adj AS (SELECT dst AS cust, src AS supp FROM edges WHERE edge_type = 'supplies'),
      deg AS (SELECT cust, COUNT(*) AS d FROM adj GROUP BY cust),
      common AS (
        SELECT x.cust AS a, y.cust AS b, COUNT(*) AS c
        FROM adj x JOIN adj y ON x.supp = y.supp AND x.cust < y.cust
        GROUP BY x.cust, y.cust HAVING COUNT(*) >= 2
      )
"""


def _sim_adj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplies adjacency (cust, supp) — the neighbor sets of
    `get_neighbor_set` (`similarity.rs:60-98`) in DataFrame form."""
    return (
        edges_df(spark, sf_dir)
        .filter(F.col("edge_type") == "supplies")
        .select(F.col("dst").alias("cust"), F.col("src").alias("supp"))
    )


def _sim_common(adj: DataFrame) -> DataFrame:
    """Pairs (a < b) with >= 2 shared suppliers and the shared count c."""
    x = adj.select(F.col("cust").alias("a"), "supp")
    y = adj.select(F.col("cust").alias("b"), F.col("supp").alias("supp_y"))
    return (
        x.join(y, (F.col("supp") == F.col("supp_y")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
    )


@register(
    "graph_node_similarity_cosine",
    oracle=GRAPH_SQL_CTE
    + _SIM_ADJ_SQL
    + """
    SELECT c.a, c.b,
           ROUND(CAST(c.c AS DOUBLE) / SQRT(CAST(da.d * db.d AS DOUBLE)), 6) AS cosine
    FROM common c JOIN deg da ON da.cust = c.a JOIN deg db ON db.cust = c.b
    """,
)
def graph_node_similarity_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine node similarity |N∩| / sqrt(|N(a)|·|N(b)|)
    (`cosine_similarity`, `similarity.rs:130-148`)."""
    adj = _sim_adj(spark, sf_dir)
    deg = adj.groupBy("cust").agg(F.count("*").alias("d"))
    return (
        _sim_common(adj)
        .join(deg.select(F.col("cust").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("cust").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("c").cast("double")
                / F.sqrt((F.col("da") * F.col("db")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )


@register(
    "graph_node_similarity_common",
    oracle=GRAPH_SQL_CTE
    + """
    , adj AS (SELECT dst AS cust, src AS supp FROM edges WHERE edge_type = 'supplies')
    SELECT x.cust AS a, y.cust AS b, COUNT(*) AS n_common,
           string_agg(CAST(x.supp AS VARCHAR), ',' ORDER BY x.supp) AS common_ids
    FROM adj x JOIN adj y ON x.supp = y.supp AND x.cust < y.cust
    GROUP BY x.cust, y.cust HAVING COUNT(*) >= 2
    """,
)
def graph_node_similarity_common(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common neighbors with the witness list (`common_neighbors`,
    `similarity.rs:150-160` returns the ids, not just the count) — emitted
    as a sorted comma-joined string so both engines hash identically."""
    adj = _sim_adj(spark, sf_dir)
    x = adj.select(F.col("cust").alias("a"), "supp")
    y = adj.select(F.col("cust").alias("b"), F.col("supp").alias("supp_y"))
    return (
        x.join(y, (F.col("supp") == F.col("supp_y")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("n_common"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("supp")), lambda s: s.cast("string")
                ),
            ).alias("common_ids"),
        )
        .filter(F.col("n_common") >= 2)
    )


@register(
    "graph_resource_allocation",
    oracle=GRAPH_SQL_CTE
    + """
    , adj AS (SELECT dst AS cust, src AS supp FROM edges WHERE edge_type = 'supplies'),
      sdeg AS (SELECT supp, COUNT(*) AS d FROM adj GROUP BY supp)
    SELECT x.cust AS a, y.cust AS b,
           ROUND(SUM(1.0 / sd.d), 6) AS resource_allocation
    FROM adj x
    JOIN adj y ON x.supp = y.supp AND x.cust < y.cust
    JOIN sdeg sd ON sd.supp = x.supp
    GROUP BY x.cust, y.cust
    HAVING COUNT(*) >= 2
    """,
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation index Σ 1/|N(z)| over shared neighbors z
    (`resource_allocation`, `similarity.rs:180-196`) — Adamic-Adar with
    1/d instead of 1/ln(d)."""
    adj = _sim_adj(spark, sf_dir)
    sdeg = adj.groupBy("supp").agg(F.count("*").alias("d"))
    x = adj.select(F.col("cust").alias("a"), "supp")
    y = adj.select(F.col("cust").alias("b"), F.col("supp").alias("supp_y"))
    return (
        x.join(y, (F.col("supp") == F.col("supp_y")) & (F.col("a") < F.col("b")))
        .join(sdeg, "supp")
        .groupBy("a", "b")
        .agg(
            F.round(F.sum(1.0 / F.col("d")), 6).alias("resource_allocation"),
            F.count("*").alias("n_common"),
        )
        .filter(F.col("n_common") >= 2)
        .drop("n_common")
    )


@register(
    "graph_preferential_attachment",
    oracle=GRAPH_SQL_CTE
    + _SIM_ADJ_SQL
    + """
    SELECT c.a, c.b, CAST(da.d * db.d AS DOUBLE) AS preferential_attachment
    FROM common c JOIN deg da ON da.cust = c.a JOIN deg db ON db.cust = c.b
    """,
)
def graph_preferential_attachment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preferential attachment |N(a)|·|N(b)|
    (`preferential_attachment`, `similarity.rs:198-213`), over candidate
    pairs with shared structure (the all-pairs form is a cartesian by
    definition; the reference only evaluates it per requested pair)."""
    adj = _sim_adj(spark, sf_dir)
    deg = adj.groupBy("cust").agg(F.count("*").alias("d"))
    return (
        _sim_common(adj)
        .join(deg.select(F.col("cust").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("cust").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            (F.col("da") * F.col("db")).cast("double").alias("preferential_attachment"),
        )
    )


MOST_SIMILAR_K = 10


@register(
    "graph_most_similar",
    oracle=GRAPH_SQL_CTE
    + f"""
    , adj AS (SELECT dst AS cust, src AS supp FROM edges WHERE edge_type = 'supplies'),
      deg AS (SELECT cust, COUNT(*) AS d FROM adj GROUP BY cust),
      anchor AS (SELECT cust AS a_id, d AS da FROM deg ORDER BY d DESC, cust LIMIT 1),
      common AS (
        SELECT y.cust AS other, MIN(an.a_id) AS a_id, MIN(an.da) AS da,
               COUNT(*) AS c
        FROM anchor an
        JOIN adj x ON x.cust = an.a_id
        JOIN adj y ON x.supp = y.supp AND y.cust <> an.a_id
        GROUP BY y.cust
      )
    SELECT CAST(c.a_id AS BIGINT) AS node, c.other,
           ROUND(CAST(c.c AS DOUBLE) / (c.da + db.d - c.c), 6) AS jaccard
    FROM common c
    JOIN deg db ON db.cust = c.other
    ORDER BY CAST(c.c AS DOUBLE) / (c.da + db.d - c.c) DESC, c.other
    LIMIT {MOST_SIMILAR_K}
    """,
)
def graph_most_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most-similar nodes to an anchor (`most_similar`,
    `similarity.rs:250-289`, Jaccard metric). The anchor is chosen
    dynamically — the highest-supplies-degree customer (ties by lowest id) —
    so the query is meaningful at every scale factor. The reference loops
    over all nodes; the Spark form only scores nodes sharing >= 1 neighbor
    (identical result — zero-score nodes can't enter a positive top-k), so
    the candidate set comes from the same blocked join, then TakeOrdered.
    The anchor is a broadcast 1-row aggregate, not a driver collect."""
    adj = _sim_adj(spark, sf_dir)
    deg = adj.groupBy("cust").agg(F.count("*").alias("d"))
    anchor = (
        deg.orderBy(F.col("d").desc(), "cust")
        .limit(1)
        .select(F.col("cust").alias("a_id"), F.col("d").alias("da"))
    )
    anchor_adj = adj.join(
        F.broadcast(anchor), F.col("cust") == F.col("a_id")
    ).select("supp", "a_id", "da")
    common = (
        adj.join(F.broadcast(anchor_adj), "supp")
        .filter(F.col("cust") != F.col("a_id"))
        .groupBy(F.col("cust").alias("other"), "a_id", "da")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c").cast("double") / (F.col("da") + F.col("db") - F.col("c"))
    return (
        common.join(
            deg.select(F.col("cust").alias("other"), F.col("d").alias("db")), "other"
        )
        .select(
            F.col("a_id").cast("bigint").alias("node"),
            "other",
            jac.alias("_raw"),
        )
        .orderBy(F.col("_raw").desc(), F.col("other"))
        .limit(MOST_SIMILAR_K)
        .select("node", "other", F.round("_raw", 6).alias("jaccard"))
    )


@register(
    "graph_constraint_check",
    oracle=GRAPH_SQL_CTE
    + """
    SELECT
      (SELECT COUNT(*) FROM edges e LEFT JOIN nodes n ON e.src = n.id
        WHERE n.id IS NULL) AS dangling_src,
      (SELECT COUNT(*) FROM edges e LEFT JOIN nodes n ON e.dst = n.id
        WHERE n.id IS NULL) AS dangling_dst,
      (SELECT COUNT(*) FROM (SELECT id FROM nodes GROUP BY id HAVING COUNT(*) > 1))
        AS duplicate_ids,
      (SELECT COUNT(*) FROM edges WHERE weight IS NULL OR weight <= 0.0)
        AS bad_weights
    """,
)
def graph_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation (`graph_engine/src/lib.rs:7613-7696` unique/
    exists/type constraints): referential integrity of edges, node-id
    uniqueness, weight positivity — as assertion queries (Spark has no
    enforced constraints; SURVEY.md §1.2)."""
    n = nodes_df(spark, sf_dir)
    e = edges_df(spark, sf_dir)
    ns = n.select(F.col("id").alias("src_id"))
    nd = n.select(F.col("id").alias("dst_id"))
    edge_checks = (
        e.join(ns, e.src == F.col("src_id"), "left")
        .join(nd, e.dst == F.col("dst_id"), "left")
        .agg(
            F.sum(F.when(F.col("src_id").isNull(), 1).otherwise(0)).alias("dangling_src"),
            F.sum(F.when(F.col("dst_id").isNull(), 1).otherwise(0)).alias("dangling_dst"),
            F.sum(
                F.when(F.col("weight").isNull() | (F.col("weight") <= 0.0), 1).otherwise(0)
            ).alias("bad_weights"),
        )
    )
    dup = (
        n.groupBy("id").agg(F.count("*").alias("c")).filter(F.col("c") > 1)
        .agg(F.count("*").alias("duplicate_ids"))
    )
    # one crossJoin of two 1-row aggregates → a single Spark job, not four
    return edge_checks.crossJoin(dup).select(
        "dangling_src", "dangling_dst", "duplicate_ids", "bad_weights"
    )


def betweenness_distributed(
    uedges: DataFrame, sources: DataFrame, max_depth: int = 20
) -> DataFrame:
    """Distributed Brandes betweenness (`graph_engine/src/lib.rs:7058`) —
    the scale path for `graph_betweenness_sampled`:

    * forward phase: multi-source BFS where each frontier row carries the
      shortest-path count σ (summed over incoming shortest-path edges);
    * backward phase: per level (descending), dependency
      δ(v) = Σ_{w: dist_w = dist_v+1} σ_v/σ_w · (1 + δ_w),
      accumulated with one join per level;
    * bc(v) = Σ_sources δ(v).

    Every phase is joins + groupBy keyed on (source, node) — no driver
    collect; identical math to the driver-side Tarjan-style loop (equality
    asserted in tests). `sources` needs columns (source, node)."""
    e = uedges.select("src", "dst").localCheckpoint(eager=False)
    visited = sources.select(
        "source", "node", F.lit(0).alias("dist"), F.lit(1.0).alias("sigma")
    ).localCheckpoint(eager=False)
    frontier = visited
    levels = [frontier]
    for depth in range(1, max_depth + 1):
        nxt, stats = superstep(
            frontier.join(e, frontier.node == e.src)
            .groupBy("source", F.col("dst").alias("node2"))
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "source",
                F.col("node2").alias("node"),
                F.lit(depth).alias("dist"),
                "sigma",
            )
            .join(visited.select("source", "node"), ["source", "node"], "left_anti")
        )
        if stats["n"] == 0:
            break
        # visited is only ever anti-joined against; as a union of already-
        # checkpointed levels its lineage stays shallow — no extra job here
        visited = visited.unionAll(nxt)
        levels.append(nxt)
        frontier = nxt

    # backward accumulation, deepest level first
    spark = uedges.sparkSession
    delta = local_df(spark, [], "source bigint, node bigint, delta double")
    bc_parts = []
    for d in range(len(levels) - 2, 0, -1):
        lv = levels[d].select("source", "node", "sigma")
        nxt_lv = (
            levels[d + 1]
            .select("source", "node", "sigma")
            .join(delta, ["source", "node"], "left")
            .select(
                "source",
                F.col("node").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.coalesce("delta", F.lit(0.0)).alias("delta_w"),
            )
        )
        contrib = (
            lv.join(e, lv.node == e.src)
            .join(
                nxt_lv,
                (F.col("dst") == F.col("w"))
                & (lv.source == nxt_lv.source),
            )
            .select(
                lv.source.alias("source"),
                lv.node.alias("node"),
                (F.col("sigma") / F.col("sigma_w") * (1.0 + F.col("delta_w"))).alias(
                    "c"
                ),
            )
            .groupBy("source", "node")
            .agg(F.sum("c").alias("delta"))
            .localCheckpoint(eager=False)
        )
        delta = contrib
        bc_parts.append(contrib)
    if not bc_parts:
        return local_df(spark, [], "id bigint, betweenness double")
    allc = bc_parts[0]
    for p in bc_parts[1:]:
        allc = allc.unionAll(p)
    return allc.groupBy(F.col("node").alias("id")).agg(
        F.sum("delta").alias("betweenness")
    )


# --------------------------------------------------------------------------
# Biconnected family — articulation points, bridges, biconnected components
# (`graph_engine/src/algorithms/biconnected.rs:112,127,139`). Driver-side
# Hopcroft-Tarjan on the guarded collected edge list, like the SCC tier.
# --------------------------------------------------------------------------


def biconnected(
    edges: list[tuple[int, int]],
) -> tuple[set[int], set[tuple[int, int]], list[set[int]]]:
    """Iterative Hopcroft-Tarjan over an undirected edge list (pairs in
    either/both orientations; parallel duplicates collapsed). Returns
    (articulation points, bridges as (min,max) pairs, biconnected
    components as node sets) — the three surfaces of
    `biconnected.rs:112,127,139`."""
    adj: dict[int, list[int]] = defaultdict(list)
    seen_pairs: set[tuple[int, int]] = set()
    for s, d in edges:
        if s == d:
            continue
        key = (min(s, d), max(s, d))
        if key in seen_pairs:
            continue
        seen_pairs.add(key)
        adj[s].append(d)
        adj[d].append(s)
    for v in adj:
        adj[v].sort()

    disc: dict[int, int] = {}
    low: dict[int, int] = {}
    parent: dict[int, int] = {}
    articulation: set[int] = set()
    bridges: set[tuple[int, int]] = set()
    comps: list[set[int]] = []
    estack: list[tuple[int, int]] = []
    counter = [0]

    for root in sorted(adj):
        if root in disc:
            continue
        root_children = 0
        work: list[tuple[int, int]] = [(root, 0)]
        disc[root] = low[root] = counter[0]
        counter[0] += 1
        while work:
            v, pi = work[-1]
            children = adj[v]
            advanced = False
            for i in range(pi, len(children)):
                w = children[i]
                if w not in disc:
                    work[-1] = (v, i + 1)
                    parent[w] = v
                    disc[w] = low[w] = counter[0]
                    counter[0] += 1
                    estack.append((v, w))
                    work.append((w, 0))
                    if v == root:
                        root_children += 1
                    advanced = True
                    break
                elif w != parent.get(v) and disc[w] < disc[v]:
                    estack.append((v, w))
                    low[v] = min(low[v], disc[w])
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                low[u] = min(low[u], low[v])
                if low[v] > disc[u]:
                    bridges.add((min(u, v), max(u, v)))
                if (u != root and low[v] >= disc[u]) or (
                    u == root and root_children > 1
                ):
                    articulation.add(u)
                if low[v] >= disc[u]:
                    comp: set[int] = set()
                    while estack:
                        a, b = estack.pop()
                        comp.add(a)
                        comp.add(b)
                        if (a, b) == (u, v):
                            break
                    if comp:
                        comps.append(comp)
        # leftover edges (root-level component)
        if estack:
            comp = set()
            while estack:
                a, b = estack.pop()
                comp.add(a)
                comp.add(b)
            comps.append(comp)
    return articulation, bridges, comps


# fixed candidate sets for the definitional oracles — stable at every SF
ART_CANDIDATES = [1, 1000001, 2000000, 2000005, 2000010, 2000015, 2000020, 3000000]
BRIDGE_CANDIDATES = [0, 5, 10, 15, 20]  # nation n -> region part_of edges


def _articulation_oracle_sql() -> str:
    """Definitional check per candidate v: v is an articulation point iff
    some neighbor of v cannot reach v's minimum neighbor in G \\ v — one
    recursive reachability CTE (frontier expansion, UNION-deduped) per
    candidate, seeded at the min neighbor and never traversing v."""
    parts = []
    selects = []
    for i, v in enumerate(ART_CANDIDATES):
        parts.append(
            f""",
      nb{i} AS MATERIALIZED (
        SELECT DISTINCT dst AS n FROM uedges WHERE src = {v}
      ),
      reach{i} AS (
        SELECT (SELECT MIN(n) FROM nb{i}) AS node
        UNION
        SELECT e.dst FROM reach{i} r JOIN uedges e ON e.src = r.node
        WHERE e.dst <> {v} AND e.src <> {v}
      )"""
        )
        selects.append(
            f"""
    SELECT CAST({v} AS BIGINT) AS id,
           CAST((SELECT COUNT(*) FROM nb{i} WHERE n NOT IN
                 (SELECT node FROM reach{i})) > 0 AS INT) AS is_articulation"""
        )
    return "".join(parts) + "\n    UNION ALL".join(selects)


@register(
    "graph_articulation_points",
    oracle=GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1)
    + _articulation_oracle_sql(),
)
def graph_articulation_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED SMALL-GRAPH FAST PATH for articulation points — the
    canonical §2.9 form is `graph_articulation_distributed` (spanning
    forest + cycle coverage + aux-graph CC, joins+groupBy only); this
    driver-side Hopcroft-Tarjan (`biconnected.rs:112`) runs only under
    MAX_COLLECT_EDGES. Reported for a fixed candidate panel
    (customer#1, supplier#1, five nations, one region).
    The oracle is *definitional*, not a re-run of the algorithm: for each
    candidate it checks neighbor mutual reachability in G \\ v by recursive
    SQL — a true differential test of the disc/low implementation. The full
    articulation set is available from `biconnected()`; synthetic-graph
    equality tests cover it."""
    ue = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst")
    art, _, _ = biconnected(_collect_edges(ue, cols=("src", "dst")))
    rows = [(int(v), int(v in art)) for v in ART_CANDIDATES]
    return local_df(spark, rows, "id bigint, is_articulation int")


def _bridges_oracle_sql() -> str:
    """Definitional check per candidate part_of edge (nation n, region r):
    bridge iff r is unreachable from n in G minus that edge."""
    parts = []
    selects = []
    for i, n in enumerate(BRIDGE_CANDIDATES):
        s, d = 2000000 + n, 3000000  # region resolved by join below
        parts.append(
            f""",
      bdst{i} AS MATERIALIZED (
        SELECT dst AS r FROM edges
        WHERE edge_type = 'part_of' AND src = {s}
      ),
      breach{i} AS (
        SELECT CAST({s} AS BIGINT) AS node
        UNION
        SELECT e.dst FROM breach{i} b JOIN uedges e ON e.src = b.node
        WHERE NOT (LEAST(e.src, e.dst) = {s}
                   AND GREATEST(e.src, e.dst) = (SELECT r FROM bdst{i}))
      )"""
        )
        selects.append(
            f"""
    SELECT CAST({s} AS BIGINT) AS src,
           (SELECT r FROM bdst{i}) AS dst,
           CAST((SELECT r FROM bdst{i}) NOT IN (SELECT node FROM breach{i}) AS INT)
             AS is_bridge"""
        )
    return "".join(parts) + "\n    UNION ALL".join(selects)


@register(
    "graph_bridges",
    oracle=GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1)
    + _bridges_oracle_sql(),
)
def graph_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GUARDED SMALL-GRAPH FAST PATH for bridges — the canonical §2.9
    form is `graph_bridges_distributed` (BCC via spanning forest +
    fundamental-cycle coverage); this driver-side Hopcroft-Tarjan pass
    (`biconnected.rs:127`) runs only under MAX_COLLECT_EDGES. Reported
    for the five nation->region part_of candidate edges; oracle =
    removal-definition reachability in recursive SQL (see
    `_bridges_oracle_sql`)."""
    ue = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst")
    _, bridges, _ = biconnected(_collect_edges(ue, cols=("src", "dst")))
    e = edges_df(spark, sf_dir)
    cand = [
        (r["src"], r["dst"])
        for r in e.filter(
            (F.col("edge_type") == "part_of")
            & F.col("src").isin([2000000 + n for n in BRIDGE_CANDIDATES])
        )
        .select("src", "dst")
        .collect()
    ]
    rows = [
        (int(s), int(d), int((min(s, d), max(s, d)) in bridges)) for s, d in cand
    ]
    return local_df(spark, rows, "src bigint, dst bigint, is_bridge int")


# --------------------------------------------------------------------------
# Distributed scale paths for the driver-side tier — forward-backward
# coloring SCC and Borůvka MST. The registered queries keep the (guarded,
# oracle-checked) driver-side forms, matching the reference's own
# single-node execution; these are the named 100 TB alternatives, proven
# equivalent on the fixture by differential tests.
# --------------------------------------------------------------------------


def scc_distributed(
    dedges: DataFrame, max_outer: int = 12, max_inner: int = 40
) -> DataFrame:
    """Strongly connected components by forward-backward coloring
    (Orzan-style; the scale path named in `graph_scc_tarjan`):

    per outer round, on the still-unassigned subgraph:
      1. forward min-label propagation to fixpoint — color(v) = min id that
         reaches v; every SCC is contained in one color class and its pivot
         (color(c) = c) is the SCC's min member;
      2. backward reachability of each pivot *within its color class* marks
         exactly the pivot's SCC (any escape from the class would contradict
         the color minimality);
      3. marked SCCs are assigned and removed.

    Everything is joins + groupBy on node ids — one shuffle per step, no
    driver collect; step 1 IS `connected_components` over the reversed
    edges, and every emptiness test reads the row count its `superstep`
    returns. Returns (id, scc) with scc = min member, all components
    including singletons.

    A standard TRIM pass runs first (McLendon et al. FW-BW-Trim): nodes
    with no in-edges or no out-edges inside the remaining subgraph are
    singleton SCCs by definition and are peeled iteratively before any
    coloring. On DAG-like graphs (this fixture: only customer⇄supplier
    back-edges form cycles) trim removes the bulk of the nodes in a few
    cheap semi-join rounds, leaving coloring to run on the small cyclic
    core — the same reason trim is the first phase of every production
    distributed-SCC implementation."""
    e_all = dedges.select("src", "dst").distinct().localCheckpoint(eager=False)
    spark = dedges.sparkSession
    remaining, stats = superstep(
        e_all.select(F.col("src").alias("id"))
        .unionAll(e_all.select(F.col("dst").alias("id")))
        .distinct()
    )
    n_left = stats["n"]
    assigned = local_df(spark, [], "id bigint, scc bigint")
    # TRIM: peel nodes that cannot be in a cycle of the remaining subgraph
    e_t = e_all
    for _ in range(max_outer):
        srcs = e_t.select(F.col("src").alias("id")).distinct()
        dsts = e_t.select(F.col("dst").alias("id")).distinct()
        core = srcs.join(dsts, "id", "left_semi").localCheckpoint(eager=False)
        trimmed, stats = superstep(remaining.join(core, "id", "left_anti"))
        if stats["n"] == 0:
            break
        # core ⊆ remaining, so the peeled rows are exactly remaining − core
        n_left -= stats["n"]
        assigned = assigned.unionAll(
            trimmed.select("id", F.col("id").alias("scc")))
        remaining = core
        e_t = (
            e_t.join(core.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(core.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
    assigned = assigned.localCheckpoint(eager=False)
    for _ in range(max_outer):
        if n_left == 0:
            break
        e = (
            e_all.join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .localCheckpoint(eager=False)
        )
        # 1. forward min propagation: min-label fixpoint over the reversed
        # edges, so each node takes the min colour of its in-neighbours
        color = connected_components(
            remaining,
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            rounds=max_inner,
        ).withColumnRenamed("comp", "color")
        # 2. backward marking within each color class from the pivot
        marked = color.filter(F.col("id") == F.col("color")).select(
            "id", F.col("color").alias("scc")
        )
        frontier = marked
        for _ in range(max_inner):
            nxt, stats = superstep(
                e.join(frontier, e.dst == frontier.id)
                .select(F.col("src").alias("id"), "scc")
                .dropDuplicates(["id"])
                .join(
                    color.withColumnRenamed("color", "scc"),
                    ["id", "scc"],
                    "left_semi",
                )
                .join(marked.select("id"), "id", "left_anti")
            )
            if stats["n"] == 0:
                break
            marked = marked.unionAll(nxt)
            frontier = nxt
        marked = marked.localCheckpoint(eager=False)
        assigned = assigned.unionAll(marked)
        remaining, stats = superstep(
            remaining.join(marked.select("id"), "id", "left_anti"))
        n_left = stats["n"]
    else:
        if n_left:
            raise ValueError(f"SCC coloring did not converge in {max_outer} rounds")
    return assigned


def mst_boruvka_distributed(
    uedges: DataFrame, max_rounds: int = 16, max_cc: int = 20
) -> DataFrame:
    """Minimum spanning forest by Borůvka rounds (the scale path named in
    `graph_mst_kruskal`): each round every component picks its minimum
    incident edge under the strict total order (weight, src, dst) —
    `F.min(struct)` per component, a single shuffle — then components merge
    by min-label propagation on the contracted graph. With a strict total
    order the MSF is unique, so the chosen set equals Kruskal's exactly
    (differential-tested). Returns (src, dst, weight) canonical src<dst."""
    ce = (
        uedges.filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "weight")
        .distinct()
        .localCheckpoint(eager=False)
    )
    spark = uedges.sparkSession
    comp = (
        ce.select(F.col("src").alias("id"))
        .unionAll(ce.select(F.col("dst").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint(eager=False)
    )
    chosen = local_df(spark, [], "src bigint, dst bigint, weight double")
    for _ in range(max_rounds):
        e2, stats = superstep(
            ce.join(
                comp.select(F.col("id").alias("src"), F.col("comp").alias("cs")),
                "src",
            )
            .join(
                comp.select(F.col("id").alias("dst"), F.col("comp").alias("cd")),
                "dst",
            )
            .filter(F.col("cs") != F.col("cd"))
        )
        if stats["n"] == 0:
            break
        key = F.struct(
            F.col("weight").alias("w"), F.col("src").alias("s"), F.col("dst").alias("d")
        )
        picks = (
            e2.select(F.col("cs").alias("c"), key.alias("k"))
            .unionAll(e2.select(F.col("cd").alias("c"), key.alias("k")))
            .groupBy("c")
            .agg(F.min("k").alias("k"))
            .select("k.s", "k.d", "k.w")
            .dropDuplicates(["s", "d"])
            .localCheckpoint(eager=False)
        )
        chosen = chosen.unionAll(
            picks.select(
                F.col("s").alias("src"), F.col("d").alias("dst"), F.col("w").alias("weight")
            )
        )
        # contracted merge: min-label propagation over the picked edges'
        # component pairs until fixpoint
        cpairs = (
            picks.join(
                comp.select(F.col("id").alias("s"), F.col("comp").alias("ca")), "s"
            )
            .join(comp.select(F.col("id").alias("d"), F.col("comp").alias("cb")), "d")
            .select("ca", "cb")
        )
        cpairs = cpairs.unionAll(
            cpairs.select(F.col("cb").alias("ca"), F.col("ca").alias("cb"))
        ).localCheckpoint(eager=False)
        lbl = (
            cpairs.select(F.col("ca").alias("c"))
            .distinct()
            .select("c", F.col("c").alias("l"))
        )
        prev_sig = None
        for _ in range(max_cc):
            upd = (
                cpairs.join(lbl, cpairs.cb == lbl.c)
                .groupBy("ca")
                .agg(F.min("l").alias("l2"))
            )
            lbl, stats = superstep(
                lbl.join(upd, lbl.c == upd.ca, "left").select(
                    "c", F.least(F.col("l"), F.coalesce("l2", F.col("l"))).alias("l")),
                F.sum("l").alias("sig"),
            )
            if stats["sig"] == prev_sig:
                break
            prev_sig = stats["sig"]
        comp = (
            comp.join(lbl, comp.comp == lbl.c, "left")
            .select("id", F.coalesce("l", F.col("comp")).alias("comp"))
            .localCheckpoint(eager=False)
        )
    return chosen


@register("graph_scc_distributed", oracle=_SCC_ORACLE_SQL)
def graph_scc_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC — THE CANONICAL (PRIMARY) §2.9 FORM: forward-backward coloring,
    fully distributed (no edge-list collect) — joins + groupBy only, one
    shuffle per coloring step; `graph_scc_tarjan` is the guarded
    small-graph fast path sharing the same input and transitive-closure
    oracle.
    Singleton classes are dropped with a distributed size filter to match
    the oracle's non-trivial-component output."""
    dist = scc_distributed(_scc_input_edges(spark, sf_dir))
    sizes = dist.groupBy("scc").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    return dist.join(F.broadcast(sizes.select("scc")), "scc").select("id", "scc")


@register("graph_mst_boruvka", oracle=GRAPH_SQL_CTE + _mst_oracle_sql())
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MST — THE CANONICAL (PRIMARY) §2.9 FORM: Borůvka minimum spanning
    forest, fully distributed — min-struct per component + contracted
    min-label merge, no driver collect. Same cut-property oracle as the
    guarded `graph_mst_kruskal` fast path (the strict (weight, src, dst)
    total order makes the MSF unique, so both must produce the identical
    edge set)."""
    mst = mst_boruvka_distributed(undirected_edges(edges_df(spark, sf_dir)))
    return mst.select("src", "dst", F.round("weight", 2).alias("weight"))


# --------------------------------------------------------------------------
# Distributed biconnectivity — BFS spanning forest + fundamental-cycle
# chaining. The scale path for the last two driver-side components
# (`graph_articulation_points` / `graph_bridges`, `biconnected.rs:112,127`):
# everything below is joins + groupBy, no edge-list collect.
# --------------------------------------------------------------------------


def bcc_distributed(
    uedges: DataFrame, max_depth: int = 40
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bridges + articulation points, fully distributed
    (`biconnected.rs:112,127` — the reference runs Hopcroft-Tarjan
    single-node; DFS doesn't distribute, so this uses the spanning-tree
    characterization instead):

    1. **BFS spanning forest** from each component's min node (parent = min
       neighbor in the previous frontier) — one frontier join per level,
       rounds = graph diameter.
    2. **Fundamental-cycle walks**: every non-tree edge closes exactly one
       cycle with the forest. Walk both endpoints up toward the LCA
       (lifting the deeper side, both when tied). Each step emits the
       traversed tree edge (*coverage*) and an *aux pair* chaining it to
       the previous edge on the same side; the two sides' last edges pair
       up at the LCA. Rounds = diameter; emitted rows = total fundamental-
       cycle length (Tarjan-Vishkin's low/high computation shortcuts this
       to O(m) aux edges via an Euler tour — the chain form trades that
       for plain joins, the right trade below pathological cycle lengths).
    3. **Connected components over the aux graph** (tree edges keyed by
       their child endpoint): consecutive edges of one cycle share a
       biconnected component, and cycles sharing a tree edge merge
       transitively — the resulting classes are exactly the BCCs
       restricted to tree edges.

    Then: a tree edge covered by NO cycle is a bridge (non-tree edges are
    never bridges); a vertex is an articulation point iff its incident
    tree edges span >= 2 distinct BCC labels (uncovered tree edges count
    as singleton BCCs; every BCC at a vertex contains one of its tree
    edges, so tree-edge labels see every component).

    Returns (forest, bridges, articulation):
      forest — (child, parent, depth), one row per non-root node
      bridges — (src, dst) canonical src < dst
      articulation — (id)
    """
    spark = uedges.sparkSession
    e = (
        uedges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("id")).distinct()
    comp = connected_components(nodes, e, rounds=max_depth)
    # non-convergence check: an edge whose endpoints still carry different
    # labels means the diameter exceeded the round budget — proceeding
    # would seed multiple BFS roots inside ONE component and silently
    # mis-classify its bridges, so fail loudly instead
    viol = (
        e.join(comp.select(F.col("id").alias("src"), F.col("comp").alias("cs")), "src")
        .join(comp.select(F.col("id").alias("dst"), F.col("comp").alias("cd")), "dst")
        .filter(F.col("cs") != F.col("cd"))
    )
    if not viol.isEmpty():
        raise ValueError(
            f"component labeling did not converge in {max_depth} rounds — "
            f"graph diameter exceeds max_depth; raise max_depth")
    roots = comp.filter(F.col("id") == F.col("comp")).select("id")

    # 1. BFS forest (max_depth+1 rounds: completion is only observable as
    # an EMPTY round, so a node at depth exactly max_depth is still valid)
    visited = roots.localCheckpoint(eager=False)
    frontier = visited
    forest = local_df(spark, [], "child bigint, parent bigint, depth int")
    for depth in range(1, max_depth + 2):
        nxt, stats = superstep(
            e.join(frontier.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("child"), F.col("src").alias("parent"))
            .join(visited.withColumnRenamed("id", "child"), "child", "left_anti")
            .groupBy("child")
            .agg(F.min("parent").alias("parent"))
            .withColumn("depth", F.lit(depth))
        )
        if stats["n"] == 0:
            break
        if depth > max_depth:
            raise ValueError(
                f"BFS forest did not terminate in {max_depth} levels")
        forest = forest.unionAll(nxt)
        visited = visited.unionAll(
            nxt.select(F.col("child").alias("id"))
        ).localCheckpoint(eager=False)
        frontier = nxt.select(F.col("child").alias("id"))
    forest = forest.localCheckpoint(eager=False)

    # 2. fundamental-cycle walks
    canon = e.filter(F.col("src") < F.col("dst"))
    tree_canon = forest.select(
        F.least("child", "parent").alias("src"),
        F.greatest("child", "parent").alias("dst"),
    )
    dep = forest.select(F.col("child").alias("id"), "depth").unionAll(
        roots.select("id", F.lit(0).alias("depth"))
    )
    state, stats = superstep(
        canon.join(tree_canon, ["src", "dst"], "left_anti")
        .join(
            dep.select(F.col("id").alias("src"), F.col("depth").alias("da")), "src"
        )
        .join(
            dep.select(F.col("id").alias("dst"), F.col("depth").alias("db")), "dst"
        )
        .select(
            (F.col("src") * F.lit(1 << 32) + F.col("dst")).alias("eid"),
            F.col("src").alias("a"),
            "da",
            F.col("dst").alias("b"),
            "db",
            F.lit(None).cast("bigint").alias("la"),
            F.lit(None).cast("bigint").alias("lb"),
        )
    )
    coverage = local_df(spark, [], "child bigint")
    aux = local_df(spark, [], "x bigint, y bigint")
    pa = forest.select(F.col("child").alias("a"), F.col("parent").alias("p_a"))
    pb = forest.select(F.col("child").alias("b"), F.col("parent").alias("p_b"))
    for _ in range(2 * max_depth + 2):
        if stats["n"] == 0:
            break
        lift_a = F.col("da") >= F.col("db")
        lift_b = F.col("db") >= F.col("da")
        coverage = coverage.unionAll(
            state.filter(lift_a).select(F.col("a").alias("child"))
        ).unionAll(state.filter(lift_b).select(F.col("b").alias("child")))
        aux = aux.unionAll(
            state.filter(lift_a & F.col("la").isNotNull()).select(
                F.col("la").alias("x"), F.col("a").alias("y")
            )
        ).unionAll(
            state.filter(lift_b & F.col("lb").isNotNull()).select(
                F.col("lb").alias("x"), F.col("b").alias("y")
            )
        )
        state = (
            state.join(pa, "a", "left")
            .join(pb, "b", "left")
            .select(
                "eid",
                F.when(lift_a, F.col("p_a")).otherwise(F.col("a")).alias("a"),
                F.when(lift_a, F.col("da") - 1).otherwise(F.col("da")).alias("da"),
                F.when(lift_b, F.col("p_b")).otherwise(F.col("b")).alias("b"),
                F.when(lift_b, F.col("db") - 1).otherwise(F.col("db")).alias("db"),
                F.when(lift_a, F.col("a")).otherwise(F.col("la")).alias("la"),
                F.when(lift_b, F.col("b")).otherwise(F.col("lb")).alias("lb"),
            )
            .localCheckpoint(eager=False)
        )
        arrived = state.filter(F.col("a") == F.col("b"))
        aux = aux.unionAll(
            arrived.filter(F.col("la").isNotNull() & F.col("lb").isNotNull())
            .select(F.col("la").alias("x"), F.col("lb").alias("y"))
        ).localCheckpoint(eager=False)
        coverage = coverage.localCheckpoint(eager=False)
        state, stats = superstep(state.filter(F.col("a") != F.col("b")))
    else:
        raise ValueError(f"LCA walks did not converge in {2 * max_depth + 2} rounds")

    # 3. BCC labels = CC over the aux graph; uncovered edges are singletons
    covered = coverage.distinct().localCheckpoint(eager=False)
    aux_ue = (
        aux.unionAll(aux.select(F.col("y").alias("x"), F.col("x").alias("y")))
        .select(F.col("x").alias("src"), F.col("y").alias("dst"))
        .distinct()
    )
    # The aux-graph diameter is NOT bounded by the graph diameter: BCCs
    # merged across many cycles sharing tree edges chain arbitrarily (a
    # wheel graph has diameter 2 but an aux cycle as long as its rim).
    # The component count of covered tree edges is a true bound, and
    # connected_components early-exits at the fixpoint, so the generous
    # budget costs nothing on benign graphs. A post-hoc edge check then
    # makes non-convergence loud instead of silently splitting a BCC
    # (which would fabricate articulation points).
    n_cov = covered.count()
    lbl = connected_components(
        covered.select(F.col("child").alias("id")), aux_ue,
        rounds=max(2 * max_depth + 4, n_cov + 1),
    )
    aux_viol = (
        aux_ue.join(lbl.select(F.col("id").alias("src"),
                               F.col("comp").alias("cs")), "src")
        .join(lbl.select(F.col("id").alias("dst"),
                         F.col("comp").alias("cd")), "dst")
        .filter(F.col("cs") != F.col("cd"))
    )
    if not aux_viol.isEmpty():
        raise ValueError(
            "aux-graph labeling did not converge — BCC labels would be "
            "split; raise the round budget")
    labels = (
        forest.select("child")
        .join(
            lbl.select(F.col("id").alias("child"), F.col("comp").alias("bcc")),
            "child",
            "left",
        )
        .select("child", F.coalesce("bcc", F.col("child")).alias("bcc"))
        .localCheckpoint(eager=False)
    )

    bridges = (
        forest.join(covered, "child", "left_anti")
        .select(
            F.least("child", "parent").alias("src"),
            F.greatest("child", "parent").alias("dst"),
        )
    )
    # one labels x forest join, both endpoints exploded from it (not two
    # identical joins unioned)
    incident = (
        labels.join(forest, "child")
        .select(
            F.explode(F.array(F.col("parent"), F.col("child"))).alias("id"),
            "bcc",
        )
    )
    articulation = (
        incident.groupBy("id")
        .agg(F.countDistinct("bcc").alias("n_bcc"))
        .filter(F.col("n_bcc") >= 2)
        .select("id")
    )
    return forest, bridges, articulation


# one bcc_distributed pass serves both registered queries (and repeated
# calls) — the analog of the reference computing articulation/bridges/
# components in a single biconnected() pass (`biconnected.rs:96-139`)
_BCC_CACHE: dict[tuple[int, str], tuple[DataFrame, DataFrame, DataFrame]] = {}


def _bcc_index(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _BCC_CACHE:
        ue = undirected_edges(edges_df(spark, sf_dir)).select("src", "dst")
        forest, bridges, art = bcc_distributed(ue)
        _BCC_CACHE[key] = (
            forest,
            bridges.localCheckpoint(eager=False),
            art.localCheckpoint(eager=False),
        )
    return _BCC_CACHE[key]


@register(
    "graph_bridges_distributed",
    oracle=GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1)
    + _bridges_oracle_sql(),
)
def graph_bridges_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridges — THE CANONICAL (PRIMARY) §2.9 FORM: the bridge set comes
    from `bcc_distributed` (spanning forest + fundamental-cycle coverage)
    — no edge-list collect anywhere; same candidate panel and
    removal-definition reachability oracle as the guarded `graph_bridges`
    fast path. Full-set equality vs the Hopcroft-Tarjan pass is
    asserted by the differential test in tests/test_graph.py."""
    _, bridges, _ = _bcc_index(spark, sf_dir)
    e = edges_df(spark, sf_dir)
    cand = (
        e.filter(
            (F.col("edge_type") == "part_of")
            & F.col("src").isin([2000000 + n for n in BRIDGE_CANDIDATES])
        )
        .select("src", "dst")
    )
    flagged = bridges.withColumn("is_bridge", F.lit(1))
    return (
        cand.join(
            F.broadcast(flagged),
            (F.least(cand.src, cand.dst) == flagged.src)
            & (F.greatest(cand.src, cand.dst) == flagged.dst),
            "left",
        )
        .select(
            cand.src.alias("src"),
            cand.dst.alias("dst"),
            F.coalesce("is_bridge", F.lit(0)).alias("is_bridge"),
        )
    )


@register(
    "graph_articulation_distributed",
    oracle=GRAPH_SQL_CTE.replace("WITH nodes", "WITH RECURSIVE nodes", 1)
    + _articulation_oracle_sql(),
)
def graph_articulation_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Articulation points — THE CANONICAL (PRIMARY) §2.9 FORM: the
    articulation set comes from `bcc_distributed` (a vertex is
    articulation iff its incident tree edges span >= 2 BCC labels); same
    candidate panel and neighbor-reachability-in-G\\v oracle as the
    guarded `graph_articulation_points` fast path — joins + groupBy only. Full-set equality
    vs Hopcroft-Tarjan asserted in tests/test_graph.py."""
    _, _, art = _bcc_index(spark, sf_dir)
    cand = local_df(spark, [(int(v),) for v in ART_CANDIDATES], "id bigint")
    return (
        cand.join(
            F.broadcast(art.withColumn("hit", F.lit(1))), "id", "left"
        )
        .select("id", F.coalesce("hit", F.lit(0)).alias("is_articulation"))
    )


# --------------------------------------------------------------------------
# Full k-core decomposition (core number per node + degeneracy) —
# `graph_engine/src/algorithms/kcore.rs:101,183` `kcore_decomposition`/
# `degeneracy`. The reference peels with a binary heap (inherently
# sequential); the distributed form is h-index iteration (Montresor et al.,
# "Distributed k-Core Decomposition"): start from degrees, repeatedly set
# core(v) = H-index of neighbors' current values — monotone non-increasing,
# integer-exact, converges to the coreness (7 rounds on the fixture;
# equality with exact peeling asserted in tests).
# --------------------------------------------------------------------------

CORE_ROUNDS = 12


def core_decomposition(
    nodes: DataFrame, uedges: DataFrame, rounds: int = CORE_ROUNDS
) -> DataFrame:
    """(id, core) for every node. One window + one groupBy per round, both
    keyed on the node id (single shuffle); early exit at the provable
    fixpoint (values only decrease, so an unchanged sum IS convergence),
    which returns exactly the fixed-round oracle's answer."""
    from pyspark.sql import Window

    e = uedges.select("src", "dst").localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    core = (
        nodes.select("id")
        .join(deg.withColumnRenamed("src", "id"), "id", "left")
        .select("id", F.coalesce("deg", F.lit(0)).cast("bigint").alias("core"))
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    w = Window.partitionBy("src").orderBy(F.col("nc").desc())
    for rnd in range(rounds):
        nb = e.join(core, e.dst == core.id).select(
            "src", F.col("core").alias("nc")
        )
        h = (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("src")
            .agg(F.max(F.least(F.col("rn"), F.col("nc"))).alias("h"))
        )
        core, stats = superstep(
            core.join(h, core.id == h.src, "left").select(
                "id",
                F.least(F.col("core"), F.coalesce("h", F.lit(0))).alias("core"),
            ),
            F.sum("core").alias("sig"),
        )
        if stats["sig"] == prev_sig:
            break
        prev_sig = stats["sig"]
    return core


def _core_decomposition_sql(rounds: int = CORE_ROUNDS) -> str:
    parts = [
        """
    , cdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM uedges GROUP BY src),
      k0 AS MATERIALIZED (
        SELECT n.id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS core
        FROM nodes n LEFT JOIN cdeg d ON d.src = n.id
      )
    """
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
      k{t} AS MATERIALIZED (
        SELECT c.id, LEAST(c.core, COALESCE(h.h, 0)) AS core
        FROM k{t - 1} c LEFT JOIN (
          SELECT src, MAX(LEAST(rn, nc)) AS h FROM (
            SELECT e.src, cc.core AS nc,
                   ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY cc.core DESC) AS rn
            FROM uedges e JOIN k{t - 1} cc ON cc.id = e.dst
          ) GROUP BY src
        ) h ON h.src = c.id
      )"""
        )
    parts.append(f"\n    SELECT id, core FROM k{rounds}")
    return "".join(parts)


@register("graph_core_decomposition", oracle=GRAPH_SQL_CTE + _core_decomposition_sql())
def graph_core_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition — core number for every node; the
    degeneracy is MAX(core) (`kcore.rs:101,183`). Distributed h-index
    iteration; the oracle unrolls the same integer recurrence, so the check
    is exact. The existing `graph_kcore` remains the k=3 subgraph view
    (`kcore_subgraph`)."""
    return core_decomposition(
        nodes_df(spark, sf_dir), undirected_edges(edges_df(spark, sf_dir))
    )
