"""Graph operator semantics + convergence guarantees backing the
fixed-iteration oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, jobs_run, load_selfcheck


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b, "e", 1.0) for a, b in pairs], "src bigint, dst bigint, edge_type string, weight double"
    )


def test_bfs_levels_chain(spark):
    from neumann_spark.graph.traversal import bfs_levels
    from neumann_spark.graph.model import undirected_edges

    e = undirected_edges(_edges(spark, [(1, 2), (2, 3), (3, 4)]))
    src = spark.createDataFrame([(1, 1)], "source bigint, node bigint")
    out = {r["node"]: r["dist"] for r in bfs_levels(e, src, 10).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_levels_empty_frontier_stops_shallow_walk(spark):
    """A shallow walk (max_depth ≤ 4) deeper than the source's eccentricity
    returns the same rows, and stops at the first empty level: depth 4
    schedules no more jobs than depth 3 on a chain whose far end is 2 hops
    away."""
    from neumann_spark.graph.model import undirected_edges
    from neumann_spark.graph.traversal import bfs_levels

    e = undirected_edges(_edges(spark, [(1, 2), (2, 3)]))
    src = spark.createDataFrame([(1, 1)], "source bigint, node bigint")
    rows = {d: jobs_run(spark, lambda: sorted(map(tuple, bfs_levels(e, src, d).collect())))
            for d in (2, 3, 4)}
    assert rows[2][0] == rows[3][0] == rows[4][0] == [(1, 1, 0), (1, 2, 1), (1, 3, 2)]
    assert rows[4][1] == rows[3][1]


def test_bounded_dijkstra_picks_cheaper_path(spark):
    from neumann_spark.graph.traversal import bounded_dijkstra

    e = spark.createDataFrame(
        [(1, 2, "e", 10.0), (1, 3, "e", 1.0), (3, 2, "e", 1.0)],
        "src bigint, dst bigint, edge_type string, weight double",
    )
    out = {r["node"]: r["dist"] for r in bounded_dijkstra(e, 1, 3).collect()}
    assert out[2] == 2.0  # via 3, not the direct 10.0 edge


def test_connected_components_two_islands(spark):
    from neumann_spark.graph.algorithms import connected_components
    from neumann_spark.graph.model import undirected_edges

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11]], "id bigint")
    e = undirected_edges(_edges(spark, [(1, 2), (2, 3), (10, 11)]))
    comp = {r["id"]: r["comp"] for r in connected_components(nodes, e, 5).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_connected_components_isolated_and_dangling(spark):
    """An isolated node keeps its own id, and an edge to an id missing from
    `nodes` neither adds a row nor lends its (smaller) id as a label."""
    from neumann_spark.graph.algorithms import connected_components
    from neumann_spark.graph.model import undirected_edges

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 7]], "id bigint")
    e = undirected_edges(_edges(spark, [(1, 2), (2, 3), (0, 3)]))
    got = sorted(map(tuple, connected_components(nodes, e, 5).collect()))
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7)]


def test_cc_rounds_converged_on_fixture(spark):
    """The unrolled 12-round oracle is only valid if 12 rounds reach the
    fixpoint on the fixture graph — assert rounds 12 and 13 agree."""
    from neumann_spark.graph.algorithms import connected_components
    from neumann_spark.graph.model import edges_df, nodes_df, undirected_edges

    n, e = nodes_df(spark, SF_DIR), undirected_edges(edges_df(spark, SF_DIR))
    c12 = connected_components(n, e, 12).collect()
    c13 = connected_components(n, e, 13).collect()
    assert sorted(map(tuple, c12)) == sorted(map(tuple, c13))


def test_kcore_converged_on_fixture(spark):
    from neumann_spark.graph.algorithms import kcore
    from neumann_spark.graph.model import edges_df, undirected_edges

    ue = undirected_edges(edges_df(spark, SF_DIR))
    s15 = sorted(r["id"] for r in kcore(ue, 3, 15).collect())
    s16 = sorted(r["id"] for r in kcore(ue, 3, 16).collect())
    assert s15 == s16


def test_pagerank_mass_conserved(spark):
    """Simplified PR without dangling redistribution loses the dangling mass
    but must stay in (0, 1] and keep hubs ranked above leaves."""
    from neumann_spark.graph.algorithms import pagerank
    from neumann_spark.graph.model import edges_df, nodes_df

    pr = pagerank(nodes_df(spark, SF_DIR), edges_df(spark, SF_DIR), iters=5)
    rows = pr.collect()
    total = sum(r["pr"] for r in rows)
    assert 0.2 < total <= 1.000001
    by_id = {r["id"]: r["pr"] for r in rows}
    # nation hubs out-rank any single customer
    top_nation = max(v for k, v in by_id.items() if 2_000_000 <= k < 3_000_000)
    avg_cust = sum(v for k, v in by_id.items() if k < 1_000_000) / sum(
        1 for k in by_id if k < 1_000_000
    )
    assert top_nation > 10 * avg_cust


def test_pagerank_matches_recurrence(spark):
    """On a 4-node graph, `pagerank` equals a pure-Python run of the
    oracle's recurrence pr_t(n) = (1-d)/N + d * Σ_{(s,n)} pr_{t-1}(s)/outdeg(s)
    to 1e-12, and node 4 (no in-edges) gets exactly (1-d)/N."""
    from neumann_spark.graph.algorithms import DAMPING, pagerank

    pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 1), (4, 3)]
    ids = [1, 2, 3, 4]
    nodes = spark.createDataFrame([(i,) for i in ids], "id bigint")
    got = {r["id"]: r["pr"] for r in pagerank(nodes, _edges(spark, pairs), iters=7).collect()}
    outdeg = {i: sum(1 for s, _ in pairs if s == i) for i in ids}
    pr = {i: 1.0 / len(ids) for i in ids}
    for _ in range(7):
        pr = {n: (1 - DAMPING) / len(ids)
              + DAMPING * sum(pr[s] / outdeg[s] for s, d in pairs if d == n)
              for n in ids}
    assert got.keys() == pr.keys()
    assert all(abs(got[i] - pr[i]) <= 1e-12 for i in ids), (got, pr)
    assert got[4] == (1 - DAMPING) / len(ids)


def test_superstep_observes_its_checkpoint_job(spark):
    """`superstep` returns the input's rows, and its `n` and named
    aggregates equal a separate `agg().collect()`; they come from the
    checkpoint's own job, so with AQE off the call runs exactly as many
    jobs as `localCheckpoint(eager=True)` alone."""
    from neumann_spark.graph.model import superstep

    df = (spark.range(200).groupBy((F.col("id") % 7).alias("k"))
          .agg(F.sum("id").alias("s")))
    aggs = (F.sum("s").alias("sig"), F.max("k").alias("mx"))
    prior = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        (out, stats), jobs = jobs_run(spark, lambda: superstep(df, *aggs))
        _, plain = jobs_run(spark, lambda: df.localCheckpoint(eager=True))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert jobs == plain
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
    assert stats == df.agg(F.count(F.lit(1)).alias("n"), *aggs).collect()[0].asDict()
    assert superstep(df.filter(F.col("k") > 7))[1] == {"n": 0}


def test_graph_loop_job_budget(spark):
    """Each loop round reads its state once and tests its fixpoint or
    emptiness inside its checkpoint job: warm runs at sf0.001 stay within
    these job counts (the parent, which ran a separate scalar action per
    test, needed BFS 12, CC 31, k-core 24, core decomposition 45,
    eigenvector 55, SCC 141, Borůvka 128)."""
    from neumann_spark.registry import all_queries

    for name, budget in [("graph_bfs_levels", 16), ("graph_connected_components", 29),
                         ("graph_kcore", 18), ("graph_core_decomposition", 38),
                         ("graph_eigenvector", 47), ("graph_scc_distributed", 127),
                         ("graph_mst_boruvka", 118)]:
        fn = all_queries()[name]
        fn(spark, SF_DIR).collect()  # warm the session graph and caches
        _, jobs = jobs_run(spark, lambda: fn(spark, SF_DIR).collect())
        assert jobs <= budget, (name, jobs)


def _oracle_check(spark, duck, name):
    from neumann_spark.registry import all_oracles, all_queries

    res = load_selfcheck().compare_one(
        name, all_queries()[name], all_oracles()[name], spark, duck, SF_DIR)
    assert res["status"] == "ok", res


@pytest.mark.parametrize("name", [
    "graph_bfs_levels", "graph_pagerank", "graph_connected_components",
    "graph_eigenvector", "graph_core_decomposition", "graph_scc_distributed",
    "graph_mst_boruvka"])
def test_graph_loops_match_oracle_across_partitions(spark, duck, name):
    """The graph loops hash-match their oracles whatever the
    shuffle-partition count or AQE setting (PageRank's and eigenvector's
    double `F.sum` is where partition order could leak into the rounded
    result)."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prior = {key: spark.conf.get(key) for key in keys}
    try:
        for parts in ("1", "200"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], parts)
                spark.conf.set(keys[1], aqe)
                _oracle_check(spark, duck, name)
    finally:
        for key, val in prior.items():
            spark.conf.set(key, val)


@pytest.mark.parametrize("name", [
    "graph_closeness_sampled", "unified_similar_connected", "hybrid_rrf_connected",
    "graph_bridges_distributed", "graph_articulation_distributed"])
def test_graph_loop_callers_match_oracle(spark, duck, name):
    """The other queries built on `bfs_levels` or `connected_components`
    hash-match their oracles."""
    _oracle_check(spark, duck, name)


def test_triangle_count_known(spark):
    from neumann_spark.graph.model import undirected_edges

    # triangle 1-2-3 plus a dangling edge
    ue = (
        undirected_edges(_edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4)]))
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    e1 = ue
    e2 = ue.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = ue.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    n = (
        e1.join(e2, e1.b == e2.b2)
        .join(e3, (e1.a == e3.a3) & (e2.c == e3.c3))
        .count()
    )
    assert n == 1


def test_mst_tree_size(spark):
    """MST of a connected component has |V|-1 edges."""
    from neumann_spark.graph.algorithms import graph_mst_kruskal

    out = graph_mst_kruskal(spark, SF_DIR).collect()
    nodes = {r["src"] for r in out} | {r["dst"] for r in out}
    # forest: edges = nodes - components
    assert len(out) < len(nodes)
    assert len(out) >= len(nodes) - 5  # few components expected


def test_scc_finds_cycles(spark):
    from neumann_spark.graph.algorithms import graph_scc_tarjan

    out = graph_scc_tarjan(spark, SF_DIR).collect()
    # every returned SCC has ≥ 2 members by construction
    from collections import Counter

    sizes = Counter(r["scc"] for r in out)
    assert all(v >= 2 for v in sizes.values())


def test_approx_distinct_error_bound(spark):
    from neumann_spark.operators.relational import rel_approx_distinct
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    # the registered query now emits exact counts + a tolerance flag;
    # assert the flag holds and the underlying HLL stays within 10%
    rows = rel_approx_distinct(spark, SF_DIR).collect()
    assert rows and all(r["approx_ok"] == 1 for r in rows)
    li = load(spark, SF_DIR, "lineitem")
    approx = {r["l_returnflag"]: r["n"]
              for r in li.groupBy("l_returnflag")
                         .agg(F.approx_count_distinct("l_orderkey", 0.02).alias("n"))
                         .collect()}
    exact = {r["l_returnflag"]: r["exact_orders"] for r in rows}
    for k, e in exact.items():
        assert abs(approx[k] - e) / e < 0.1


def test_betweenness_distributed_matches_driver_side(spark):
    """The distributed Brandes must agree with the collected-graph version
    on the fixture (same sampled sources, full-depth BFS)."""
    from neumann_spark.graph.algorithms import (
        betweenness_distributed,
        betweenness_driver_side,
    )
    from neumann_spark.graph.model import edges_df, nodes_df, undirected_edges

    driver = {
        (r["id"]): r["betweenness"]
        for r in betweenness_driver_side(spark, SF_DIR).collect()
    }
    srcs = (
        nodes_df(spark, SF_DIR)
        .filter((F.col("label") == "customer") & (F.col("id") % 10 == 1))
        .select(F.col("id").alias("source"), F.col("id").alias("node"))
    )
    ue = undirected_edges(edges_df(spark, SF_DIR))
    dist = {
        r["id"]: round(r["betweenness"], 6)
        for r in betweenness_distributed(ue, srcs).collect()
    }
    # driver-side output is the top-50; every one must match the distributed value
    for node, bc in driver.items():
        assert abs(dist.get(node, 0.0) - bc) < 1e-4, (node, bc, dist.get(node))


def test_constraint_check_detects_corruption(spark):
    """The constraint machinery must actually detect violations, not just
    report zeros on the (by-construction clean) fixture graph."""
    nodes = spark.createDataFrame([(1, "a"), (2, "a"), (2, "b")], "id bigint, label string")
    edges = spark.createDataFrame(
        [(1, 2, "e", 1.0), (1, 99, "e", 1.0), (2, 1, "e", -3.0), (2, 1, "e", None)],
        "src bigint, dst bigint, edge_type string, weight double",
    )
    dangling_dst = edges.join(nodes, edges.dst == nodes.id, "left_anti").count()
    dup = nodes.groupBy("id").count().filter(F.col("count") > 1).count()
    bad_w = edges.filter(F.col("weight").isNull() | (F.col("weight") <= 0.0)).count()
    assert dangling_dst == 1   # edge to 99
    assert dup == 1            # node id 2 twice
    assert bad_w == 2          # negative + null weight


def test_astar_heuristics_match_dijkstra():
    """A* with admissible euclidean/manhattan heuristics returns the same
    canonical path and distance as Dijkstra (zero heuristic), while popping
    fewer nodes (`graph_engine/src/algorithms/astar.rs:192,302,344`).
    Grid graph: nodes at integer coords, edge weight = euclidean length —
    both heuristics are admissible."""
    from neumann_spark.graph.algorithms import astar_search

    side = 8
    coords = {r * side + c: (float(c), float(r)) for r in range(side) for c in range(side)}
    edges = []
    for v, (x, y) in coords.items():
        for u, (ux, uy) in coords.items():
            if abs(ux - x) + abs(uy - y) == 1.0:
                edges.append((v, u, 1.0))
    # diagonal shortcut lane with sqrt(2) weights
    for r in range(side - 1):
        a, b = r * side + r, (r + 1) * side + (r + 1)
        w = 2.0 ** 0.5
        edges += [(a, b, w), (b, a, w)]
    start, goal = 0, side * side - 1
    d0, p0, pops0 = astar_search(edges, start, goal, "zero")
    de, pe, popse = astar_search(edges, start, goal, "euclidean", coords)
    dm, pm, popsm = astar_search(edges, start, goal, "manhattan", coords)
    assert p0 == pe == pm
    assert d0[goal] == de[goal] == dm[goal]
    assert popse < pops0 and popsm < pops0  # heuristics prune the search


def test_astar_unreachable_returns_empty_path():
    from neumann_spark.graph.algorithms import astar_search

    dist, path, _ = astar_search([(1, 2, 1.0)], 1, 99, "zero")
    assert path == [] and 99 not in dist


def test_biconnected_textbook_graph():
    """Two triangles joined at a cut vertex plus a pendant edge — known
    articulation points, bridges, and biconnected components."""
    from neumann_spark.graph.algorithms import biconnected

    #  1-2-3 triangle, 3-4-5 triangle, 5-6 pendant
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6)]
    art, bridges, comps = biconnected(edges)
    assert art == {3, 5}
    assert bridges == {(5, 6)}
    assert sorted(sorted(c) for c in comps) == [[1, 2, 3], [3, 4, 5], [5, 6]]


def test_biconnected_cycle_has_no_cuts():
    from neumann_spark.graph.algorithms import biconnected

    cycle = [(i, (i + 1) % 6) for i in range(6)]
    art, bridges, comps = biconnected(cycle)
    assert art == set() and bridges == set()
    assert len(comps) == 1 and sorted(comps[0]) == list(range(6))


def test_biconnected_tree_all_bridges():
    from neumann_spark.graph.algorithms import biconnected

    tree = [(1, 2), (1, 3), (2, 4), (2, 5)]
    art, bridges, comps = biconnected(tree)
    assert art == {1, 2}
    assert bridges == {(1, 2), (1, 3), (2, 4), (2, 5)}
    assert len(comps) == 4


def _bcc_df(spark, edges):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return df.unionAll(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_bcc_distributed_synthetic(spark):
    """Triangle -[bridge]- square -[bridge]- pendant: known bridges and
    articulation points, checked against the distributed spanning-forest +
    cycle-coverage pass."""
    from neumann_spark.graph.algorithms import bcc_distributed

    # 1-2-3 triangle, bridge 3-4, square 4-5-6-7, pendant 7-8
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7), (4, 7), (7, 8)]
    _, bridges, art = bcc_distributed(_bcc_df(spark, edges))
    assert {(r["src"], r["dst"]) for r in bridges.collect()} == {(3, 4), (7, 8)}
    assert {r["id"] for r in art.collect()} == {3, 4, 7}


def test_bcc_distributed_overlapping_cycles(spark):
    """Cycles sharing a tree edge must merge into one BCC (no false
    articulation): K4 minus one edge is biconnected."""
    from neumann_spark.graph.algorithms import bcc_distributed

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    _, bridges, art = bcc_distributed(_bcc_df(spark, edges))
    assert bridges.isEmpty()
    assert art.isEmpty()


def test_bcc_distributed_multi_component(spark):
    """Two disconnected components each get their own BFS root; bridges
    and articulation points are found independently per component."""
    from neumann_spark.graph.algorithms import bcc_distributed

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (10, 11), (11, 12)]
    _, bridges, art = bcc_distributed(_bcc_df(spark, edges))
    assert {(r["src"], r["dst"]) for r in bridges.collect()} == {
        (3, 4), (10, 11), (11, 12)
    }
    assert {r["id"] for r in art.collect()} == {3, 11}


def test_bcc_distributed_long_cycle(spark):
    """A single long cycle: BFS eccentricity equals max_depth exactly (the
    completion-only-observable-as-empty-round case) and the aux chain is
    ~2x longer than the BFS diameter — the label propagation must still
    converge to ONE biconnected component: no bridges, no articulation."""
    from neumann_spark.graph.algorithms import bcc_distributed

    n = 30
    edges = [(i, i % n + 1) for i in range(1, n + 1)]  # cycle 1..30
    _, bridges, art = bcc_distributed(_bcc_df(spark, edges), max_depth=15)
    assert bridges.isEmpty()
    assert art.isEmpty()


def test_bcc_distributed_raises_when_diameter_exceeds_budget(spark):
    """A path longer than max_depth must fail loudly (component labeling
    can't converge), never silently mis-classify bridges."""
    import pytest

    from neumann_spark.graph.algorithms import bcc_distributed

    edges = [(i, i + 1) for i in range(1, 12)]  # path of 12 nodes
    with pytest.raises(ValueError, match="did not converge|did not terminate"):
        bcc_distributed(_bcc_df(spark, edges), max_depth=4)


def test_bcc_distributed_random_graphs(spark):
    """Seeded random graphs (mixed density, with isolated-ish tails and
    multiple components) — distributed bridges/articulation must equal
    Hopcroft-Tarjan on every one."""
    import random

    from neumann_spark.graph.algorithms import bcc_distributed, biconnected

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = rng.randint(8, 14)
        edges = sorted(
            {
                (a, b)
                for _ in range(rng.randint(n, 2 * n))
                for a, b in [sorted(rng.sample(range(1, n + 1), 2))]
            }
        )
        art_t, bridges_t, _ = biconnected(edges)
        _, bridges_d, art_d = bcc_distributed(_bcc_df(spark, edges))
        assert {(r["src"], r["dst"]) for r in bridges_d.collect()} == bridges_t, seed
        assert {r["id"] for r in art_d.collect()} == art_t, seed


def test_bcc_distributed_matches_tarjan(spark):
    """Full-set differential: distributed bridges + articulation points
    equal driver-side Hopcroft-Tarjan on the fixture graph."""
    from neumann_spark.graph.algorithms import (
        _collect_edges,
        bcc_distributed,
        biconnected,
    )
    from neumann_spark.graph.model import edges_df, undirected_edges

    ue = undirected_edges(edges_df(spark, SF_DIR)).select("src", "dst")
    art_t, bridges_t, _ = biconnected(_collect_edges(ue, cols=("src", "dst")))
    _, bridges_d, art_d = bcc_distributed(ue)
    assert {(r["src"], r["dst"]) for r in bridges_d.collect()} == bridges_t
    assert {r["id"] for r in art_d.collect()} == art_t


def test_astar_distributed_matches_driver_side(spark):
    """The bounded_dijkstra-backed twin returns the identical canonical
    path (step, node, cum_weight) as driver-side A*."""
    from neumann_spark.graph.algorithms import (
        graph_astar_distributed,
        graph_astar_path,
    )

    a = sorted(tuple(r) for r in graph_astar_path(spark, SF_DIR).collect())
    b = sorted(tuple(r) for r in graph_astar_distributed(spark, SF_DIR).collect())
    assert a == b and len(a) >= 2


def test_scc_distributed_matches_tarjan(spark):
    """Forward-backward coloring SCC equals driver-side Tarjan on the
    fixture graph (directed edges + purchases back-edges)."""
    from pyspark.sql import functions as F
    from neumann_spark.catalog import load
    from neumann_spark.graph.algorithms import graph_scc_tarjan, scc_distributed
    from neumann_spark.graph.model import SUPPLIER_BASE, edges_df

    e = edges_df(spark, SF_DIR).select("src", "dst")
    li = load(spark, SF_DIR, "lineitem")
    o = load(spark, SF_DIR, "orders").filter(F.col("o_orderkey") % 41 == 0)
    purchases = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").cast("bigint").alias("src"),
            (F.lit(SUPPLIER_BASE) + F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .distinct()
    )
    dist = scc_distributed(e.unionAll(purchases))
    # keep multi-member components only, like the registered query
    from collections import Counter

    rows = [(r["id"], r["scc"]) for r in dist.collect()]
    sizes = Counter(s for _, s in rows)
    dist_map = {i: s for i, s in rows if sizes[s] > 1}
    tarjan_map = {
        r["id"]: r["scc"] for r in graph_scc_tarjan(spark, SF_DIR).collect()
    }
    assert dist_map == tarjan_map


def test_mst_boruvka_matches_kruskal(spark):
    from neumann_spark.graph.algorithms import (
        graph_mst_kruskal,
        mst_boruvka_distributed,
    )
    from neumann_spark.graph.model import edges_df, undirected_edges

    boruvka = {
        (r["src"], r["dst"], round(r["weight"], 2))
        for r in mst_boruvka_distributed(
            undirected_edges(edges_df(spark, SF_DIR))
        ).collect()
    }
    kruskal = {
        (r["src"], r["dst"], r["weight"])
        for r in graph_mst_kruskal(spark, SF_DIR).collect()
    }
    assert boruvka == kruskal


def test_core_decomposition_matches_exact_peeling(spark):
    """H-index iteration equals the reference's exact min-degree peeling
    (`kcore.rs:101`) on the fixture graph."""
    import heapq
    from collections import defaultdict

    from neumann_spark.graph.algorithms import core_decomposition
    from neumann_spark.graph.model import edges_df, nodes_df, undirected_edges

    ue = undirected_edges(edges_df(spark, SF_DIR))
    got = {
        r["id"]: r["core"]
        for r in core_decomposition(nodes_df(spark, SF_DIR), ue).collect()
    }
    adj = defaultdict(set)
    for r in ue.select("src", "dst").collect():
        adj[r["src"]].add(r["dst"])
        adj[r["dst"]].add(r["src"])
    deg = {v: len(ns) for v, ns in adj.items()}
    pq = [(d, v) for v, d in deg.items()]
    heapq.heapify(pq)
    done: set = set()
    exact: dict = {}
    cur = 0
    while pq:
        d, v = heapq.heappop(pq)
        if v in done:
            continue
        cur = max(cur, deg[v])
        exact[v] = cur
        done.add(v)
        for u in adj[v]:
            if u not in done and deg[u] > 0:
                deg[u] -= 1
                heapq.heappush(pq, (deg[u], u))
    got_connected = {v: c for v, c in got.items() if v in exact}
    assert got_connected == exact
    # degeneracy = max core (`kcore.rs:183`)
    assert max(got.values()) == max(exact.values())


def test_bcc_distributed_wheel_graph(spark):
    """Wheel graph (hub + rim cycle of 100): one biconnected component, no
    bridges, no articulation points. The adversarial case for the aux-graph
    round budget — graph diameter is 2 but the rim's fundamental cycles
    chain into an aux path ~100 long, far beyond any diameter-derived
    bound; the component-size budget (plus the loud non-convergence check)
    must label it as ONE component rather than silently splitting it and
    fabricating the hub as an articulation point."""
    from neumann_spark.graph.algorithms import bcc_distributed

    n = 100
    rim = [(i, i % n + 1) for i in range(1, n + 1)]
    spokes = [(0, i) for i in range(1, n + 1)]
    _, bridges, art = bcc_distributed(_bcc_df(spark, rim + spokes))
    assert bridges.isEmpty()
    assert art.isEmpty()
