"""Engine facade: the reference's command-language surface executed on Spark
(`QueryRouter::execute` analog — SQL, NODE/EDGE/NEIGHBORS/PATH, EMBED/SIMILAR,
FIND, caching, streaming cursor)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, jobs_run


@pytest.fixture(scope="module")
def engine(spark):
    from neumann_spark.engine import NeumannSparkEngine

    return NeumannSparkEngine(spark, SF_DIR)


@pytest.fixture(scope="module")
def small_graph(engine):
    """The nodes and edges the NEIGHBORS and PATH tests read, created
    once per module so each of those tests also passes selected alone."""
    for stmt in ("NODE 9000001 testlab", "NODE 9000002 testlab",
                 "EDGE 9000001 9000002 knows 2.5",
                 "NODE 9400001 hub", "NODE 9400002 spoke",
                 "NODE 9400003 spoke", "EDGE 9400001 9400002 links 1.0",
                 "EDGE 9400003 9400001 links 1.0"):
        engine.execute(stmt)


def test_engine_open_runs_no_job_once_graph_is_warm(spark, engine):
    """With the derived graph already checkpointed (by the module
    engine), opening another engine only declares scans: its 11 table
    loads read no schema, so construction schedules no Spark job."""
    from neumann_spark.engine import NeumannSparkEngine

    _, jobs = jobs_run(spark, lambda: NeumannSparkEngine(spark, SF_DIR))
    assert jobs == 0


def test_sql_select(engine):
    rows = engine.execute(
        "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment"
    ).collect()
    assert len(rows) == 5


def test_create_insert_select(engine):
    engine.execute("CREATE TABLE users (name TEXT, age INT, active BOOLEAN)")
    engine.execute("INSERT INTO users VALUES ('alice', 30, True), ('bob', 25, False)")
    rows = engine.execute("SELECT name FROM users WHERE age > 26").collect()
    assert [r["name"] for r in rows] == ["alice"]
    engine.execute("DROP TABLE users")


def test_show_tables(engine):
    names = {r["table"] for r in engine.execute("SHOW TABLES").collect()}
    assert {"customer", "lineitem", "embeddings"} <= names


@pytest.mark.usefixtures("small_graph")
def test_node_edge_neighbors(engine):
    nbrs = engine.execute("NEIGHBORS '9000001'").collect()
    assert any(r["neighbor_id"] == 9000002 and r["edge_type"] == "knows" for r in nbrs)


@pytest.mark.usefixtures("small_graph")
def test_path(engine):
    rows = engine.execute("PATH '9000001' TO '9000002' MAX 3").collect()
    assert rows and rows[0]["dist"] == 1


def test_embed_similar(engine):
    engine.execute("EMBED 'q:1' [" + ",".join(["0.5"] * 64) + "]")
    top = engine.execute("SIMILAR 'q:1' TOP 5").collect()
    assert len(top) == 5
    assert all(r["key"] != "q:1" for r in top)


def test_similar_connected(engine):
    top = engine.execute("SIMILAR '0' TOP 5 CONNECTED TO '17'").collect()
    assert 0 < len(top) <= 5


def test_find_rows_where(engine):
    out = engine.execute("FIND ROWS customer WHERE c_acctbal > 9900.0").collect()
    assert out and all(r["source"] == "relational" for r in out)


def test_find_nodes_where(engine):
    out = engine.execute("FIND NODES WHERE label = 'nation'").collect()
    assert len(out) == 25


def test_cache_hit_and_invalidation(engine):
    q = "SELECT COUNT(*) AS n FROM region"
    a = engine.execute(q)
    b = engine.execute(q)
    assert a is b  # cached object
    engine.execute("NODE 9000003 cachebuster")
    c = engine.execute(q)
    assert c is not a  # write invalidated


def test_streaming_cursor(engine):
    batches = list(engine.execute_streaming("SELECT * FROM orders", batch_size=400))
    assert sum(len(b) for b in batches) == 1500
    assert all(len(b) <= 400 for b in batches)


def test_unknown_command(engine):
    with pytest.raises(ValueError, match="unsupported command"):
        engine.execute("FROBNICATE everything")


def test_cypher_match(engine):
    rows = engine.execute(
        "MATCH (c:customer)-[:located_in]->(n:nation) RETURN c, n LIMIT 7"
    ).collect()
    assert len(rows) == 7
    assert all(r["n_id"] >= 2_000_000 for r in rows)


def test_cypher_match_where(engine):
    rows = engine.execute(
        "MATCH (s:supplier)-[:supplies]->(c:customer) "
        "WHERE weight > 100000.0 RETURN s, c, weight"
    ).collect()
    assert all(r["weight"] > 100000.0 for r in rows)


def test_embed_dimension_enforced(engine):
    with pytest.raises(ValueError, match="dimension mismatch"):
        engine.execute("EMBED 'bad' [1.0, 2.0]")


def test_cypher_match_varlength(engine):
    rows = engine.execute(
        "MATCH (s:supplier)-[:supplies*1..2]->(c) RETURN s, c, hops LIMIT 2000"
    ).collect()
    assert rows
    assert all(1 <= r["hops"] <= 2 for r in rows)
    # supplies edges go supplier→customer only, so 1 hop is the only depth
    assert {r["hops"] for r in rows} == {1}


def test_cypher_match_varlength_two_hops(engine):
    rows = engine.execute(
        "MATCH (c:customer)-[:located_in*1..2]->(x) RETURN c, x, hops"
    ).collect()
    # hop1 = nation, hop2 = region via part_of? no — typed filter keeps only
    # located_in edges, so depth stops at the nation (no located_in out-edge)
    assert rows and {r["hops"] for r in rows} == {1}


def test_cypher_varlength_bounds_validated(engine):
    with pytest.raises(ValueError, match="min ≤ max ≤ 8"):
        engine.execute("MATCH (a)-[:supplies*3..99]->(b) RETURN a, b")


def test_cypher_varlength_where_and_props(engine):
    """Var-length WHERE + property-map endpoints (`cypher.rs:15-210`
    allows `MATCH (a)-[*1..5]->(b) WHERE ...`): customers reach a region
    in exactly 2 hops; WHERE thins sources; {label:} filters the
    destination without a label tag."""
    rows = engine.execute(
        "MATCH (c:customer)-[*1..2]->(x {label: 'region'}) "
        "WHERE c.id % 100 = 7 RETURN c, x, hops"
    ).collect()
    assert rows
    assert all(r["hops"] == 2 for r in rows)
    assert all(r["c_id"] % 100 == 7 for r in rows)
    assert all(r["x_id"] >= 3000000 for r in rows)  # region id space
    # WHERE can reference hops and b-side columns too
    none = engine.execute(
        "MATCH (c:customer)-[*1..2]->(x {label: 'region'}) "
        "WHERE hops = 1 RETURN c, x, hops"
    ).collect()
    assert none == []  # regions are never 1 hop from a customer


def test_cypher_varlength_order_skip_limit(engine):
    """ORDER BY / SKIP / LIMIT on the var-length form, plus type
    alternation `[:A|B*..]`."""
    rows = engine.execute(
        "MATCH (c:customer)-[:located_in|part_of*1..2]->(x {label: 'region'}) "
        "WHERE c.id <= 20 RETURN c, x, hops ORDER BY c DESC, x SKIP 1 LIMIT 5"
    ).collect()
    assert len(rows) == 5
    # each customer reaches exactly one region, so the ordered id stream
    # is 20,19,... and SKIP 1 LIMIT 5 yields precisely 19..15
    assert [r["c_id"] for r in rows] == [19, 18, 17, 16, 15]


def test_cypher_varlength_incoming_direction(engine):
    """`(x)<-[*1..2]-(c)` normalizes onto the outgoing matcher with
    endpoints swapped: same rows as the outgoing spelling, same column
    names bound to the pattern's own variables."""
    fwd = engine.execute(
        "MATCH (c:customer)-[*1..2]->(x {label: 'region'}) "
        "WHERE c.id <= 20 RETURN c, x, hops"
    ).collect()
    rev = engine.execute(
        "MATCH (x {label: 'region'})<-[*1..2]-(c:customer) "
        "WHERE c.id <= 20 RETURN c, x, hops"
    ).collect()
    key = lambda r: (r["c_id"], r["x_id"], r["hops"])
    assert sorted(map(key, fwd)) == sorted(map(key, rev)) and fwd


# -- Cypher write verbs (`query_router/src/cypher.rs:98,114,168`) ----------


def test_cypher_create_node_and_edge(engine):
    engine.execute("CREATE (n:gadget {id: 9100001})")
    engine.execute("CREATE (m:gadget {id: 9100002})")
    engine.execute(
        "CREATE (a {id: 9100001})-[:linked {weight: 3.5}]->(b {id: 9100002})"
    )
    nbrs = engine.execute("NEIGHBORS '9100001'").collect()
    assert any(
        r["neighbor_id"] == 9100002 and r["edge_type"] == "linked" for r in nbrs
    )


def test_cypher_merge_binds_then_creates(engine):
    # self-sufficient: create the node this test matches (don't depend on
    # another test's leftovers surviving selection filters)
    engine.execute("NODE 9100060 gadget")
    try:
        first = engine.execute("MERGE (n:gadget {id: 9100060})").collect()[0]
        assert first["status"] == "matched"
        second = engine.execute("MERGE (n:widget {id: 9100050})").collect()[0]
        assert second["status"] == "created"
        assert engine.execute("MERGE (n:widget {id: 9100050})").collect()[0][
            "status"
        ] == "matched"
    finally:
        engine.execute("NODE DELETE 9100060")
        engine.execute("NODE DELETE 9100050")


def test_cypher_delete_requires_detach(engine):
    import pytest as _pytest

    engine.execute("CREATE (n:doomed {id: 9100010})")
    engine.execute("CREATE (m:doomed {id: 9100011})")
    engine.execute("CREATE (a {id: 9100010})-[:tie]->(b {id: 9100011})")
    with _pytest.raises(ValueError):
        engine.execute("MATCH (n:doomed) WHERE id = 9100010 DELETE n")
    engine.execute("MATCH (n:doomed) DETACH DELETE n")
    remaining = engine._nodes.filter("label = 'doomed'").count()
    assert remaining == 0


def test_cypher_delete_edge(engine):
    engine.execute("CREATE (n:evar {id: 9100020})")
    engine.execute("CREATE (m:evar {id: 9100021})")
    engine.execute("CREATE (a {id: 9100020})-[:cut]->(b {id: 9100021})")
    out = engine.execute("MATCH (a)-[r:cut]->(b) DELETE r").collect()[0]
    assert out["deleted_edges"] == 1
    assert engine._edges.filter("edge_type = 'cut'").count() == 0


# -- mutation APIs ---------------------------------------------------------


def test_node_label_mutations(engine):
    engine.execute("NODE 9200001 alpha")
    engine.update_node(9200001, "beta")
    engine.add_label(9200001, "gamma")
    assert engine.get_labels(9200001) == ["beta", "gamma"]
    engine.remove_label(9200001, "gamma")
    assert engine.get_labels(9200001) == ["beta"]


def test_edge_update_delete(engine):
    engine.execute("NODE 9200010")
    engine.execute("NODE 9200011")
    engine.execute("EDGE 9200010 9200011 rel 1.0")
    engine.update_edge(9200010, 9200011, edge_type="rel", weight=9.0)
    w = engine._edges.filter(
        "src = 9200010 AND dst = 9200011 AND edge_type = 'rel'"
    ).collect()[0]["weight"]
    assert w == 9.0
    engine.delete_edge(9200010, 9200011, "rel")
    assert (
        engine._edges.filter("src = 9200010 AND dst = 9200011").count() == 0
    )


def test_embedding_mutations(engine):
    vec = "[" + ",".join(["0.25"] * 64) + "]"
    engine.execute(f"EMBED 'mut:1' {vec}")
    engine.update_embedding_metadata("mut:1", source="test", rev="2")
    assert engine.get_embedding_metadata("mut:1") == {"source": "test", "rev": "2"}
    engine.update_embedding_metadata("mut:1", rev="3")
    assert engine.get_embedding_metadata("mut:1")["rev"] == "3"
    engine.delete_embedding("mut:1")
    assert engine._embeddings.filter("key = 'mut:1'").count() == 0
    assert engine.get_embedding_metadata("mut:1") == {}


def test_entity_lifecycle(engine):
    vec = "[" + ",".join(["0.1"] * 64) + "]"
    engine.execute("NODE 9200020 entity")
    engine.execute("NODE 9200021 entity")
    engine.execute("EDGE 9200020 9200021 knows 1.0")
    engine.execute("EDGE 9200021 9200020 knows 1.0")
    engine.execute(f"EMBED '9200020' {vec}")
    engine.disconnect_entities(9200020, 9200021)
    assert (
        engine._edges.filter(
            "(src = 9200020 AND dst = 9200021) OR (src = 9200021 AND dst = 9200020)"
        ).count()
        == 0
    )
    engine.update_entity(9200020, "renamed")
    assert engine.get_labels(9200020) == ["renamed"]
    engine.delete_entity(9200020)
    assert engine._nodes.filter("id = 9200020").count() == 0
    assert engine._embeddings.filter("key = '9200020'").count() == 0


def test_alter_table(engine):
    engine.execute("CREATE TABLE alt_t (name TEXT, age INT)")
    engine.execute("INSERT INTO alt_t VALUES ('x', 1)")
    engine.execute("ALTER TABLE alt_t ADD COLUMN score FLOAT")
    row = engine.execute("SELECT * FROM alt_t").collect()[0]
    assert row["score"] is None and row["name"] == "x"
    engine.execute("ALTER TABLE alt_t RENAME COLUMN score TO points")
    assert "points" in engine.execute("SELECT * FROM alt_t").columns
    engine.execute("ALTER TABLE alt_t DROP COLUMN points")
    assert engine.execute("SELECT * FROM alt_t").columns == ["name", "age"]
    engine.execute("DROP TABLE alt_t")


# -- reference parser-surface verbs added in round 2 ------------------------


def test_node_edge_subcommands(engine):
    r = engine.execute("NODE CREATE person {name: 'ada'}").collect()[0]
    nid = r["id"]
    assert r["label"] == "person"
    assert engine.execute(f"NODE GET {nid}").collect()[0]["label"] == "person"
    listed = engine.execute("NODE LIST person LIMIT 5").collect()
    assert any(row["id"] == nid for row in listed)
    r2 = engine.execute("NODE CREATE person").collect()[0]
    assert r2["id"] == nid + 1
    engine.execute(f"EDGE CREATE {nid} -> {r2['id']} : knows {{weight: 2.5}}")
    edges = engine.execute("EDGE LIST knows LIMIT 10").collect()
    assert any(e["src"] == nid and e["weight"] == 2.5 for e in edges)
    engine.execute(f"EDGE DELETE {nid} -> {r2['id']} : knows")
    assert not any(
        e["src"] == nid
        for e in engine.execute("EDGE LIST knows LIMIT 1000").collect()
    )
    engine.execute(f"NODE DELETE {r2['id']}")
    assert engine.execute(f"NODE GET {r2['id']}").count() == 0


def test_show_count_embeddings(engine):
    n = engine.execute("COUNT EMBEDDINGS").collect()[0]["count"]
    assert n > 0
    shown = engine.execute("SHOW EMBEDDINGS LIMIT 3").collect()
    assert len(shown) == 3 and shown[0]["dimension"] == 64
    idx = engine.execute("SHOW VECTOR INDEX").collect()[0]
    assert idx["vectors"] == n and idx["dimension"] == 64


def test_sql_update_delete(engine):
    engine.execute("CREATE TABLE dml_t (name TEXT, score INT)")
    engine.execute("INSERT INTO dml_t VALUES ('a', 1), ('b', 2), ('c', 3)")
    engine.execute("UPDATE dml_t SET score = score * 10 WHERE name <> 'a'")
    rows = {r["name"]: r["score"]
            for r in engine.execute("SELECT * FROM dml_t").collect()}
    assert rows == {"a": 1, "b": 20, "c": 30}
    r = engine.execute("DELETE FROM dml_t WHERE score >= 20").collect()[0]
    assert r["deleted"] == 2
    assert engine.execute("SELECT * FROM dml_t").count() == 1
    engine.execute("DROP TABLE dml_t")


def test_entity_verbs(engine):
    vec = "[" + ", ".join(["0.5"] * 64) + "]"
    engine.execute(f"ENTITY CREATE 'user:ada' {{name: 'ada', label: person}} EMBEDDING {vec}")
    got = engine.execute("ENTITY GET 'user:ada'").collect()[0]
    assert got["label"] == "person" and got["has_embedding"] is True
    engine.execute("ENTITY UPDATE 'user:ada' {name: 'ada2', label: person}")
    assert "ada2" in engine.execute("ENTITY GET 'user:ada'").collect()[0]["props"]
    engine.execute("ENTITY CREATE 'user:bob' {label: person}")
    engine.execute("ENTITY CONNECT 'user:ada' -> 'user:bob' : follows")
    a, b = engine._entity_id("user:ada"), engine._entity_id("user:bob")
    assert engine._edges.filter(
        f"src = {a} AND dst = {b} AND edge_type = 'follows'").count() == 1
    n = engine.execute(
        "ENTITY BATCH CREATE [{key: 'user:c1', label: person}, {key: 'user:c2'}]"
    ).collect()[0]["created"]
    assert n == 2
    engine.execute("ENTITY DELETE 'user:ada'")
    assert engine.execute("ENTITY GET 'user:ada'").count() == 0
    assert engine._embeddings.filter("key = 'user:ada'").count() == 0


def test_graph_algorithm_verbs(engine):
    pr = engine.execute("GRAPH PAGERANK ITERATIONS 3 EDGE TYPE located_in")
    rows = pr.limit(5).collect()
    assert {"id", "pr"} <= set(pr.columns) and len(rows) > 0
    lv = engine.execute("GRAPH LOUVAIN COMMUNITIES PASSES 2 EDGE TYPE located_in")
    assert {"id", "community"} <= set(lv.columns)
    lp = engine.execute("GRAPH LABEL PROPAGATION ITERATIONS 2 EDGE TYPE located_in")
    assert lp.limit(1).count() == 1
    cl = engine.execute("GRAPH CLOSENESS CENTRALITY EDGE TYPE located_in")
    assert {"source", "closeness"} <= set(cl.columns)


def test_graph_index_verbs(engine):
    r = engine.execute("GRAPH INDEX CREATE ON NODE PROPERTY label").collect()[0]
    assert r["status"] == "created"
    engine.execute("GRAPH INDEX CREATE ON LABEL")
    shown = engine.execute("GRAPH INDEX SHOW ON NODE").collect()
    assert {row["index"] for row in shown} == {"node:label"}
    engine.execute("GRAPH INDEX DROP ON NODE PROPERTY label")


def test_constraint_verbs(engine):
    r = engine.execute(
        "CONSTRAINT CREATE label_exists ON NODE PROPERTY label EXISTS"
    ).collect()[0]
    assert r["status"] == "created"
    listed = engine.execute("CONSTRAINT LIST").collect()
    assert any(row["constraint"] == "label_exists" for row in listed)
    got = engine.execute("CONSTRAINT GET label_exists").collect()[0]
    assert got["type"] == "exists"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        # ids collide across created nodes -> UNIQUE on label must fail
        engine.execute("CONSTRAINT CREATE lbl_unique ON NODE PROPERTY label UNIQUE")
    engine.execute("CONSTRAINT DROP label_exists")
    assert not engine.execute("CONSTRAINT LIST").collect()


def test_batch_verbs(engine):
    r = engine.execute(
        "BATCH CREATE NODES [{id: 9300001, labels: [robot]}, {id: 9300002, label: robot}]"
    ).collect()[0]
    assert r["created"] == 2
    engine.execute(
        "BATCH CREATE EDGES [{from: 9300001, to: 9300002, type: pings, weight: 0.5}]"
    )
    assert engine._edges.filter("edge_type = 'pings'").count() == 1
    engine.execute("BATCH UPDATE NODES [{id: 9300001, label: droid}]")
    assert engine.execute("NODE GET 9300001").collect()[0]["label"] == "droid"
    engine.execute("BATCH DELETE EDGES [9300001, 9300002]")
    assert engine._edges.filter("edge_type = 'pings'").count() == 0
    engine.execute("BATCH DELETE NODES [9300001, 9300002]")
    assert engine.execute("NODE GET 9300001").count() == 0


def test_aggregate_verbs(engine):
    r = engine.execute(
        "AGGREGATE EDGE PROPERTY weight AVG BY TYPE located_in"
    ).collect()[0]
    assert r["avg_weight"] == 1.0
    c = engine.execute(
        "AGGREGATE NODE PROPERTY id COUNT BY LABEL nation"
    ).collect()[0]
    assert c["count_id"] == 25


def test_embed_subcommands(engine):
    vec = "[" + ", ".join(["0.25"] * 64) + "]"
    engine.execute(f"EMBED STORE 'doc:e1' {vec}")
    got = engine.execute("EMBED GET 'doc:e1'").collect()
    assert len(got) == 1 and len(got[0]["embedding"]) == 64
    r = engine.execute("EMBED BUILD INDEX").collect()[0]
    assert r["status"] == "built" and r["vectors"] > 0
    pair_a = "(" + "'doc:b1', [" + ", ".join(["0.1"] * 64) + "])"
    pair_b = "(" + "'doc:b2', [" + ", ".join(["0.2"] * 64) + "])"
    n = engine.execute(
        f"EMBED BATCH [{pair_a}, {pair_b}] INTO mycoll"
    ).collect()[0]["stored"]
    assert n == 2
    engine.execute("EMBED DELETE 'doc:e1'")
    assert engine.execute("EMBED GET 'doc:e1'").count() == 0


def test_similar_full_syntax(engine):
    got = engine.execute("SIMILAR 'doc:b1' LIMIT 3 COSINE").collect()
    # doc:b2 is colinear (cosine 1.0); other colinear session vectors may
    # tie within float ULPs, so assert membership at the top, not rank 1
    assert len(got) == 3 and "doc:b2" in {r["key"] for r in got[:2]}
    vec = "[" + ", ".join(["0.2"] * 64) + "]"
    by_vec = engine.execute(f"SIMILAR {vec} LIMIT 2 EUCLIDEAN").collect()
    assert by_vec[0]["key"] == "doc:b2"  # exact match, distance 0
    in_coll = engine.execute("SIMILAR 'doc:b1' LIMIT 5 IN mycoll").collect()
    assert {r["key"] for r in in_coll} == {"doc:b2"}
    filtered = engine.execute(
        "SIMILAR 'doc:b1' LIMIT 5 WHERE key LIKE 'doc:%'"
    ).collect()
    assert all(r["key"].startswith("doc:") for r in filtered)


@pytest.mark.usefixtures("small_graph")
def test_neighbors_direction_type(engine):
    out = engine.execute("NEIGHBORS 9400001 OUTGOING : links").collect()
    assert {r["neighbor_id"] for r in out} == {9400002}
    inc = engine.execute("NEIGHBORS 9400001 INCOMING : links").collect()
    assert {r["neighbor_id"] for r in inc} == {9400003}
    both = engine.execute("NEIGHBORS 9400001 BOTH : links LIMIT 10").collect()
    assert {r["neighbor_id"] for r in both} == {9400002, 9400003}


@pytest.mark.usefixtures("small_graph")
def test_neighbors_by_similarity(engine):
    v1 = "[" + ", ".join(["0.9"] * 64) + "]"
    # NOT colinear with v1 (constant vectors all have cosine 1.0 with each
    # other) — alternate signs so the direction genuinely differs
    v2 = "[" + ", ".join(["0.9", "-0.9"] * 32) + "]"
    engine.execute(f"EMBED '9400001' {v1}")
    engine.execute(f"EMBED '9400002' {v1}")
    engine.execute(f"EMBED '9400003' {v2}")
    out = engine.execute(
        "NEIGHBORS 9400001 BOTH : links BY SIMILARITY LIMIT 2"
    ).collect()
    assert out[0]["neighbor_id"] == 9400002  # identical vector ranks first


@pytest.mark.usefixtures("small_graph")
def test_path_algorithms(engine):
    sp = engine.execute("PATH SHORTEST 9400002 -> 9400003 MAX 3").collect()
    assert sp and sp[0]["dist"] == 2
    wp = engine.execute("PATH WEIGHTED 9400002 -> 9400003 MAX 3").collect()
    assert wp and wp[0]["dist"] == 2.0
    legacy = engine.execute("PATH 9400002 TO 9400003 MAX 3").collect()
    assert legacy and legacy[0]["dist"] == 2


def test_path_matches_bfs_levels(spark):
    """PATH SHORTEST and ALL give what `bfs_levels` from `a` says of `b`
    at every MAX, over fixture pairs of each node kind, `a == b`, unknown
    nodes, a session edge and a deleted fixture edge. One multi-source
    `bfs_levels` walk at depth 4 is the reference for every MAX ≤ 4: BFS
    levels are exact, so a shallower walk is the same rows cut at MAX."""
    from neumann_spark.engine import NeumannSparkEngine
    from neumann_spark.graph.model import (NATION_BASE, REGION_BASE, SUPPLIER_BASE,
                                           undirected_edges)
    from neumann_spark.graph.traversal import bfs_levels
    from neumann_spark.session import local_df

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("NODE 9100001 pathtest")
    eng.execute("EDGE CREATE 9100001 -> 1 : knows")
    eng.execute(f"EDGE DELETE {SUPPLIER_BASE + 1} -> 5")
    pairs = [(1, 1), (424242, 424242), (1, 424242),
             (NATION_BASE + 1, REGION_BASE + 1), (1, REGION_BASE + 4),
             (REGION_BASE, 5), (17, 5), (17, 2), (SUPPLIER_BASE + 1, 5),
             (9100001, 5)]
    sources = sorted({a for a, _ in pairs})
    walk = bfs_levels(undirected_edges(eng._edges), local_df(
        spark, [(a, a) for a in sources], "source bigint, node bigint"), 4)
    dist = {(r["source"], r["node"]): r["dist"] for r in walk.collect()}
    assert {dist.get(p) for p in pairs} == {None, 0, 1, 2, 3, 4}
    for a, b in pairs:
        d = dist.get((a, b))
        for max_d in range(1, 5):
            want = [(b, d)] if d is not None and d <= max_d else []
            for algo, col in (("SHORTEST", "dist"), ("ALL", "hops")):
                out = eng.execute(f"PATH {algo} {a} -> {b} MAX {max_d}")
                assert out.columns == ["node", col]
                assert [tuple(r) for r in out.collect()] == want, (algo, a, b, max_d)
    assert eng.execute("PATH 17 -> 5 MAX 4 LIMIT 0").collect() == []
    assert [tuple(r) for r in eng.execute("PATH 17 -> 5 MAX 4 LIMIT 1").collect()] \
        == [(5, 4)]


def test_path_runs_one_job_per_two_hops(spark):
    """A point PATH collects the edges incident to both frontiers once per
    round: `MAX 2` is one Spark job and `MAX 4` two (`bfs_levels` ran 9
    and 17), and `a == b` runs none."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    for cmd, budget in (("PATH 1 -> 17 MAX 2", 1), ("PATH 17 -> 5 MAX 4", 2),
                        ("PATH ALL 1 -> 424242 MAX 4", 2), ("PATH 5 -> 5 MAX 4", 0)):
        _, jobs = jobs_run(spark, lambda: eng.execute(cmd).collect())
        assert jobs <= budget, (cmd, jobs)


def test_find_full_syntax(engine):
    hubs = engine.execute("FIND NODE hub").collect()
    assert all(r["data"] == "hub" for r in hubs) and len(hubs) >= 1
    links = engine.execute("FIND EDGE links LIMIT 1").collect()
    assert len(links) == 1 and links[0]["data"] == "links"
    rows = engine.execute(
        "FIND ROWS FROM nation WHERE n_regionkey = 0 RETURN n_name LIMIT 2"
    ).collect()
    assert len(rows) == 2 and rows[0]["n_name"]
    ret = engine.execute("FIND NODE spoke RETURN id LIMIT 5").collect()
    assert set(ret[0].asDict()) == {"id"}


def test_create_drop_index(engine):
    r = engine.execute("CREATE INDEX idx_bal ON customer(c_acctbal)").collect()[0]
    assert r["status"] == "created"
    assert "sql:idx_bal" in engine._graph_indexes
    engine.execute("DROP INDEX idx_bal")
    assert "sql:idx_bal" not in engine._graph_indexes


def test_samples_dialect(engine):
    """The spellings used by the reference's examples/ and samples/
    knowledge-base.nql script."""
    r = engine.execute("NODE CREATE person name='sample', role='dev'").collect()[0]
    nid = r["id"]
    assert r["label"] == "person"
    r2 = engine.execute("NODE CREATE person name='peer'").collect()[0]
    engine.execute(f"EDGE CREATE {nid} -> {r2['id']} reports_to")
    listed = engine.execute("NODE QUERY person LIMIT 100").collect()
    assert any(row["id"] == nid for row in listed)
    tabs = {row["table"] for row in engine.execute("LIST TABLES").collect()}
    assert "customer" in tabs
    n = engine.execute("COUNT region").collect()[0]["count"]
    assert n == 5
    pr = engine.execute("PAGERANK EDGE_TYPE reports_to ITERATIONS 2")
    assert {"id", "pr"} <= set(pr.columns)
    lv = engine.execute("LOUVAIN EDGE_TYPE reports_to PASSES 1")
    assert {"id", "community"} <= set(lv.columns)
    vec = "[" + ", ".join(["0.3"] * 64) + "]"
    top = engine.execute(f"SIMILAR {vec} LIMIT 3 METRIC COSINE").collect()
    assert len(top) == 3
    engine.execute(f"NODE DELETE {nid}")
    engine.execute(f"NODE DELETE {r2['id']}")


def test_integration_dialect(engine):
    """The spellings used by the reference's integration_tests/ suites."""
    engine.execute("CREATE TABLE itests (id:INT, name:TEXT, price:FLOAT)")
    engine.execute("INSERT itests id=1, name='Widget', price=9.5")
    engine.execute("INSERT INTO itests VALUES (2, 'Gadget', 19.5)")
    rows = {r["id"]: r["name"] for r in engine.execute("SELECT itests").collect()}
    assert rows == {1: "Widget", 2: "Gadget"}
    vec = ", ".join(["0.4"] * 64)
    engine.execute(f"EMBED itest:1 {vec}")  # bare form, no brackets
    got = engine.execute("EMBED GET 'itest:1'").collect()
    assert len(got) == 1 and len(got[0]["embedding"]) == 64
    top = engine.execute('FIND docs SIMILAR TO "itest:1" TOP 3').collect()
    assert len(top) == 3 and all(r["key"] != "itest:1" for r in top)
    r = engine.execute("DELETE itests WHERE id = 1").collect()[0]
    assert r["deleted"] == 1
    out = engine.execute("NEIGHBORS 9000001 OUT").collect()
    assert all(r["neighbor_id"] != 9000001 for r in out)
    engine.execute("DROP TABLE itests")


def test_cypher_node_only_match(engine):
    rows = engine.execute(
        "MATCH (n:nation) RETURN n ORDER BY n_id DESC LIMIT 3"
    ).collect()
    assert len(rows) == 3 and rows[0]["n_id"] > rows[2]["n_id"]
    where = engine.execute(
        "MATCH (n:nation) WHERE n_id = 2000003 RETURN n, n_label"
    ).collect()
    assert len(where) == 1 and where[0]["n_label"] == "nation"
    skipped = engine.execute(
        "MATCH (n:region) RETURN n ORDER BY n_id SKIP 2 LIMIT 2"
    ).collect()
    assert len(skipped) == 2


def test_cypher_incoming_and_alternation(engine):
    inc = engine.execute(
        "MATCH (n:nation)<-[:located_in]-(c:customer) RETURN c, n LIMIT 5"
    ).collect()
    assert len(inc) == 5 and all(r["n_id"] >= 2_000_000 for r in inc)
    alt = engine.execute(
        "MATCH (x)-[:located_in|part_of]->(y) RETURN x, y, edge_type LIMIT 2000"
    ).collect()
    assert {r["edge_type"] for r in alt} <= {"located_in", "part_of"}
    assert len({r["edge_type"] for r in alt}) == 2


def test_cache_read_subcommands_do_not_invalidate(engine):
    q = "SELECT COUNT(*) AS n FROM supplier"
    a = engine.execute(q)
    engine.execute("NODE GET 1")          # read-only NODE form
    engine.execute("EMBED GET 'doc:1'")   # read-only EMBED form
    engine.execute("CONSTRAINT LIST")     # read-only CONSTRAINT form
    assert engine.execute(q) is a  # cache survived the reads
    engine.execute("NODE 9000044 cachetest")  # shorthand create = write
    assert engine.execute(q) is not a
    # restore shared-fixture state: later tests in this module must not see
    # the probe node (the engine fixture is module-scoped)
    engine.execute("NODE DELETE 9000044")


def test_cache_lru_bound(engine):
    cap = engine.CACHE_MAX
    first = "SELECT 0 AS probe"
    engine.execute(first)
    for i in range(1, cap + 1):  # cap new entries -> first must evict
        engine.execute(f"SELECT {i} AS probe")
    assert len(engine._cache) == cap
    assert first not in engine._cache


_VEC64 = "[" + ", ".join(["0.25"] * 64) + "]"


def test_one_off_reads_run_only_their_plan_jobs(spark):
    """A read run once pays only its own plan: the result is memoized
    but not persisted, so collecting it schedules the same jobs as a
    fresh frame over the same plan (a persisted result would add the
    cache fill's query-stage job to whichever of the two runs first).
    The fresh frame matters: a frame collected twice reuses its
    executed plan's shuffle stages."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute(f"EMBED STORE 'oneoff:1' {_VEC64}")
    for cmd in ("SELECT count(*) AS n FROM nation WHERE n_regionkey = 1",
                "NEIGHBORS 17 OUTGOING",
                "FIND NODES nation",
                "SIMILAR 'oneoff:1' TOP 5",
                f"SIMILAR {_VEC64} TOP 5 EUCLIDEAN"):
        df = eng.execute(cmd)
        _, plain = jobs_run(spark, df.toDF(*df.columns).collect)
        _, jobs = jobs_run(spark, df.collect)
        assert not df.is_cached and jobs == plain, (cmd, jobs, plain)


def test_cache_fills_on_reuse_and_writes_release_it(spark):
    from pyspark import StorageLevel

    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    q = "SELECT count(*) AS n FROM region"
    a = eng.execute(q)
    a.collect()
    assert a.storageLevel == StorageLevel.NONE
    b = eng.execute(q)
    assert b is a and b.is_cached and b.storageLevel != StorageLevel.NONE
    assert b.collect()[0]["n"] == 5
    eng.execute("NODE 9000077 cachefill")
    assert not a.is_cached and a.storageLevel == StorageLevel.NONE
    assert eng.execute(q) is not a


def test_embed_dimension_memo(spark):
    """The store's dimension is read once per `_embeddings` frame: a
    second EMBED STORE runs no job, a wrong dimension still raises, and
    any other reassignment of the store (here `clear_embeddings`) is
    re-read rather than trusted."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute(f"EMBED STORE 'memo:1' {_VEC64}")
    _, jobs = jobs_run(spark, lambda: eng.execute(f"EMBED STORE 'memo:2' {_VEC64}"))
    assert jobs == 0
    with pytest.raises(ValueError, match="store holds 64-d vectors, got 2"):
        eng.execute("EMBED STORE 'memo:3' [1.0, 2.0]")
    eng.clear_embeddings()
    eng.execute("EMBED STORE 'memo:4' [1.0, 2.0, 3.0]")  # empty store: any dim
    with pytest.raises(ValueError, match="store holds 3-d vectors, got 64"):
        eng.execute(f"EMBED STORE 'memo:5' {_VEC64}")
    assert [r["key"] for r in eng.execute("SHOW EMBEDDINGS").collect()] == ["memo:4"]


def test_restore_replaces_a_single_key(spark):
    """Re-storing a key (EMBED, its collection membership, ENTITY props
    and embedding) leaves exactly one row for it; NULL keys survive."""
    from neumann_spark.engine import NeumannSparkEngine
    from neumann_spark.session import local_df

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng._emb_coll = local_df(spark, [(None, "c1")], "key string, collection string")
    vec2 = "[" + ", ".join(["0.5"] * 64) + "]"
    eng.execute(f"EMBED STORE 'dup:1' {_VEC64} IN c1")
    eng.execute(f"EMBED STORE 'dup:1' {vec2} IN c1")
    got = eng.execute("EMBED GET 'dup:1'").collect()
    assert len(got) == 1 and got[0]["embedding"] == [0.5] * 64
    coll = [tuple(r) for r in eng._emb_coll.collect()]
    assert sorted(coll, key=str) == [("dup:1", "c1"), (None, "c1")]
    eng.execute(f"ENTITY CREATE 'dup:e' {{label: person}} EMBEDDING {_VEC64}")
    eng.execute(f"ENTITY UPDATE 'dup:e' {{label: robot}} EMBEDDING {vec2}")
    props = eng._entity_props.filter("key = 'dup:e'").collect()
    assert [r["label"] for r in props] == ["robot"]
    assert eng.execute("EMBED GET 'dup:e'").count() == 1


def test_fk_insert_validation_and_restrict(engine):
    engine.execute("CREATE TABLE fk_users (id INT, name TEXT)")
    engine.execute(
        "CREATE TABLE fk_orders (oid INT, user_id INT, "
        "FOREIGN KEY (user_id) REFERENCES fk_users(id))"
    )
    engine.execute("INSERT INTO fk_users VALUES (1, 'alice'), (2, 'bob')")
    engine.execute("INSERT INTO fk_orders VALUES (10, 1), (11, None)")  # NULL ok
    with pytest.raises(ValueError, match="foreign key violation"):
        engine.execute("INSERT INTO fk_orders VALUES (12, 99)")
    with pytest.raises(ValueError, match="foreign key restrict"):
        engine.execute("DELETE FROM fk_users WHERE id = 1")
    # deleting an unreferenced row is fine
    engine.execute("DELETE FROM fk_users WHERE id = 2")


def test_fk_on_delete_cascade_and_set_null(engine):
    engine.execute("CREATE TABLE fk_p (id INT)")
    engine.execute(
        "CREATE TABLE fk_c1 (cid INT, pid INT REFERENCES fk_p(id) ON DELETE CASCADE)"
    )
    engine.execute(
        "CREATE TABLE fk_c2 (cid INT, pid INT, "
        "FOREIGN KEY (pid) REFERENCES fk_p(id) ON DELETE SET NULL)"
    )
    engine.execute("INSERT INTO fk_p VALUES (1), (2)")
    engine.execute("INSERT INTO fk_c1 VALUES (100, 1), (101, 2)")
    engine.execute("INSERT INTO fk_c2 VALUES (200, 1), (201, 2)")
    engine.execute("DELETE FROM fk_p WHERE id = 1")
    c1 = engine.execute("SELECT * FROM fk_c1").collect()
    assert [(r["cid"], r["pid"]) for r in c1] == [(101, 2)]
    c2 = sorted((r["cid"], r["pid"]) for r in engine.execute(
        "SELECT * FROM fk_c2").collect())
    assert c2 == [(200, None), (201, 2)]


def test_fk_cascade_multilevel_and_self_ref(engine):
    # grandchild chain: deleting the root cascades through the middle table
    engine.execute("CREATE TABLE fk_g0 (id INT)")
    engine.execute(
        "CREATE TABLE fk_g1 (id INT, p INT REFERENCES fk_g0(id) ON DELETE CASCADE)"
    )
    engine.execute(
        "CREATE TABLE fk_g2 (id INT, p INT REFERENCES fk_g1(id) ON DELETE CASCADE)"
    )
    engine.execute("INSERT INTO fk_g0 VALUES (1), (2)")
    engine.execute("INSERT INTO fk_g1 VALUES (10, 1), (11, 2)")
    engine.execute("INSERT INTO fk_g2 VALUES (100, 10), (101, 11)")
    engine.execute("DELETE FROM fk_g0 WHERE id = 1")
    assert [r["id"] for r in engine.execute("SELECT * FROM fk_g1").collect()] == [11]
    assert [r["id"] for r in engine.execute("SELECT * FROM fk_g2").collect()] == [101]
    # self-referential chain: 1 <- 2 <- 3; deleting 1 takes the whole chain
    engine.execute(
        "CREATE TABLE fk_tree (id INT, parent INT "
        "REFERENCES fk_tree(id) ON DELETE CASCADE)"
    )
    engine.execute(
        "INSERT INTO fk_tree VALUES (1, None), (2, 1), (3, 2), (9, None)"
    )
    engine.execute("DELETE FROM fk_tree WHERE id = 1")
    left = sorted(r["id"] for r in engine.execute("SELECT * FROM fk_tree").collect())
    assert left == [9]


def test_split_top_level():
    from neumann_spark.engine import NeumannSparkEngine

    split = NeumannSparkEngine._split_top_level
    assert split("a = 1, b = 2") == ["a = 1", "b = 2"]
    assert split("v = CASE WHEN id IN (1, 2) THEN 0 ELSE v END, id = id + 1") == [
        "v = CASE WHEN id IN (1, 2) THEN 0 ELSE v END",
        "id = id + 1",
    ]
    assert split("s = concat('a,b', x), t = 'y,z'") == [
        "s = concat('a,b', x)",
        "t = 'y,z'",
    ]
    assert split("one = 1") == ["one = 1"]
    # CREATE TABLE column-list duties (the same helper serves both callers)
    assert split("id INT, FOREIGN KEY (a, b) REFERENCES t(x, y)") == [
        "id INT",
        "FOREIGN KEY (a, b) REFERENCES t(x, y)",
    ]
    assert split("a INT,") == ["a INT"]  # trailing comma tolerated
    # backslash-escaped quote inside a literal must not end the string
    assert split(r"s = 'a\'b, c', x = 1") == [r"s = 'a\'b, c'", "x = 1"]


def test_facade_where_between_in_case(engine):
    """WHERE-dialect parity with the reference's expression grammar
    (`neumann_parser/src/expr.rs:7-18`): BETWEEN, IN-lists, and CASE work
    in every facade verb that takes WHERE."""
    # BETWEEN on FIND NODES
    rows = engine.execute(
        "FIND NODES customer WHERE id BETWEEN 5 AND 8 RETURN id"
    ).collect()
    assert sorted(r["id"] for r in rows) == [5, 6, 7, 8]
    # IN-list on FIND ROWS
    rows = engine.execute(
        "FIND ROWS region WHERE r_regionkey IN (1, 3) RETURN r_regionkey"
    ).collect()
    assert sorted(r["r_regionkey"] for r in rows) == [1, 3]
    # CASE (with IN-list commas inside) in UPDATE SET + BETWEEN in WHERE
    engine.execute("CREATE TABLE wc_t (id INT, v INT)")
    engine.execute("INSERT INTO wc_t VALUES (1, 10), (2, 20), (3, 30)")
    engine.execute(
        "UPDATE wc_t SET v = CASE WHEN id IN (1, 2) THEN 0 ELSE v END "
        "WHERE id BETWEEN 2 AND 3"
    )
    got = sorted(
        (r["id"], r["v"]) for r in engine.execute("SELECT * FROM wc_t").collect()
    )
    assert got == [(1, 10), (2, 0), (3, 30)]
    # multi-assignment SET still splits correctly alongside a CASE
    engine.execute(
        "UPDATE wc_t SET v = CASE WHEN id IN (2, 3) THEN 7 ELSE v END, "
        "id = id + 10 WHERE id IN (2, 3)"
    )
    got = sorted(
        (r["id"], r["v"]) for r in engine.execute("SELECT * FROM wc_t").collect()
    )
    assert got == [(1, 10), (12, 7), (13, 7)]
    # DELETE with IN-list
    engine.execute("DELETE FROM wc_t WHERE id IN (12, 13)")
    assert engine.execute("SELECT * FROM wc_t").count() == 1
    # Cypher MATCH WHERE with BETWEEN
    rows = engine.execute(
        "MATCH (n:region) WHERE n.id BETWEEN 3000001 AND 3000003 RETURN n"
    ).collect()
    assert sorted(r["n_id"] for r in rows) == [3000001, 3000002, 3000003]
    engine.execute("DROP TABLE wc_t")


def test_fk_cascade_restrict_is_atomic(engine):
    """A RESTRICT discovered deep in a cascade chain must abort the whole
    DELETE with no table mutated (parent-[CASCADE]->child-[RESTRICT]->
    grandchild)."""
    engine.execute("CREATE TABLE fka_p (id INT)")
    engine.execute(
        "CREATE TABLE fka_c (id INT, p INT REFERENCES fka_p(id) ON DELETE CASCADE)"
    )
    engine.execute(
        "CREATE TABLE fka_g (id INT, c INT REFERENCES fka_c(id) ON DELETE RESTRICT)"
    )
    engine.execute("INSERT INTO fka_p VALUES (1)")
    engine.execute("INSERT INTO fka_c VALUES (10, 1)")
    engine.execute("INSERT INTO fka_g VALUES (100, 10)")
    with pytest.raises(ValueError, match="foreign key restrict"):
        engine.execute("DELETE FROM fka_p WHERE id = 1")
    assert engine.execute("SELECT * FROM fka_p").count() == 1
    assert engine.execute("SELECT * FROM fka_c").count() == 1
    assert engine.execute("SELECT * FROM fka_g").count() == 1


def test_fk_set_null_self_ref_delete(engine):
    """Self-referential SET_NULL must not resurrect doomed rows: the
    survivor set comes from the pristine snapshot, never from re-filtering
    the predicate after the cascade nulled its column."""
    engine.execute(
        "CREATE TABLE fksn (id INT, parent INT "
        "REFERENCES fksn(id) ON DELETE SET NULL)"
    )
    engine.execute("INSERT INTO fksn VALUES (1, 1), (2, 1), (3, None)")
    engine.execute("DELETE FROM fksn WHERE parent = 1")
    left = [
        (r["id"], r["parent"])
        for r in engine.execute("SELECT * FROM fksn").collect()
    ]
    assert left == [(3, None)]


def test_cursor_token_pagination(engine):
    token = engine.open_cursor("SELECT * FROM nation", page_size=10)
    seen = []
    while token is not None:
        page, token = engine.fetch_page(token)
        seen.extend(r["n_nationkey"] for r in page.collect())
    assert len(seen) == 25 and len(set(seen)) == 25


def test_cursor_token_expiry(engine, monkeypatch):
    token = engine.open_cursor("SELECT * FROM region", page_size=2, ttl_secs=60)
    real_now = engine._now()
    monkeypatch.setattr(type(engine), "_now", staticmethod(lambda: real_now + 61))
    with pytest.raises(ValueError, match="expired"):
        engine.fetch_page(token)
    with pytest.raises(ValueError, match="invalid cursor token"):
        engine.fetch_page("garbage!!")


def test_cursor_clamps_page_size_and_ttl(engine, monkeypatch):
    import base64
    import json

    # page_size=0 would never advance; engine clamps to >= 1 so the drain
    # terminates
    token = engine.open_cursor("SELECT * FROM region", page_size=0)
    seen = 0
    while token is not None:
        page, token = engine.fetch_page(token)
        seen += page.count()
    assert seen == 5
    # negative TTL clamps to 0 at open (not silently negative, not MAX)
    t2 = engine.open_cursor("SELECT * FROM region", ttl_secs=-5)
    pad2 = "=" * (-len(t2) % 4)
    assert json.loads(base64.urlsafe_b64decode(t2 + pad2))["ttl_secs"] == 0
    # a client-edited token can't extend TTL past MAX_TTL_SECS: decode,
    # inflate ttl + last_accessed_at, re-encode — fetch must still expire
    token = engine.open_cursor("SELECT * FROM region", page_size=2)
    pad = "=" * (-len(token) % 4)
    st = json.loads(base64.urlsafe_b64decode(token + pad))
    st["ttl_secs"] = 10**9
    st["last_accessed_at"] = int(engine._now()) + 10**9
    forged = base64.urlsafe_b64encode(
        json.dumps(st, sort_keys=True).encode()).rstrip(b"=").decode()
    real_now = engine._now()
    monkeypatch.setattr(
        type(engine), "_now",
        staticmethod(lambda: real_now + engine.MAX_TTL_SECS + 61))
    with pytest.raises(ValueError, match="expired"):
        engine.fetch_page(forged)


def test_cursor_forged_negative_offset_clamped(engine):
    import base64
    import json

    token = engine.open_cursor("SELECT * FROM region", page_size=3)
    pad = "=" * (-len(token) % 4)
    st = json.loads(base64.urlsafe_b64decode(token + pad))
    st["offset"] = -5
    forged = base64.urlsafe_b64encode(
        json.dumps(st, sort_keys=True).encode()).rstrip(b"=").decode()
    page, nxt = engine.fetch_page(forged)  # clamps to 0 instead of crashing
    assert page.count() == 3 and nxt is not None


# -- PRIMARY KEY / UNIQUE / NOT NULL / DEFAULT enforcement
#    (`relational_engine/src/lib.rs:235-258` Constraint; violations
#    `:1397-1432`) and FK ON UPDATE / SET DEFAULT actions (`:176,195`) ------


def test_pk_unique_notnull_default(engine):
    engine.execute(
        "CREATE TABLE tc_p (id INT PRIMARY KEY, name TEXT UNIQUE, "
        "grp INT DEFAULT 7, note TEXT NOT NULL)")
    engine.execute("INSERT INTO tc_p VALUES (1, 'a', 1, 'x'), (2, 'b', 2, 'y')")
    with pytest.raises(ValueError, match="primary key violation"):
        engine.execute("INSERT INTO tc_p VALUES (1, 'c', 3, 'z')")
    with pytest.raises(ValueError, match="unique violation"):
        engine.execute("INSERT INTO tc_p VALUES (3, 'a', 3, 'z')")
    with pytest.raises(ValueError, match="not-null violation"):
        engine.execute("INSERT INTO tc_p VALUES (4, 'd', 4, None)")
    # duplicate inside one batch is also a violation
    with pytest.raises(ValueError, match="primary key violation"):
        engine.execute("INSERT INTO tc_p VALUES (5, 'e', 5, 'q'), (5, 'f', 6, 'r')")
    # a rejected batch must not be partially applied
    assert engine.execute("SELECT * FROM tc_p").count() == 2
    # keyed insert: unsupplied grp takes its DEFAULT
    engine.execute("INSERT tc_p id=9, name='z', note='w'")
    rows = {r["id"]: r for r in engine.execute("SELECT * FROM tc_p").collect()}
    assert rows[9]["grp"] == 7
    engine.execute("DROP TABLE tc_p")


def test_table_level_composite_pk(engine):
    engine.execute(
        "CREATE TABLE tc_comp (a INT, b INT, v TEXT, PRIMARY KEY (a, b))")
    engine.execute("INSERT INTO tc_comp VALUES (1, 1, 'x'), (1, 2, 'y')")
    with pytest.raises(ValueError, match="primary key violation"):
        engine.execute("INSERT INTO tc_comp VALUES (1, 2, 'z')")
    with pytest.raises(ValueError, match="not-null violation"):
        engine.execute("INSERT INTO tc_comp VALUES (None, 3, 'z')")
    # UNIQUE (SQL semantics): NULL tuples are exempt — composite UNIQUE
    engine.execute(
        "CREATE TABLE tc_uq (a INT, b INT, CONSTRAINT u1 UNIQUE (a, b))")
    engine.execute("INSERT INTO tc_uq VALUES (1, None), (1, None)")
    assert engine.execute("SELECT * FROM tc_uq").count() == 2
    engine.execute("DROP TABLE tc_comp")
    engine.execute("DROP TABLE tc_uq")


def test_fk_on_update_cascade_and_restrict(engine):
    engine.execute("CREATE TABLE tcu_par (id INT PRIMARY KEY)")
    engine.execute(
        "CREATE TABLE tcu_casc (cid INT, pid INT, FOREIGN KEY (pid) "
        "REFERENCES tcu_par(id) ON DELETE CASCADE ON UPDATE CASCADE)")
    engine.execute(
        "CREATE TABLE tcu_restr (cid INT, pid INT REFERENCES tcu_par(id) "
        "ON UPDATE RESTRICT)")
    engine.execute("INSERT INTO tcu_par VALUES (1), (2), (3)")
    engine.execute("INSERT INTO tcu_casc VALUES (10, 1), (11, 2), (12, 3)")
    engine.execute("INSERT INTO tcu_restr VALUES (20, 3)")
    engine.execute("UPDATE tcu_par SET id = 100 WHERE id = 1")
    got = {(r["cid"], r["pid"])
           for r in engine.execute("SELECT * FROM tcu_casc").collect()}
    assert got == {(10, 100), (11, 2), (12, 3)}
    with pytest.raises(ValueError, match="foreign key restrict"):
        engine.execute("UPDATE tcu_par SET id = 300 WHERE id = 3")
    # RESTRICT failure is atomic: the cascading child saw no partial write
    got2 = {(r["cid"], r["pid"])
            for r in engine.execute("SELECT * FROM tcu_casc").collect()}
    assert got2 == got
    for t in ("tcu_restr", "tcu_casc", "tcu_par"):
        engine.execute(f"DROP TABLE {t}")


def test_fk_on_update_set_null(engine):
    engine.execute("CREATE TABLE tsn_par (id INT PRIMARY KEY)")
    engine.execute(
        "CREATE TABLE tsn_ch (cid INT, pid INT, FOREIGN KEY (pid) "
        "REFERENCES tsn_par(id) ON UPDATE SET NULL)")
    engine.execute("INSERT INTO tsn_par VALUES (1), (2)")
    engine.execute("INSERT INTO tsn_ch VALUES (10, 1), (11, 2)")
    engine.execute("UPDATE tsn_par SET id = 5 WHERE id = 1")
    got = {(r["cid"], r["pid"])
           for r in engine.execute("SELECT * FROM tsn_ch").collect()}
    assert got == {(10, None), (11, 2)}
    engine.execute("DROP TABLE tsn_ch")
    engine.execute("DROP TABLE tsn_par")


def test_fk_on_delete_set_default(engine):
    engine.execute("CREATE TABLE tsd_par (id INT PRIMARY KEY)")
    engine.execute(
        "CREATE TABLE tsd_ch (cid INT, pid INT DEFAULT 0 "
        "REFERENCES tsd_par(id) ON DELETE SET DEFAULT)")
    engine.execute("INSERT INTO tsd_par VALUES (0), (5)")
    engine.execute("INSERT INTO tsd_ch VALUES (1, 5)")
    engine.execute("DELETE FROM tsd_par WHERE id = 5")
    assert [(r["cid"], r["pid"])
            for r in engine.execute("SELECT * FROM tsd_ch").collect()] == [(1, 0)]
    # a default that does not exist in the surviving parent must raise
    engine.execute("CREATE TABLE tsd_par2 (id INT PRIMARY KEY)")
    engine.execute(
        "CREATE TABLE tsd_ch2 (cid INT, pid INT DEFAULT 99 "
        "REFERENCES tsd_par2(id) ON DELETE SET DEFAULT)")
    engine.execute("INSERT INTO tsd_par2 VALUES (5)")
    engine.execute("INSERT INTO tsd_ch2 VALUES (1, 5)")
    with pytest.raises(ValueError, match="SET DEFAULT"):
        engine.execute("DELETE FROM tsd_par2 WHERE id = 5")
    for t in ("tsd_ch2", "tsd_par2", "tsd_ch", "tsd_par"):
        engine.execute(f"DROP TABLE {t}")


def test_fk_on_update_noop_when_keys_unchanged(engine):
    # assigning a referenced column to ITSELF changes nothing — no action
    # fires even under RESTRICT with referencing children present
    engine.execute("CREATE TABLE tnu_par (id INT PRIMARY KEY, v INT)")
    engine.execute(
        "CREATE TABLE tnu_ch (cid INT, pid INT REFERENCES tnu_par(id) "
        "ON UPDATE RESTRICT)")
    engine.execute("INSERT INTO tnu_par VALUES (1, 10)")
    engine.execute("INSERT INTO tnu_ch VALUES (9, 1)")
    engine.execute("UPDATE tnu_par SET id = id, v = v + 1 WHERE id = 1")
    assert engine.execute("SELECT v FROM tnu_par").collect()[0]["v"] == 11
    engine.execute("DROP TABLE tnu_ch")
    engine.execute("DROP TABLE tnu_par")


def test_graph_constraint_enforced_on_write(engine):
    # write-time validation (`graph_engine/src/lib.rs:3210-3240`:
    # create_node validates constraints on EVERY write, not just at
    # CONSTRAINT CREATE)
    engine.execute("NODE 9100001 cstrlab")
    engine.execute("CONSTRAINT CREATE wc_uniq ON NODE cstrlab PROPERTY id UNIQUE")
    with pytest.raises(ValueError, match="wc_uniq"):
        engine.execute("NODE 9100001 cstrlab")  # duplicate id, same label
    engine.execute("NODE 9100002 cstrlab")      # fresh id passes
    engine.execute("NODE 9100001 otherlab")     # label-scoped: other label ok
    # edge-side: unique src among type wc_t
    engine.execute("EDGE 9100001 9100002 wc_t")
    engine.execute("CONSTRAINT CREATE wc_esrc ON EDGE wc_t PROPERTY src UNIQUE")
    with pytest.raises(ValueError, match="wc_esrc"):
        engine.execute("EDGE 9100001 9100001 wc_t")
    engine.execute("EDGE 9100002 9100001 wc_t")  # different src passes
    # restore shared-fixture state
    engine.execute("CONSTRAINT DROP wc_uniq")
    engine.execute("CONSTRAINT DROP wc_esrc")
    engine.execute("EDGE DELETE 9100001 -> 9100002")
    engine.execute("EDGE DELETE 9100002 -> 9100001")
    for nid in (9100001, 9100002):
        engine.execute(f"NODE DELETE {nid}")


def test_update_enforces_table_constraints(engine):
    # UPDATE obeys the same invariants as INSERT (review finding: the
    # update path must not bypass PK/NOT NULL/FK validation)
    engine.execute("CREATE TABLE upc_t (id INT PRIMARY KEY, v INT NOT NULL)")
    engine.execute("INSERT INTO upc_t VALUES (1, 10), (2, 20)")
    with pytest.raises(ValueError, match="primary key violation"):
        engine.execute("UPDATE upc_t SET id = 1 WHERE id = 2")
    with pytest.raises(ValueError, match="not-null violation"):
        engine.execute("UPDATE upc_t SET v = NULL WHERE id = 1")
    # a failed update leaves the table untouched
    got = {(r["id"], r["v"])
           for r in engine.execute("SELECT * FROM upc_t").collect()}
    assert got == {(1, 10), (2, 20)}
    # self-assignment of the PK is NOT a violation (row replaces itself)
    engine.execute("UPDATE upc_t SET id = id, v = v + 1 WHERE id = 1")
    # updated FK columns must still reference an existing parent
    engine.execute("CREATE TABLE upc_ch (cid INT, pid INT REFERENCES upc_t(id))")
    engine.execute("INSERT INTO upc_ch VALUES (7, 1)")
    with pytest.raises(ValueError, match="foreign key violation"):
        engine.execute("UPDATE upc_ch SET pid = 999 WHERE cid = 7")
    engine.execute("DROP TABLE upc_ch")
    engine.execute("DROP TABLE upc_t")


def test_fk_on_update_set_null_no_duplication(engine):
    # one old key mapping to several new keys must not duplicate child
    # rows under SET NULL (membership join, not pair join)
    engine.execute("CREATE TABLE dupk_par (id INT, x INT)")
    engine.execute(
        "CREATE TABLE dupk_ch (cid INT, pid INT, FOREIGN KEY (pid) "
        "REFERENCES dupk_par(id) ON UPDATE SET NULL)")
    engine.execute("INSERT INTO dupk_par VALUES (1, 10), (1, 20)")
    engine.execute("INSERT INTO dupk_ch VALUES (5, 1)")
    engine.execute("UPDATE dupk_par SET id = x WHERE id = 1")
    rows = [(r["cid"], r["pid"])
            for r in engine.execute("SELECT * FROM dupk_ch").collect()]
    assert rows == [(5, None)]
    engine.execute("DROP TABLE dupk_ch")
    engine.execute("DROP TABLE dupk_par")


def test_graph_constraint_enforced_on_update_paths(engine):
    # update_node / ENTITY upsert validate like NODE CREATE (review
    # finding: in-place rewrites must not bypass write-time validation)
    engine.execute("NODE 9200001 uplab_a")
    engine.execute("NODE 9200002 uplab_b")
    engine.execute("CONSTRAINT CREATE up_uniq ON NODE uplab_a PROPERTY id UNIQUE")
    # relabeling 9200002 into uplab_a is fine (unique ids within label)
    engine.update_node(9200002, "uplab_a")
    # but relabeling cannot duplicate: create a second node with the same
    # id under another label, then try to move it into the constrained one
    engine.execute("NODE 9200001 uplab_c")
    with pytest.raises(ValueError, match="up_uniq"):
        engine.update_node(9200001, "uplab_a")
    engine.execute("CONSTRAINT DROP up_uniq")
    for nid in (9200001, 9200002):
        engine.execute(f"NODE DELETE {nid}")


SAMPLE_NQL = "/root/reference/samples/knowledge-base.nql"


@pytest.mark.skipif(
    not __import__("os").path.exists(SAMPLE_NQL),
    reason="reference samples not present",
)
def test_knowledge_base_sample_script_verbatim(spark):
    """Run the reference's own sample script end-to-end, verbatim
    (`samples/knowledge-base.nql`): every in-scope statement must execute
    (CACHE/CHECKPOINT are documented non-goals), then the script's own
    'queries to try' must return the dataset it described."""
    import os
    import re as _re

    from neumann_spark.engine import NeumannSparkEngine
    from tests.conftest import SF_DIR

    eng = NeumannSparkEngine(spark, SF_DIR)
    # the reference shell starts with an EMPTY vector store; the script's
    # 8-dim vectors would (correctly) dimension-mismatch the 64-d fixture
    # overlay, so start from the same empty store the script assumes
    eng._embeddings = spark.createDataFrame([], "key string, embedding array<float>")
    text = open(SAMPLE_NQL).read()
    del _re
    stmts, buf = [], ""
    for raw in text.splitlines():
        line = raw.split("--")[0].strip()
        if not line:
            continue
        # statements are single-line except CREATE TABLE: accumulate
        # until parentheses balance
        buf = f"{buf} {line}".strip()
        if buf.count("(") == buf.count(")"):
            stmts.append(buf.rstrip(";"))
            buf = ""
    ran, skipped = 0, 0
    for s in stmts:
        head = s.split(None, 1)[0].upper()
        if head in ("CACHE", "CHECKPOINT", "ROLLBACK", "CHECKPOINTS"):
            skipped += 1  # documented non-goals (SURVEY.md §2.12)
            continue
        eng.execute(s)
        ran += 1
    # 34 in-scope statements; skipped = CACHE INIT + 3 CACHE PUT +
    # CHECKPOINT (documented non-goals)
    assert ran >= 24 and skipped == 5
    # the script's own "queries to try"
    people = eng.execute(
        "SELECT team, COUNT(*) AS headcount FROM people "
        "GROUP BY team ORDER BY headcount DESC, team").collect()
    assert people[0]["headcount"] == 4  # ML: Carol, Eve, Grace, Ivy
    seniors = eng.execute(
        "SELECT name, role FROM people WHERE level >= 5 ORDER BY level DESC"
    ).collect()
    # level >= 5: Jake 8, Frank 7, Bob 6, Grace 6, Alice 5, Eve 5
    assert seniors[0]["name"] == "Jake Adams" and len(seniors) == 6
    n_emb = eng.execute("COUNT EMBEDDINGS").collect()[0]["count"]
    assert n_emb == 13  # 10 people + 3 project entities
    top = eng.execute("SIMILAR 'alice' LIMIT 3").collect()
    assert len(top) == 3 and top[0]["key"] != "alice"
    atlas = eng.execute("ENTITY GET 'project_atlas'").collect()
    assert atlas and "Project Atlas" in atlas[0]["props"]
    nodes = eng.execute("NODE LIST person").collect()
    assert len(nodes) == 10
    # the PRIMARY KEY the script declares is enforced: re-running the
    # first INSERT must raise, exactly like the reference engine
    with pytest.raises(ValueError, match="primary key violation"):
        eng.execute(
            "INSERT INTO people VALUES (1, 'Alice Chen', 'Staff Engineer', "
            "'Platform', '2020-03-15', 5)")
    eng.execute("DROP TABLE people")


# -- SAVE / LOAD snapshots (`neumann_shell/src/lib.rs:391,425,461`) --------


def test_save_load_roundtrip(spark, tmp_path):
    """Mutations made after SAVE are rolled back by LOAD — the reference's
    whole-router swap (`handle_load`)."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE snap_u (id INT, name TEXT)")
    eng.execute("INSERT INTO snap_u VALUES (1, 'a'), (2, 'b')")
    eng.execute("NODE 9100001 snaplab")
    eng.execute("EMBED 'snap:1' " + ", ".join(["0.1"] * 64))
    d = str(tmp_path / "snap")
    res = eng.execute(f"SAVE '{d}'").collect()[0]
    assert res["path"] == d and not res["compressed"]

    # post-save mutations that LOAD must undo
    eng.execute("INSERT INTO snap_u VALUES (3, 'c')")
    eng.execute("NODE DELETE 9100001")
    assert eng.execute("SELECT COUNT(*) AS n FROM snap_u").collect()[0]["n"] == 3

    eng.execute(f"LOAD '{d}'")
    assert eng.execute("SELECT COUNT(*) AS n FROM snap_u").collect()[0]["n"] == 2
    assert eng.execute("NODE GET 9100001").collect()[0]["label"] == "snaplab"
    got = eng.execute("EMBED GET 'snap:1'").collect()
    assert len(got) == 1
    eng.execute("DROP TABLE snap_u")


def test_load_into_fresh_engine(spark, tmp_path):
    """A snapshot restores into a DIFFERENT engine instance (the shell's
    load-at-startup path), including constraint metadata."""
    from neumann_spark.engine import NeumannSparkEngine

    a = NeumannSparkEngine(spark, SF_DIR)
    a.execute("CREATE TABLE snap_fk_p (id INT PRIMARY KEY)")
    a.execute(
        "CREATE TABLE snap_fk_c (cid INT, pid INT "
        "REFERENCES snap_fk_p(id) ON DELETE CASCADE)"
    )
    a.execute("INSERT INTO snap_fk_p VALUES (1), (2)")
    a.execute("INSERT INTO snap_fk_c VALUES (10, 1), (11, 2)")
    d = str(tmp_path / "snap2")
    a.execute(f"SAVE COMPRESSED '{d}'")

    b = NeumannSparkEngine(spark, SF_DIR)
    b.execute(f"LOAD '{d}'")
    # FK metadata survived: the cascade still fires in the new engine
    b.execute("DELETE FROM snap_fk_p WHERE id = 1")
    rows = b.execute("SELECT cid FROM snap_fk_c ORDER BY cid").collect()
    assert [r["cid"] for r in rows] == [11]
    # PK survived too
    with pytest.raises(ValueError, match="primary key"):
        b.execute("INSERT INTO snap_fk_p VALUES (2)")
    b.execute("DROP TABLE snap_fk_c")
    b.execute("DROP TABLE snap_fk_p")


def test_save_compressed_writes_zstd(spark, tmp_path):
    """SAVE COMPRESSED selects zstd parquet codec (the analog of
    `save_snapshot_compressed` + `CompressionConfig::balanced`)."""
    import glob

    import pyarrow.parquet as pq

    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE snap_z (id INT)")
    eng.execute("INSERT INTO snap_z VALUES (1)")
    d = str(tmp_path / "snapz")
    res = eng.execute(f"SAVE COMPRESSED '{d}'").collect()[0]
    assert res["compressed"]
    # multiple part files exist (one per partition) and empty partitions
    # write zero-row-group files — check the one that holds the row
    metas = [pq.ParquetFile(p).metadata
             for p in glob.glob(f"{d}/data-*/tables/snap_z/part-*.parquet")]
    rg = [m for m in metas if m.num_row_groups > 0]
    assert rg, "no non-empty part file written"
    assert rg[0].row_group(0).column(0).compression == "ZSTD"
    eng.execute("DROP TABLE snap_z")


def test_load_missing_and_usage_errors(spark, tmp_path):
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    with pytest.raises(ValueError, match="no snapshot"):
        eng.execute(f"LOAD '{tmp_path}/nope'")
    with pytest.raises(ValueError, match="Usage: SAVE"):
        eng.execute("SAVE ''")
    # RECOVER accepted for dialect parity (WAL replay is a documented
    # non-goal; shell_commands_extended.rs exercises LOAD path RECOVER)
    eng.execute("CREATE TABLE snap_r (id INT)")
    d = str(tmp_path / "snapr")
    eng.execute(f"SAVE '{d}'")
    eng.execute(f"LOAD '{d}' RECOVER")
    assert eng.execute("SELECT COUNT(*) AS n FROM snap_r").collect()[0]["n"] == 0
    eng.execute("DROP TABLE snap_r")


def test_load_unshadows_fixture_table(spark, tmp_path):
    """A session table shadowing a fixture name disappears on LOAD of a
    snapshot that predates it — the fixture view must come back."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    d = str(tmp_path / "snap3")
    eng.execute(f"SAVE '{d}'")  # snapshot with no session tables
    eng.execute("CREATE TABLE region (id INT)")  # shadows the fixture
    assert eng.execute("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] == 0
    eng.execute(f"LOAD '{d}'")
    n = eng.execute("SELECT COUNT(*) AS n FROM region").collect()[0]["n"]
    assert n == 5  # fixture region is back


def test_checkpoint_rollback_cycle(spark):
    """CHECKPOINT / ROLLBACK TO / CHECKPOINTS (`query_router/src/lib.rs:
    2781-2850` over `tensor_checkpoint`): rollback whole-state-swaps back;
    later checkpoints survive a rollback."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE cp_t (id INT)")
    eng.execute("INSERT INTO cp_t VALUES (1)")
    r = eng.execute("CHECKPOINT 'before'").collect()[0]
    assert r["checkpoint"] == "before"
    eng.execute("INSERT INTO cp_t VALUES (2), (3)")
    eng.execute("CHECKPOINT")  # auto-named cp_2
    assert eng.execute("SELECT COUNT(*) AS n FROM cp_t").collect()[0]["n"] == 3

    eng.execute("ROLLBACK TO 'before'")
    assert eng.execute("SELECT COUNT(*) AS n FROM cp_t").collect()[0]["n"] == 1

    names = [row["checkpoint"]
             for row in eng.execute("CHECKPOINTS").collect()]
    assert names == ["cp_2", "before"]  # most recent first, both retained
    # roll forward again: the post-rollback state can reach cp_2
    eng.execute("ROLLBACK 'cp_2'")  # TO is optional
    assert eng.execute("SELECT COUNT(*) AS n FROM cp_t").collect()[0]["n"] == 3
    only = eng.execute("CHECKPOINTS LIMIT 1").collect()
    assert [row["checkpoint"] for row in only] == ["cp_2"]
    eng.execute("DROP TABLE cp_t")


def test_rollback_unknown_checkpoint(spark):
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    with pytest.raises(ValueError, match="unknown checkpoint"):
        eng.execute("ROLLBACK TO 'nope'")
    assert eng.execute("CHECKPOINTS").count() == 0


def test_recheckpoint_after_rollback_and_save_after_load(spark, tmp_path):
    """Saving over a path the session state was LOADed from must not
    destroy the files being read: every save writes a fresh data-<nonce>
    dir and republishes the manifest (MVCC-style), so CHECKPOINT 'a' →
    ROLLBACK 'a' → CHECKPOINT 'a' and SAVE → LOAD → SAVE-same-path both
    work (this exact flow crashed and corrupted the snapshot before)."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE resave_t (id INT)")
    eng.execute("INSERT INTO resave_t VALUES (1)")
    eng.execute("CHECKPOINT 'a'")
    eng.execute("ROLLBACK TO 'a'")
    eng.execute("CHECKPOINT 'a'")  # overwrite while state reads from 'a'
    eng.execute("ROLLBACK TO 'a'")
    assert eng.execute("SELECT COUNT(*) AS n FROM resave_t").collect()[0]["n"] == 1

    d = str(tmp_path / "resave")
    eng.execute(f"SAVE '{d}'")
    eng.execute(f"LOAD '{d}'")
    eng.execute(f"SAVE '{d}'")  # save over the loaded path
    eng.execute(f"LOAD '{d}'")
    assert eng.execute("SELECT COUNT(*) AS n FROM resave_t").collect()[0]["n"] == 1
    eng.execute("DROP TABLE resave_t")


def test_checkpoint_name_traversal_rejected(spark):
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    for bad in ("'..'", "'.'", "'a/b'", "'a b'"):
        with pytest.raises(ValueError, match="invalid checkpoint name"):
            eng.execute(f"CHECKPOINT {bad}")
    with pytest.raises(ValueError, match="expected ROLLBACK TO"):
        eng.execute("ROLLBACK TO")


def test_rejected_checkpoint_name_burns_no_seq(spark):
    """A rejected explicit name must not consume an auto-name sequence
    number — the next unnamed CHECKPOINT is still cp_1."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    with pytest.raises(ValueError, match="invalid checkpoint name"):
        eng.execute("CHECKPOINT 'a/b'")
    row = eng.execute("CHECKPOINT").collect()[0]
    assert row["checkpoint"] == "cp_1"


def test_save_compressed_without_path_rejected(spark):
    """`SAVE COMPRESSED` with no operand must raise, not write an
    uncompressed snapshot to a dir literally named COMPRESSED."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    for cmd in ("SAVE COMPRESSED", "SAVE compressed"):
        with pytest.raises(ValueError, match="Usage: SAVE"):
            eng.execute(cmd)
    import os

    assert not os.path.exists("COMPRESSED")


def test_corrupt_manifest_raises_typed_error(spark, tmp_path):
    """A hand-edited/corrupt manifest surfaces as ValueError (the typed
    execute() error contract), not a bare KeyError mid-state-swap."""
    import json
    import os

    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE corr_t (id INT)")
    eng.execute("INSERT INTO corr_t VALUES (1)")
    d = str(tmp_path / "snap")
    eng.execute(f"SAVE '{d}'")
    mpath = os.path.join(d, "neumann_snapshot.json")
    manifest = json.load(open(mpath))
    del manifest["tables"]
    manifest["stores"].popitem()
    json.dump(manifest, open(mpath, "w"))
    crc = os.path.join(d, ".neumann_snapshot.json.crc")
    if os.path.exists(crc):  # hand-edit invalidates the Hadoop checksum
        os.remove(crc)
    with pytest.raises(ValueError, match="corrupt snapshot manifest"):
        eng.execute(f"LOAD '{d}'")
    # state untouched by the failed load
    assert eng.execute("SELECT COUNT(*) AS n FROM corr_t").collect()[0]["n"] == 1
    eng.execute("DROP TABLE corr_t")


def test_wal_recover_replays_post_save_mutations(spark, tmp_path):
    """`LOAD … RECOVER` = snapshot + WAL replay: mutations journaled after
    SAVE are restored; a plain LOAD yields only the snapshot base state."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE wal_t (id INT, v TEXT)")
    eng.execute("INSERT INTO wal_t VALUES (1, 'base')")
    d = str(tmp_path / "snap")
    eng.execute(f"SAVE '{d}'")
    # journaled epoch: mutations across stores, incl. the index registry
    eng.execute("INSERT INTO wal_t VALUES (2, 'walled')")
    eng.execute("NODE 9300001 wallab")
    eng.execute("GRAPH INDEX CREATE ON NODE PROPERTY label")

    plain = eng.execute(f"LOAD '{d}'")
    assert "replayed" not in plain.columns
    assert eng.execute("SELECT COUNT(*) AS n FROM wal_t").collect()[0]["n"] == 1

    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 3
    assert eng.execute("SELECT COUNT(*) AS n FROM wal_t").collect()[0]["n"] == 2
    assert eng.execute("NODE GET 9300001").collect()[0]["label"] == "wallab"
    assert eng.execute("GRAPH INDEX SHOW ON NODE").collect()

    # the epoch continues after recovery: new mutations extend the log
    eng.execute("INSERT INTO wal_t VALUES (3, 'more')")
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 4
    assert eng.execute("SELECT COUNT(*) AS n FROM wal_t").collect()[0]["n"] == 3

    # plain LOAD disarms: post-load mutations must NOT leak into the log
    eng.execute(f"LOAD '{d}'")
    eng.execute("INSERT INTO wal_t VALUES (9, 'fork')")
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 4  # still the 4 journaled entries
    eng.execute("DROP TABLE wal_t")


def test_wal_new_save_starts_fresh_epoch(spark, tmp_path):
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE wal_e (id INT)")
    d1, d2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    eng.execute(f"SAVE '{d1}'")
    eng.execute("INSERT INTO wal_e VALUES (1)")
    eng.execute(f"SAVE '{d2}'")  # snapshot holds the row; log resets
    eng.execute("INSERT INTO wal_e VALUES (2)")
    res = eng.execute(f"LOAD '{d2}' RECOVER").collect()[0]
    assert res["replayed"] == 1
    assert eng.execute("SELECT COUNT(*) AS n FROM wal_e").collect()[0]["n"] == 2
    res = eng.execute(f"LOAD '{d1}' RECOVER").collect()[0]
    assert res["replayed"] == 1  # d1's own epoch: the first insert only
    assert eng.execute("SELECT COUNT(*) AS n FROM wal_e").collect()[0]["n"] == 1
    eng.execute("DROP TABLE wal_e")


def test_wal_corrupt_log_typed_error(spark, tmp_path):
    import json
    import os

    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    d = str(tmp_path / "snap")
    eng.execute(f"SAVE '{d}'")
    wpath = os.path.join(d, "wal.json")
    epoch = json.load(open(os.path.join(d, "neumann_snapshot.json")))["data_dir"]
    json.dump({"format": "neumann_spark_wal/1", "epoch": epoch,
               "commands": "nope"}, open(wpath, "w"))
    crc = os.path.join(d, ".wal.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="corrupt WAL"):
        eng.execute(f"LOAD '{d}' RECOVER")
    # a failing replayed command surfaces as a typed replay error and the
    # session is restored to the snapshot base state
    json.dump({"format": "neumann_spark_wal/1", "epoch": epoch,
               "commands": ["INSERT INTO no_such_table VALUES (1)"]},
              open(wpath, "w"))
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="WAL replay failed at entry 0"):
        eng.execute(f"LOAD '{d}' RECOVER")
    # a STALE epoch (from before a re-save) is treated as an empty log,
    # never double-applied
    json.dump({"format": "neumann_spark_wal/1", "epoch": "data-stale",
               "commands": ["INSERT INTO no_such_table VALUES (1)"]},
              open(wpath, "w"))
    if os.path.exists(crc):
        os.remove(crc)
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 0


def test_manifest_fallback_preserves_old_on_failure(spark, tmp_path):
    """The non-FileContext publish path keeps the previous manifest
    loadable: success replaces it; a failing rename restores it."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    mpath = str(tmp_path / "m" / "manifest.json")
    fs, p = eng._hadoop_fs(mpath)
    jvm = spark._jvm

    def write(path, body):
        out = fs.create(path, True)
        out.write(bytearray(body.encode()))
        out.close()

    def read(path):
        s = fs.open(path)
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(s, "UTF-8")
        finally:
            s.close()

    write(p, "OLD")
    tmp = p.suffix(".tmp")
    write(tmp, "NEW")
    eng._publish_manifest_fallback(fs, tmp, p, mpath)
    assert read(p) == "NEW" and not fs.exists(p.suffix(".bak"))
    # failure case: tmp does not exist -> rename fails -> OLD restored
    with pytest.raises(ValueError, match="Failed to publish"):
        eng._publish_manifest_fallback(fs, tmp, p, mpath)
    assert read(p) == "NEW"  # the pre-publish manifest was restored


def test_manifest_read_falls_back_to_bak(spark, tmp_path):
    """A crash between rename(p, bak) and rename(tmp, p) in the fallback
    publish leaves no manifest at p with the prior one stranded at .bak —
    _manifest_read self-heals by reading the .bak sibling, so the
    snapshot stays loadable across that window."""
    import os

    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE bak_t (id INT)")
    eng.execute("INSERT INTO bak_t VALUES (7)")
    d = str(tmp_path / "snap")
    eng.execute(f"SAVE '{d}'")
    eng.execute("DROP TABLE bak_t")

    m = os.path.join(d, "neumann_snapshot.json")
    os.rename(m, m + ".bak")  # simulate the interrupted-publish window
    crc = os.path.join(d, ".neumann_snapshot.json.crc")
    if os.path.exists(crc):  # keep the checksum sidecar name in sync
        os.rename(crc, os.path.join(d, ".neumann_snapshot.json.bak.crc"))

    eng.execute(f"LOAD '{d}'")
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM bak_t").collect()[0]["n"] == 1
    eng.execute("DROP TABLE bak_t")


def test_transaction_rollback_restores_all_stores(spark):
    """BEGIN/ROLLBACK atomicity across every engine: relational insert +
    update, graph node, embedding, created table, dropped table — all
    undone; pre-tx state byte-equal."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE txa_t (id INT, v TEXT)")
    eng.execute("INSERT INTO txa_t VALUES (1, 'base'), (2, 'keep')")
    eng.execute("CREATE TABLE txa_drop (x INT)")
    n_nodes = eng._nodes.count()
    n_emb = eng._embeddings.count()

    eng.execute("BEGIN")
    eng.execute("INSERT INTO txa_t VALUES (3, 'gone')")
    eng.execute("UPDATE txa_t SET v = 'mut' WHERE id = 1")
    eng.execute("NODE 9500001 txlab")
    eng.execute("EMBED STORE 'tx:vec' ["
                + ", ".join(["0.5"] * 64) + "]")
    eng.execute("CREATE TABLE txa_new (x INT)")
    eng.execute("DROP TABLE txa_drop")
    # read-your-writes inside the tx
    got = sorted(map(tuple, eng.execute("SELECT * FROM txa_t").collect()))
    assert got == [(1, "mut"), (2, "keep"), (3, "gone")]
    eng.execute("ROLLBACK")

    got = sorted(map(tuple, eng.execute("SELECT * FROM txa_t").collect()))
    assert got == [(1, "base"), (2, "keep")]
    assert eng._nodes.count() == n_nodes
    assert eng._embeddings.count() == n_emb
    assert eng.execute("SELECT COUNT(*) AS n FROM txa_drop") \
        .collect()[0]["n"] == 0  # dropped-in-tx table restored
    with pytest.raises(Exception):
        eng.execute("SELECT * FROM txa_new").collect()  # created-in-tx gone
    eng.execute("DROP TABLE txa_t")
    eng.execute("DROP TABLE txa_drop")


def test_transaction_commit_and_guards(spark):
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE txc_t (id INT)")
    eng.execute("BEGIN TRANSACTION")
    eng.execute("INSERT INTO txc_t VALUES (1)")
    with pytest.raises(ValueError, match="already in progress"):
        eng.execute("BEGIN")
    for blocked in ("SAVE '/tmp/x'", "LOAD '/tmp/x'", "CHECKPOINT m",
                    "ROLLBACK TO m"):
        with pytest.raises(ValueError, match="inside a transaction"):
            eng.execute(blocked)
    eng.execute("COMMIT")
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM txc_t").collect()[0]["n"] == 1
    for stray in ("COMMIT", "ROLLBACK"):
        with pytest.raises(ValueError, match="no transaction"):
            eng.execute(stray)
    eng.execute("DROP TABLE txc_t")


def test_transaction_wal_atomicity(spark, tmp_path):
    """Uncommitted tx commands never reach the durable journal: a
    recover taken 'mid-crash' (before COMMIT) replays none of them; a
    committed tx's commands replay as a block."""
    import json
    import os

    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE txw_t (id INT)")
    d = str(tmp_path / "snap")
    eng.execute(f"SAVE '{d}'")

    eng.execute("BEGIN")
    eng.execute("INSERT INTO txw_t VALUES (1)")
    # the journal on disk must NOT contain the uncommitted insert
    log = json.load(open(os.path.join(d, "wal.json"))) \
        if os.path.exists(os.path.join(d, "wal.json")) else {"commands": []}
    assert all("txw_t" not in c for c in log["commands"])
    eng.execute("ROLLBACK")
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 0  # rolled-back tx: nothing journaled

    eng.execute("BEGIN")
    eng.execute("INSERT INTO txw_t VALUES (2)")
    eng.execute("INSERT INTO txw_t VALUES (3)")
    eng.execute("COMMIT")
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 2  # the committed block, atomically
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM txw_t").collect()[0]["n"] == 2
    eng.execute("DROP TABLE txw_t")


def test_recover_restores_checkpoint_registry(spark, tmp_path):
    """CHECKPOINT journals its resolved name, so LOAD … RECOVER rebuilds
    the checkpoint registry: ROLLBACK TO a post-SAVE checkpoint works
    after recovery and restores the exact mid-epoch state."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    eng.execute("CREATE TABLE cpr_t (id INT)")
    eng.execute("INSERT INTO cpr_t VALUES (1)")
    d = str(tmp_path / "snap")
    eng.execute(f"SAVE '{d}'")
    eng.execute("INSERT INTO cpr_t VALUES (2)")
    eng.execute("CHECKPOINT mark")
    eng.execute("INSERT INTO cpr_t VALUES (3)")

    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 3  # 2 inserts + the journaled checkpoint
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM cpr_t").collect()[0]["n"] == 3
    names = [r["checkpoint"]
             for r in eng.execute("CHECKPOINTS").collect()]
    assert "mark" in names
    eng.execute("ROLLBACK TO mark")  # pre-fix: unknown checkpoint
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM cpr_t").collect()[0]["n"] == 2

    # epoch survives the replayed CHECKPOINT: _save_snapshot during
    # replay clobbers _last_manifest_data_dir with the CHECKPOINT's own
    # nonce, and a recover that re-armed from it would stamp the journal
    # with the wrong epoch — making this SECOND recovery silently replay
    # an empty log (the pre-fix bug)
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 3
    eng.execute("INSERT INTO cpr_t VALUES (4)")  # extends the epoch
    res = eng.execute(f"LOAD '{d}' RECOVER").collect()[0]
    assert res["replayed"] == 4  # NOT 0: the log still matches its epoch
    assert eng.execute(
        "SELECT COUNT(*) AS n FROM cpr_t").collect()[0]["n"] == 4
    eng.execute("DROP TABLE cpr_t")


def test_cypher_return_aggregates(engine):
    """RETURN COUNT forms (`cypher.rs:158` `COUNT(p) AS total`): global
    count, implicit grouping, COUNT(DISTINCT), RETURN DISTINCT, aliases."""
    total = engine.execute(
        "MATCH (s:supplier) RETURN COUNT(*) AS total").collect()
    assert total[0]["total"] > 0
    # implicit grouping: nation id key + per-key count
    rows = engine.execute(
        "MATCH (c:customer)-[:located_in]->(n:nation) "
        "RETURN n, COUNT(c) AS n_customers").collect()
    assert len(rows) == 25
    assert sum(r["n_customers"] for r in rows) == engine.execute(
        "MATCH (c:customer)-[:located_in]->(n:nation) RETURN COUNT(*) AS t"
    ).collect()[0]["t"]
    # COUNT(DISTINCT) and DISTINCT projection agree
    nd = engine.execute(
        "MATCH (c:customer)-[:located_in]->(n:nation) "
        "RETURN COUNT(DISTINCT n) AS nations").collect()[0]["nations"]
    assert nd == len(engine.execute(
        "MATCH (c:customer)-[:located_in]->(n:nation) RETURN DISTINCT n"
    ).collect()) == 25
    # default alias and var.prop resolution still work
    one = engine.execute(
        "MATCH (s:supplier) RETURN COUNT(s)").collect()[0]
    assert one["count"] == total[0]["total"]


def test_merge_on_create_on_match_set(engine):
    """MERGE ON CREATE SET / ON MATCH SET (`cypher.rs:196-207`
    CypherMergeStmt set lists): the create branch takes the SET label
    (unlabeled pattern — a conflicting labeled pattern is rejected, see
    test_merge_set_review_fixes), the match branch rewrites it; the other
    branch's items are ignored."""
    r = engine.execute(
        "MERGE (p {id: 9600001}) ON CREATE SET p.label = 'fresh' "
        "ON MATCH SET p.label = 'seen'").collect()[0]
    assert (r["status"], r["label"]) == ("created", "fresh")
    r = engine.execute(
        "MERGE (p {id: 9600001}) ON CREATE SET p.label = 'fresh' "
        "ON MATCH SET p.label = 'seen'").collect()[0]
    assert (r["status"], r["label"]) == ("matched", "seen")
    assert engine.execute("NODE GET 9600001").collect()[0]["label"] == "seen"
    with pytest.raises(ValueError, match="unsupported SET property"):
        engine.execute("MERGE (p {id: 9600002}) ON CREATE SET p.id = 1")
    engine.execute("NODE DELETE 9600001")  # restore module-scoped fixture


def test_merge_set_review_fixes(engine):
    """MERGE hardening: conflicting ON CREATE SET label is rejected (it
    would break bind-or-create idempotency), unlabeled-pattern create+SET
    IS idempotent, ON MATCH relabel touches only the matched (id,label)
    row, and non-string SET literals are rejected."""
    with pytest.raises(ValueError, match="conflicts"):
        engine.execute(
            "MERGE (p:temp {id: 9500001}) ON CREATE SET p.label = 'fresh'")
    # unlabeled pattern: create+SET then re-run matches (idempotent)
    r1 = engine.execute(
        "MERGE (p {id: 9500001}) ON CREATE SET p.label = 'fresh'").collect()[0]
    r2 = engine.execute(
        "MERGE (p {id: 9500001}) ON CREATE SET p.label = 'fresh'").collect()[0]
    assert (r1["status"], r2["status"]) == ("created", "matched")
    assert len(engine.execute("NODE GET 9500001").collect()) == 1
    with pytest.raises(ValueError, match="string literal"):
        engine.execute("MERGE (p {id: 9500002}) ON CREATE SET p.label = NULL")
    # shared id across labels: ON MATCH relabels ONLY the matched row
    engine.execute("NODE CREATE otherlab id=9500001")
    engine.execute(
        "MERGE (p:fresh {id: 9500001}) ON MATCH SET p.label = 'seen'")
    labels = sorted(
        r["label"] for r in engine.execute("NODE GET 9500001").collect())
    assert labels == ["otherlab", "seen"]
    engine.execute("NODE DELETE 9500001")


def test_cypher_count_review_fixes(engine):
    """COUNT(DISTINCT *) rejects; multiple unaliased COUNTs get unique
    default aliases."""
    with pytest.raises(ValueError, match="COUNT\\(DISTINCT \\*\\)"):
        engine.execute("MATCH (s:supplier) RETURN COUNT(DISTINCT *)")
    cols = engine.execute(
        "MATCH (c:customer)-[:located_in]->(n:nation) "
        "RETURN n, COUNT(c), COUNT(DISTINCT c)").columns
    assert cols == ["n_id", "count", "count_2"]


def test_update_simultaneous_assignment(engine):
    """SQL UPDATE is simultaneous: every SET expression AND the WHERE
    predicate see the ORIGINAL row (the chained-withColumn form silently
    skipped later assignments whose inputs the first one rewrote)."""
    engine.execute("CREATE TABLE sim_t (id INT, a INT, b INT)")
    engine.execute("INSERT INTO sim_t VALUES (1, 10, 0), (3, 30, 0), (5, 50, 0)")
    # cond reads id; first SET rewrites id; second must still fire
    engine.execute("UPDATE sim_t SET id = id + 100, b = 7 WHERE id IN (1, 3)")
    rows = {r["id"]: (r["a"], r["b"])
            for r in engine.execute("SELECT * FROM sim_t").collect()}
    assert rows == {101: (10, 7), 103: (30, 7), 5: (50, 0)}
    # swap: a = b, b = a must exchange, not copy
    engine.execute("UPDATE sim_t SET a = b, b = a WHERE id = 5")
    r = engine.execute("SELECT a, b FROM sim_t WHERE id = 5").collect()[0]
    assert (r["a"], r["b"]) == (0, 50)
    with pytest.raises(ValueError, match="unknown column"):
        engine.execute("UPDATE sim_t SET nope = 1")
    engine.execute("DROP TABLE sim_t")


def test_fk_action_rewrite_validates_child_constraints(engine):
    """A referential-action rewrite may not break the child's OWN
    constraints: SET NULL into a NOT NULL column and SET DEFAULT onto a
    UNIQUE key both abort the delete atomically."""
    engine.execute("CREATE TABLE fkv_p (id INT)")
    engine.execute(
        "CREATE TABLE fkv_nn (cid INT, pid INT NOT NULL "
        "REFERENCES fkv_p(id) ON DELETE SET NULL)")
    engine.execute("INSERT INTO fkv_p VALUES (1), (2)")
    engine.execute("INSERT INTO fkv_nn VALUES (10, 1)")
    with pytest.raises(ValueError, match="not-null violation"):
        engine.execute("DELETE FROM fkv_p WHERE id = 1")
    # atomic: parent row survived the aborted cascade
    assert engine.execute(
        "SELECT COUNT(*) AS n FROM fkv_p").collect()[0]["n"] == 2
    engine.execute("DROP TABLE fkv_nn")

    engine.execute(
        "CREATE TABLE fkv_uq (cid INT, pid INT UNIQUE DEFAULT 9 "
        "REFERENCES fkv_p(id) ON DELETE SET DEFAULT)")
    engine.execute("INSERT INTO fkv_p VALUES (9)")
    engine.execute("INSERT INTO fkv_uq VALUES (20, 1), (21, 2)")
    with pytest.raises(ValueError, match="unique violation"):
        # both children collapse onto default pid=9 — UNIQUE must reject
        engine.execute("DELETE FROM fkv_p WHERE id IN (1, 2)")
    engine.execute("DROP TABLE fkv_uq")
    engine.execute("DROP TABLE fkv_p")


def test_drop_table_unshadows_fixture(engine):
    """DROP TABLE of a session table shadowing a fixture restores the
    fixture view (the LOAD path's un-shadow, now on the DROP path too)."""
    engine.execute("CREATE TABLE nation (x INT)")
    assert engine.execute("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"] == 0
    engine.execute("DROP TABLE nation")
    n = engine.execute("SELECT COUNT(*) AS n FROM nation").collect()[0]["n"]
    assert n == 25  # fixture nation is back


def _python_rdd_scans(df) -> list[str]:
    """RDD-backed leaves of `df`'s plan whose lineage runs through a
    PythonRDD, i.e. scans whose every task calls a Python worker. JVM-only
    RDD scans (the eagerly checkpointed base graph) do not count."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    found = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if (leaf.nodeName() == "LogicalRDD"
                and "PythonRDD" in leaf.rdd().toDebugString()):
            found.append(leaf.toString())
    return found


def test_statement_plans_have_no_python_scan(spark):
    """Statement literals (INSERT rows, NODE/EDGE/EMBED overlay deltas,
    acks, BFS seeds) are JVM LocalRelations: after each kind of write,
    the session-table SELECT, FIND, NEIGHBORS and SIMILAR plans carry no
    Python-backed RDD scan, and a plain INSERT ack runs no Spark job."""
    from neumann_spark.engine import NeumannSparkEngine

    eng = NeumannSparkEngine(spark, SF_DIR)
    vec = "[" + ", ".join(["0.25"] * 64) + "]"
    eng.execute("CREATE TABLE shape_notes (id INT, grp INT, qty INT, body TEXT)")
    ack = eng.execute("INSERT INTO shape_notes VALUES (1, 2, 3, 'x')")
    rows, jobs = jobs_run(spark, ack.collect)
    assert rows[0]["inserted"] == 1 and jobs == 0
    eng.execute("NODE CREATE shape_person {id: 9300001}")
    eng.execute("EDGE CREATE 17 -> 9300001 : knows")
    eng.execute(f"EMBED STORE 'shape:1' {vec}")
    for cmd in ("SELECT count(*) AS n, sum(qty) AS q FROM shape_notes "
                "WHERE grp = 2",
                "FIND NODES shape_person",
                "NEIGHBORS 17 OUTGOING : knows",
                "SIMILAR 'shape:1' TOP 5"):
        df = eng.execute(cmd)
        assert df.collect(), cmd
        assert _python_rdd_scans(df) == [], cmd


def test_embed_store_get_float32_fidelity(engine):
    """EMBED STORE → EMBED GET returns exactly the float32 rounding of
    the stored values (the embedding column is array<float>)."""
    import numpy as np

    vals = np.random.default_rng(11).normal(size=64).tolist()
    engine.execute("EMBED STORE 'f32:1' [" + ", ".join(map(repr, vals)) + "]")
    got = engine.execute("EMBED GET 'f32:1'").collect()[0]["embedding"]
    assert got == np.asarray(vals, dtype=np.float32).tolist()
