"""Vector operator semantics — known-value checks in the style of the
reference's distance_metrics tests (`integration_tests/tests/
distance_metrics.rs`)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _df(spark):
    return spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),
        ],
        "vec_id int, v array<float>",
    )


def test_cosine_known_values(spark):
    from neumann_spark.functions.vector import cosine_expr

    q = F.lit([1.0, 0.0, 0.0]).cast("array<double>")
    rows = _df(spark).select("vec_id", cosine_expr(F.col("v"), q).alias("s")).collect()
    by_id = {r["vec_id"]: r["s"] for r in rows}
    assert abs(by_id[1] - 1.0) < 1e-12
    assert abs(by_id[2]) < 1e-12
    assert abs(by_id[3] - 1 / math.sqrt(2)) < 1e-12
    assert abs(by_id[4] + 1.0) < 1e-12


def test_knn_ordering_and_metrics(spark):
    from neumann_spark.functions.vector import knn

    df = _df(spark)
    top = knn(df, "v", [1.0, 0.0, 0.0], 2, "cosine", id_cols=("vec_id",)).collect()
    assert [r["vec_id"] for r in top] == [1, 3]
    near = knn(df, "v", [1.0, 0.0, 0.0], 1, "euclidean", id_cols=("vec_id",)).collect()
    assert near[0]["vec_id"] == 1 and near[0]["score"] == 0.0


def test_knn_pre_filter(spark):
    from neumann_spark.functions.vector import knn

    df = _df(spark)
    top = knn(
        df, "v", [1.0, 0.0, 0.0], 4, "cosine",
        pre_filter=F.col("vec_id") != 1, id_cols=("vec_id",),
    ).collect()
    assert 1 not in {r["vec_id"] for r in top}


def _lambda_score(metric, a, q):
    """The Column-lambda scorer `knn` used before `score_expr` became one
    SQL expression: the bit-for-bit reference for it."""
    from neumann_spark.functions.vector import _as_double, cosine_expr, dot_expr

    if metric == "cosine":
        return cosine_expr(a, q)
    if metric == "dot":
        return dot_expr(a, q)
    diffs = F.zip_with(_as_double(a), _as_double(q), lambda x, y: (x - y) * (x - y))
    return F.sqrt(F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v))


def test_sql_score_matches_lambda_form_bitwise(spark):
    """`score_expr` (one parsed SQL expression over an exact double
    literal) returns the same doubles as the lambda form for every
    metric: fixture anchors, an unrounded float64 query (the literal must
    round-trip exactly) and non-finite queries."""
    import struct

    import numpy as np

    from neumann_spark.catalog import load
    from neumann_spark.functions.vector import score_expr
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    anchors = [[float(x) for x in r["embedding"]]
               for r in emb.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()]
    rough = np.random.default_rng(5).normal(size=64) * 1e3
    queries = anchors + [rough.tolist(), [math.nan] + [1.0] * 63,
                         [math.inf, -math.inf] + [-0.0] * 62]
    bits = lambda v: None if v is None else struct.pack(">d", v)
    for qi, qv in enumerate(queries):
        for metric in ("cosine", "dot", "euclidean"):
            lam = _lambda_score(metric, F.col("embedding"),
                                F.lit(qv).cast("array<double>"))
            rows = emb.select("vec_id", score_expr(metric, "embedding", qv).alias("s"),
                              lam.alias("ref")).collect()
            assert len(rows) == 500
            bad = [r for r in rows if bits(r["s"]) != bits(r["ref"])]
            assert not bad, (qi, metric, bad[:3])


def test_pandas_cosine_matches_expr(spark):
    from neumann_spark.functions.vector import cosine_expr, cosine_scores_pandas

    df = _df(spark)
    q = [0.5, 0.5, 0.0]
    a = {
        r["vec_id"]: round(r["score"], 9)
        for r in cosine_scores_pandas(df, "v", q).collect()
    }
    b = {
        r["vec_id"]: round(r["s"], 9)
        for r in df.select(
            "vec_id", cosine_expr(F.col("v"), F.lit(q).cast("array<double>")).alias("s")
        ).collect()
    }
    assert a == b


def test_ivf_recall_vs_exact(spark):
    """IVF probe of 2/8 lists must still find most of the exact top-10
    (recall check promised in ann_ivf_search docstring)."""
    from neumann_spark.functions.vector import knn
    from neumann_spark.pipeline.ann import ann_ivf_search
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    anchor = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = {
        r["vec_id"]
        for r in knn(emb, "embedding", anchor, 10, "cosine",
                     pre_filter=F.col("vec_id") != 0).collect()
    }
    approx = {r["vec_id"] for r in ann_ivf_search(spark, SF_DIR).collect()}
    assert len(exact & approx) >= 3  # nprobe=2/8 lists → partial recall ok


def test_ivfpq_rescore_matches_exact_at_small_scale(spark):
    """The tuned two-stage config (probe 6/8 lists, ADC shortlist 400,
    exact rescore): at fixture scale the shortlist covers every candidate,
    so the result must equal exact kNN restricted to the probed lists —
    and the probed 6/8 lists cover enough that recall vs the global exact
    top-10 is high (measured 0.83 at sf0.1, tools/ann_recall.py)."""
    from neumann_spark.functions.vector import knn
    from neumann_spark.pipeline.ann import ann_ivfpq_rescore
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    anchor = [float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = {
        r["vec_id"]
        for r in knn(emb, "embedding", anchor, 10, "cosine",
                     pre_filter=F.col("vec_id") != 0).collect()
    }
    rows = ann_ivfpq_rescore(spark, SF_DIR).collect()
    approx = {r["vec_id"] for r in rows}
    assert len(rows) == 10
    # two-stage with rescore must beat the single-stage IVF floor
    assert len(exact & approx) >= 6
    # scores are exact cosine (rescored), so they must be non-increasing
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_persisted_fine_index_serves_low_scan(spark, tmp_path):
    """The saved index carries the fine PQ table too: a low_scan search
    through the LOADED structures returns exactly the session-index
    result (save/load is lossless for both quantizers)."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        ANN_LOW_SCAN_NPROBE,
        ANN_LOW_SCAN_SHORTLIST,
        PQ_FINE_S,
        PQ_FINE_SUBDIM,
        _ivfpq_rescore_search,
        ann_ivfpq_rescore_low_scan,
        load_ann_fine,
        load_ann_index,
        save_ann_index,
    )
    from tests.conftest import SF_DIR

    path = str(tmp_path / "annidx")
    save_ann_index(spark, SF_DIR, path)
    assign, centroids, _codes, _cbs = load_ann_index(spark, path)
    fine_codes, fine_cbs = load_ann_fine(spark, path)
    emb = load(spark, SF_DIR, "embeddings")
    loaded = _ivfpq_rescore_search(
        emb, assign, centroids, fine_codes, fine_cbs,
        nprobe=ANN_LOW_SCAN_NPROBE, shortlist_n=ANN_LOW_SCAN_SHORTLIST,
        S=PQ_FINE_S, subdim=PQ_FINE_SUBDIM,
    ).collect()
    session = ann_ivfpq_rescore_low_scan(spark, SF_DIR).collect()
    key = lambda r: (r["vec_id"], r["score"])
    assert sorted(map(key, loaded)) == sorted(map(key, session))


def _exact_forward_edges(u):
    """All-pairs exact top-M forward edges — O(N^2): the differential
    baseline `test_nnd_build_vs_exact` checks the NN-descent build
    against."""
    from neumann_spark.functions.vector import dot_expr
    from neumann_spark.pipeline.ann import _top_m_edges

    ua = u.select(F.col("vec_id").alias("src"), F.col("embedding").alias("va"))
    ub = u.select(F.col("vec_id").alias("dst"), F.col("embedding").alias("vb"))
    pairs = (
        ua.join(F.broadcast(ub), F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            F.round(1.0 - dot_expr(F.col("va"), F.col("vb")), 6).alias("d"),
        )
    )
    return _top_m_edges(pairs)


def test_nnd_build_vs_exact(spark):
    """Differential for the NN-descent kNN-graph build (the r8
    replacement for the all-pairs join): forward edges recover >=90% of
    the exact top-M per node (measured 0.995 at this fixture, 0.926 at
    the 2K fixture), each node's forward block is internally ordered by
    (round6 cosine distance, dst) — i.e. NN-descent only MISSES edges,
    it never misorders what it kept — and reverse edges stay capped,
    source-ascending, and deduped against the forward block."""
    import numpy as np

    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_M,
        GRAPH_R,
        knn_graph_index,
        unit_embeddings,
    )
    from tests.conftest import SF_DIR

    edges = knn_graph_index(spark, SF_DIR)[0]
    ep = edges.orderBy("src", "pos").toPandas()
    u = unit_embeddings(load(spark, SF_DIR, "embeddings"))
    exact = _exact_forward_edges(u).toPandas()
    n = exact["src"].nunique()
    exact_adj = {
        int(s): set(g["dst"].astype(int))
        for s, g in exact.groupby("src")
    }
    fwd = ep[ep["pos"] < GRAPH_M]
    overlaps = [
        len(set(g["dst"].astype(int)) & exact_adj[int(s)]) / GRAPH_M
        for s, g in fwd.groupby("src")
    ]
    assert len(overlaps) == n
    assert sum(overlaps) / n >= 0.90

    rows = load(spark, SF_DIR, "embeddings").orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
    d = np.round(1.0 - unit @ unit.T, 6)
    for src in (0, n // 2, n - 1):
        grp = ep[ep["src"] == src]
        kept = grp[grp["pos"] < GRAPH_M]["dst"].tolist()
        # kept edges are pos-ordered by (d, dst) among themselves
        assert kept == sorted(kept, key=lambda j: (d[src, j], j))
        rev = grp[grp["pos"] >= GRAPH_M]["dst"].tolist()
        assert len(rev) <= GRAPH_R
        assert rev == sorted(rev)          # source-ascending cap order
        assert not set(rev) & set(kept)    # deduped vs forward block


def test_grouped_pair_distances_matches_pairwise(spark):
    """`_grouped_pair_distances` (the O(memberships × dim)-shuffle build
    kernel, r11) must emit exactly the rows `_pair_distances` computes
    over the equivalent within-group pair expansion — same (src, dst)
    set AND bit-equal round-6 distances (both run dot_expr's
    zip_with→aggregate left fold over the same operand order), which is
    the property that lets the seed/NN-descent stages fold multi-key
    duplicates with a plain distinct."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        _grouped_pair_distances,
        _pair_distances,
        unit_embeddings,
    )
    from tests.conftest import SF_DIR

    u = unit_embeddings(load(spark, SF_DIR, "embeddings"))
    # overlapping groups: id%3 and id%5 memberships in one keyed frame,
    # so some pairs arise under two keys and must fold to one row
    keyed = u.select((F.col("vec_id") % 3).alias("key"), "vec_id").union(
        u.select((F.col("vec_id") % 5 + 100).alias("key"), "vec_id"))
    got = _grouped_pair_distances(u, keyed).distinct().collect()

    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), "key")
        .select(F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    want = _pair_distances(u, pairs).collect()
    key = lambda r: (r["src"], r["dst"], r["d"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) == len(want) > 0


def test_nnd_seed_salting_fixture_neutral(spark):
    """The r12 pair-group shard (<=GRAPH_PAIR_SHARD members, applied
    inside _grouped_pair_distances) must be a no-op below the cap: at
    fixture occupancy (~20 members per warm cluster at sf0.001) every
    shard count is 1, so the shipped seed's top-M edges are BIT-EQUAL
    to an unsharded _pair_distances replay of the full cluster-mate
    expansion -- every existing build oracle replays unchanged."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_SEED_PROBES,
        _nearest_clusters,
        _nnd_seed,
        _pair_distances,
        _top_m_edges,
        knn_graph_index,
        unit_embeddings,
    )
    from tests.conftest import SF_DIR

    warm_centroids = knn_graph_index(spark, SF_DIR)[2]
    u = unit_embeddings(load(spark, SF_DIR, "embeddings"))
    got = _nnd_seed(spark, u, warm_centroids).collect()
    # unsharded reference: the explicit self-join pair expansion scored
    # through the narrow-frame kernel (which never shards)
    seedcl = _nearest_clusters(
        spark, u, warm_centroids, GRAPH_SEED_PROBES).select("vec_id", "cl")
    pairs = (
        seedcl.alias("a")
        .join(seedcl.alias("b"), "cl")
        .select(F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    want = _top_m_edges(_pair_distances(u, pairs).distinct()).collect()
    key = lambda r: (r["src"], r["pos"], r["dst"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 0


def test_grouped_pair_distances_shards_oversize_groups(spark, monkeypatch):
    """With the shard cap forced below group size, the kernel must
    engage its salt: the emitted pair set becomes a strict SUBSET of
    the full within-group expansion (cross-shard pairs are not emitted
    -- NND rounds recover them), distances on surviving pairs stay
    bit-equal, and the same-shard relation is symmetric (src->dst kept
    implies dst->src kept)."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    u = ann.unit_embeddings(load(spark, SF_DIR, "embeddings"))
    keyed = u.select((F.col("vec_id") % 3).alias("key"), "vec_id")
    pairs = (
        keyed.alias("a")
        .join(keyed.alias("b"), "key")
        .select(F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    full = {(r["src"], r["dst"], r["d"])
            for r in ann._pair_distances(u, pairs).collect()}

    monkeypatch.setattr(ann, "GRAPH_PAIR_SHARD", 8)  # groups are ~167
    sharded = ann._grouped_pair_distances(u, keyed).distinct().collect()
    sset = {(r["src"], r["dst"], r["d"]) for r in sharded}
    assert sset < full  # strict subset, bit-equal distances where kept
    assert len(sset) > 0
    kept = {(s, d) for s, d, _ in sset}
    assert all((d, s) in kept for s, d in kept)  # shard symmetry


def test_graph_nnd_rounds_law():
    """Build depth is FROZEN at 2 by measurement (r12): doubled depth
    at 262K moved recall not at all (the ceiling was the shortlist
    cap), so the derivation returns the constant at every N; the hook
    + graph_meta column + law-oracle column keep the plumbing ready
    for a ladder point that measures real under-convergence."""
    from neumann_spark.pipeline.ann import graph_nnd_rounds

    for n in (20, 500, 2000, 20000, 65536, 131072, 262144, 1_048_576):
        assert graph_nnd_rounds(n) == 2, n


def test_nnd_build_never_joins_embeddings_unblocked(spark):
    """The scale contract for the r8 build: NO stage of the NN-descent
    edge plan is a cartesian/nested-loop product — every embeddings x
    embeddings contact is an equi-join on a blocking key (cluster id,
    neighbour id, or pair id). The old all-pairs build planned a
    BroadcastNestedLoopJoin; this asserts it never comes back."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        _nnd_round,
        _nnd_seed,
        knn_graph_index,
        unit_embeddings,
    )
    from tests.conftest import SF_DIR

    warm_centroids = knn_graph_index(spark, SF_DIR)[2]
    u = unit_embeddings(load(spark, SF_DIR, "embeddings"))
    seed = _nnd_seed(spark, u, warm_centroids)
    for df in (seed, _nnd_round(u, seed.localCheckpoint(eager=True))):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_graph_rescore_equals_exact_at_tiny_scale(spark):
    """At sf0.001 (20 vectors) the warm lists + rounds flood the whole
    graph and the shortlist exceeds N, so the graph search must return
    EXACTLY the brute-force cosine top-10 (minus the query itself) —
    the end-to-end correctness anchor beneath the measured-recall story."""
    from neumann_spark.catalog import load
    from neumann_spark.functions.vector import knn
    from neumann_spark.pipeline.ann import ann_graph_rescore
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    anchor = [float(x)
              for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = [r["vec_id"]
             for r in knn(emb, "embedding", anchor, 10, "cosine",
                          pre_filter=F.col("vec_id") != 0).collect()]
    got = [r["vec_id"] for r in ann_graph_rescore(spark, SF_DIR).collect()]
    assert got == exact


def test_graph_batch_matches_single_query(spark):
    """The batched search must be state-isolated per query: anchor 0's
    rows in the batch result equal the single-query search's result
    exactly (ids AND rescored scores)."""
    from neumann_spark.pipeline.ann import (
        ann_graph_rescore,
        ann_graph_rescore_batch,
    )
    from tests.conftest import SF_DIR

    single = [(r["vec_id"], r["score"])
              for r in ann_graph_rescore(spark, SF_DIR).collect()]
    batch = ann_graph_rescore_batch(spark, SF_DIR)
    q0 = [(r["vec_id"], r["score"])
          for r in batch.filter(F.col("qid") == 0)
          .orderBy(F.col("score").desc(), "vec_id").collect()]
    assert q0 == single
    # three anchors, ten rows each, and no anchor returns itself
    rows = batch.collect()
    assert len(rows) == 30
    assert all(r["vec_id"] != r["qid"] for r in rows)


def test_graph_index_persist_sq_tier(spark, tmp_path):
    """save_graph_index round-trips the SQ8 rescore tier (r8): the
    compact search through the LOADED index (codes + [lo, hi] grid read
    back from parquet) equals the session-index compact search exactly —
    a lossy grid or truncated code array would change the dequantized
    scores."""
    from neumann_spark.pipeline.ann import (
        GRAPH_COMPACT_SHORTLIST,
        GRAPH_T_HIGH,
        _graph_rescore_from,
        knn_graph_index,
        load_graph_index,
        save_graph_index,
    )
    from tests.conftest import SF_DIR

    path = str(tmp_path / "gidx")
    save_graph_index(spark, SF_DIR, path)
    got = _graph_rescore_from(
        spark, SF_DIR, load_graph_index(spark, path), GRAPH_T_HIGH,
        shortlist=GRAPH_COMPACT_SHORTLIST, sq_rescore=True).collect()
    want = _graph_rescore_from(
        spark, SF_DIR, knn_graph_index(spark, SF_DIR), GRAPH_T_HIGH,
        shortlist=GRAPH_COMPACT_SHORTLIST, sq_rescore=True).collect()
    key = lambda r: (r["vec_id"], r["score"])  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))


def test_persisted_layout_file_counts(spark, tmp_path):
    """Persisted-index output layout (§6, r13): a partitionBy write
    without a preceding repartition emits one file per (write task ×
    partition value) — measured ~3,488 files PER edge block on a 1M
    build, which made every serve round schedule 3,488 scan tasks and
    pushed the per-round edge probe to 48.6 s (0.51 s after the fix).
    Pin the fixed layout: `edge_salt` files per edge block dir (== 1
    until ~10M vectors — the salt-aware expectation, ADVICE r13: the
    writer deliberately splits block files past
    GRAPH_PERSIST_BLOCK_FILE_ROWS), one file per warm-assign cluster
    dir, and single sorted files for the unpartitioned probe tables at
    fixture scale."""
    import math
    import os

    from neumann_spark.pipeline.ann import (
        GRAPH_EDGE_BLOCKS,
        GRAPH_M,
        GRAPH_PERSIST_BLOCK_FILE_ROWS,
        GRAPH_R,
        knn_graph_index,
        save_graph_index,
    )
    from tests.conftest import SF_DIR

    path = str(tmp_path / "gidx_layout")
    save_graph_index(spark, SF_DIR, path)

    def parts(d):
        return [f for f in os.listdir(d) if f.startswith("part-")]

    # the writer's own salt formula, evaluated at the fixture n (== 1
    # here; the assertion below stays correct for any future fixture or
    # constant change instead of silently pinning the unsalted case)
    n = int(knn_graph_index(spark, SF_DIR)[9]["n"])
    edge_salt = max(1, math.ceil(
        n * (GRAPH_M + GRAPH_R) / GRAPH_EDGE_BLOCKS
        / GRAPH_PERSIST_BLOCK_FILE_ROWS))
    edge_root = os.path.join(path, "graph_edges")
    blocks = [d for d in os.listdir(edge_root) if d.startswith("block=")]
    assert blocks, "edge table lost its block partitioning"
    for b in blocks:
        assert len(parts(os.path.join(edge_root, b))) <= edge_salt, b
    warm_root = os.path.join(path, "graph_warm_assign")
    clusters = [d for d in os.listdir(warm_root)
                if d.startswith("cluster=")]
    assert clusters, "warm assign lost its cluster partitioning"
    for c in clusters:
        assert len(parts(os.path.join(warm_root, c))) == 1, c
    assert len(parts(os.path.join(path, "graph_codes"))) == 1
    assert len(parts(os.path.join(path, "graph_sq_codes"))) == 1


def test_graph_insert_vs_full_build(spark):
    """knn_graph_insert quality + contract differential (r8): grow an
    index built on all-but-8 vectors by the remaining 8 and check
    (a) structural invariants — every node (old and new) keeps a dense
    pos-ordered forward block of <= M edges, the reverse block stays
    capped and deduped; (b) search quality — the grown index's T_LOW
    search for anchor 0 overlaps the full-build index's search >= 8/10
    (at this scale both flood the graph, so a mis-wired insert shows up
    immediately)."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_INSERT_BATCH,
        GRAPH_M,
        GRAPH_R,
        GRAPH_T_LOW,
        _build_graph_index,
        _graph_rescore_from,
        knn_graph_index,
        knn_graph_insert,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).head()[0]) - (GRAPH_INSERT_BATCH - 1)
    grown = knn_graph_insert(
        spark,
        _build_graph_index(spark, emb.filter(F.col("vec_id") < cut)),
        emb.filter(F.col("vec_id") >= cut))
    ep = grown[0].orderBy("src", "pos").toPandas()
    n = emb.count()
    fwd = ep[ep["pos"] < GRAPH_M]
    assert fwd["src"].nunique() == n  # every node, incl. all 8 new ones
    for src, grp in fwd.groupby("src"):
        assert list(grp["pos"]) == list(range(len(grp)))  # dense order
        assert len(grp) <= GRAPH_M
        assert grp["dst"].nunique() == len(grp)
        assert (grp["dst"] != src).all()
    rev = ep[ep["pos"] >= GRAPH_M]
    fwd_pairs = set(zip(fwd["src"].astype(int), fwd["dst"].astype(int)))
    for src, grp in rev.groupby("src"):
        assert len(grp) <= GRAPH_R
        assert list(grp["dst"]) == sorted(grp["dst"])
        assert not any((int(src), int(d)) in fwd_pairs for d in grp["dst"])
    got = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, grown, GRAPH_T_LOW).collect()}
    ref = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, knn_graph_index(spark, SF_DIR),
        GRAPH_T_LOW).collect()}
    assert len(got & ref) >= 8


def test_insert_seed_hop_matches_pair_form(spark):
    """The r13 kernel-routed insert scoring must be BIT-IDENTICAL to the
    former per-pair-vector form at fixture scale (every seed/hop group
    under GRAPH_PAIR_SHARD, shard count 1): re-derive the former
    members/newnew/hop candidate joins, score them with the narrow-frame
    _pair_distances, and check the batch nodes' forward blocks in the
    grown index equal the re-derived top-M exactly, (src, pos, dst) for
    (src, pos, dst) — so every existing insert/churn/CDC oracle replays
    unchanged."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_INSERT_BATCH,
        GRAPH_M,
        GRAPH_SEED_PROBES,
        _build_graph_index,
        _nearest_clusters,
        _pair_distances,
        _top_m_edges,
        knn_graph_insert,
        unit_embeddings,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).head()[0]) - (GRAPH_INSERT_BATCH - 1)
    base = _build_graph_index(spark, emb.filter(F.col("vec_id") < cut))
    batch = emb.filter(F.col("vec_id") >= cut)
    edges, warm_codes, warm_centroids, u = base[0], base[1], base[2], base[5]
    un = unit_embeddings(batch.select("vec_id", "embedding"))
    u_all = u.unionByName(un)
    ncl = _nearest_clusters(spark, un, warm_centroids, GRAPH_SEED_PROBES)
    members = (
        ncl.select(F.col("vec_id").alias("src"), F.col("cl").alias("cluster"))
        .join(warm_codes.select(F.col("vec_id").alias("dst"), "cluster"),
              "cluster")
        .select("src", "dst")
    )
    newnew = (
        ncl.select(F.col("vec_id").alias("src"), "cl")
        .join(ncl.select(F.col("vec_id").alias("dst"), "cl"), "cl")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    cand0 = members.union(newnew).distinct()
    nn0 = _top_m_edges(_pair_distances(u_all, cand0))
    hop = (
        nn0.select("src", F.col("dst").alias("mid"))
        .join(edges.filter(F.col("pos") < GRAPH_M)
              .select(F.col("src").alias("mid"), F.col("dst").alias("dst")),
              "mid")
        .select("src", "dst")
    )
    cand1 = cand0.union(hop).filter(F.col("src") != F.col("dst")).distinct()
    expected = {(int(r["src"]), int(r["pos"]), int(r["dst"]))
                for r in _top_m_edges(
                    _pair_distances(u_all, cand1)).collect()}
    grown = knn_graph_insert(spark, base, batch)
    got = {(int(r["src"]), int(r["pos"]), int(r["dst"]))
           for r in grown[0]
           .filter((F.col("pos") < GRAPH_M) & (F.col("src") >= cut))
           .collect()}
    assert got == expected
    assert len(got) > 0


def test_graph_delete_repairs_index(spark):
    """knn_graph_delete invariants (r8): after deleting the 8 highest-id
    vectors, NO structure of the shrunk index contains a deleted id (edge
    endpoint, warm list, PQ code row, SQ row, unit frame); every survivor
    keeps a dense pos-ordered forward block; previously-affected nodes
    were repaired (their blocks no longer reference deleted targets); and
    the shrunk-index search overlaps brute-force cosine top-10 over the
    SURVIVORS >= 8/10."""
    from neumann_spark.catalog import load
    from neumann_spark.functions.vector import knn
    from neumann_spark.pipeline.ann import (
        GRAPH_INSERT_BATCH,
        GRAPH_M,
        GRAPH_T_LOW,
        _graph_rescore_from,
        knn_graph_delete,
        knn_graph_index,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).head()[0]) - (GRAPH_INSERT_BATCH - 1)
    dels = set(range(cut, cut + GRAPH_INSERT_BATCH))
    shrunk = knn_graph_delete(
        spark, knn_graph_index(spark, SF_DIR),
        emb.filter(F.col("vec_id") >= cut).select("vec_id"))
    ep = shrunk[0].toPandas()
    assert not set(ep["src"].astype(int)) & dels
    assert not set(ep["dst"].astype(int)) & dels
    for frame, col in ((shrunk[1], "vec_id"), (shrunk[3], "vec_id"),
                       (shrunk[5], "vec_id"), (shrunk[6], "vec_id")):
        ids = {int(r[col]) for r in frame.select(col).distinct().collect()}
        assert not ids & dels
    fwd = ep[ep["pos"] < GRAPH_M].sort_values(["src", "pos"])
    assert fwd["src"].nunique() == cut  # every survivor still covered
    for src, grp in fwd.groupby("src"):
        assert list(grp["pos"]) == list(range(len(grp)))
    anchor = [float(x)
              for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    exact = {int(r["vec_id"]) for r in knn(
        emb.filter(F.col("vec_id") < cut), "embedding", anchor, 10,
        "cosine", pre_filter=F.col("vec_id") != 0).collect()}
    got = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, shrunk, GRAPH_T_LOW).collect()}
    assert len(got & exact) >= 8


def test_graph_batch_scales_to_128_anchors(spark):
    """r8 (widened to 128 in r9): the batch machinery must serve a
    128-query batch through the SAME single-join LUT/warm builds — 10
    state-isolated rows per anchor, and sampled anchors match a
    batch-of-one of the same anchor exactly (any cross-query bleed in
    the shared frontier/evaluated/expanded frames would change either
    side). Since r9 the expanded set is a keyed DataFrame accumulated by
    union (driver holds only each round's collected frontier), so the
    batch width costs no per-round driver state rebuild."""
    from neumann_spark.pipeline.ann import (
        GRAPH_B,
        GRAPH_PROBE_INLIST_MAX,
        GRAPH_T_LOW,
        _graph_batch_search,
    )
    from tests.conftest import SF_DIR

    n_anchors = 128
    # 128 * GRAPH_B = 1024: the whole frontier still fits one literal
    # IN-list, so this batch runs the driver-state loop; the 300- and
    # 512-anchor tests and the join-form differential cover the
    # frame-state loop
    assert n_anchors * GRAPH_B == GRAPH_PROBE_INLIST_MAX
    anchors = tuple(range(n_anchors))
    rows = _graph_batch_search(
        spark, SF_DIR, anchors, GRAPH_T_LOW).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(int(r["qid"]), []).append(
            (int(r["vec_id"]), r["score"]))
    assert sorted(per_q) == list(range(n_anchors))
    assert all(len(v) == 10 for v in per_q.values())
    assert all(v != q for q, vs in per_q.items() for v, _ in vs)
    for a in (5, 19, 127):
        solo = _graph_batch_search(
            spark, SF_DIR, (a,), GRAPH_T_LOW).collect()
        assert [(int(r["vec_id"]), r["score"]) for r in solo] == \
            sorted(per_q[a], key=lambda t: (-t[1], t[0]))


def test_graph_batch_lut_single_join(spark):
    """The batched LUT build is ONE hash join of the anchors frame
    against the broadcast codebook frame — no per-anchor union chain
    (the r7 shape unioned one lineage per anchor), no nested loop."""
    from neumann_spark.pipeline.ann import _batch_luts, knn_graph_index
    from tests.conftest import SF_DIR

    index = knn_graph_index(spark, SF_DIR)
    codebooks, u = index[4], index[5]
    qvs = {int(r["vec_id"]): [float(x) for x in r["embedding"]]
           for r in u.filter(F.col("vec_id") < 32).collect()}
    qdf = spark.createDataFrame(
        [(a, qvs[a]) for a in sorted(qvs)], "qid bigint, qv array<double>")
    cent_df = spark.createDataFrame(
        [(s, int(code), [float(x) for x in vals])
         for s, cb in enumerate(codebooks) for code, vals in cb],
        "s int, code int, cent array<double>")
    luts = _batch_luts(qdf, cent_df)
    plan = luts._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Join") >= 1
    assert "Union" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # one lut row per (anchor, codebook cell)
    n_cells = sum(len(cb) for cb in codebooks)
    assert luts.count() == 32 * n_cells


def test_driver_adc_bit_equals_spark_round6_sum(spark):
    """Driver-state serving rounds score ADC on the driver: `adc_grid`
    over the collected int64 1e-6 LUT must return, compared with `==`,
    the doubles of the Spark form `codes ⋈ luts → round(sum(d), 6)` for
    3 anchors × every vec_id of the code table. Exact by construction:
    every d is k·1e-6, so the integer sum K / 1e6 is the double nearest
    K·1e-6, which is what Spark's HALF_UP round of the double sum
    returns."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.session import local_df
    from tests.conftest import SF_DIR

    index = ann.knn_graph_index(spark, SF_DIR)
    codes_long, codebooks, u = index[3], index[4], index[5]
    qids = list(ann.GRAPH_BATCH_ANCHORS)
    qdf = local_df(spark, [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in u.filter(F.col("vec_id").isin(qids)).collect()
    ], "qid bigint, qv array<double>")
    luts = ann._batch_luts(qdf, ann._codebook_df(spark, codebooks))
    want = {
        (r["qid"], r["vec_id"]): r["d"]
        for r in codes_long.join(F.broadcast(luts), ["s", "code"])
        .groupBy("qid", "vec_id").agg(F.round(F.sum("d"), 6).alias("d"))
        .collect()
    }
    lut = ann._lut_grid(luts, qids)
    vids, mat = ann._code_rows(codes_long)
    assert len(vids) == codes_long.select("vec_id").distinct().count()
    got = {(q, v): d for q in qids
           for v, d in zip(vids, ann.adc_grid(lut[q], mat).tolist())}
    assert len(got) == len(want) == 3 * len(vids)
    assert all(type(d) is float for d in got.values())
    assert got == want


def test_hybrid_rrf_fusion_semantics(spark):
    """Every fused hit carries the RRF score implied by its leg ranks,
    two-leg hits use both terms, and the output is the global top-10 of
    the fused scores (fusion formula per the public RRF definition)."""
    from neumann_spark.unified.hybrid import (
        FUSE_TOPN, RRF_K, hybrid_rrf_search, _bm25_scores)
    from tests.conftest import SF_DIR

    out = hybrid_rrf_search(spark, SF_DIR).collect()
    assert len(out) == 10
    for r in out:
        expect = 0.0
        assert r["rank_text"] is not None or r["rank_vec"] is not None
        if r["rank_text"] is not None:
            assert 1 <= r["rank_text"] <= FUSE_TOPN
            expect += 1.0 / (RRF_K + r["rank_text"])
        if r["rank_vec"] is not None:
            assert 1 <= r["rank_vec"] <= FUSE_TOPN
            expect += 1.0 / (RRF_K + r["rank_vec"])
        assert abs(r["rrf"] - round(expect, 6)) < 1e-9
    # descending fused score, doc_id tiebreak
    scores = [(r["rrf"], r["doc_id"]) for r in out]
    assert scores == sorted(scores, key=lambda t: (-t[0], t[1]))
    # a doc ranked #1 by BOTH legs would score 2/(K+1); nothing may exceed it
    assert all(r["rrf"] <= round(2.0 / (RRF_K + 1), 6) for r in out)
    # the keyword leg alone must agree with the registered BM25 surface
    bm = {r["doc_id"]: r["bm25"] for r in _bm25_scores(spark, SF_DIR).collect()}
    from neumann_spark.pipeline.fulltext import fulltext_bm25
    ref = {r["doc_id"]: r["bm25"] for r in fulltext_bm25(spark, SF_DIR).collect()}
    assert bm == ref


def test_graph_stream_insert_matches_sequential_batches(spark):
    """The streaming ingest (file source, maxFilesPerTrigger=1,
    foreachBatch grow) must produce exactly the index that applying
    `knn_graph_insert` twice in id order produces: same top-10 search
    result, and the stream must genuinely have split into two
    micro-batches (the query raises otherwise)."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_INSERT_BATCH,
        GRAPH_STREAM_BATCHES,
        GRAPH_T_LOW,
        _build_graph_index,
        _graph_rescore_from,
        ann_graph_stream_insert,
        knn_graph_insert,
    )
    from tests.conftest import SF_DIR

    streamed = [(int(r["vec_id"]), r["score"])
                for r in ann_graph_stream_insert(spark, SF_DIR).collect()]

    emb = load(spark, SF_DIR, "embeddings")
    cut = (int(emb.agg(F.max("vec_id")).head()[0])
           - GRAPH_INSERT_BATCH * GRAPH_STREAM_BATCHES + 1)
    idx = _build_graph_index(spark, emb.filter(F.col("vec_id") < cut))
    for b in range(GRAPH_STREAM_BATCHES):
        lo = cut + b * GRAPH_INSERT_BATCH
        idx = knn_graph_insert(
            spark, idx,
            emb.filter((F.col("vec_id") >= lo)
                       & (F.col("vec_id") < lo + GRAPH_INSERT_BATCH)))
    sequential = [(int(r["vec_id"]), r["score"]) for r in
                  _graph_rescore_from(spark, SF_DIR, idx,
                                      GRAPH_T_LOW).collect()]
    assert streamed == sequential


def test_graph_cdc_stream_matches_sequential_ops(spark):
    """The CDC stream (insert micro-batch, then tombstone micro-batch)
    must land on exactly the index that imperative insert-then-delete
    produces, and deleted ids must be gone from the search surface."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_CDC_DELETE_PRED,
        GRAPH_INSERT_BATCH,
        GRAPH_T_LOW,
        _build_graph_index,
        _graph_rescore_from,
        ann_graph_cdc_stream,
        knn_graph_delete,
        knn_graph_insert,
    )
    from tests.conftest import SF_DIR

    streamed = [(int(r["vec_id"]), r["score"])
                for r in ann_graph_cdc_stream(spark, SF_DIR).collect()]

    emb = load(spark, SF_DIR, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).head()[0]) - GRAPH_INSERT_BATCH + 1
    idx = _build_graph_index(spark, emb.filter(F.col("vec_id") < cut))
    idx = knn_graph_insert(spark, idx, emb.filter(F.col("vec_id") >= cut))
    dels = emb.filter(F.expr(GRAPH_CDC_DELETE_PRED)).select("vec_id")
    idx = knn_graph_delete(spark, idx, dels)
    sequential = [(int(r["vec_id"]), r["score"]) for r in
                  _graph_rescore_from(spark, SF_DIR, idx,
                                      GRAPH_T_LOW).collect()]
    assert streamed == sequential
    gone = {int(r["vec_id"]) for r in dels.collect()}
    assert not gone & {v for v, _ in streamed}


def test_hybrid_rrf_ann_uses_index_leg(spark):
    """`hybrid_rrf_ann`'s vector ranks must be exactly the graph-index
    search's result order (rank i = i-th hit of ann_graph_rescore's
    pipeline), and its RRF scores must follow from the leg ranks."""
    from neumann_spark.pipeline.ann import (
        GRAPH_T_LOW, _graph_rescore_from, knn_graph_index)
    from neumann_spark.unified.hybrid import RRF_K, hybrid_rrf_ann
    from tests.conftest import SF_DIR

    out = hybrid_rrf_ann(spark, SF_DIR).collect()
    assert len(out) == 10
    idx_hits = [int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, knn_graph_index(spark, SF_DIR),
        GRAPH_T_LOW).collect()]
    rank_of = {v: i + 1 for i, v in enumerate(idx_hits)}
    for r in out:
        if r["rank_vec"] is not None:
            assert rank_of[r["doc_id"]] == r["rank_vec"]
        expect = 0.0
        if r["rank_text"] is not None:
            expect += 1.0 / (RRF_K + r["rank_text"])
        if r["rank_vec"] is not None:
            expect += 1.0 / (RRF_K + r["rank_vec"])
        assert abs(r["rrf"] - round(expect, 6)) < 1e-9


def test_graph_insert_redelivery_is_noop(spark):
    """Re-inserting ids already in the index (CDC re-delivery /
    foreachBatch retry under at-least-once) must leave every index
    table unchanged — no duplicate forward blocks or code rows."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_INSERT_BATCH, _build_graph_index, knn_graph_insert)
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).head()[0]) - (GRAPH_INSERT_BATCH - 1)
    idx = _build_graph_index(spark, emb.filter(F.col("vec_id") < cut))
    grown = knn_graph_insert(spark, idx, emb.filter(F.col("vec_id") >= cut))
    again = knn_graph_insert(spark, grown,
                             emb.filter(F.col("vec_id") >= cut))
    keys = {0: ["src", "pos"], 1: ["vec_id"], 3: ["vec_id", "s"],
            6: ["vec_id"]}
    for i, name in ((0, "edges"), (1, "warm"), (3, "codes"), (6, "sq")):
        a = grown[i].toPandas()
        b = again[i].toPandas()
        for df in (a, b):  # array cells -> hashable for comparison
            for c in df.columns:
                if df[c].map(lambda v: isinstance(v, (list,)) or
                             type(v).__name__ == "ndarray").any():
                    df[c] = df[c].map(tuple)
        a = a.sort_values(keys[i] + [c for c in a.columns
                                     if c not in keys[i]]).reset_index(drop=True)
        b = b.sort_values(keys[i] + [c for c in b.columns
                                     if c not in keys[i]]).reset_index(drop=True)
        assert a.equals(b), f"{name} changed on redelivery"


def test_graph_delete_then_reinsert_restores_searchability(spark):
    """Tombstone-then-re-add (the CDC upsert pattern): delete a batch,
    re-insert the same vectors, and the index must (a) keep every
    structural invariant, (b) contain exactly one forward block per
    node, and (c) search near-identically to the never-deleted index
    (re-built edges for the cycled nodes may differ slightly from the
    original NN-descent edges, so >= 9/10 overlap, not equality)."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_INSERT_BATCH,
        GRAPH_M,
        GRAPH_T_LOW,
        _graph_rescore_from,
        knn_graph_delete,
        knn_graph_index,
        knn_graph_insert,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    cut = int(emb.agg(F.max("vec_id")).head()[0]) - (GRAPH_INSERT_BATCH - 1)
    cycled = emb.filter(F.col("vec_id") >= cut)
    base = knn_graph_index(spark, SF_DIR)
    shrunk = knn_graph_delete(spark, base, cycled.select("vec_id"))
    restored = knn_graph_insert(spark, shrunk, cycled)

    n = emb.count()
    fwd = restored[0].filter(F.col("pos") < GRAPH_M).toPandas()
    assert fwd["src"].nunique() == n  # every node incl. the cycled ones
    for src, grp in fwd.groupby("src"):
        assert sorted(grp["pos"]) == list(range(len(grp)))
        assert grp["dst"].nunique() == len(grp)
    # code tables hold exactly one row set per node again
    assert restored[1].count() == n
    assert restored[6].count() == n

    got = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, restored, GRAPH_T_LOW).collect()}
    ref = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, base, GRAPH_T_LOW).collect()}
    assert len(got & ref) >= 9


def test_filtered_auto_dispatch_routes_by_selectivity(spark):
    """The Auto dispatch must pick the reference's strategy at the
    reference's 10% cutoff (`vector_engine/src/lib.rs:387-399,1735`):
    ~6% selective -> 'pre' (exact brute subset scan), ~30% -> 'post'
    (index-served shortlist filter) — and the auto-dispatched loose
    result must equal the directly-invoked graph branch."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_T_HIGH,
        _graph_rescore_from,
        filtered_search_auto,
        filtered_search_strategy,
        knn_graph_index,
    )
    from tests.conftest import SF_DIR

    tight = F.col("vec_id") % 16 == 3
    loose = F.col("label").isin(1, 2, 3)
    assert filtered_search_strategy(spark, SF_DIR, tight) == "pre"
    assert filtered_search_strategy(spark, SF_DIR, loose) == "post"
    # an all-pass predicate is maximally loose; an all-reject one maximally tight
    assert filtered_search_strategy(spark, SF_DIR, F.lit(True)) == "post"
    assert filtered_search_strategy(spark, SF_DIR, F.lit(False)) == "pre"

    # post branch = high-recall auto preset (r10): T_HIGH at fixture N
    allowed = load(spark, SF_DIR, "embeddings").filter(loose).select("vec_id")
    want = _graph_rescore_from(
        spark, SF_DIR, knn_graph_index(spark, SF_DIR), GRAPH_T_HIGH,
        allowed=allowed).collect()
    got = filtered_search_auto(spark, SF_DIR, loose).collect()
    key = lambda rows: [(r["vec_id"], r["score"]) for r in rows]  # noqa: E731
    assert key(got) == key(want)
    # the post-filter branch must honor anchor and k, like the pre branch
    # (r9 review finding: they were silently ignored)
    alt = filtered_search_auto(spark, SF_DIR, loose, anchor=3, k=5).collect()
    assert len(alt) == 5
    assert all(int(r["vec_id"]) != 3 for r in alt)
    assert key(alt) != key(want)[:5]  # a different anchor ranks differently
    pre_alt = filtered_search_auto(spark, SF_DIR, tight, anchor=3, k=5)
    assert len(pre_alt.collect()) == 5

    # the estimate cache is keyed by the session's applicationId (never
    # reused across sessions), NOT id(spark) — an id() key could alias a
    # new session to a garbage-collected one's cached dispatch decisions
    # (ADVICE r10); a fresh application therefore re-estimates
    from neumann_spark.pipeline.ann import _FILTER_SEL_CACHE

    app_id = spark.sparkContext.applicationId
    assert any(k[0] == app_id and k[1] == SF_DIR
               for k in _FILTER_SEL_CACHE), list(_FILTER_SEL_CACHE)
    assert all(isinstance(k[0], str) for k in _FILTER_SEL_CACHE)


def test_graph_churn_drift_bounded(spark):
    """Sustained-churn drift pin (VERDICT r8 item 5): cycle HALF the
    corpus through delete→re-insert in 5 disjoint ~10% batches (frozen
    quantizers — the CDC steady state), then verify (a) structural
    invariants hold, (b) anchor-0 recall@10 vs the exact top-10 stays
    within 0.1 of the fresh build, and (c) the churned search result
    overlaps the fresh result >= 8/10. Cycled nodes get re-selected (not
    NN-descent) edges, so some drift is expected; the pin is that it
    stays bounded at 50% churn — the measured rebuild trigger documented
    in docs/DESIGN.md."""
    import numpy as np

    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_T_HIGH,
        _graph_rescore_from,
        knn_graph_delete,
        knn_graph_insert,
        knn_graph_index,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([int(r["vec_id"]) for r in rows])
    n = len(ids)

    fresh = knn_graph_index(spark, SF_DIR)
    churned = fresh
    for c in range(5):  # 5 x ~10% disjoint slices = 50% of the corpus
        batch = emb.filter(F.col("vec_id") % 10 == c)
        churned = knn_graph_delete(spark, churned, batch.select("vec_id"))
        churned = knn_graph_insert(spark, churned, batch)
    # multi-PASS steady state (VERDICT r9 stretch 7): the SAME keys
    # churn repeatedly — 3 more full cycles of one slice, the
    # at-least-once CDC regime where a hot partition's rows are
    # rewritten over and over. Drift must not compound per pass.
    hot = emb.filter(F.col("vec_id") % 10 == 0)
    for _ in range(3):
        churned = knn_graph_delete(spark, churned, hot.select("vec_id"))
        churned = knn_graph_insert(spark, churned, hot)

    # structural invariants survive the churn: every node still indexed
    assert churned[1].count() == n  # warm assignments
    assert churned[6].count() == n  # SQ rescore rows
    # metadata returns to the fresh build's exactly (XOR fingerprint
    # folds out and back in per cycle; cardinality conserved)
    assert churned[9]["n"] == fresh[9]["n"]
    assert churned[9]["fp"] == fresh[9]["fp"]

    q = vecs[0]
    cos = (vecs @ q) / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(q) + 1e-12)
    s = cos.copy()
    s[0] = -np.inf
    gt = set(ids[np.argsort(-s, kind="stable")[:10]].tolist())

    got_fresh = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, fresh, GRAPH_T_HIGH).collect()}
    got_churn = {int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, churned, GRAPH_T_HIGH).collect()}
    r_fresh = len(got_fresh & gt) / 10
    r_churn = len(got_churn & gt) / 10
    assert r_churn >= r_fresh - 0.1, (r_fresh, r_churn)
    assert len(got_churn & got_fresh) >= 8, (got_fresh, got_churn)


def test_graph_beam_budget_converges_to_exact(spark):
    """The `beam` knob is the HNSW ef analog: with the budget opened all
    the way (beam >= N, enough rounds to exhaust the frontier, shortlist
    >= N) the traversal covers every reachable node and the exact rescore
    must return EXACTLY the brute-force cosine top-10 — the property that
    makes (rounds, beam) an honest recall dial rather than a heuristic
    (measured operating points at N=20K in ANN_RECALL.json scale_runs)."""
    import numpy as np

    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        _graph_rescore_from,
        knn_graph_index,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([int(r["vec_id"]) for r in rows])
    n = len(ids)
    # ground truth on the ENGINE's own grid: unit-dot rounded to 6dp,
    # (score desc, vec_id) tie-break — comparing against raw-score knn
    # ordering would flake on round-6 ties at the k boundary (the trap
    # functions/vector.py knn documents)
    unit = vecs / np.linalg.norm(vecs, axis=1)[:, None]
    sc = np.round(unit @ unit[0], 6)
    sc[0] = -np.inf
    exact = ids[np.lexsort((ids, -sc))[:10]].tolist()
    got = [int(r["vec_id"]) for r in _graph_rescore_from(
        spark, SF_DIR, knn_graph_index(spark, SF_DIR),
        rounds=n, shortlist=n, beam=n).collect()]
    assert got == exact


def test_graph_auto_budget_law():
    """The auto budget reproduces the frozen fixture presets exactly at
    N <= 2000 (oracle stability) and the CALIBRATED equal-budget knobs at
    the measured scale points (ANN_RECALL.json scale_runs +
    tools/ann_beam_calibration.py): with the r11 build-derived width
    caps, per-round work (beam × C) carries the N^0.85 budget and rounds
    grow ~log N — (18,16,32) at 20K (recall 0.930), (13,64,32) at 65K
    (0.932) — instead of the r10 law's 49 sequential rounds at 65K and
    ~490 at 1M."""
    from neumann_spark.pipeline.ann import (
        GRAPH_B,
        GRAPH_BEAM_ABS_MAX,
        GRAPH_BEAM_MAX,
        GRAPH_C,
        GRAPH_COMPACT_SHORTLIST,
        GRAPH_M,
        GRAPH_SHORTLIST,
        GRAPH_T_HIGH,
        GRAPH_T_LOW,
        graph_auto_budget,
        graph_auto_warm_k,
        graph_build_caps,
    )

    # fixture scale: derived knobs == the frozen constants, at every SF
    for n in (20, 200, 500, 2000):
        assert graph_build_caps(n) == (GRAPH_C, GRAPH_BEAM_MAX)
        assert graph_auto_budget(n, GRAPH_T_LOW) == (
            GRAPH_T_LOW, GRAPH_B, GRAPH_C, GRAPH_SHORTLIST)
        assert graph_auto_budget(n, GRAPH_T_HIGH) == (
            GRAPH_T_HIGH, GRAPH_B, GRAPH_C, GRAPH_SHORTLIST)
        assert graph_auto_budget(
            n, GRAPH_T_HIGH, shortlist_base=GRAPH_COMPACT_SHORTLIST
        ) == (GRAPH_T_HIGH, GRAPH_B, GRAPH_C, GRAPH_COMPACT_SHORTLIST)
        assert graph_auto_warm_k(n) == 45

    # calibrated equal-budget points (tools/ann_beam_calibration.py):
    # same total candidate budget as the r10 measured restorations,
    # split into build-provisioned width instead of rounds
    assert graph_build_caps(20000) == (GRAPH_M, 16)
    # shortlist grows ∝ √scale UNCAPPED (r12: the 300-row cap was the
    # measured 262K recall ceiling — 0.865 @ 300 vs 0.947 @ 1200 on
    # the same index at the same traversal knobs)
    assert graph_auto_budget(
        20000, GRAPH_T_HIGH, shortlist_base=GRAPH_COMPACT_SHORTLIST
    ) == (18, 16, 32, 400)
    assert graph_build_caps(65536) == (GRAPH_M, 64)
    assert graph_auto_budget(
        65536, GRAPH_T_HIGH, shortlist_base=GRAPH_COMPACT_SHORTLIST
    ) == (13, 64, 32, 661)
    assert graph_auto_budget(
        262144, GRAPH_T_HIGH, shortlist_base=GRAPH_COMPACT_SHORTLIST
    ) == (20, 128, 32, 1192)
    # the headline: rounds — the only sequential term — stay ~log N;
    # at 131K rounds ≤ 1.5× the 65K r10 setting (49), at 1M they are
    # ~17 vs the r10 law's ~490 sequential Spark jobs
    r131 = graph_auto_budget(131072, GRAPH_T_HIGH)[0]
    assert r131 <= 1.5 * 49, r131
    r1m, b1m, c1m, _ = graph_auto_budget(1_048_576, GRAPH_T_HIGH)
    assert r1m <= 20 and b1m <= GRAPH_BEAM_ABS_MAX and c1m == GRAPH_M
    # monotone: budget never shrinks as N grows; beam stays inside the
    # IN-list probe envelope at any N
    prev = 0
    for n in (2000, 8000, 20000, 65536, 1_000_000, 100_000_000):
        r, b, c, _ = graph_auto_budget(n, GRAPH_T_HIGH)
        assert r * b * c >= prev
        assert b <= GRAPH_BEAM_ABS_MAX
        prev = r * b * c
    # grow-K policy beyond the fixture
    assert graph_auto_warm_k(20000) == 141
    assert graph_auto_warm_k(65536) == 256

    # the IVF baseline's cardinality-derived shortlist (r11): exactly
    # the calibrated base at fixture N (oracle-stable), ∝N beyond —
    # the family's restoration cost is O(N) by design and documented
    from neumann_spark.pipeline.ann import (
        ANN_LOW_SCAN_SHORTLIST,
        ivfpq_auto_shortlist,
    )

    for n in (20, 500, 2000):
        assert ivfpq_auto_shortlist(n) == ANN_LOW_SCAN_SHORTLIST
    assert ivfpq_auto_shortlist(20000) == ANN_LOW_SCAN_SHORTLIST * 10
    assert ivfpq_auto_shortlist(65536) == 6554  # ceil(200 * 32.768)


def test_graph_index_meta_roundtrip_and_validation_cache(spark):
    """Index metadata (cardinality, warm-K, XOR corpus fingerprint)
    persists with the index and round-trips byte-identically; the
    loaded-index coverage/staleness validation runs ONCE per (index,
    sf_dir) — cached in the meta dict — instead of one corpus-scale
    action per search (ADVICE r9)."""
    import shutil
    import tempfile

    from neumann_spark.pipeline.ann import (
        GRAPH_T_LOW,
        _graph_rescore_from,
        knn_graph_index,
        load_graph_index,
        save_graph_index,
    )
    from tests.conftest import SF_DIR

    session = knn_graph_index(spark, SF_DIR)
    meta = session[9]
    assert meta["n"] == 500 and meta["warm_k"] == 45
    assert isinstance(meta["fp"], int)
    assert meta["nnd_rounds"] == 2  # fixture N: the frozen depth

    path = tempfile.mkdtemp(prefix="neumann_meta_rt_")
    try:
        save_graph_index(spark, SF_DIR, path)
        loaded = load_graph_index(spark, path)
        lmeta = loaded[9]
        assert lmeta["n"] == meta["n"]
        assert lmeta["warm_k"] == meta["warm_k"]
        assert lmeta["fp"] == meta["fp"]
        assert lmeta["nnd_rounds"] == meta["nnd_rounds"]
        assert lmeta["validated"] == {}
        out1 = _graph_rescore_from(
            spark, SF_DIR, loaded, GRAPH_T_LOW).collect()
        assert SF_DIR in lmeta["validated"]  # validated on first search
        out2 = _graph_rescore_from(
            spark, SF_DIR, loaded, GRAPH_T_LOW).collect()
        assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_graph_meta_advances_on_maintenance(spark):
    """Insert/delete maintenance advances the metadata exactly: deleting
    a batch moves n down and the XOR fingerprint off the build value;
    re-inserting the same rows restores BOTH (XOR is its own inverse) —
    so a full churn cycle leaves the persisted-validation contract
    intact, and the auto budget always sees the live cardinality."""
    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        knn_graph_delete,
        knn_graph_insert,
        knn_graph_index,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    index = knn_graph_index(spark, SF_DIR)
    meta0 = index[9]
    batch = emb.filter(F.col("vec_id") >= 492)
    shrunk = knn_graph_delete(spark, index, batch.select("vec_id"))
    assert shrunk[9]["n"] == meta0["n"] - 8
    assert shrunk[9]["fp"] != meta0["fp"]
    cycled = knn_graph_insert(spark, shrunk, batch)
    assert cycled[9]["n"] == meta0["n"]
    assert cycled[9]["fp"] == meta0["fp"]
    assert cycled[9]["warm_k"] == meta0["warm_k"]
    # WITHIN-batch duplicates (at-least-once sources) must collapse
    # before any structure or metadata moves: duplicated rows would
    # self-cancel the XOR fingerprint (h^h=0) and overcount n — a
    # correct persisted index would then fail validation (review r10)
    dup_cycled = knn_graph_insert(spark, shrunk, batch.unionByName(batch))
    assert dup_cycled[9]["n"] == meta0["n"]
    assert dup_cycled[9]["fp"] == meta0["fp"]
    assert dup_cycled[3].count() == cycled[3].count()  # PQ code rows
    # within-batch and cross-batch redeliveries share ONE equality:
    # round-6 UNIT values (ADVICE r10 — full-row bit-identity made a
    # same-batch rescaled redelivery raise while the cross-batch check
    # passed the same row as a no-op). A pure rescaling (x*2: same
    # direction, same unit values) therefore collapses as a duplicate —
    # same structures and metadata as the clean cycle
    import pytest as _pytest

    rescaled = batch.unionByName(
        batch.withColumn(
            "embedding", F.transform("embedding", lambda x: x * 2)))
    resc_cycled = knn_graph_insert(spark, shrunk, rescaled)
    assert resc_cycled[9]["n"] == meta0["n"]
    assert resc_cycled[9]["fp"] == meta0["fp"]
    assert resc_cycled[3].count() == cycled[3].count()
    # CONFLICTING duplicates (same id, different DIRECTION — a compacted
    # insert+update) must be rejected loudly, never resolved by an
    # arbitrary winner (nondeterministic codes/edges/fingerprints)
    conflicting = batch.unionByName(
        batch.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(1.0))))
    with _pytest.raises(ValueError, match="CONFLICTING"):
        knn_graph_insert(spark, shrunk, conflicting)
    # cross-batch form: an insert for an id ALREADY indexed with a
    # different embedding is an update arriving without its delete —
    # rejected loudly (silently anti-joining it away would keep serving
    # the stale vectors); identical redeliveries still no-op above.
    # NOTE the comparison is on round-6 UNIT values (the engine is
    # cosine-only, so a pure rescaling like x*2 IS the same vector and
    # passes as a redelivery) — the conflict needs a direction change
    stale = batch.withColumn(
        "embedding", F.transform("embedding", lambda x: x + F.lit(1.0)))
    with _pytest.raises(ValueError, match="DIFFERENT"):
        knn_graph_insert(spark, index, stale)


def test_graph_stale_corpus_detected(spark, tmp_path):
    """A persisted index must refuse an exact rescore against a corpus
    whose embeddings CHANGED under it (ADVICE r9: membership checks see
    only missing ids — an UPDATEd row would silently rescore new floats
    against stale persisted codes). The XOR fingerprint catches it; the
    SQ8 compact tier keeps serving (self-contained, floats never read)."""
    import shutil

    import pytest as _pytest

    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_T_LOW,
        _build_graph_index,
        _graph_batch_search,
        _graph_rescore_from,
        load_graph_index,
        save_graph_index_frames,
    )
    from tests.conftest import SF_DIR

    corpus = str(tmp_path / "corpus")
    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 64)
    emb.write.parquet(f"{corpus}/embeddings.parquet")
    built = _build_graph_index(
        spark, spark.read.parquet(f"{corpus}/embeddings.parquet"))
    idx_path = str(tmp_path / "index")
    save_graph_index_frames(spark, built, idx_path)

    # UPDATE one row's embedding in place (same id set and column type,
    # changed values; the catalog reads `embedding` as declared, float)
    mod = (
        spark.read.parquet(f"{corpus}/embeddings.parquet")
        .withColumn(
            "embedding",
            F.when(F.col("vec_id") == 5,
                   F.transform("embedding", lambda x: (x * 2 + 1).cast("float")))
            .otherwise(F.col("embedding")))
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(f"{corpus}/embeddings.parquet")
    mod.write.parquet(f"{corpus}/embeddings.parquet")

    loaded = load_graph_index(spark, idx_path)
    with _pytest.raises(ValueError, match="fingerprint"):
        _graph_rescore_from(spark, corpus, loaded, GRAPH_T_LOW).collect()
    # the compact tier is served entirely from persisted structures
    out = _graph_rescore_from(
        spark, corpus, loaded, GRAPH_T_LOW, sq_rescore=True).collect()
    assert len(out) == 10
    # batches run the same pre-step: the loaded index serves them too,
    # with the same refusal and the same self-contained compact tier
    anchors = (0, 5, 9)
    with _pytest.raises(ValueError, match="fingerprint"):
        _graph_batch_search(
            spark, corpus, anchors, GRAPH_T_LOW, index=loaded).collect()
    rows = _graph_batch_search(
        spark, corpus, anchors, GRAPH_T_LOW, index=loaded,
        sq_rescore=True).collect()
    per_q = {a: sum(int(r["qid"]) == a for r in rows) for a in anchors}
    assert per_q == {a: 10 for a in anchors}, per_q


def test_graph_corpus_of_doubles_refused_on_the_driver(spark, tmp_path):
    """A persisted index's corpus whose `embedding` is array<double>
    (not the catalog's ARRAY<FLOAT>) raises a ValueError naming the file
    from the footer, before any Spark job; the same index serves the
    float corpus it was built over."""
    import pytest as _pytest

    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_T_LOW,
        _build_graph_index,
        _graph_rescore_from,
        load_graph_index,
        save_graph_index_frames,
    )
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 64)
    floats, doubles = str(tmp_path / "floats"), str(tmp_path / "doubles")
    emb.write.parquet(f"{floats}/embeddings.parquet")
    emb.withColumn("embedding", F.col("embedding").cast("array<double>")) \
        .write.parquet(f"{doubles}/embeddings.parquet")
    idx_path = str(tmp_path / "index")
    save_graph_index_frames(spark, _build_graph_index(spark, emb), idx_path)
    loaded = load_graph_index(spark, idx_path)
    assert len(_graph_rescore_from(spark, floats, loaded, GRAPH_T_LOW).collect()) == 10
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    for sq in (False, True):
        before = sched.nextJobId()
        with _pytest.raises(ValueError, match=r"doubles/embeddings\.parquet: "
                            r"`embedding` is ARRAY<DOUBLE>"):
            _graph_rescore_from(spark, doubles, loaded, GRAPH_T_LOW, sq_rescore=sq)
        assert sched.nextJobId() == before


def test_graph_batch_join_form_matches_inlist(spark, monkeypatch):
    """Above GRAPH_PROBE_INLIST_MAX distinct frontier sources the edge
    probe drops the literal IN-list and relies on block pruning + the
    broadcast-hash frontier join (VERDICT r9 item 6: a 10k-query batch
    would put ~80k literals in the plan). Forcing the join regime at a
    small batch must reproduce the IN-list regime's rows exactly. With
    the limit at 0 the batch also leaves the driver-state loop, so this
    is the differential between the two round loops as well."""
    import neumann_spark.pipeline.ann as ann
    from tests.conftest import SF_DIR

    anchors = tuple(range(16))
    base = ann._graph_batch_search(
        spark, SF_DIR, anchors, ann.GRAPH_T_LOW).collect()
    monkeypatch.setattr(ann, "GRAPH_PROBE_INLIST_MAX", 0)
    joined = ann._graph_batch_search(
        spark, SF_DIR, anchors, ann.GRAPH_T_LOW).collect()
    key = lambda r: (int(r["qid"]), int(r["vec_id"]))  # noqa: E731
    assert sorted(map(tuple, base)) == sorted(map(tuple, joined)), (
        len(base), len(joined))


def test_graph_batch_scales_to_512_anchors_join_form(spark):
    """VERDICT r9 item 6 'done' gate: a 512-query batch at the 2K corpus
    drives the per-round distinct-source count past
    GRAPH_PROBE_INLIST_MAX, so the edge probe runs in the join regime
    (block pruning + broadcast-hash frontier join, no literal IN-list).
    The batch must stay state-isolated (10 rows per anchor, no self
    matches) and sampled anchors must equal a batch-of-one exactly —
    through the join form."""
    from neumann_spark.pipeline.ann import (
        GRAPH_B,
        GRAPH_PROBE_INLIST_MAX,
        GRAPH_T_LOW,
        _graph_batch_search,
    )

    sf01 = "/root/testdata/sf0.1"
    n_anchors = 512
    # first round's frontier sources alone exceed the IN-list envelope
    assert n_anchors * GRAPH_B > GRAPH_PROBE_INLIST_MAX
    anchors = tuple(range(n_anchors))
    rows = _graph_batch_search(
        spark, sf01, anchors, GRAPH_T_LOW).collect()
    per_q: dict[int, list] = {}
    for r in rows:
        per_q.setdefault(int(r["qid"]), []).append(
            (int(r["vec_id"]), r["score"]))
    assert sorted(per_q) == list(range(n_anchors))
    assert all(len(v) == 10 for v in per_q.values())
    assert all(v != q for q, vs in per_q.items() for v, _ in vs)
    for a in (11, 307):
        solo = _graph_batch_search(
            spark, sf01, (a,), GRAPH_T_LOW).collect()
        assert [(int(r["vec_id"]), r["score"]) for r in solo] == \
            sorted(per_q[a], key=lambda t: (-t[1], t[0]))


def test_graph_batch_filtered_unhinted_regime(spark):
    """VERDICT r10 item 4: the batched FILTERED shortlist above
    GRAPH_BATCH_BROADCAST_MAX anchors — where the broadcast hint comes
    off `evald` and AQE picks the allow-join strategy from measured
    sizes — was designed in r10 but never exercised. Drive 300 filtered
    anchors through the unhinted join: the plan must stay BNLJ- and
    cartesian-free, every anchor's rows must pass the filter, and
    sampled anchors must equal a filtered batch-of-one (which runs the
    broadcast-hinted branch) exactly — the two regimes may differ only
    in physical strategy, never in rows."""
    import re

    from neumann_spark.catalog import load
    from neumann_spark.pipeline.ann import (
        GRAPH_BATCH_BROADCAST_MAX,
        GRAPH_T_LOW,
        _graph_batch_search,
    )

    sf01 = "/root/testdata/sf0.1"
    n_anchors = 300
    assert n_anchors > GRAPH_BATCH_BROADCAST_MAX
    anchors = tuple(range(n_anchors))
    allowed_labels = (1, 2, 3)
    allowed = load(spark, sf01, "embeddings").filter(
        F.col("label").isin(*allowed_labels)).select("vec_id")
    allowed_ids = {int(r["vec_id"]) for r in allowed.collect()}

    out = _graph_batch_search(
        spark, sf01, anchors, GRAPH_T_LOW, allowed=allowed)
    jvm = out.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    plan = out._jdf.queryExecution().explainString(mode)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    rows = out.collect()
    per_q: dict[int, list] = {}
    for r in rows:
        assert int(r["vec_id"]) in allowed_ids
        per_q.setdefault(int(r["qid"]), []).append(
            (int(r["vec_id"]), r["score"]))
    assert sorted(per_q) == list(range(n_anchors))
    assert all(len(v) == 10 for v in per_q.values())
    # differential vs the hinted batch-of-one branch
    for a in (7, 299):
        solo = _graph_batch_search(
            spark, sf01, (a,), GRAPH_T_LOW, allowed=allowed).collect()
        assert [(int(r["vec_id"]), r["score"]) for r in solo] == \
            sorted(per_q[a], key=lambda t: (-t[1], t[0]))


def test_two_level_warm_assignment_exhaustive_matches_flat(
        spark, monkeypatch):
    """The two-level (super-centroid) warm assignment (r13) must be an
    exact-candidate machine: with probes covering EVERY super, each row
    sees all K centroids and the Lloyd codes are BIT-EQUAL to the flat
    broadcast-join assignment — the routing only ever narrows the
    candidate set, never re-scores or re-orders it."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    u = ann.unit_embeddings(load(spark, SF_DIR, "embeddings"))
    flat, flat_books = ann.pq_build(
        u, S=1, subdim=ann.DIM, k=ann.GRAPH_WARM_K,
        iters=ann.GRAPH_WARM_ITERS, two_level=False)
    monkeypatch.setattr(ann, "GRAPH_SUPER_PROBES", 10_000)  # ≥ #supers
    two, two_books = ann.pq_build(
        u, S=1, subdim=ann.DIM, k=ann.GRAPH_WARM_K,
        iters=ann.GRAPH_WARM_ITERS, two_level=True)
    assert two_books == flat_books
    key = lambda r: (r["vec_id"], r["code_0"])
    assert sorted(map(key, two.collect())) == \
        sorted(map(key, flat.collect()))


def test_two_level_warm_assignment_default_probes(spark):
    """With the shipped GRAPH_SUPER_PROBES the two-level assignment is an
    approximation (a row whose best centroid lives in an unprobed super
    lands in its best probed cell): on the fixture it must still agree
    with the flat assignment on the large majority of rows and keep
    every code inside the flat codebook's live cells — the clustering-
    quality floor the ladder recall gate then bounds end-to-end."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    u = ann.unit_embeddings(load(spark, SF_DIR, "embeddings"))
    flat, _ = ann.pq_build(
        u, S=1, subdim=ann.DIM, k=ann.GRAPH_WARM_K,
        iters=ann.GRAPH_WARM_ITERS, two_level=False)
    two, _ = ann.pq_build(
        u, S=1, subdim=ann.DIM, k=ann.GRAPH_WARM_K,
        iters=ann.GRAPH_WARM_ITERS, two_level=True)
    f = {r["vec_id"]: r["code_0"] for r in flat.collect()}
    t = {r["vec_id"]: r["code_0"] for r in two.collect()}
    assert set(f) == set(t)
    agree = sum(f[i] == t[i] for i in f) / len(f)
    assert agree >= 0.6, agree


def test_nearest_clusters_two_level_exhaustive_matches_flat(
        spark, monkeypatch):
    """`_nearest_clusters`' two-level branch with exhaustive probes must
    reproduce the flat ranking bit-exactly (same (d, cl) order over the
    same full candidate set) — the seed/insert paths' routing is pure
    candidate narrowing."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    warm_centroids = ann.knn_graph_index(spark, SF_DIR)[2]
    u = ann.unit_embeddings(load(spark, SF_DIR, "embeddings"))
    flat = ann._nearest_clusters(
        spark, u, warm_centroids, ann.GRAPH_SEED_PROBES,
        two_level=False).collect()
    monkeypatch.setattr(ann, "GRAPH_SUPER_PROBES", 10_000)
    two = ann._nearest_clusters(
        spark, u, warm_centroids, ann.GRAPH_SEED_PROBES,
        two_level=True).collect()
    key = lambda r: (r["vec_id"], r["rn"], r["cl"])
    assert sorted(map(key, two)) == sorted(map(key, flat))
    assert len(two) > 0


def test_pair_kernel_shard_telemetry(spark, monkeypatch):
    """The kernel's telemetry dict (VERDICT r12 item 7) must count the
    sharded groups, the widest split, and the dropped-pair estimate —
    zero/absent at fixture occupancy, populated when the cap forces a
    split — and the build threads it into graph_meta, where it
    round-trips through persist/load."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    u = ann.unit_embeddings(load(spark, SF_DIR, "embeddings"))
    keyed = u.select((F.col("vec_id") % 3).alias("key"), "vec_id")
    tel: dict = {}
    ann._grouped_pair_distances(u, keyed, tel).count()
    assert tel == {"pair_groups_sharded": 0, "pair_max_shards": 0,
                   "pair_dropped_est": 0}

    monkeypatch.setattr(ann, "GRAPH_PAIR_SHARD", 64)  # groups are ~167
    tel2: dict = {}
    ann._grouped_pair_distances(u, keyed, tel2).count()
    assert tel2["pair_groups_sharded"] == 3
    assert tel2["pair_max_shards"] == 3  # ceil(167/64)
    # dropped ≈ Σ occ²·(1−1/shards) over the three ~167-member groups
    assert 0 < tel2["pair_dropped_est"] < 3 * 167 * 167
    # accumulation across calls (seed + NND rounds share one dict)
    ann._grouped_pair_distances(u, keyed, tel2).count()
    assert tel2["pair_groups_sharded"] == 6
    monkeypatch.undo()

    # fixture build records all-zero telemetry in graph_meta and the
    # persisted layout round-trips it
    import shutil
    import tempfile

    meta = ann.knn_graph_index(spark, SF_DIR)[9]
    assert (meta["shard_groups"], meta["shard_max"],
            meta["shard_dropped_est"]) == (0, 0, 0)
    path = tempfile.mkdtemp(prefix="nspk_shardtel_")
    try:
        ann.save_graph_index_frames(
            spark, ann.knn_graph_index(spark, SF_DIR), path)
        lmeta = ann.load_graph_index(spark, path)[9]
        assert (lmeta["shard_groups"], lmeta["shard_max"],
                lmeta["shard_dropped_est"]) == (0, 0, 0)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_graph_serve_job_budget(spark):
    """A single query is a batch of one through the same serving core:
    warm at sf0.001, `ann_graph_rescore` and the 3-anchor
    `ann_graph_rescore_batch` each run at most 21 Spark jobs. Every
    driver-state action is a filtered scan (anchor rows, LUT, warm
    members, and per round the edge probe and one code scan) with ADC
    scored on the driver, so no exchange adds adaptive stage jobs."""
    from neumann_spark.registry import all_queries
    from tests.conftest import SF_DIR, jobs_run

    for name in ("ann_graph_rescore", "ann_graph_rescore_batch"):
        fn = all_queries()[name]
        fn(spark, SF_DIR).collect()  # warm the session index
        _, jobs = jobs_run(spark, lambda: fn(spark, SF_DIR).collect())
        assert jobs <= 21, (name, jobs)


def test_lloyd_build_partition_invariant(spark):
    """`pq_build` — the one Lloyd builder — must give the same codes and
    codebooks whatever the shuffle-partition count or AQE setting, at all
    three index shapes it serves: IVF (1x64x8, 3 iterations), coarse PQ
    (8x8x16) and fine PQ (16x4x64)."""
    import neumann_spark.pipeline.ann as ann
    from neumann_spark.catalog import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    shapes = [
        (1, ann.DIM, ann.IVF_K, ann.IVF_ITERS),
        (ann.PQ_S, ann.PQ_SUBDIM, ann.PQ_K, ann.PQ_ITERS),
        (ann.PQ_FINE_S, ann.PQ_FINE_SUBDIM, ann.PQ_FINE_K, ann.PQ_ITERS),
    ]

    def build(S, subdim, k, iters):
        codes, books = ann.pq_build(emb, S=S, subdim=subdim, k=k, iters=iters)
        return sorted(tuple(r) for r in codes.collect()), books

    ref = {shape: build(*shape) for shape in shapes}
    assert all(len(codes) == emb.count() for codes, _ in ref.values())
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prior = {key: spark.conf.get(key) for key in keys}
    try:
        for parts in ("1", "200"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], parts)
                spark.conf.set(keys[1], aqe)
                for shape in shapes:
                    assert build(*shape) == ref[shape], (shape, parts, aqe)
    finally:
        for key, val in prior.items():
            spark.conf.set(key, val)


@pytest.mark.parametrize("name", [
    "ann_ivf_clusters", "ann_ivf_search", "ann_pq_search",
    "ann_ivfpq_search", "ann_ivfpq_rescore", "dedup_semantic_semdedup",
])
def test_lloyd_queries_match_oracle(spark, duck, name):
    """The queries that read a Lloyd-built index hash-match their DuckDB
    oracles (the unrolled SQL Lloyd loops), as `tools/selfcheck.py` checks
    them."""
    from neumann_spark.registry import all_oracles, all_queries
    from tests.conftest import SF_DIR, load_selfcheck

    res = load_selfcheck().compare_one(
        name, all_queries()[name], all_oracles()[name], spark, duck, SF_DIR)
    assert res["status"] == "ok", res
