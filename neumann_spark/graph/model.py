"""Property-graph model — SURVEY.md §1.3 / §2.9, derived from the star schema.

The reference stores `Node{id, labels, properties}` / `Edge{id, from, to,
edge_type, directed, properties}` (`graph_engine/src/lib.rs:656-703`) with
adjacency kept as per-node edge lists (`:4030-4057`). The Spark analog is the
GraphFrames convention: a `nodes` DataFrame and an `edges` DataFrame;
adjacency is *computed* by joins, which is what scales — at 100 TB the edge
table is hash-partitioned by `src` so per-vertex sends in iterative
algorithms are co-located shuffles.

Deterministic derivation (FIXTURES.md §2) so the DuckDB oracle rebuilds the
identical graph from the same parquet:

  nodes: customers (id = c_custkey), suppliers (1e6 + s_suppkey),
         nations (2e6 + n_nationkey), regions (3e6 + r_regionkey)
  edges: located_in  customer→nation, supplier→nation   (weight 1.0)
         part_of     nation→region                      (weight 1.0)
         supplies    supplier→customer for (supp, cust) pairs co-occurring
                     in lineitem⋈orders restricted to o_orderkey % 37 = 0
                     (keeps the graph sparse at every SF);
                     weight = exact-decimal sum of l_extendedprice

`GRAPH_SQL_CTE` is the oracle-side mirror, prefixed onto every graph oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from neumann_spark.catalog import load
from neumann_spark.sqlutil import dsum

SUPPLIER_BASE = 1_000_000
NATION_BASE = 2_000_000
REGION_BASE = 3_000_000
SUPPLIES_MOD = 37

GRAPH_SQL_CTE = f"""
WITH nodes AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) AS id, 'customer' AS label FROM customer
  UNION ALL SELECT CAST({SUPPLIER_BASE} + s_suppkey AS BIGINT), 'supplier' FROM supplier
  UNION ALL SELECT CAST({NATION_BASE} + n_nationkey AS BIGINT), 'nation' FROM nation
  UNION ALL SELECT CAST({REGION_BASE} + r_regionkey AS BIGINT), 'region' FROM region
),
edges AS MATERIALIZED (
  SELECT CAST(c_custkey AS BIGINT) AS src,
         CAST({NATION_BASE} + c_nationkey AS BIGINT) AS dst,
         'located_in' AS edge_type, CAST(1.0 AS DOUBLE) AS weight
  FROM customer
  UNION ALL
  SELECT CAST({SUPPLIER_BASE} + s_suppkey AS BIGINT),
         CAST({NATION_BASE} + s_nationkey AS BIGINT), 'located_in', 1.0
  FROM supplier
  UNION ALL
  SELECT CAST({NATION_BASE} + n_nationkey AS BIGINT),
         CAST({REGION_BASE} + n_regionkey AS BIGINT), 'part_of', 1.0
  FROM nation
  UNION ALL
  SELECT CAST({SUPPLIER_BASE} + l_suppkey AS BIGINT) AS src,
         CAST(o_custkey AS BIGINT) AS dst, 'supplies' AS edge_type,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS weight
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderkey % {SUPPLIES_MOD} = 0
  GROUP BY 1, 2
),
uedges AS MATERIALIZED (
  SELECT src, dst, edge_type, weight FROM edges
  UNION ALL
  SELECT dst, src, edge_type, weight FROM edges
)
"""


# Materialized-graph cache: the derivation (esp. the supplies groupBy over
# lineitem⋈orders) is identical for every graph query in a session, so the
# first call localCheckpoints it and later calls reuse the materialization —
# the batch analog of the reference keeping its adjacency resident in the
# tensor store. Keyed by (session, sf_dir); survives only the session.
_GRAPH_CACHE: dict[tuple[int, str, str], DataFrame] = {}


GRAPH_ROW_BYTES = 48          # id/src/dst longs + short type string + weight
GRAPH_PARTITION_BYTES = 64 << 20  # the same ~64 MB/partition a real job
                                  # targets via spark.sql.files.maxPartitionBytes


def _cached(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    key = (id(spark), sf_dir, kind)
    if key not in _GRAPH_CACHE:
        df = build()
        # Size-aware layout before pinning: the derivation otherwise
        # inherits the INPUT FILE count (a 4-table union over a 32-file
        # layout yields 100+ partitions holding a few hundred rows each),
        # and every stage of every iterative algorithm then launches one
        # task per tiny partition. Right-size to ~64 MB of rows per
        # partition from the exact row count: small graphs collapse to a
        # handful of partitions, a 100 TB edge table keeps thousands —
        # the partition count tracks DATA, not file layout. One shuffle,
        # once per session.
        n = df.count()
        parts = max(1, (n * GRAPH_ROW_BYTES + GRAPH_PARTITION_BYTES - 1)
                    // GRAPH_PARTITION_BYTES)
        _GRAPH_CACHE[key] = df.repartition(parts).localCheckpoint(eager=True)
    return _GRAPH_CACHE[key]


def nodes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes DataFrame `(id bigint, label string)` —
    `graph_engine/src/lib.rs:656-664` mapped per FIXTURES.md §2."""
    return _cached(spark, sf_dir, "nodes", lambda: _nodes_df(spark, sf_dir))


def _nodes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("id"), F.lit("customer").alias("label")
    )
    s = load(spark, sf_dir, "supplier").select(
        (F.lit(SUPPLIER_BASE) + F.col("s_suppkey")).cast("bigint").alias("id"),
        F.lit("supplier").alias("label"),
    )
    n = load(spark, sf_dir, "nation").select(
        (F.lit(NATION_BASE) + F.col("n_nationkey")).cast("bigint").alias("id"),
        F.lit("nation").alias("label"),
    )
    r = load(spark, sf_dir, "region").select(
        (F.lit(REGION_BASE) + F.col("r_regionkey")).cast("bigint").alias("id"),
        F.lit("region").alias("label"),
    )
    return c.unionAll(s).unionAll(n).unionAll(r)


def edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edges `(src, dst, edge_type, weight)` —
    `graph_engine/src/lib.rs:692-703` mapped per FIXTURES.md §2."""
    return _cached(spark, sf_dir, "edges", lambda: _edges_df(spark, sf_dir))


def _edges_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("src"),
        (F.lit(NATION_BASE) + F.col("c_nationkey")).cast("bigint").alias("dst"),
        F.lit("located_in").alias("edge_type"),
        F.lit(1.0).alias("weight"),
    )
    s = load(spark, sf_dir, "supplier").select(
        (F.lit(SUPPLIER_BASE) + F.col("s_suppkey")).cast("bigint").alias("src"),
        (F.lit(NATION_BASE) + F.col("s_nationkey")).cast("bigint").alias("dst"),
        F.lit("located_in").alias("edge_type"),
        F.lit(1.0).alias("weight"),
    )
    n = load(spark, sf_dir, "nation").select(
        (F.lit(NATION_BASE) + F.col("n_nationkey")).cast("bigint").alias("src"),
        (F.lit(REGION_BASE) + F.col("n_regionkey")).cast("bigint").alias("dst"),
        F.lit("part_of").alias("edge_type"),
        F.lit(1.0).alias("weight"),
    )
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % SUPPLIES_MOD == 0)
    sup = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.lit(SUPPLIER_BASE) + F.col("l_suppkey")).cast("bigint").alias("src"),
            F.col("o_custkey").cast("bigint").alias("dst"),
        )
        .agg(dsum("l_extendedprice").alias("weight"))
        .select("src", "dst", F.lit("supplies").alias("edge_type"), "weight")
    )
    return c.unionAll(s).unionAll(n).unionAll(sup)


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Symmetrized adjacency for undirected traversals (the reference's
    `directed: bool` edges / Direction::Both, `graph_engine/src/lib.rs:4016`)."""
    return edges.unionAll(
        edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "edge_type",
            "weight",
        )
    )


def superstep(df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
    """One superstep of an iterative graph loop, in the Pregelix shape: the
    round's frame is checkpointed (lineage cut) by ONE eager job, and that
    same job returns the round's statistics through an `Observation` —
    `n` (row count) plus every named aggregate in `aggs`. A loop's fixpoint
    or emptiness test reads them instead of running a second scalar action
    (`count()`, `isEmpty()`, `agg(...).collect()`).

    Returns (checkpointed frame, {"n": rows, <alias>: value, ...})."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs).localCheckpoint(eager=True)
    return out, obs.get
