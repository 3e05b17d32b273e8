"""Vector operators — SURVEY.md §2.10.

The reference's vector engine stores f32 embeddings and serves brute-force
kNN (SIMD + rayon, `vector_engine/src/lib.rs:1950`), three distance metrics
(`:281-289`), filtered search with a pre/post-filter strategy (`:1698`,
`:387-399`), pairwise `compute_similarity` (`:2278`), and collections
(`:1369-1585`).

Spark-first: similarity scoring is a pure column expression
(`zip_with` element products folded by `aggregate`) — JVM-side, inside
whole-stage codegen, no Python in the hot path; `knn` builds it as one
parsed SQL expression (`score_expr`). Top-k = `orderBy(score).
limit(k)`, which Spark executes as per-partition top-k + driver merge
(TakeOrderedAndProject), i.e. the distributed analog of the reference's
binary-heap selection. Filtered search relies on Catalyst pushing the
metadata predicate below the scoring projection — the automatic version of
the reference's selectivity-driven pre/post-filter strategy.

For very wide embeddings / huge batches there is also a Pandas-UDF scorer
(`cosine_scores_pandas`) that computes a numpy matmul per Arrow batch —
the 10-100× vectorized Python path when expression trees get too tall.

ANN (HNSW/IVF analogs) lives in `neumann_spark.pipeline.ann`.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neumann_spark.catalog import load
from neumann_spark.registry import register


# --- scoring expressions (JVM-side; `vector_engine/src/lib.rs:410-456`) ---


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Dot product of two array<float> columns as a fold — codegen'd JVM
    expression (`TensorValue::dot`, `tensor_store/src/lib.rs:410`)."""
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity (`TensorValue::cosine_similarity`,
    `tensor_store/src/lib.rs:430-456`)."""
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def score_expr(metric: str, vec_col: str, query_vec: Sequence[float]) -> Column:
    """`metric` between an array column and a query vector as ONE parsed
    SQL expression (`vector_engine/src/lib.rs:281-289`). It is the same
    fold as `dot_expr`/`cosine_expr` — double products summed left to
    right from a DOUBLE zero (`CAST(0 AS DOUBLE)`; a bare `0.0` is a
    DECIMAL) — so scores are the same doubles, but one `F.expr` parse
    replaces the Python lambda builders' per-node py4j round trips.

    The query vector is one string literal of `repr`s, split and cast:
    `repr` is the shortest round-trip form, so each element casts back to
    the same double (`nan`, `inf` and `-0.0` included). Catalyst analyses
    it as one literal, where an `array(<d>D, …)` of 64 literals cost
    ~20 ms per occurrence and cosine carries the vector three times."""
    a = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    q = "CAST(split('{}', ',') AS ARRAY<DOUBLE>)".format(
        ",".join(repr(float(x)) for x in query_vec))

    def fold(l: str, r: str, term: str) -> str:
        return (f"aggregate(zip_with({l}, {r}, (x, y) -> {term}), "
                "CAST(0 AS DOUBLE), (acc, v) -> acc + v)")

    if metric == "cosine":
        sql = (f"{fold(a, q, 'x * y')} / (sqrt({fold(a, a, 'x * y')})"
               f" * sqrt({fold(q, q, 'x * y')}))")
    elif metric == "dot":
        sql = fold(a, q, "x * y")
    elif metric == "euclidean":
        sql = f"sqrt({fold(a, q, '(x - y) * (x - y)')})"
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return F.expr(sql)


def knn(
    df: DataFrame,
    vec_col: str,
    query_vec: Sequence[float],
    k: int,
    metric: str = "cosine",
    pre_filter: Optional[Column] = None,
    id_cols: Iterable[str] = ("vec_id",),
) -> DataFrame:
    """Brute-force kNN — `search_similar(_with_metric)`
    (`vector_engine/src/lib.rs:1950,2049`) + filtered variant (`:1698`).

    The query vector ships as an exact literal inside one SQL score
    expression (`score_expr`); scoring is a map-only stage
    over however many partitions the store has, then TakeOrdered merges
    per-partition top-k on the driver — no shuffle. `pre_filter` mirrors
    `search_similar_filtered`'s pre-filter strategy; Catalyst will push it
    into the scan when selective.
    """
    scored = df if pre_filter is None else df.filter(pre_filter)
    scored = scored.withColumn("score", score_expr(metric, vec_col, query_vec))
    asc = metric == "euclidean"
    # rank by the RAW score (the reference's heap compares unrounded f32
    # scores, `vector_engine/src/lib.rs:1950`); round only for display.
    # Ordering by the rounded alias would tie-break differently within the
    # 1e-6 grid at the k boundary.
    order = [F.col("_raw").asc() if asc else F.col("_raw").desc()] + [
        F.col(c) for c in id_cols
    ]
    return scored.select(*id_cols, F.round("score", 6).alias("score"), F.col("score").alias("_raw")) \
        .orderBy(*order) \
        .limit(k) \
        .drop("_raw")


@F.pandas_udf(T.DoubleType())
def _cos_batch(v: pd.Series, q: pd.Series) -> pd.Series:
    """Arrow-batched cosine: numpy matmul per batch — the vectorized Python
    path for very wide vectors (parity with the reference's SIMD kernels)."""
    import numpy as np

    mat = np.stack(v.to_numpy())
    qv = np.stack(q.to_numpy())[0]
    dots = mat @ qv
    norms = np.linalg.norm(mat, axis=1) * np.linalg.norm(qv)
    return pd.Series(dots / norms)


def cosine_scores_pandas(df: DataFrame, vec_col: str, query_vec: Sequence[float]) -> DataFrame:
    q = F.lit(query_vec).cast("array<double>")
    return df.withColumn("score", _cos_batch(F.col(vec_col).cast("array<double>"), q))


@F.pandas_udf(T.DoubleType())
def cos_pair_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched ROWWISE cosine for pair frames (a_i vs b_i per row).

    This exists for a plan-shape reason, not just speed: a higher-order
    `aggregate`/`zip_with` cosine referenced by a pair-join's filter gets
    pushed INTO the join condition, where it runs interpreted (no
    whole-stage codegen) and re-derives both norms per candidate pair —
    measured 10x+ slower than this path on the semantic-dedup pair join.
    A Python UDF can never run inside a join condition, so scoring is
    guaranteed to evaluate post-join, vectorized over Arrow batches."""
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    ma = np.stack(a.to_numpy())
    mb = np.stack(b.to_numpy())
    dots = np.einsum("ij,ij->i", ma, mb)
    norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = dots / norms
    # SQL semantics: 0/0 is NULL, not NaN (a NaN would poison downstream
    # aggregates where the expression form yielded NULL) — the nullable
    # Float64 dtype carries true nulls through Arrow
    s = pd.Series(out, dtype="Float64")
    s[~np.isfinite(out)] = pd.NA
    return s


# --- oracle SQL building blocks ------------------------------------------

# dot/norm via an explicit 1-based index join — element order is preserved,
# so both engines sum the same products; ROUND(…,6) absorbs last-ULP drift.
_DOT_CTE = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {anchor}),
scored AS (
  SELECT e.vec_id,
         SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dot,
         SQRT(SUM(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE))) AS n_e,
         SQRT(SUM(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE))) AS n_q,
         SUM((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
           * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
  FROM embeddings e
  CROSS JOIN q
  CROSS JOIN generate_series(1, 64) AS t(i)
  {where}
  GROUP BY e.vec_id
)
"""


def _anchor_vec(spark: SparkSession, sf_dir: str, anchor: int = 0) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == anchor)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


# --- registered queries ---------------------------------------------------


@register(
    "vector_knn_cosine",
    oracle=_DOT_CTE.format(anchor=0, where="WHERE e.vec_id <> 0")
    + """
    SELECT vec_id, ROUND(dot / (n_e * n_q), 6) AS score
    FROM scored ORDER BY dot / (n_e * n_q) DESC, vec_id LIMIT 10
    """,
)
def vector_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-k cosine search (`vector_engine/src/lib.rs:1950`), anchor vec_id=0."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _anchor_vec(spark, sf_dir, 0)
    return knn(emb, "embedding", qv, 10, "cosine", pre_filter=F.col("vec_id") != 0)


@register(
    "vector_knn_euclidean",
    oracle=_DOT_CTE.format(anchor=0, where="WHERE e.vec_id <> 0")
    + """
    SELECT vec_id, ROUND(SQRT(sq), 6) AS score
    FROM scored ORDER BY SQRT(sq) ASC, vec_id LIMIT 10
    """,
)
def vector_knn_euclidean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN under Euclidean distance (`search_similar_with_metric`,
    `vector_engine/src/lib.rs:2049`)."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _anchor_vec(spark, sf_dir, 0)
    return knn(emb, "embedding", qv, 10, "euclidean", pre_filter=F.col("vec_id") != 0)


@register(
    "vector_knn_dot",
    oracle=_DOT_CTE.format(anchor=0, where="WHERE e.vec_id <> 0")
    + """
    SELECT vec_id, ROUND(dot, 6) AS score
    FROM scored ORDER BY dot DESC, vec_id LIMIT 10
    """,
)
def vector_knn_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN under raw dot product (`DistanceMetric::DotProduct`)."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _anchor_vec(spark, sf_dir, 0)
    return knn(emb, "embedding", qv, 10, "dot", pre_filter=F.col("vec_id") != 0)


@register(
    "vector_filtered_knn",
    oracle=_DOT_CTE.format(
        anchor=0, where="WHERE e.vec_id <> 0 AND e.label IN (1, 2, 3)"
    )
    + """
    SELECT vec_id, ROUND(dot / (n_e * n_q), 6) AS score
    FROM scored ORDER BY dot / (n_e * n_q) DESC, vec_id LIMIT 10
    """,
)
def vector_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered search (`search_similar_filtered`,
    `vector_engine/src/lib.rs:1698`; In-predicate `:297-325`). The label
    filter is pushed below scoring — the 'pre-filter' strategy the reference
    chooses for selective predicates (`:387-399`), chosen here by Catalyst."""
    emb = load(spark, sf_dir, "embeddings")
    qv = _anchor_vec(spark, sf_dir, 0)
    return knn(
        emb,
        "embedding",
        qv,
        10,
        "cosine",
        pre_filter=(F.col("vec_id") != 0) & F.col("label").isin(1, 2, 3),
    )


@register(
    "vector_pairwise_similarity",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(SUM(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE))
             / (SQRT(SUM(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)))
              * SQRT(SUM(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)))), 6)
           AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    CROSS JOIN generate_series(1, 64) AS t(i)
    WHERE a.vec_id < 8 AND b.vec_id < 8
    GROUP BY a.vec_id, b.vec_id
    """,
)
def vector_pairwise_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`compute_similarity(a, b)` (`vector_engine/src/lib.rs:2278`) lifted to
    a set: all-pairs cosine within a small key set via self-join."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 8)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), 6).alias("cos_sim"),
        )
    )


@register(
    "vector_collection_stats",
    oracle="""
    SELECT label AS collection,
           COUNT(*) AS n,
           ROUND(MIN(CAST(embedding[1] AS DOUBLE)), 6) AS min_d0,
           ROUND(MAX(CAST(embedding[1] AS DOUBLE)), 6) AS max_d0
    FROM embeddings GROUP BY label
    """,
)
def vector_collection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collections: per-collection count/config introspection
    (`vector_engine/src/lib.rs:1369-1585`) — the `label` column plays the
    collection partition key (FIXTURES.md §3); at scale it would be a
    partition column so per-collection search prunes files."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.groupBy(F.col("label").alias("collection")).agg(
        F.count("*").alias("n"),
        F.round(F.min(F.element_at(_as_double(F.col("embedding")), 1)), 6).alias("min_d0"),
        F.round(F.max(F.element_at(_as_double(F.col("embedding")), 1)), 6).alias("max_d0"),
    )


# --- sparse vectors (`TensorValue::Sparse`, SURVEY.md §1.1) ---------------

SPARSE_THRESHOLD = 0.15


def sparsify(vec: Column, threshold: float = SPARSE_THRESHOLD) -> Column:
    """Dense → sparse struct (indices 1-based, values, dim) — the reference
    auto-sparsifies at 70% sparsity (`tensor_store/src/lib.rs:340-382`,
    `sparse_vector.rs`); here the caller picks the magnitude threshold."""
    idx = F.sequence(F.lit(1), F.size(vec))
    keep = F.filter(idx, lambda i: F.abs(F.element_at(vec, i)) > threshold)
    return F.struct(
        keep.alias("indices"),
        F.transform(keep, lambda i: F.element_at(vec, i).cast("double")).alias("values"),
        F.size(vec).alias("dim"),
    )


def sparse_dot_expr(a: Column, b: Column, threshold: float = SPARSE_THRESHOLD) -> Column:
    """Dot product restricted to components where BOTH sides exceed the
    sparsity threshold — the sparse·sparse dot of the reference's
    SparseVector (`tensor_store/src/sparse_vector.rs`), expressed as a
    masked fold (no struct materialization in the hot path)."""
    prods = F.zip_with(
        _as_double(a),
        _as_double(b),
        lambda x, y: F.when(
            (F.abs(x) > threshold) & (F.abs(y) > threshold), x * y
        ).otherwise(F.lit(0.0)),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


@register(
    "vector_sparse_similarity",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(SUM(CASE WHEN ABS(CAST(e.embedding[t.i] AS DOUBLE)) > {SPARSE_THRESHOLD}
                           AND ABS(CAST(q.qv[t.i] AS DOUBLE)) > {SPARSE_THRESHOLD}
                          THEN CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)
                          ELSE 0.0 END), 6) AS sparse_dot,
           CAST(SUM(CASE WHEN ABS(CAST(e.embedding[t.i] AS DOUBLE)) > {SPARSE_THRESHOLD}
                    THEN 1 ELSE 0 END) AS BIGINT) AS nnz
    FROM embeddings e CROSS JOIN q
    CROSS JOIN generate_series(1, 64) AS t(i)
    WHERE e.vec_id BETWEEN 1 AND 100
    GROUP BY e.vec_id
    """,
)
def vector_sparse_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse dot products against the anchor (vec_id 0) plus per-vector nnz
    (`TensorValue::Sparse` + `dot`, `tensor_store/src/lib.rs:340-456`).
    At scale, sparse structs cut shuffle width ~(1 - sparsity)×."""
    from neumann_spark.catalog import load

    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id").between(1, 100))
    qv = F.lit(_anchor_vec(spark, sf_dir, 0)).cast("array<double>")
    sp = sparsify(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(sparse_dot_expr(F.col("embedding"), qv), 6).alias("sparse_dot"),
        F.size(sp.getField("indices")).alias("nnz"),
    )
