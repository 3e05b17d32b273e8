"""Fixture catalog: parquet sources under a scale-factor directory.

The reference ingests rows via INSERT/EMBED/NODE commands into its tensor
store (SURVEY.md §2.1); this engine's sources are columnar parquet scans —
the idiomatic Spark entry point, with predicate pushdown and column pruning
for free. `load` is lazy: nothing is read until an action runs, so Catalyst
can push filters/projections into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from neumann_spark.session import hadoop_fs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Each table's schema as Spark 4.1.2 infers it from the fixture files
# (`tests/test_relational.py` guards the match). Declaring it skips the
# schema-inference job an undeclared parquet read runs at every load.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
            "p_size INT, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
              "o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
                "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "events": "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, "
                 "n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan for one fixture table, under its declared schema.

    Mirrors the reference's table catalog (`relational_engine/src/lib.rs:2653`
    create_table / `:2815` list_tables) — here the catalog is the filesystem
    plus `SCHEMAS`, so opening a table runs no Spark job.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Timestamp values hash against a UTC-naive DuckDB oracle; pin the
    # session timezone defensively in case the caller's session differs.
    # Read the effective zone: a "" default is validated as a zone id and
    # raises when the session never set the key.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return events_ts(spark.read.schema(events_schema(spark, path)).parquet(path))
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def load_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """`load(spark, corpus_dir, "embeddings")` for a corpus the fixture
    driver did not write (a persisted index's corpus directory).

    The declared `ARRAY<FLOAT>` reader fails inside a task on any other
    element type, so the first data file's footer is checked on the
    driver first (no job) and a mismatch raises naming the file.
    """
    path = f"{corpus_dir}/embeddings.parquet"
    schema = _footer_schema(spark, path)
    got = (schema.apply("embedding").dataType().sql()
           if "embedding" in list(schema.fieldNames()) else "missing")
    if got != "ARRAY<FLOAT>":
        raise ValueError(
            f"{path}: `embedding` is {got}, expected ARRAY<FLOAT> "
            "(rewrite it with embedding cast to array<float>)")
    return load(spark, corpus_dir, "embeddings")


def events_schema(spark: SparkSession, path: str) -> str:
    """`SCHEMAS["events"]` with `ts` typed as Spark reads the fixture at
    `path`.

    The events fixture has shipped `ts` as both TIMESTAMP(MICROS) and
    TIMESTAMP(NANOS) across driver versions, and Spark-written copies store
    INT96. Spark rejects nanos natively, so they read as a long (the
    `nanosAsLong` escape hatch). The type comes from Spark's own parquet
    schema converter over the first data file's footer, read on the driver
    (no job).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = _footer_schema(spark, path).apply("ts").dataType().sql()
    return SCHEMAS["events"].replace("ts TIMESTAMP_NTZ", f"ts {ts_type}")


def events_ts(df: DataFrame) -> DataFrame:
    """`ts` as a session `timestamp`: nanos-as-long values truncate to the
    micros grid, timestamps of either kind cast."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _footer_schema(spark: SparkSession, path: str):
    """The Spark schema (a JVM StructType) of the first data file under
    `path`: the file itself, or the first part file of a directory, past
    the `_`/`.` metadata files Spark also skips."""
    fs, jvm = hadoop_fs(spark, path)
    status = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(path))
    if status.isDirectory():
        status = min((st for st in fs.listStatus(status.getPath())
                      if st.isFile()
                      and not st.getPath().getName().startswith(("_", "."))),
                     key=lambda st: st.getPath().getName())
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, fs.getConf()))
    try:
        parquet_schema = reader.getFooter().getFileMetaData().getSchema()
    finally:
        reader.close()
    return jvm.org.apache.spark.sql.execution.datasources.parquet \
        .ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf()) \
        .convert(parquet_schema)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API path."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
