"""SparkSession factory tuned for the local[N] harness but configured the way
a 1000-executor cluster job would be: AQE on (Spark's default, never
switched off by the package: runtime re-plan, skew-join handling,
partition coalescing), shuffle partitions sized to the parallelism,
UTC session timezone (so timestamp semantics match the DuckDB oracle), and
Arrow enabled for the few pandas-interchange paths.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    StructType,
    _create_converter,
    _make_type_verifier,
    _parse_datatype_string,
)


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    except ValueError:
        return os.cpu_count() or 8


def get_spark(app_name: str = "neumann_spark") -> SparkSession:
    """Create (or fetch) the tuned session.

    Scale notes (100 TB design): every knob here is also what you'd set on a
    real cluster — AQE re-plans shuffles from runtime stats (skew join
    splitting, dynamic coalescing), and broadcast threshold lets small dims
    (region/nation/supplier) avoid shuffles entirely. On a cluster the
    master/memory settings come from spark-submit instead.
    """
    n = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # compute-dense stages (the ANN builds' pair-distance joins: tiny
        # shuffle BYTES, heavy per-row array math) are mis-coalesced by
        # byte-targeting AQE — at N=131K it folded the NN-descent joins
        # to 4 partitions, idling 28 of 32 cores. The env knob lets such
        # jobs pin a smaller advisory size (more post-AQE partitions)
        # without changing the default plan shape of everything else.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("NEUMANN_SPARK_ADVISORY_PARTITION_BYTES",
                               "67108864"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("NEUMANN_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        # long multi-stage jobs (the graph-ANN builds: dozens of
        # checkpoint-truncated shuffles) only release shuffle files when
        # driver GC collects the unreferenced shuffle handles — at the
        # default 30 min interval a 1M-row build accumulated >200 GB of
        # dead spill and exhausted local disk (r13). 5 min caps retained
        # spill near one round's working set; the periodic System.gc()
        # costs milliseconds on fixture-scale heaps.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{n}]")
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    spark = builder.master(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _sweep_stale_scratch(spark)
    return spark


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """An empty frame as a true JVM `LocalRelation <empty>`.

    `spark.createDataFrame([], schema)` is RDD-backed: it parallelizes the
    empty list over defaultParallelism, so every action on a chain rooted
    at such a frame pays N (32 here) no-op tasks, and — being a LogicalRDD,
    not a LocalRelation — it is invisible to PropagateEmptyRelation, so
    union chains never prune it. The engine's overlay frames (extra
    labels, embedding metadata, entity props) root every mutation chain,
    which made this the single hottest fixed cost of the WAL/DML query
    walls (measured 2.4x on a union-chain probe, §5). Routing through the
    JVM list-based createDataFrame yields a real empty LocalRelation:
    zero partitions, zero tasks, pruned from unions at optimization time.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    jschema = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(
        schema.json())
    jdf = spark._jsparkSession.createDataFrame(
        spark._jvm.java.util.ArrayList(), jschema)
    df = DataFrame(jdf, spark)
    df._schema = schema
    return df


def local_df(spark: SparkSession, data, schema) -> DataFrame:
    """Driver-local batch rows as a JVM-side frame (empty -> `empty_df`).

    Drop-in for two-arg `spark.createDataFrame(rows, schema)`, which
    builds a LogicalRDD over a PythonRDD: every task scanning it makes
    a Python-worker round trip, and statement literals (INSERT rows,
    overlay deltas, acks, BFS seeds, ANN shortlists) root almost every
    engine plan. Measured on a 4-core box, a 1-row frame's `collect()`
    took ~280 ms and 1 Spark job that way, against ~25 ms and 0 jobs
    here. Rows pass the same verifier and `toInternal` conversion as
    createDataFrame, then travel as one Arrow table typed by the schema
    (not through pandas, which would turn nullable ints into floats);
    `createDataFrame(table, schema)` yields a `LocalRelation` below
    `spark.sql.execution.arrow.localRelationThreshold` and a JVM-side
    Arrow RDD above it, so no Python code runs in the task path.
    """
    data = list(data)
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_df needs a StructType/DDL schema, got {schema!r}")
    if not data:
        return empty_df(spark, schema)
    verify = _make_type_verifier(schema)
    converter = _create_converter(schema)
    internal = []
    for row in data:
        verify(row)
        internal.append(schema.toInternal(converter(row)))
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type)
         for col, f in zip(zip(*internal), arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def run_actions_parallel(thunks) -> list:
    """Run independent Spark actions (e.g. sibling parquet writes of one
    index persist) concurrently from driver threads, returning their
    results in input order. Spark schedules jobs from separate driver
    threads concurrently, so k sibling writes of already-materialized
    frames cost ~max(write) wall instead of Σ(write) — and on a cluster
    the per-job commit barriers overlap instead of serializing (§5). The
    first exception (if any) re-raises in the caller after all threads
    finish, so no thunk is left running against a torn-down session."""
    thunks = list(thunks)
    if len(thunks) <= 1:
        return [t() for t in thunks]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(len(thunks), 8)) as ex:
        futures = [ex.submit(t) for t in thunks]
        results, first_err = [], None
        for f in futures:
            try:
                results.append(f.result())
            except Exception as e:  # keep draining: session must stay sane
                results.append(None)
                if first_err is None:
                    first_err = e
        if first_err is not None:
            raise first_err
        return results


# Scratch entries older than this are presumed orphaned (ADVICE r12: the
# checkpoint root's atexit reaper no-ops when the JVM is already down at
# interpreter exit, so full parquet snapshots otherwise accumulate under
# the persistent warehouse forever — nothing reaps it the way the OS
# reaped /tmp). One day is >> any run's lifetime while CONCURRENT runs
# (selfcheck + bench share the warehouse) stay hours-fresh and untouched.
SCRATCH_TTL_MS = 24 * 3600 * 1000


def _sweep_stale_scratch(spark: SparkSession) -> None:
    """Best-effort reap of day-old `_neumann_scratch/` entries at fresh-
    session startup; any failure (missing root, racing delete) is inert."""
    import time

    try:
        root = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
        path = f"{root}/_neumann_scratch"
        fs, jvm = hadoop_fs(spark, path)
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        if not fs.exists(jpath):
            return
        cutoff = int(time.time() * 1000) - SCRATCH_TTL_MS
        for st in fs.listStatus(jpath):
            if st.getModificationTime() < cutoff:
                try:
                    fs.delete(st.getPath(), True)
                except Exception:
                    pass
    except Exception:
        pass


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, jvm) for `path` through the session's Hadoop conf —
    the deployment-portable file API (file:, hdfs:, s3a: alike) the
    scratch/staging helpers use in place of driver-local os/shutil."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def scratch_dir(spark: SparkSession, prefix: str):
    """A unique SPARK-VISIBLE scratch dir under the session's warehouse
    dir, plus its cleanup thunk — the shared home for every registered
    query's staging parquet (persistence round-trips, MERGE target
    tables, streaming source dirs, checkpoint locations). Executors
    must read these files back on any deployment, so a driver-local
    tempfile.mkdtemp — visible only to the driver's filesystem — would
    break every non-local master (ADVICE r10 / VERDICT r11 item 7); the
    warehouse dir is by definition a location every executor reaches.
    The uuid suffix keeps concurrent runs over the same fixtures
    (selfcheck + bench) from overwriting each other's staging, exactly
    what mkdtemp provided locally; cleanup goes through the Hadoop
    FileSystem API for the same portability reason."""
    import uuid

    root = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    path = f"{root}/_neumann_scratch/{prefix}{uuid.uuid4().hex[:16]}"
    fs, jvm = hadoop_fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs.mkdirs(jpath)

    def cleanup() -> None:
        # Suppressed by construction (ADVICE r12): nearly every caller
        # invokes this thunk in a bare `finally:` mid-exception, where
        # the old shutil.rmtree(ignore_errors=True) could never throw —
        # a Py4J/IOException from fs.delete here would MASK the original
        # query failure. Scratch is uuid-scoped under the warehouse, so
        # a leaked dir is inert; the startup sweep reclaims stragglers.
        try:
            fs.delete(jpath, True)
        except Exception:
            pass

    return path, cleanup


def stage_move_part(spark: SparkSession, stage: str, dst: str,
                    mtime_sec: float) -> None:
    """Move the single parquet part file under `stage` to `dst` and pin
    its modification time (the streaming file source orders files by
    mtime, so staged micro-batch order == intended arrival order) — all
    through the Hadoop FS API so the staging holds on any warehouse
    filesystem."""
    fs, jvm = hadoop_fs(spark, stage)
    Path = jvm.org.apache.hadoop.fs.Path
    part = sorted(
        st.getPath().getName() for st in fs.listStatus(Path(stage))
        if st.getPath().getName().endswith(".parquet"))[0]
    dstp = Path(dst)
    fs.mkdirs(dstp.getParent())  # idempotent; rename needs the parent
    if not fs.rename(Path(f"{stage}/{part}"), dstp):
        raise IOError(f"staging rename {stage}/{part} -> {dst} failed")
    fs.setTimes(dstp, int(mtime_sec * 1000), -1)
