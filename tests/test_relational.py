"""Semantic unit tests for relational operators on tiny hand-made tables —
the reference's own test style (SURVEY.md §5: users/orders micro-tables with
hand-written expected values)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR, jobs_run


def test_natural_join_degenerates_to_cross(spark):
    """No common columns → cross join (`relational_engine/src/lib.rs:4350-4410`)."""
    from neumann_spark.operators.joins import natural_join

    a = spark.createDataFrame([(1,), (2,)], "x int")
    b = spark.createDataFrame([(10,), (20,), (30,)], "y int")
    assert natural_join(a, b).count() == 6


def test_natural_join_on_common(spark):
    from neumann_spark.operators.joins import natural_join

    a = spark.createDataFrame([(1, "a"), (2, "b")], "k int, va string")
    b = spark.createDataFrame([(1, "x"), (3, "y")], "k int, vb string")
    rows = natural_join(a, b).collect()
    assert len(rows) == 1 and rows[0]["k"] == 1


def test_update_where(spark):
    from neumann_spark.operators.dml import update_where

    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, v double")
    out = update_where(df, F.col("id") == 1, {"v": F.col("v") * 2}).collect()
    vals = {r["id"]: r["v"] for r in out}
    assert vals == {1: 20.0, 2: 20.0}


def test_delete_where(spark):
    from neumann_spark.operators.dml import delete_where

    df = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    assert sorted(r["id"] for r in delete_where(df, F.col("id") > 1).collect()) == [1]


def test_sum_empty_group_semantics(spark):
    """Reference: SUM over empty set = 0.0, AVG = NULL (SURVEY.md §7).
    ANSI/Spark: SUM over empty = NULL. We follow ANSI (oracle demands it);
    this test pins the delta so it stays documented."""
    df = spark.createDataFrame([(1, 1.0)], "k int, v double").filter("k > 99")
    row = df.agg(F.sum("v").alias("s"), F.avg("v").alias("a")).collect()[0]
    assert row["s"] is None and row["a"] is None


def test_events_loader_handles_both_ts_encodings(spark, tmp_path):
    """catalog.load must read `ts` whether the fixture stores
    TIMESTAMP(MICROS) (current driver), INT64 nanos (r1-r2 driver), a
    UTC-adjusted timestamp or INT96 (a Spark-written copy, as bench.py's
    multi-file layout is) — the encoding has flipped between rounds
    before — as one file or as a directory of part files beside `_SUCCESS`
    and `.crc` siblings, and the footer read that picks the branch runs
    no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from neumann_spark.catalog import load

    base = [1_700_000_000_000_000, 1_700_000_123_456_789]  # micros
    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        "user_id": pa.array([10, 20], pa.int64()),
        "event_type": pa.array(["click", "view"]),
        "value": pa.array([1.0, 2.0], pa.float64()),
        "props": pa.array(["{}", "{}"]),
    }
    encodings = {
        "us": pa.array(base, pa.timestamp("us")),
        "ns": pa.array([b * 1000 for b in base], pa.timestamp("ns")),
        "utc": pa.array(base, pa.timestamp("us", tz="UTC")),
        "int96": pa.array(base, pa.timestamp("us", tz="UTC")),
    }
    for sub, ts_arr in encodings.items():
        int96 = {"use_deprecated_int96_timestamps": sub == "int96"}
        tbl = pa.table({"event_id": cols["event_id"], "ts": ts_arr,
                        "user_id": cols["user_id"],
                        "event_type": cols["event_type"],
                        "value": cols["value"], "props": cols["props"]})
        (tmp_path / sub).mkdir()
        pq.write_table(tbl, tmp_path / sub / "events.parquet", **int96)
        parts = tmp_path / f"{sub}_multi" / "events.parquet"
        parts.mkdir(parents=True)
        (parts / "_SUCCESS").write_bytes(b"")
        (parts / "._SUCCESS.crc").write_bytes(b"not parquet")
        for i in range(2):
            pq.write_table(tbl.slice(i, 1), parts / f"part-{i:05d}.parquet", **int96)
    out = {}
    for sub in encodings:
        for layout in (sub, f"{sub}_multi"):
            df, jobs = jobs_run(spark, lambda: load(spark, str(tmp_path / layout), "events"))
            assert jobs == 0, (layout, jobs)
            assert dict(df.dtypes)["ts"] == "timestamp"
            out[layout] = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert all(v == out["us"] for v in out.values()), out


def test_declared_schemas_match_inference(spark):
    """`catalog.SCHEMAS` must equal what Spark infers from the fixture
    files, type and nullability alike: a declared schema that drifted from
    the data would have the reader coerce it (or fail) instead of the
    oracle hashes catching it."""
    from pyspark.sql.types import StructType

    from neumann_spark.catalog import SCHEMAS, TABLES

    assert set(SCHEMAS) == set(TABLES)
    for sf_dir in (SF_DIR, SF_DIR.replace("sf0.001", "sf0.01")):
        for name in TABLES:
            inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
            assert StructType.fromDDL(SCHEMAS[name]) == inferred, (sf_dir, name)


def test_load_runs_no_job(spark):
    """Opening every fixture table is job-free: the schema is declared,
    and only the events `ts` branch reads a parquet footer on the
    driver."""
    from neumann_spark.catalog import TABLES, load

    frames, jobs = jobs_run(spark, lambda: [load(spark, SF_DIR, t).schema for t in TABLES])
    assert len(frames) == len(TABLES) and jobs == 0


def test_load_pins_utc_in_a_session_without_a_zone(spark):
    """`load` pins the session zone to UTC, also in a session that never
    set `spark.sql.session.timeZone` (reading the key with a default
    validates that default as a zone id and raises)."""
    from neumann_spark.catalog import load

    key = "spark.sql.session.timeZone"
    s = spark.newSession()
    s.conf.unset(key)
    assert load(s, SF_DIR, "embeddings").columns
    assert s.conf.get(key) == "UTC"
    s.conf.set(key, "Asia/Tokyo")
    load(s, SF_DIR, "embeddings")
    assert s.conf.get(key) == "UTC"


def test_merge_into_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE INTO over partitioned parquet: matched rows replaced,
    unmatched inserted, and the UNTOUCHED partition directories are
    byte-identical after commit (the partition-pruned staged-rewrite
    contract)."""
    import os

    from pyspark.sql import functions as F

    from neumann_spark.operators.dml import merge_into_partitioned

    tdir = str(tmp_path / "merge_target")
    rows = [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "k bigint, p string, v double")
    df.write.partitionBy("p").parquet(tdir)

    def snapshot(part):
        d = os.path.join(tdir, f"p={part}")
        return {
            f: (os.path.getmtime(os.path.join(d, f)),
                os.path.getsize(os.path.join(d, f)))
            for f in sorted(os.listdir(d)) if not f.startswith(("_", "."))
        }

    before_b, before_c = snapshot("b"), snapshot("c")
    # source touches only partition 'a': update k=0,3 and insert k=100
    source = spark.createDataFrame(
        [(0, "a", 99.0), (3, "a", 77.0), (100, "a", 1.0)],
        "k bigint, p string, v double")
    touched = merge_into_partitioned(spark, tdir, source, ["k"], "p")
    assert touched == ["a"]
    assert snapshot("b") == before_b and snapshot("c") == before_c

    back = spark.read.parquet(tdir)
    got = {r["k"]: r["v"] for r in back.filter(F.col("p") == "a").collect()}
    assert got[0] == 99.0 and got[3] == 77.0 and got[100] == 1.0
    assert len(got) == 11  # 10 original k%3==0 rows + 1 insert
    assert back.count() == 31

    # schema mismatch is a typed error, state untouched
    import pytest as _pt

    bad = spark.createDataFrame([(1, "a")], "k bigint, p string")
    with _pt.raises(ValueError, match="MERGE schema mismatch"):
        merge_into_partitioned(spark, tdir, bad, ["k"], "p")


def test_merge_into_rejects_unsafe_partition_values(spark, tmp_path):
    """Partition values needing escaped/null directory encoding abort
    BEFORE any state change (the rename commit would mis-map them)."""
    import pytest as _pt

    from neumann_spark.operators.dml import merge_into_partitioned

    tdir = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 1.0)], "k bigint, p string, v double"
    ).write.partitionBy("p").parquet(tdir)
    for bad in [None, "b:c", "x/y", ".hidden"]:
        src = spark.createDataFrame(
            [(2, bad, 2.0)], "k bigint, p string, v double")
        with _pt.raises(ValueError, match="partition value"):
            merge_into_partitioned(spark, tdir, src, ["k"], "p")
    assert spark.read.parquet(tdir).count() == 1  # untouched


def test_merge_into_rolls_back_on_midswap_failure(spark, tmp_path, monkeypatch):
    """A rename failure mid-commit restores every already-swapped
    partition: the target reads back as the exact pre-merge state.
    The failure is injected at the Hadoop FileSystem seam the commit
    protocol actually uses (r12: the swap runs on the TABLE's
    filesystem, never driver-local os.rename)."""
    import os

    import pytest as _pt

    import neumann_spark.session as nsession
    from neumann_spark.operators.dml import merge_into_partitioned

    tdir = str(tmp_path / "t")
    rows = [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(10)]
    spark.createDataFrame(
        rows, "k bigint, p string, v double"
    ).write.partitionBy("p").parquet(tdir)
    before = {(r["k"], r["p"], r["v"])
              for r in spark.read.parquet(tdir).collect()}

    src = spark.createDataFrame(
        [(0, "a", 99.0), (1, "b", 88.0)], "k bigint, p string, v double")
    real_hfs = nsession.hadoop_fs

    class FailingFS:
        # fail the COMMIT rename (stage -> final) of the LAST partition,
        # so 'a' is already fully swapped when 'b' aborts; restore
        # renames (trash -> final) must still succeed for the rollback
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

        def rename(self, a, b):
            if ("_stage_" in a.toString()
                    and b.toString().endswith("/p=b")):
                raise OSError("injected rename failure")
            return self._real.rename(a, b)

    def patched(spark_, path):
        fs, jvm = real_hfs(spark_, path)
        return FailingFS(fs), jvm

    monkeypatch.setattr(nsession, "hadoop_fs", patched)
    with _pt.raises(OSError, match="injected"):
        merge_into_partitioned(spark, tdir, src, ["k"], "p")
    monkeypatch.undo()

    after = {(r["k"], r["p"], r["v"])
             for r in spark.read.parquet(tdir).collect()}
    assert after == before  # full rollback, no partial merge, no trash dirs
    assert not [d for d in os.listdir(tdir)
                if ".old" in d or d.startswith("_old_")]


def test_merge_key_stability_verification(spark, tmp_path):
    """verify_key_stability=True turns the documented key-stable contract
    into an enforced precondition: a source row whose key already lives
    in a different partition aborts BEFORE any state change; the default
    (pruned) mode keeps the documented Delta/Iceberg-style behavior."""
    import pytest as _pt

    from neumann_spark.operators.dml import merge_into_partitioned

    tdir = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k bigint, p string, v double"
    ).write.partitionBy("p").parquet(tdir)
    before = {(r["k"], r["p"], r["v"])
              for r in spark.read.parquet(tdir).collect()}

    moved = spark.createDataFrame(  # key 1 lives in 'a', source says 'b'
        [(1, "b", 9.0)], "k bigint, p string, v double")
    with _pt.raises(ValueError, match="key-stability violation"):
        merge_into_partitioned(
            spark, tdir, moved, ["k"], "p", verify_key_stability=True)
    after = {(r["k"], r["p"], r["v"])
             for r in spark.read.parquet(tdir).collect()}
    assert after == before  # aborted pre-merge, nothing touched

    ok = spark.createDataFrame(  # stable key + a fresh insert pass
        [(1, "a", 9.0), (3, "b", 3.0)], "k bigint, p string, v double")
    touched = merge_into_partitioned(
        spark, tdir, ok, ["k"], "p", verify_key_stability=True)
    assert touched == ["a", "b"]
    got = {(r["k"], r["p"], r["v"])
           for r in spark.read.parquet(tdir).collect()}
    assert got == {(1, "a", 9.0), (2, "b", 2.0), (3, "b", 3.0)}


def test_merge_numeric_string_partitions(spark, tmp_path):
    """Partition values '01' and '1' are DISTINCT string partitions;
    Spark's partition-type inference would coerce both to int 1. The
    merge read uses the source's schema, so the two directories never
    blur — and the key-stability check sees the true string values."""
    import pytest as _pt

    from neumann_spark.operators.dml import merge_into_partitioned

    tdir = str(tmp_path / "t")
    schema = "k bigint, p string, v double"
    spark.createDataFrame(
        [(1, "01", 1.0), (2, "1", 2.0)], schema
    ).write.partitionBy("p").parquet(tdir)

    src = spark.createDataFrame([(1, "01", 9.0)], schema)
    assert merge_into_partitioned(spark, tdir, src, ["k"], "p") == ["01"]
    back = {(r["k"], r["p"], r["v"])
            for r in spark.read.schema(schema).parquet(tdir).collect()}
    assert back == {(1, "01", 9.0), (2, "1", 2.0)}

    moved = spark.createDataFrame([(2, "01", 5.0)], schema)  # 2 lives in '1'
    with _pt.raises(ValueError, match="key-stability violation"):
        merge_into_partitioned(
            spark, tdir, moved, ["k"], "p", verify_key_stability=True)


def test_merge_trash_dirs_invisible_to_readers(spark, tmp_path, monkeypatch):
    """Crash leftovers from the swap (a trash dir whose rmtree failed, or
    a kill between the two renames) must never surface as a phantom
    partition: trash dirs are _-prefixed, which parquet readers skip."""
    import os

    import neumann_spark.session as nsession
    from neumann_spark.operators.dml import merge_into_partitioned

    tdir = str(tmp_path / "t")
    rows = [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(10)]
    spark.createDataFrame(
        rows, "k bigint, p string, v double"
    ).write.partitionBy("p").parquet(tdir)

    real_hfs = nsession.hadoop_fs

    class TrashKeepingFS:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            return getattr(self._real, name)

        def delete(self, p, recursive=True):
            if p.getName().startswith("_old_"):
                return True  # simulate a failed cleanup: trash survives
            return self._real.delete(p, recursive)

    def patched(spark_, path):
        fs, jvm = real_hfs(spark_, path)
        return TrashKeepingFS(fs), jvm

    monkeypatch.setattr(nsession, "hadoop_fs", patched)
    src = spark.createDataFrame(
        [(0, "a", 99.0)], "k bigint, p string, v double")
    merge_into_partitioned(spark, tdir, src, ["k"], "p")
    monkeypatch.undo()

    leftovers = [d for d in os.listdir(tdir) if d.startswith("_old_")]
    assert leftovers  # the simulated crash leftover is on disk...
    back = spark.read.parquet(tdir)
    assert sorted(r["p"] for r in back.select("p").distinct().collect()) \
        == ["a", "b"]  # ...but invisible: no phantom partition value
    assert back.count() == 10 and \
        back.filter("k = 0").collect()[0]["v"] == 99.0
