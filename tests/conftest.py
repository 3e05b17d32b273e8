from __future__ import annotations

import functools
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

SF_DIR = "/root/testdata/sf0.001"


def jobs_run(spark, action):
    """(action's result, Spark jobs it scheduled), counted by the DAG
    scheduler's job id counter."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = sched.nextJobId()
    out = action()
    return out, sched.nextJobId() - before


@functools.cache
def load_selfcheck():
    """`tools/selfcheck.py` as a module (tools/ is not a package)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "selfcheck_mod", os.path.join(REPO_ROOT, "tools", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[8]")
        .appName("neumann_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
