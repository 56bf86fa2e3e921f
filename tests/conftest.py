"""Shared pytest fixtures: one SparkSession and one DuckDB oracle
connection per test session (Spark startup is ~10 s; never per-test)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from configdrivendatapipeline_spark.queries import TABLES
from configdrivendatapipeline_spark.session import MEMO_ATTR, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cddp-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.fixture
def memo(spark):
    """The shared session's per-session memo store (see
    ``session.session_memo``), emptied for one test and restored after
    it, so a test sees its own builds and leaves later tests theirs."""
    store = spark.__dict__.setdefault(MEMO_ATTR, {})
    saved = dict(store)
    store.clear()
    yield store
    store.clear()
    store.update(saved)
