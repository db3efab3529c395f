"""Shared test fixtures: one SparkSession per test run, DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_spark.io import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from map_reduce_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
