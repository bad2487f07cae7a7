"""Shared fixtures: one SparkSession per test run, DuckDB oracle per sf dir."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from golang_db_query_engine_elasticsearch_indexer_spark.oracle import duckdb_connection
from golang_db_query_engine_elasticsearch_indexer_spark.session import (
    FIXTURE_TABLES,
    build_session,
    register_sf_dir,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # The warehouse dir is static conf: set at build time so the catalog
    # databases each source registers land in a per-run temp dir, not
    # in the checkout.
    s = build_session(
        app_name="engine-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    db = register_sf_dir(spark, sf_dir)
    return {t: spark.table(f"{db}.{t}") for t in FIXTURE_TABLES
            if spark.catalog.tableExists(f"{db}.{t}")}


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb_connection(sf_dir)
    yield con
    con.close()
