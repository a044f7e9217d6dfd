"""Shared fixtures: one tuned SparkSession + a DuckDB connection with the
fixture tables registered as views (mirrors the driver's oracle setup).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from data_ingestion_service_spark import session as session_mod
from data_ingestion_service_spark.catalog import TABLES
from data_ingestion_service_spark.session import get_spark

# Small SF by default for speed; SPARK_GRAFT_TEST_SF_DIR overrides (run the
# full suite at sf0.01 before declaring keys to the driver — SURVEY.md §5).
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ingestion-engine-tests")
    yield s


@pytest.fixture
def fresh_spark(spark):
    """A new session on the shared context: its session stores start
    empty. Teardown drops the session's store entries without
    unpersisting them: sessions share one CacheManager, so an unpersist
    would also uncache the equal-plan stores the shared ``spark`` session
    still holds."""
    s = spark.newSession()
    yield s
    session_mod._DF_CACHE.pop(s, None)


@pytest.fixture(scope="session")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{TEST_SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR
