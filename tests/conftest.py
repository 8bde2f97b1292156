"""Shared test fixtures: one session-scoped SparkSession, sf_dir paths."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pinterest_data_pipeline_spark.session import get_spark  # noqa: E402
import __spark_entry__  # noqa: E402,F401  (registers every query in registry.QUERIES)

SMOKE_SF = "/root/testdata/sf0.001"
ORACLE_SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="pinterest-pipeline-tests",
        cpus="8",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return ORACLE_SF
