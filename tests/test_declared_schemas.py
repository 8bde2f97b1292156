"""The testdata loader reads with declared schemas (schemas.TESTDATA_SCHEMAS)
instead of inferring each parquet footer, so the declarations must equal
what Spark infers from the fixture files — types and nullability — or a
fixture change would silently read NULLs. And loading a declared table
must stay free of Spark jobs: no footer inference."""

from __future__ import annotations

import glob
import importlib.util
import os
import time
import uuid

import pytest

from pinterest_data_pipeline_spark.schemas import TESTDATA_SCHEMAS
from pinterest_data_pipeline_spark.sources.parquet import load_table
from tests.conftest import SMOKE_SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SMOKE_SF), "sf*")))
DECLARED = [name for name in TESTDATA_SCHEMAS if name != "events"]


def _assert_declared_equals_inferred(spark, sf_dir):
    for name in DECLARED:
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        assert inferred.schema == TESTDATA_SCHEMAS[name], (sf_dir, name)
    # events is inferred by the loader itself; EVENTS declares its
    # normalized output (ts as TIMESTAMP)
    assert load_table(spark, sf_dir, "events").schema == TESTDATA_SCHEMAS["events"]


@pytest.mark.parametrize(
    "sf_dir", TESTDATA_DIRS, ids=[os.path.basename(d) for d in TESTDATA_DIRS]
)
def test_declared_schemas_match_fixture_footers(spark, sf_dir):
    _assert_declared_equals_inferred(spark, sf_dir)


def test_declared_schemas_match_benchmark_tables(spark, tmp_path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_datagen", os.path.join(REPO, "perfbench", "datagen.py")
    )
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    datagen.write_tables(str(tmp_path), seed=5, sf=0.001)
    _assert_declared_equals_inferred(spark, str(tmp_path))


def _jobs_fired(spark, load) -> list[int]:
    """Job ids that ``load()`` fires, under its own job group. The status
    tracker is fed by the listener bus, so a sentinel job in a second
    group is waited for: once it shows, every earlier job has too."""
    sc = spark.sparkContext
    group, sentinel = f"load-{uuid.uuid4()}", f"sentinel-{uuid.uuid4()}"
    sc.setJobGroup(group, "load_table")
    try:
        load()
        sc.setJobGroup(sentinel, "listener-bus sync")
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_fires_no_jobs(spark, sf_dir):
    for name in DECLARED:
        assert _jobs_fired(spark, lambda: load_table(spark, sf_dir, name)) == [], name
