"""The testdata loader reads with declared schemas (schemas.TESTDATA_SCHEMAS)
instead of inferring each parquet footer, so the declarations must equal
what Spark infers from the fixture files — types and nullability — or a
fixture change would silently read NULLs. And loading a declared table
must stay free of Spark jobs: no footer inference. The same holds for the
schema the manifest sink records with each committed version, and for the
one compaction records beside its parquet files."""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pinterest_data_pipeline_spark.operators import cleaning
from pinterest_data_pipeline_spark.schemas import GEO_RAW, PIN_RAW, TESTDATA_SCHEMAS
from pinterest_data_pipeline_spark.sources import json_landing
from pinterest_data_pipeline_spark.sources.fixtures import generate_raw_rows
from pinterest_data_pipeline_spark.sources.parquet import load_table
from pinterest_data_pipeline_spark.sources.sinks import (
    SCHEMA_RECORD,
    read_json,
    read_partitioned,
    record_schema,
    write_json_atomic,
    write_partitioned,
)
from pinterest_data_pipeline_spark.streaming import sinks
from pinterest_data_pipeline_spark.streaming.materialized_view import (
    make_rollup_batch_fn,
)
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


def _assert_manifest_schema_is_inferred(spark, target):
    """The schema recorded in the current version's directory equals what
    Spark infers from its files, and ``read_target`` uses it: 0 jobs."""
    version = os.path.join(target, sinks.read_manifest(target)["current"])
    recorded = StructType.fromJson(
        read_json(os.path.join(version, SCHEMA_RECORD))["schema"]
    )
    assert recorded == spark.read.parquet(version).schema
    assert _jobs_fired(spark, lambda: sinks.read_target(spark, target)) == []
    assert sinks.read_target(spark, target).schema == recorded


def test_manifest_records_nested_schema(spark, tmp_path):
    """Array, struct and map columns, including non-nullable fields,
    elements and values, which the written files make nullable."""
    geo_rows = generate_raw_rows(n=30, seed=7)[1]
    df = (
        cleaning.clean_geo(spark.createDataFrame(geo_rows, GEO_RAW))
        .withColumn("loc", F.struct("country", F.lit(1).alias("one"), "coordinates"))
        .withColumn("pairs", F.array(F.struct(F.lit(1).alias("a"))))
        .withColumn("tags", F.create_map(F.lit("k"), F.array(F.lit(1.0))))
    )
    target = str(tmp_path / "geo")
    os.makedirs(target)
    sinks.commit_version(target, df, 0)
    _assert_manifest_schema_is_inferred(spark, target)


def test_pin_upsert_sink_records_inferred_schema(spark, tmp_path):
    """Two micro-batches, so the second merges into the first's version."""
    cols = [f.name for f in PIN_RAW.fields]
    dicts = [dict(zip(cols, r)) for r in generate_raw_rows(n=60, seed=7)[0]]
    land, target = str(tmp_path / "land"), str(tmp_path / "pin")
    json_landing.write_landing_records(dicts[:30], land, 30)
    updates = cleaning.clean_pin(json_landing.read_landing_stream(
        spark, land, PIN_RAW, max_files_per_trigger=1
    ))
    q = sinks.upsert_stream_to_parquet(
        updates, target, ["ind"], str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        json_landing.write_landing_records(dicts[30:], land, 30, prefix="b2")
        q.processAllAvailable()
    finally:
        q.stop()
    assert sinks.read_manifest(target)["batch_id"] == 1
    _assert_manifest_schema_is_inferred(spark, target)


def test_rollup_view_records_inferred_schema(spark, tmp_path):
    target = str(tmp_path / "mv")
    os.makedirs(target)
    fn = make_rollup_batch_fn(target, ["k"], "v")
    fn(spark.createDataFrame([("a", 1.0), ("b", 5.0)], "k string, v double"), 0)
    fn(spark.createDataFrame([("a", 10.0)], "k string, v double"), 1)
    _assert_manifest_schema_is_inferred(spark, target)


def test_table_changes_reads_committed_schemas(spark, tmp_path):
    """Each committed version keeps its schema, so a time-travel diff of
    two versions constructs with 0 jobs, and its output equals the diff
    of the same files read by inference."""
    target = str(tmp_path / "cdf")
    os.makedirs(target)
    cols = "k long, name string, v double"
    sinks.commit_version(target, spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], cols), 0)
    sinks.commit_version(target, spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)], cols), 1)
    inferred = str(tmp_path / "cdf_inferred")
    shutil.copytree(target, inferred, ignore=shutil.ignore_patterns("_SCHEMA.json"))

    def changes(d):
        return sinks.table_changes(spark, d, "v0000000000", "v0000000001", ["k"])

    assert _jobs_fired(spark, lambda: changes(target)) == []
    got, want = changes(target), changes(inferred)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    assert {r.k: r._change_type for r in got.collect()} == {
        1: "delete", 2: "update", 3: "update", 4: "insert",
    }


def _cleaned_geo(spark):
    """``clean_geo`` output: array and timestamp columns."""
    geo_rows = generate_raw_rows(n=30, seed=7)[1]
    return cleaning.clean_geo(spark.createDataFrame(geo_rows, GEO_RAW))


def _compacted_geo(spark, out_dir):
    """``_cleaned_geo`` compacted to ``out_dir``; returns the DataFrame."""
    cleaned = _cleaned_geo(spark)
    json_landing.compact_to_parquet(cleaned, out_dir)
    return cleaned


def _assert_reads_as_inferred(spark, path):
    got, want = read_partitioned(spark, path), spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=repr) == sorted(want.collect(), key=repr)


def test_compacted_parquet_reads_its_recorded_schema(spark, tmp_path):
    """The record equals inference, types and nullability, so the read
    skips the footer-inference job and returns the same rows."""
    out = str(tmp_path / "geo")
    _compacted_geo(spark, out)
    assert _jobs_fired(spark, lambda: read_partitioned(spark, out)) == []
    _assert_reads_as_inferred(spark, out)


def test_spark_overwrite_drops_the_record(spark, tmp_path):
    out = str(tmp_path / "geo")
    cleaned = _compacted_geo(spark, out)
    assert os.path.exists(os.path.join(out, SCHEMA_RECORD))
    cleaned.select("ind", "country").write.mode("overwrite").parquet(out)
    assert not os.path.exists(os.path.join(out, SCHEMA_RECORD))
    _assert_reads_as_inferred(spark, out)


def test_append_to_compacted_parquet_is_inferred(spark, tmp_path):
    """A foreign append (here with an extra column) changes the listing,
    so the record no longer applies."""
    out = str(tmp_path / "geo")
    cleaned = _compacted_geo(spark, out)
    cleaned.withColumn("extra", F.lit(1)).write.mode("append").parquet(out)
    assert _jobs_fired(spark, lambda: read_partitioned(spark, out)) != []
    _assert_reads_as_inferred(spark, out)


def test_partitioned_layout_is_inferred(spark, tmp_path):
    """A partitioned layout has data subdirectories: ``record_schema``
    writes no record there, and one put there by hand is never read."""
    out = str(tmp_path / "geo_by_country")
    cleaned = _cleaned_geo(spark)
    write_partitioned(cleaned, out, ["country"])
    schema = record_schema(cleaned.drop("country"), out)
    assert not os.path.exists(os.path.join(out, SCHEMA_RECORD))
    write_json_atomic(os.path.join(out, SCHEMA_RECORD), {"schema": schema, "files": {}})
    assert _jobs_fired(spark, lambda: read_partitioned(spark, out)) != []
    _assert_reads_as_inferred(spark, out)
    assert "country" in read_partitioned(spark, out).columns
