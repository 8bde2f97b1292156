"""Batch sinks: partitioned parquet layout for scan-time pruning.

At 100 TB the dominant query cost is what you DON'T scan: laying data
out as ``partitionBy(date, ...)`` parquet lets every time-bounded query
prune whole directories at planning time (visible as PartitionFilters in
the scan node — asserted in tests/test_sinks.py). ``maxRecordsPerFile``
bounds file sizes without a coalesce bottleneck; writers never produce
the reference's one-object-per-record layout (README.md:155).

A directory this engine wrote in one piece (``json_landing.
compact_to_parquet``, a manifest-sink version) holds a schema record,
``_SCHEMA.json`` (skipped by Spark's reader like ``_SUCCESS``), and
``read_partitioned`` reads with it instead of inferring the footers.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

SCHEMA_RECORD = "_SCHEMA.json"


def read_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def write_json_atomic(path: str, obj: dict) -> None:
    """Write through a ``.``-prefixed temp file (skipped by Spark's reader)
    and ``os.replace`` it into place, so readers never see half a file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable: the
    schema Spark infers from parquet files it wrote from ``dt``."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(dt.keyType, as_nullable(dt.valueType), True)
    return dt


def _data_files(path: str) -> dict[str, int] | None:
    """Name → size of the files Spark reads in ``path`` (top level, not
    ``.``- or ``_``-prefixed), or None when ``path`` is not a local
    directory or holds a data subdirectory (a partitioned layout)."""
    if not os.path.isdir(path):
        return None
    files = {}
    for entry in os.scandir(path):
        if entry.name.startswith((".", "_")):
            continue
        if not entry.is_file():
            return None
        files[entry.name] = entry.stat().st_size
    return files


def record_schema(df: DataFrame, path: str) -> dict:
    """Record, in ``path``, the schema of ``df`` as just written there,
    with the directory's data-file listing; returns the schema JSON.
    Only a local directory without data subdirectories gets a record.

    A Spark ``overwrite`` deletes the directory and so the record; any
    other write changes the listing, and the record no longer applies."""
    schema = as_nullable(df.schema).jsonValue()
    files = _data_files(path)
    if files is not None:
        write_json_atomic(
            os.path.join(path, SCHEMA_RECORD), {"schema": schema, "files": files}
        )
    return schema


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Write partitioned parquet (overwrite, ≤ 1M records per file).
    Partition columns should be low-to-mid cardinality (dates,
    categories) — one directory per value; high-cardinality keys belong
    in bucketing, not partitioning."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def add_date_partition(df: DataFrame, ts_col: str) -> DataFrame:
    """Derive the standard ``dt`` date partition column from an event
    timestamp."""
    return df.withColumn("dt", F.to_date(F.col(ts_col)))


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned layout; partition columns come back as columns
    and filters on them prune at planning time.

    A flat directory whose schema record (see ``record_schema``) lists
    exactly its current data files is read with the recorded schema, so
    no footer-inference job runs; anything else is inferred."""
    files = _data_files(path)
    record = read_json(os.path.join(path, SCHEMA_RECORD)) if files else None
    reader = spark.read
    if record is not None and record.get("files") == files:
        reader = reader.schema(StructType.fromJson(record["schema"]))
    return reader.parquet(path)


def write_curated(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str] = (),
    compression: str = "zstd",
) -> None:
    """Archival/curated-corpus writer: zstd + in-partition clustering
    (overwrite, ≤ 1M records per file).

    Storage posture for the 100 TB corpus: zstd compresses text-heavy
    columns substantially tighter than the snappy default at similar scan
    speed (measured on the documents fixture in tests/test_sinks.py), and
    ``sortWithinPartitions`` on the usual filter keys tightens per-file
    min/max ranges so row-group statistics can skip — both without any
    extra shuffle (the sort is partition-local)."""
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    (
        df.write.mode("overwrite")
        .option("compression", compression)
        .option("maxRecordsPerFile", 1_000_000)
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int = 16,
) -> None:
    """Materialize a training corpus as ``n_shards`` content-addressed
    zstd parquet shards (overwriting ``path``) in a deterministic global
    ``doc_id`` order — the write-side twin
    of :func:`operators.sampling.deterministic_shuffle` (same md5 shard
    key and in-shard digest order, minus the oracle-checkable rank).

    ``repartition(n_shards, shard)`` is the ONLY shuffle;
    ``sortWithinPartitions`` orders each shard with no global sort and
    no rank materialized, so the layout cost is one exchange regardless
    of corpus size. A retry, a re-read, or a different cluster produces
    byte-identical shard membership and order — ``orderBy(rand(seed))``
    guarantees neither. Shard count chooses file parallelism for the
    trainer; md5 uniformity keeps shard sizes balanced (±O(√n))."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        deterministic_shuffle,
    )

    sharded = deterministic_shuffle(df, n_shards=n_shards).drop("pos")
    (
        sharded.repartition(n_shards, F.col("shard"))
        # "shard" leads the sort so the dynamic-partition writer's
        # required ordering (partition cols first) is already satisfied
        # — otherwise FileFormatWriter inserts its own non-stable sort
        # on "shard" alone and destroys the digest order.
        .sortWithinPartitions(
            "shard", F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
        .write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("shard")
        .parquet(path)
    )
