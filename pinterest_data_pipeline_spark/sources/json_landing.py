"""JSON landing-zone source/sink (the reference's S3 landing path).

The reference's MSK Connect sink writes ONE S3 object per Kafka message
(``flush.size=1``, reference README.md:155) and reads it back with
schema inference (README.md:339-352) — the small-files regime that made a
3-way join over 11k rows take 1.11 minutes (images/query_3_5.png). This
engine keeps the ability to READ that layout (glob over a directory) but:

- always reads with a DECLARED schema — no inference scan, deterministic
  types (SURVEY.md §1.3);
- provides a compaction step so downstream queries scan few large parquet
  files instead of millions of tiny JSON objects. At 100 TB, compaction
  is the difference between listing/opening ~10^9 objects and ~10^5.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pinterest_data_pipeline_spark.sources.sinks import record_schema


def write_landing_records(
    rows: Iterable[dict], out_dir: str, records_per_file: int = 1,
    prefix: str = "part",
) -> int:
    """Test/fixture helper: serialize dict rows as JSON objects, one file
    per ``records_per_file`` records — ``records_per_file=1`` reproduces
    the reference's flush.size=1 layout exactly."""
    os.makedirs(out_dir, exist_ok=True)
    n = 0
    batch: list[str] = []
    file_idx = 0
    for row in rows:
        batch.append(json.dumps(row))
        n += 1
        if len(batch) >= records_per_file:
            with open(os.path.join(out_dir, f"{prefix}-{file_idx:06d}.json"), "w") as f:
                f.write("\n".join(batch) + "\n")
            batch, file_idx = [], file_idx + 1
    if batch:
        with open(os.path.join(out_dir, f"{prefix}-{file_idx:06d}.json"), "w") as f:
            f.write("\n".join(batch) + "\n")
    return n


def read_landing_json(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Batch read of a JSON landing directory with a declared schema
    (replaces the reference's ``inferSchema=true`` glob load,
    README.md:345-349)."""
    return spark.read.schema(schema).json(path)


def read_landing_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Structured Streaming file source over the landing directory —
    the engine's stand-in for the Kafka/Kinesis consumers (SURVEY.md §2.9:
    the cleaning transforms are stateless, so batch and stream share them
    verbatim)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def compact_to_parquet(df: DataFrame, out_dir: str) -> None:
    """Compact a small-files landing load into large parquet files.

    ``maxRecordsPerFile`` (1M) bounds file size without forcing a
    single-task ``coalesce(1)`` bottleneck; partition count stays
    parallel. The written schema is recorded beside the files, so
    ``sinks.read_partitioned`` reads them back without inference."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", 1_000_000)
        .parquet(out_dir)
    )
    record_schema(df, out_dir)


def read_landing_json_quarantine(
    spark: SparkSession, path: str, schema: T.StructType
) -> tuple[DataFrame, DataFrame]:
    """Landing read with corrupt-record quarantine.

    PERMISSIVE mode (the default) silently turns malformed JSON into
    all-null rows; at ingest scale that's data loss without a trace. This
    variant captures the raw bytes of bad records in a ``_corrupt``
    column and returns (good_rows, quarantine) so the pipeline can land
    bad records in a dead-letter location instead of dropping them."""
    from pyspark.sql import functions as F

    with_corrupt = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt", T.StringType())]
    )
    df = (
        spark.read.schema(with_corrupt)
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    ).cache()  # one pass computes both splits; SPARK-21610: corrupt-record
    #            queries cannot project _corrupt alone without the cache
    good = df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    bad = df.filter(F.col("_corrupt").isNotNull()).select("_corrupt")
    return good, bad
