"""Parquet table loaders for the driver testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet`` (TESTDATA.md).
Every table but ``events`` is read with its declared ``StructType``
(``schemas.TESTDATA_SCHEMAS``), so a load runs no footer-inference job;
``tests/test_declared_schemas.py`` pins the declared schemas to what Spark
infers from the fixture files, so a fixture change fails there instead of
reading NULLs. Parquet gives vectorized scans, predicate pushdown, and
column pruning for free — the filters/projections in the query layer reach
the scan because we keep the plan declarative (verify with
``df.explain("formatted")``: ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pinterest_data_pipeline_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; all but ``events`` read with the declared
    schema, so the load runs no Spark job. Column pruning / filter pushdown is left to Catalyst — callers express
    projections on the returned DataFrame."""
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, normalizing its ``ts`` column to TIMESTAMP.

    The driver fixture's physical type has varied across rounds, so the
    loader adapts to all three observed encodings:

    - TIMESTAMP(NANOS): Spark 4 rejects it outright (PARQUET_TYPE_ILLEGAL)
      under default config. We flip the legacy read flag (runtime-settable)
      so nanos arrive as int64, then floor-divide to microseconds JVM-side
      — integer ``div``, not ``/``, because a double intermediate loses
      precision above 2^53. DuckDB truncates ns→us the same way.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as TIMESTAMP_NTZ,
      which breaks ``unix_micros``/``session_window`` call sites that
      require the instant type. Cast to TIMESTAMP: the session timezone is
      pinned to UTC, so the naive value maps to the same instant DuckDB's
      naive read produces — wall-clock fields and diffs are unchanged.
    - TIMESTAMP(MICROS, adjusted): already the instant type, no-op.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all testdata tables as a name→DataFrame dict (lazy plans)."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}
