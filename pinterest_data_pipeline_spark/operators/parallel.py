"""Scan fan-out: guarantee cluster-wide parallelism for expensive
per-row projections regardless of input file layout.

Spark parallelizes a parquet scan by byte-range splits, but a split only
produces rows if a row-group STARTS inside it — a table written as one
file with one giant row group (exactly the driver fixture's layout, and a
common real-world hazard: single-shard exports, over-large
``parquet.block.size``, concatenated dumps) scans as ONE task no matter
how many cores exist. Any expensive projection chained onto that scan
(shingle hashing, 64-bit SimHash folds, vector norms + distance folds)
then runs serially — measured 5.3 s of an LSH run's 7.7 s at sf0.1 on
local[32] was the single-task shingle stage.

``fan_out`` inserts one round-robin repartition of the RAW rows before
the heavy projection, so the expensive expressions execute after the
exchange at full parallelism. When the input already passes through any
exchange (joins, aggregations, explicit repartitions) or is split into
enough files, it is a NO-OP — it never adds a shuffle to an
already-parallel input, so the 100 TB plan is unchanged while degenerate
layouts stop serializing.

Detection is deliberately execution-free: the first implementation asked
``df.rdd.getNumPartitions()``, and converting an AQE plan to an RDD
materializes its query stages — the "check" silently EXECUTED the whole
upstream plan, doubling the work of every composite input (measured:
the curation funnel tripled). Instead we look at the compiled physical
plan text (compile-only, no jobs) for an existing Exchange, and fall
back to the scan's file count for leaf plans.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def _physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's shuffle
    parallelism iff it is a narrow (exchange-free) plan over too few file
    splits; otherwise return it untouched."""
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Any exchange (shuffle or AQE stage boundary) already widens
    # parallelism to the shuffle-partition count downstream of it.
    # A checkpointed relation (Scan ExistingRDD) inherited its partition
    # count from the exchange it was materialized behind — every
    # checkpoint site in this engine sits downstream of one — so
    # re-repartitioning it would only re-shuffle cached data.
    plan = _physical_plan(df)
    if "Exchange" in plan or "ExistingRDD" in plan:
        return df
    # Leaf plan: parallelism is bounded by file splits. One row group per
    # file is the worst case, so count files, not bytes.
    n_files = len(df.inputFiles())
    if n_files * 2 >= target:
        return df
    return df.repartition(target)
