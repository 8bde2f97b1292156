"""SparkSession factory tuned for this engine.

Local mode is a single JVM with N executor threads; on a real cluster the
same config applies per-executor. AQE is on so post-shuffle partitions are
coalesced and skew joins split at runtime — the knobs that matter at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
# Spark 4.1 moved the class into ``checkpointing``; the pre-4.1 name
# fails the query start with CANNOT_LOAD_CHECKPOINT_FILE_MANAGER.
_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "pinterest_data_pipeline_spark",
    cpus: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - ``spark.sql.shuffle.partitions`` ≈ cores for local runs (the 200
      default over-parallelizes small data and under-parallelizes huge);
      at cluster scale this is superseded by AQE target sizes.
    - AQE enabled: runtime partition coalescing + skew-join splitting.
    - UTC session timezone so timestamp semantics match the DuckDB oracle.
    - Arrow enabled for the Pandas-UDF slow path.
    - Python workers start from ``pyworker_daemon``, which makes the
      per-task ``importlib.invalidate_caches()`` lazy for zip archives on
      Python < 3.13: a one-task ``mapInArrow`` job fell from ~0.33 s to
      ~0.15 s on a 4-vCPU VM. Worker Pythons must be able to import this
      package. Data-source planner workers ignore the daemon setting;
      the package's ``__init__`` applies the same backport in them (and
      in any reused worker) when it is imported there.
    - Streaming checkpoints go through the FileSystem checkpoint manager.
      The default FileContext manager renames each offset, commit and
      state-store file with ``FileContext.rename``, which on the local
      filesystem without native Hadoop forks ``readlink`` to resolve
      links (``FileUtil.readLink``); the FileSystem manager keeps the same
      temp-file + rename protocol and no-overwrite rule for the logs,
      and renames with ``File.renameTo``. A 2-batch upsert stream forked
      56 ``readlink`` and 40 ``chmod`` before, 40 ``chmod`` after.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Keep AQE's parallelism-first coalescing from folding a SMALL
        # post-shuffle relation into one partition when a CPU-heavy
        # projection sits on top of it (150k distinct keys ≈ 1.2 MB
        # coalesce to a single task under the 1 MB default, serializing
        # e.g. 10 md5 weights per key at any core count — measured
        # rendezvous_reshard_stability 2.5 → 1.3 s, mann_kendall 3.4 →
        # 1.9 s at sf0.1). Scale-adaptive by construction: at 100 TB
        # post-shuffle partitions are far above 1 MB, so this floor
        # never binds; it is also core-count-independent, so the
        # low-core bench re-run sees the same plans.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter join pruning: when one join side carries a
        # selective filter, rows that cannot match are dropped BEFORE the
        # shuffle. At 100 TB this turns "shuffle everything, then join"
        # into "shuffle survivors" (tests/test_scale_configs.py pins the
        # plan shape; size thresholds gate it to genuinely large scans).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.python.daemon.module", "pinterest_data_pipeline_spark.pyworker_daemon")
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
