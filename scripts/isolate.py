"""Isolate and time individual registered queries with the noop sink
(guide §1.4), several runs each, printing per-run seconds and Spark job
counts (each run is its own job group, so construction-time jobs of the
iterative operators count too). Usage:

    python scripts/isolate.py [-n RUNS] name [name ...]

Uses the same session/warm-up discipline as bench.py so numbers are
comparable to the round record.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: F401
from pinterest_data_pipeline_spark.plans.registry import QUERIES
from pinterest_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    spark = get_spark(app_name="isolate")
    spark.read.parquet(os.path.join(SF_DIR, "nation.parquet")).count()
    spark.range(32).repartition(32).mapInPandas(
        lambda b: b, "id long"
    ).write.format("noop").mode("overwrite").save()
    from pinterest_data_pipeline_spark.plans.staged_round6 import (
        ensure_embedding_band_state,
    )

    ensure_embedding_band_state(spark, SF_DIR)
    sc = spark.sparkContext
    for name in args:
        ts = []
        for i in range(runs):
            group = f"{name} run {i}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            ts.append((dt, len(sc.statusTracker().getJobIdsForGroup(group))))
        print(
            f"{name}: min {min(t for t, _ in ts):.3f}s  runs "
            + " ".join(f"{t:.3f}s/{n}jobs" for t, n in ts),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
