"""The benchmark's workloads: ordered lists of operations.

An operation runs its timed body and returns the DataFrame holding its
output, which the harness collects afterwards (untimed) to fingerprint.

- ``query_sweep``: registered queries, each a registry builder call plus a
  noop-sink write, in seed-permuted order. Most are short relational,
  window, set-op and streaming-batch-twin queries whose time is the fixed
  floor (table loads, analysis, job scheduling); one is an iterative graph
  query whose builder runs eager driver rounds behind ``localCheckpoint``
  barriers (label propagation), on a smaller input.
- ``daily_ingest``: the reference pipeline with writes. The seeded
  ``posting_emulation`` source lands pin and geo rows as JSON, each topic
  is read back with its declared schema and cleaned: pins by a streaming
  upsert of the landing feed into the manifest sink, run to completion;
  geo rows by a batch read compacted to parquet. Q1 (top category per
  country, the pin⋈geo join) then runs on the curated tables. It
  never calls ``load_table`` and runs no iterative operator.
"""

from __future__ import annotations

import os
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

RELATIONAL_QUERIES = (
    "join_anti",
    "q3a_top_customer_per_nation",
    "window_rank_top3",
    "set_except_all_multiset",
)
ITERATIVE_QUERIES = ("lpa_purchasing_communities",)
#: generated input scale (datagen ``sf``, lineitem has 6M·sf rows) of each
#: group; the iterative queries run small so driver rounds dominate
RELATIONAL_SCALE = 0.01
ITERATIVE_SCALE = 0.002
#: rows per topic the ingest workload lands and curates per pass
INGEST_ROWS = 2000
INGEST_PARTITIONS = 2
#: landing files per streaming micro-batch (INGEST_PARTITIONS files per topic)
STREAM_FILES_PER_BATCH = 1
TOPICS = ("pin", "geo")


@dataclass(frozen=True)
class Op:
    name: str
    run: Callable[[], DataFrame]
    expect_rows: int | None = None  # invariant checked on every run
    sf_dir: str | None = None  # input tables of a registered query


def query_ops(spark: SparkSession, sf_dirs: dict[float, str], seed: int,
              tracer) -> list[Op]:
    """Registered queries in seed-permuted order: builder + noop write.
    ``sf_dirs`` maps each scale to the directory of its generated tables."""
    from pinterest_data_pipeline_spark.plans.registry import QUERIES

    def make(name: str, sf_dir: str) -> Op:
        builder = QUERIES[name]

        def run() -> DataFrame:
            with tracer.span("construct", name):
                df = builder(spark, sf_dir)
            with tracer.span("action", name):
                df.write.format("noop").mode("overwrite").save()
            return df

        return Op(name, run, sf_dir=sf_dir)

    ops = [make(n, sf_dirs[RELATIONAL_SCALE]) for n in RELATIONAL_QUERIES]
    ops += [make(n, sf_dirs[ITERATIVE_SCALE]) for n in ITERATIVE_QUERIES]
    random.Random(seed).shuffle(ops)
    return ops


def ingest_ops(spark: SparkSession, work_dir: str, seed: int, tracer,
               rows: int = INGEST_ROWS) -> list[Op]:
    """One pass of the ingest pipeline writing under ``work_dir``."""
    from pinterest_data_pipeline_spark.operators import cleaning
    from pinterest_data_pipeline_spark.plans import pinterest_queries as pq
    from pinterest_data_pipeline_spark.schemas import GEO_RAW, PIN_RAW
    from pinterest_data_pipeline_spark.sources.emulation_source import (
        register_posting_emulation,
    )
    from pinterest_data_pipeline_spark.sources.json_landing import (
        compact_to_parquet,
        read_landing_json,
        read_landing_stream,
    )
    from pinterest_data_pipeline_spark.sources.sinks import read_partitioned
    from pinterest_data_pipeline_spark.streaming.sinks import (
        read_target,
        upsert_stream_to_parquet,
    )

    register_posting_emulation(spark)
    raw = {"pin": PIN_RAW, "geo": GEO_RAW}
    landing = {t: os.path.join(work_dir, "landing", t) for t in TOPICS}
    curated_geo = os.path.join(work_dir, "curated", "geo")
    manifest = os.path.join(work_dir, "manifest", "pin")

    def land(topic: str) -> Callable[[], DataFrame]:
        def run() -> DataFrame:
            feed = (
                spark.read.format("posting_emulation")
                .option("topic", topic).option("n", rows).option("seed", seed)
                .option("partitions", INGEST_PARTITIONS).load()
            )
            with tracer.span("sink", f"landing/{topic}"):
                feed.write.mode("overwrite").json(landing[topic])
            tracer.counters["sink_files"] += _count_files(landing[topic])
            tracer.counters["sink_bytes"] += _tree_bytes(landing[topic])
            return read_landing_json(spark, landing[topic], raw[topic])
        return run

    def stream_upsert_pin() -> DataFrame:
        checkpoint = os.path.join(work_dir, "checkpoint", "pin")
        for d in (manifest, checkpoint):  # each pass replays the whole feed
            shutil.rmtree(d, ignore_errors=True)
        updates = cleaning.clean_pin(read_landing_stream(
            spark, landing["pin"], PIN_RAW,
            max_files_per_trigger=STREAM_FILES_PER_BATCH,
        ))
        with tracer.span("stream", "upsert_pin"):
            q = upsert_stream_to_parquet(updates, manifest, ["ind"], checkpoint)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        for p in q.recentProgress:
            if p["numInputRows"]:
                tracer.stream_batches_s.append(
                    p["durationMs"]["triggerExecution"] / 1000
                )
        return read_target(spark, manifest)

    def curate_geo() -> DataFrame:
        cleaned = cleaning.clean_geo(read_landing_json(spark, landing["geo"], GEO_RAW))
        with tracer.span("sink", "curated/geo"):
            compact_to_parquet(cleaned, curated_geo)
        out = _tree_bytes(curated_geo)
        tracer.counters["sink_files"] += _count_files(curated_geo)
        tracer.counters["sink_bytes"] += out
        tracer.counters["compact_in_bytes"] += _tree_bytes(landing["geo"])
        tracer.counters["compact_out_bytes"] += out
        return read_partitioned(spark, curated_geo)

    def q1() -> DataFrame:
        pin, geo = read_target(spark, manifest), read_partitioned(spark, curated_geo)
        with tracer.span("construct", "q1"):
            df = pq.q1_top_category_per_country(pin, geo)
        with tracer.span("action", "q1"):
            df.write.format("noop").mode("overwrite").save()
        return df

    return [
        Op("land_pin", land("pin"), rows),
        Op("land_geo", land("geo"), rows),
        Op("stream_upsert_pin", stream_upsert_pin, rows),
        Op("curate_geo", curate_geo, rows),
        Op("q1_top_category_per_country", q1),
    ]


def _files(path: str):
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                yield os.path.join(root, f)


def _count_files(path: str) -> int:
    return sum(1 for _ in _files(path))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _files(path))
