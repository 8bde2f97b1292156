"""Partitioned-write sink: layout, pruning, and file-count behavior."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.sources import sinks
from pinterest_data_pipeline_spark.sources.parquet import load_table


def test_partitioned_write_and_pruning(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_by_day")
    ev = sinks.add_date_partition(load_table(spark, sf_dir, "events"), "ts")
    sinks.write_partitioned(ev, out, ["dt"])

    # layout: one directory per date
    dt_dirs = [d for d in os.listdir(out) if d.startswith("dt=")]
    assert len(dt_dirs) >= 2

    # partition pruning: a dt filter must appear as PartitionFilters and
    # prune the scanned partition count at planning time
    back = sinks.read_partitioned(spark, out)
    one_day = sorted(d.split("=")[1] for d in dt_dirs)[0]
    q = back.filter(F.col("dt") == one_day).select("event_id")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert f"isnotnull(dt" in plan or "dt#" in plan

    # row-level equality with a non-partitioned filter path
    direct = ev.filter(F.col("dt") == one_day).count()
    assert q.count() == direct


def test_partitioned_write_roundtrip_complete(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_rt")
    ev = sinks.add_date_partition(load_table(spark, sf_dir, "events"), "ts")
    sinks.write_partitioned(ev, out, ["dt"])
    assert sinks.read_partitioned(spark, out).count() == ev.count()


def test_curated_writer_zstd_smaller_than_snappy(spark, sf_dir, tmp_path):
    """zstd must beat snappy on the text-heavy documents table, and the
    curated layout must round-trip identically."""
    import os

    from pinterest_data_pipeline_spark.sources.parquet import load_table
    from pinterest_data_pipeline_spark.sources.sinks import write_curated

    docs = load_table(spark, sf_dir, "documents")
    z = str(tmp_path / "zstd")
    s = str(tmp_path / "snappy")
    write_curated(docs, z, sort_cols=["lang", "doc_id"], compression="zstd")
    write_curated(docs, s, sort_cols=["lang", "doc_id"], compression="snappy")

    def size(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert size(z) < size(s)
    assert spark.read.parquet(z).count() == docs.count()
    back = {r["doc_id"] for r in spark.read.parquet(z).select("doc_id").collect()}
    assert back == {r["doc_id"] for r in docs.select("doc_id").collect()}


def test_training_shards_layout_and_determinism(spark, sf_dir, tmp_path):
    """Shard directories match deterministic_shuffle's assignment, each
    shard file is internally ordered by md5 digest, and a rewrite is
    byte-identical in membership+order."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        deterministic_shuffle,
    )
    from pinterest_data_pipeline_spark.sources.sinks import (
        write_training_shards,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out1 = str(tmp_path / "shards1")
    write_training_shards(docs, out1, n_shards=8)

    shard_dirs = sorted(
        d for d in os.listdir(out1) if d.startswith("shard=")
    )
    assert len(shard_dirs) == 8

    back = spark.read.parquet(out1)
    expect = deterministic_shuffle(docs, n_shards=8)
    # membership parity per shard
    got = {(r["doc_id"], r["shard"]) for r in back.collect()}
    want = {(r["doc_id"], r["shard"]) for r in expect.collect()}
    assert got == want

    # in-file order must equal the rank order deterministic_shuffle
    # assigns (read one shard's file directly, no Spark reorder)
    import pyarrow.parquet as pq

    d0 = os.path.join(out1, shard_dirs[0])
    files = [f for f in os.listdir(d0) if f.endswith(".parquet")]
    assert len(files) == 1  # one file per shard dir
    ids = pq.read_table(os.path.join(d0, files[0]))["doc_id"].to_pylist()
    ranked = [
        r["doc_id"]
        for r in expect.filter(F.col("shard") == 0)
        .orderBy("pos")
        .collect()
    ]
    assert ids == ranked

    # rewrite determinism
    out2 = str(tmp_path / "shards2")
    write_training_shards(docs, out2, n_shards=8)
    d0b = os.path.join(out2, shard_dirs[0])
    fb = [f for f in os.listdir(d0b) if f.endswith(".parquet")]
    ids2 = pq.read_table(os.path.join(d0b, fb[0]))["doc_id"].to_pylist()
    assert ids2 == ids


def test_dynamic_partition_overwrite_replaces_only_touched(spark, sf_dir, tmp_path):
    """INSERT OVERWRITE with partitionOverwriteMode=dynamic must replace
    ONLY the partitions present in the incoming data — the idempotent
    daily-backfill contract (static mode would wipe the whole table; at
    100 TB that difference is the whole table)."""
    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.sources.parquet import load_table

    out = str(tmp_path / "dyn_part")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    orders.write.partitionBy("order_year").mode("overwrite").parquet(out)
    before = {
        r["order_year"]: r["n"]
        for r in spark.read.parquet(out).groupBy("order_year").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    some_year = sorted(before)[0]
    # rewrite ONE year's partition with a single sentinel row
    replacement = orders.where(F.col("order_year") == some_year).limit(1)
    (
        replacement.write.partitionBy("order_year")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(out)
    )
    after = {
        r["order_year"]: r["n"]
        for r in spark.read.parquet(out).groupBy("order_year").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert after[some_year] == 1  # touched partition replaced
    for y in before:
        if y != some_year:
            assert after[y] == before[y]  # untouched partitions intact


def test_analyze_table_stats_enable_broadcast_without_hint(spark, sf_dir, tmp_path):
    """Cost-based broadcast from catalog statistics: after ANALYZE TABLE,
    a small dimension joins as BroadcastHashJoin with NO broadcast()
    hint — the optimizer decides from row-count/size stats, which is how
    an un-hinted 100 TB query still gets the right join strategy."""
    import contextlib
    import io

    from pinterest_data_pipeline_spark.sources.parquet import load_table

    spark.sql("DROP TABLE IF EXISTS stats_nation")
    spark.sql("DROP TABLE IF EXISTS stats_customer")
    load_table(spark, sf_dir, "nation").write.saveAsTable("stats_nation")
    load_table(spark, sf_dir, "customer").write.saveAsTable("stats_customer")
    spark.sql("ANALYZE TABLE stats_nation COMPUTE STATISTICS")
    spark.sql("ANALYZE TABLE stats_customer COMPUTE STATISTICS")
    joined = spark.sql(
        """
        SELECT c.c_custkey, n.n_name
        FROM stats_customer c JOIN stats_nation n
          ON c.c_nationkey = n.n_nationkey
        """
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
