"""Exactly-once streaming sinks via ``foreachBatch``.

File/parquet streaming sinks are append-only; upserting a keyed TARGET
table from a stream needs ``foreachBatch`` + an idempotent batch write.
Without a transactional table format, idempotency comes from writing
each micro-batch's merge RESULT to a batch-id-stamped directory and
atomically advancing a manifest pointer — a replayed batch (after crash
between write and commit) simply overwrites its own directory and
re-points the manifest to the same place. Readers resolve the manifest
first, so they never observe a half-written version. Each version
directory also holds its schema (``_SCHEMA.json``, skipped by Spark's
reader like ``_SUCCESS``), so readers skip parquet footer inference,
time-travel reads included.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from pinterest_data_pipeline_spark.operators.merge import merge_upsert
from pinterest_data_pipeline_spark.sources.sinks import (
    read_json,
    read_partitioned,
    record_schema,
    write_json_atomic,
)

_MANIFEST = "_MANIFEST.json"


def read_manifest(target_dir: str) -> dict | None:
    """The committed manifest ({"current": version, "batch_id": n}), or
    None before the first commit."""
    return read_json(os.path.join(target_dir, _MANIFEST))


def _already_committed(target_dir: str, batch_id: int) -> bool:
    """Replay guard: True iff the manifest already records this batch (or
    a later one). Without it, a batch replayed after a crash *between*
    the manifest commit and the streaming checkpoint would re-read the
    manifest — which now points at its OWN output version — and either
    double-apply a non-idempotent merge or wedge on Spark's
    'cannot overwrite a path that is also being read from'."""
    m = read_manifest(target_dir)
    return m is not None and int(m.get("batch_id", -1)) >= batch_id


def read_target(spark: SparkSession, target_dir: str) -> DataFrame | None:
    """Resolve the manifest and read the current table version, with the
    schema recorded in its directory (no inference job)."""
    m = read_manifest(target_dir)
    if m is None:
        return None
    return read_partitioned(spark, os.path.join(target_dir, m["current"]))


def commit_version(target_dir: str, df: DataFrame, batch_id: int) -> None:
    """Write ``df`` to ``v<batch_id>`` with its schema beside the files, and
    atomically repoint the manifest at it. A replayed batch overwrites its
    own version directory; a committed directory is never written again,
    so its schema cannot go stale."""
    version = f"v{batch_id:010d}"
    path = os.path.join(target_dir, version)
    df.write.mode("overwrite").parquet(path)
    record_schema(df, path)
    write_json_atomic(  # atomic commit
        os.path.join(target_dir, _MANIFEST),
        {"current": version, "batch_id": batch_id},
    )


def upsert_stream_to_parquet(
    updates: DataFrame,
    target_dir: str,
    key_cols: list[str],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start a stream that MERGEs each micro-batch into the target table.

    Each batch: read current version (if any) → merge_upsert → write to
    ``v<batchId>`` → atomically repoint the manifest. Re-delivered
    batches rewrite their own version dir → idempotent."""
    os.makedirs(target_dir, exist_ok=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if _already_committed(target_dir, batch_id):
            return  # replayed batch: its version is already live
        spark = batch_df.sparkSession
        current = read_target(spark, target_dir)
        merged = (
            merge_upsert(current, batch_df, key_cols)
            if current is not None
            else batch_df
        )
        commit_version(target_dir, merged, batch_id)

    return (
        updates.writeStream.outputMode("update")
        .foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def vacuum_versions(target_dir: str, keep: int = 2) -> list[str]:
    """Storage hygiene for the manifest-commit sink: delete version
    directories (files and recorded schema) older than the ``keep`` most
    recent, NEVER including the manifest's current pointer. Returns the
    removed version names.

    Retention discipline at scale: every micro-batch writes a full new
    version, so without vacuuming the sink stores O(batches) copies.
    Keeping ≥2 versions preserves a rollback target and protects
    concurrent readers that resolved the previous manifest just before a
    commit. ``keep=0`` keeps only the current version."""
    import shutil

    if keep < 0:
        raise ValueError(f"keep must be >= 0, got {keep}")
    m = read_manifest(target_dir)
    versions = sorted(
        d
        for d in os.listdir(target_dir)
        if d.startswith("v") and os.path.isdir(os.path.join(target_dir, d))
    )
    survivors = set(versions[-keep:]) if keep else set()
    if m is not None:
        survivors.add(m["current"])
    removed = []
    for v in versions:
        if v not in survivors:
            shutil.rmtree(os.path.join(target_dir, v))
            removed.append(v)
    return removed


def read_target_version(
    spark: SparkSession, target_dir: str, version: str
) -> DataFrame:
    """Time-travel read: load a specific retained version directory
    (``v<batchId>``) regardless of the manifest pointer — valid for any
    version `vacuum_versions` has not removed. Reads with the schema
    committed in the directory (no inference job)."""
    return read_partitioned(spark, os.path.join(target_dir, version))


def table_changes(
    spark: SparkSession,
    target_dir: str,
    from_version: str,
    to_version: str,
    key_cols: list[str],
) -> DataFrame:
    """Change data feed between two retained versions of the manifest
    sink: one full-outer join on the keys classifies every row as
    ``insert`` (key only in ``to``), ``delete`` (only in ``from``), or
    ``update`` (both sides present, any non-key column changed);
    unchanged rows are dropped. Output: key columns + ``_change_type`` +
    the ``to``-side (or, for deletes, ``from``-side) payload as a JSON
    string — schema-stable for downstream consumers regardless of the
    table's own columns.

    This is the Delta-CDF analog for the plain-parquet sink: because
    every version is a complete snapshot, the diff is one co-keyed join
    — no log replay — and feeds the same incremental consumers
    (rollup_maintenance deltas, downstream MERGEs) a transactional
    format would.
    """
    from pyspark.sql import functions as F

    a = read_target_version(spark, target_dir, from_version)
    b = read_target_version(spark, target_dir, to_version)
    payload_cols = [c for c in b.columns if c not in key_cols]
    # presence comes from a literal marker per side, NOT key nullness:
    # the eqNullSafe join deliberately supports NULL key values, which
    # key-isNotNull presence tests would misclassify as absent rows
    a_sel = a.select(
        F.lit(True).alias("__a_present"),
        *[F.col(c).alias(f"__a_{c}") for c in a.columns],
    )
    b_sel = b.select(
        F.lit(True).alias("__b_present"),
        *[F.col(c).alias(f"__b_{c}") for c in b.columns],
    )
    cond = [
        a_sel[f"__a_{k}"].eqNullSafe(b_sel[f"__b_{k}"]) for k in key_cols
    ]
    joined = a_sel.join(b_sel, cond, "full_outer")
    in_a = F.coalesce(F.col("__a_present"), F.lit(False))
    in_b = F.coalesce(F.col("__b_present"), F.lit(False))
    changed = F.lit(False)
    for c in payload_cols:
        changed = changed | ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
    change_type = (
        F.when(in_a & ~in_b, "delete")
        .when(in_b & ~in_a, "insert")
        .when(changed, "update")
    )
    # keys and payload are selected SIDE-WISE, not per-column coalesce:
    # an update that sets a payload column to NULL must report the new
    # NULL, not the stale from-side value a coalesce would resurrect
    keys = [
        F.when(in_b, F.col(f"__b_{k}")).otherwise(F.col(f"__a_{k}")).alias(k)
        for k in key_cols
    ]
    payload = F.to_json(
        F.when(
            in_b,
            F.struct(*[F.col(f"__b_{c}").alias(c) for c in payload_cols]),
        ).otherwise(
            F.struct(*[F.col(f"__a_{c}").alias(c) for c in payload_cols])
        )
    )
    return (
        joined.select(
            *keys,
            change_type.alias("_change_type"),
            payload.alias("payload_json"),
        )
        .where(F.col("_change_type").isNotNull())
    )
