"""Streaming materialized view: a rollup kept current by merging each
micro-batch's PARTIAL state into the stored state — the streaming twin
of operators/rollup_maintenance.py, composed with the idempotent
manifest-commit sink from streaming/sinks.py.

Refresh cost per batch is O(|batch| + |state|), never a re-scan of
history: the batch is aggregated to mergeable partials (count /
decimal-sum / min / max), merged associatively with the current state,
and the result is committed under a batch-id-stamped version directory
with an atomically re-pointed manifest — a replayed batch overwrites its
own version, so the view stays exactly-once across crashes and restarts.

At 100 TB this is the pattern behind every "live dashboard over an
append stream": state size is O(|distinct keys|), each refresh touches
one micro-batch plus the (key-sized) state table, and readers always see
a complete committed version, never a half-merged one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from pinterest_data_pipeline_spark.operators.rollup_maintenance import (
    merge_rollups,
    rollup_state,
)
from pinterest_data_pipeline_spark.streaming.sinks import (
    _already_committed,
    commit_version,
    read_target,
)


def materialized_rollup_stream(
    events: DataFrame,
    target_dir: str,
    keys: list[str],
    value_col: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Maintain a per-``keys`` rollup of ``value_col`` under
    ``target_dir`` from a stream. Read the current view (mergeable
    state) with :func:`streaming.sinks.read_target` +
    ``rollup_maintenance.finalize_rollup``."""
    os.makedirs(target_dir, exist_ok=True)
    apply_batch = make_rollup_batch_fn(target_dir, keys, value_col)
    return (
        events.writeStream.outputMode("update")
        .foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def make_rollup_batch_fn(target_dir: str, keys: list[str], value_col: str):
    """The foreachBatch function, exposed so the crash-replay contract is
    directly testable (tests invoke it twice with one batch_id and assert
    idempotence — the streaming runtime only replays on real crashes)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Replay guard — load-bearing here: merge_rollups is ADDITIVE,
        # so a batch replayed after the manifest commit (but before the
        # checkpoint recorded it) would merge its delta into a state
        # that already contains it, double-counting every sum/count.
        # With the guard, the read below always resolves batch_id-1's
        # version, so the overwrite target is never the read path.
        if _already_committed(target_dir, batch_id):
            return
        spark = batch_df.sparkSession
        delta = rollup_state(batch_df, keys, value_col)
        current = read_target(spark, target_dir)
        state = merge_rollups(current, delta) if current is not None else delta
        commit_version(target_dir, state, batch_id)

    return apply_batch
