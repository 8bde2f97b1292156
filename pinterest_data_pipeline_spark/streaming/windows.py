"""Event-time windowed aggregation + streaming dedup (engine extensions).

The reference has no watermarks or event-time windows (SURVEY.md §2.9);
these are the flagged extensions: watermarked tumbling/sliding counts over
``geo.timestamp``-style event time, session windows, and within-watermark
streaming dedup. All are expressed so the SAME builder runs in batch mode
(where ``F.window`` is an ordinary grouping expression, oracle-checkable
via date_trunc) and under ``readStream`` (where the watermark bounds
state).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    *,
    watermark: str | None = None,
) -> DataFrame:
    """Hourly tumbling-window counts keyed by ``keys``.

    With ``watermark`` set (streaming), state for windows older than the
    watermark is dropped and late rows beyond it are discarded — the
    knob that keeps state bounded on an unbounded stream."""
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, "1 hour"), *keys)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def sliding_counts(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """Sliding-window counts: 1-hour windows every 30 minutes, so each row
    lands in two windows."""
    return (
        df.groupBy(F.window(ts_col, "1 hour", "30 minutes"), *keys)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "n",
        )
    )


def session_window_counts(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
) -> DataFrame:
    """Session windows: dynamic-length windows closed after 30 minutes of
    inactivity per key — the streaming-native form of the batch
    sessionization in plans/relational_ops.py."""
    return (
        df.groupBy(F.session_window(ts_col, "30 minutes"), *keys)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "n",
        )
    )


def stream_dedup_within_watermark(
    df: DataFrame, key_cols: Sequence[str], ts_col: str, watermark: str
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``key_cols`` arriving within
    the watermark horizon (state is purged past it — bounded memory, the
    streaming complement of the batch fingerprint dedup)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )
