"""Batch-mode oracle coverage for the streaming window operators.

``F.window`` / ``F.session_window`` are ordinary grouping expressions in
batch mode, so the exact operators used by the streaming slice are
oracle-checkable here with date_trunc/time_bucket SQL; the streaming-only
behaviors (watermark late-data drop, within-watermark dedup, checkpointed
append) are pinned by tests/test_streaming.py instead.

NULL event time: Spark's ``F.window`` / ``F.session_window`` assign NO
window to a NULL-ts row (in streaming, the watermark machinery could
never admit it), so the oracles all carry ``WHERE ts IS NOT NULL`` to
replay that drop — the cross-engine contract the nullts fuzz pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table
from pinterest_data_pipeline_spark.streaming import windows as W


@register(
    "tumbling_hourly_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
    """,
)
def tumbling_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-extension: tumbling event-time window counts (the watermarked
    streaming form runs the same builder; SURVEY.md §2.9)."""
    ev = load_table(spark, sf_dir, "events")
    return W.tumbling_counts(ev, "ts", ["event_type"])


@register(
    "sliding_window_event_counts",
    oracle="""
    WITH starts AS (
        SELECT time_bucket(INTERVAL 30 MINUTES, ts) AS ws, event_type
        FROM events WHERE ts IS NOT NULL
        UNION ALL
        SELECT time_bucket(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES,
               event_type
        FROM events WHERE ts IS NOT NULL
    )
    SELECT ws AS window_start, ws + INTERVAL 60 MINUTES AS window_end,
           event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM starts GROUP BY 1, 2, 3
    """,
)
def sliding_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h window / 30m slide): every event lands in two
    windows; oracle materializes both starts explicitly."""
    ev = load_table(spark, sf_dir, "events")
    return W.sliding_counts(ev, "ts", ["event_type"])


@register(
    "session_window_user_counts",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) >= 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_seq
        FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTES AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def session_window_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute gap) per user. Oracle reconstructs the
    same sessions with the lag-gap formulation; Spark's session_window end
    is last-event + gap, mirrored as MAX(ts) + interval. The gap test is
    ``>= 1800``, not ``>``: Spark's session end is EXCLUSIVE, so an event
    at exactly prev_ts + gap opens a new session."""
    ev = load_table(spark, sf_dir, "events")
    return W.session_window_counts(ev, "ts", ["user_id"])


@register(
    "stream_interval_join_batch",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTES
    WHERE c.event_type = 'click' AND v.event_type = 'view'
    """,
)
def stream_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode oracle row for the stream-stream interval join
    (streaming/joins.py): the SAME builder runs on batch inputs
    (withWatermark is a no-op in batch), so the attribution-join condition
    — view by the same user within 30 minutes BEFORE the click — gets a
    value-hash check; the streaming-only state/eviction behavior stays
    pinned by tests/test_streaming.py."""
    from pinterest_data_pipeline_spark.streaming.joins import (
        interval_join_clicks_to_views,
    )

    ev = load_table(spark, sf_dir, "events")
    return interval_join_clicks_to_views(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
    )


@register(
    "stream_running_totals_batch",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE)
               AS total_value
    FROM events GROUP BY 1
    """,
)
def stream_running_totals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode oracle row for the custom stateful operator
    (streaming/stateful.py): the same per-key pandas accumulation via
    applyInPandas equals the stream's final state after its last
    micro-batch. Cents-exact summation keeps the total row-order
    independent (oracle sums DECIMAL)."""
    from pinterest_data_pipeline_spark.streaming.stateful import (
        running_totals_batch,
    )

    ev = load_table(spark, sf_dir, "events")
    return running_totals_batch(ev.select("event_type", "value"))


@register(
    "stream_static_enrich_batch",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props,
           c.c_name AS user_name, c.c_mktsegment AS user_segment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def stream_static_enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode oracle row for the stream-static enrichment join
    (streaming/joins.enrich_events_with_users): broadcast dimension, no
    stream-side shuffle, no state store. The same builder runs on a
    streaming events source unchanged (tests/test_streaming.py)."""
    from pinterest_data_pipeline_spark.streaming.joins import (
        enrich_events_with_users,
    )

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return enrich_events_with_users(ev, cust)


@register(
    "stream_interval_left_join_batch",
    oracle="""
    SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 30 MINUTES
    """,
)
def stream_interval_left_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode oracle row for the LEFT-OUTER stream-stream interval
    join (streaming/joins.interval_left_join_clicks_to_views): unmatched
    clicks appear null-padded. The streaming-only semantics — outer rows
    emit only after the global (min-across-inputs) watermark proves no
    match can arrive — are pinned by
    test_stream_interval_left_join_emits_unmatched_after_watermark."""
    from pinterest_data_pipeline_spark.streaming.joins import (
        interval_left_join_clicks_to_views,
    )

    ev = load_table(spark, sf_dir, "events")
    return interval_left_join_clicks_to_views(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "view"),
    )


@register(
    "stream_dedup_batch",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events GROUP BY 1
    """,
)
def stream_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode oracle row for within-watermark stream dedup
    (streaming/windows.stream_dedup_within_watermark): an at-least-once
    source is emulated by doubling every event (UNION ALL with itself),
    then exact dedup on the event key restores exactly-once counts — the
    oracle pins them to DISTINCT counts of the *un*-duplicated stream.
    ``dropDuplicates`` picks an arbitrary survivor, but here duplicate
    rows are bit-identical (same projection), so the result is
    deterministic regardless of partitioning.

    The streaming-only semantics — dedup state purged past the watermark
    horizon (bounded memory on an unbounded stream) — are pinned by
    tests/test_streaming.py::test_stream_dedup_within_watermark; this
    registered twin pins the dedup arithmetic under the driver's
    value-hash."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    at_least_once = ev.unionAll(ev)
    return (
        at_least_once.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
