"""Stream-stream joins with watermarks (engine extension).

Joining two unbounded streams requires both sides to buffer state; the
watermarks + the time-interval join condition bound that state: each side
keeps only rows young enough to still find a partner. Without the
interval condition Spark rejects (or state grows forever) — the
condition IS the state-eviction policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_clicks_to_views(
    clicks: DataFrame,
    views: DataFrame,
) -> DataFrame:
    """Attach each click to view events by the same user within
    30 minutes BEFORE the click (streaming attribution join).

    Both inputs must be streaming DataFrames with ``user_id``, ``ts``,
    ``event_id``, ``value`` columns. Inner join: clicks with no prior
    view in the window are dropped (use left-outer + watermark for the
    keep-unmatched variant)."""
    c = (
        clicks.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    v = (
        views.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
    )
    return c.join(
        v,
        F.expr(
            f"c_user = v_user AND view_ts <= click_ts "
            f"AND view_ts >= click_ts - INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select("click_id", F.col("c_user").alias("user_id"), "click_ts", "view_id", "view_ts", "view_value")


def interval_left_join_clicks_to_views(
    clicks: DataFrame,
    views: DataFrame,
) -> DataFrame:
    """Left-outer variant of the attribution join: every click is
    emitted; clicks with no prior view carry NULL view columns.

    Streaming semantics differ from the inner join in WHEN rows leave
    state: an unmatched click can only be emitted null-padded once the
    watermark proves no qualifying view can still arrive — so outer
    results trail the watermark delay. Both side's watermarks are
    therefore mandatory here (the inner join tolerates their absence at
    the cost of unbounded state; the outer join would never emit)."""
    c = clicks.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    v = views.withWatermark("ts", "1 hour").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    return c.join(
        v,
        F.expr(
            f"c_user = v_user AND view_ts <= click_ts "
            f"AND view_ts >= click_ts - INTERVAL 30 MINUTES"
        ),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "view_id",
        "view_ts",
        "view_value",
    )


def enrich_events_with_users(events: DataFrame, users: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing user
    dimension attributes to a stream of events.

    The static side is re-read per micro-batch (so dimension updates are
    picked up) and is broadcast — no stream-side shuffle and no state
    store at all, unlike stream-stream joins. This is THE scale pattern
    for dimension enrichment: the 100 TB stream never repartitions; only
    the small dimension moves. Left join: events with an unknown user pass
    through with NULL attributes rather than being dropped.

    Works identically on batch inputs (the batch twin is the oracle row)."""
    dim = F.broadcast(
        users.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_name").alias("user_name"),
            F.col("c_mktsegment").alias("user_segment"),
        )
    )
    return events.join(dim, "user_id", "left")
