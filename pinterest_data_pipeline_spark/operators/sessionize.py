"""Gap-based sessionization of the events stream.

The classic batch sessionizer: within each user's timeline, a new
session starts wherever the gap since the previous event exceeds
30 minutes (the analytics convention).
The registered ``sessionize_events`` query reports per-USER session
counts inline; this module factors the same gap logic into a reusable
operator and adds the per-SESSION grain (start/end/count/value rows)
that downstream funnel/retention joins consume. The streaming twin of
this shape is Structured Streaming's session window; the batch form
here is what backfills and reprocessing run.

Engine-portability: gaps are compared in INTEGER MICROSECONDS
(``unix_micros`` / DuckDB ``epoch_us``) — no float timestamp math, no
timezone dependence — and the per-user ordering tiebreaks on the
event id, so session numbering is total and retry/engine-stable.

Scale shape: ONE shuffle on the user key; both windows (the lag and
the running session counter) and the final per-session aggregate ride
that same partitioning, so Spark plans a single Exchange followed by
sorts — no per-user skew beyond a user's own event count, and AQE's
skew handling applies to the exchange if one user dominates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def sessionize(events: DataFrame) -> DataFrame:
    """Events plus a per-user ``session_id`` (1-based, in time order).

    A session starts at the user's first event and wherever
    ``ts - previous ts`` > 30 minutes (strict; an event exactly at
    the gap continues the session). NULL-ts events are dropped before
    windowing — an event with no timestamp has no place in a
    gap-based session, and Spark (NULLS FIRST) vs ANSI engines
    (commonly LAST) would otherwise splice it in engine-dependently."""
    events = events.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap_us = F.lit(1800 * 1_000_000)
    new_session = F.when(
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > gap_us),
        F.lit(1),
    ).otherwise(F.lit(0))
    return events.withColumn(
        "session_id", F.sum(new_session).over(w).cast("int")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """One row per session: (user, session_id, session_start,
    session_end, n_events, total_value). The value sum is rounded to
    6dp so cross-engine float-sum ordering noise sits below the
    comparison grain."""
    s = sessionize(events)
    return s.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


DAY_US = 86_400 * 1_000_000


def peak_concurrency_by_day(intervals: DataFrame) -> DataFrame:
    """Peak concurrent intervals per UTC day, by sweep line: the
    capacity-planning number ("how many sessions were open at once at
    the worst moment of each day") that no per-user aggregate can
    produce.

    Semantics: an interval is ACTIVE at instant t when
    ``start ≤ t ≤ end`` (inclusive ends — a session ending exactly when
    another starts overlaps it). Intervals crossing midnight are
    CLIPPED per day (the day's peak counts carried-over sessions for
    the part of the day they cover), implemented by exploding each
    interval over ``sequence(day(start), day(end))`` — bounded fan-out
    of (span days) rows per interval.

    Sweep: per clipped interval two deltas, (+1 at start) and (−1 at
    end); ordered by (t, delta DESC) so the +1 at an instant applies
    before the −1 (inclusive-overlap convention); running sum =
    concurrency; peak = max; ``peak_at_us`` = earliest instant whose
    post-update concurrency equals the peak. Ties among identical
    (t, delta) rows permute only WHICH equal row carries each running
    value, never the multiset of (t, running) pairs, so the output is
    deterministic without a third sort key.

    All arithmetic is integer micros (``unix_micros``). Output:
    (day DATE, n_intervals, peak_concurrent, peak_at_us).

    Scale: one explode bounded by interval spans, one shuffle on the
    DAY key; each partition sweeps only its own day's deltas — no
    global ordering anywhere."""
    s_us = F.unix_micros(F.col("session_start"))
    e_us = F.unix_micros(F.col("session_end"))
    days = F.sequence(
        (s_us / F.lit(DAY_US)).cast("long"),
        (e_us / F.lit(DAY_US)).cast("long"),
    )
    clipped = intervals.select(
        s_us.alias("__s"), e_us.alias("__e"), F.explode(days).alias("__day")
    ).select(
        "__day",
        F.greatest(F.col("__s"), F.col("__day") * DAY_US).alias("__cs"),
        F.least(
            F.col("__e"), (F.col("__day") + 1) * DAY_US - 1
        ).alias("__ce"),
    )
    deltas = clipped.select(
        "__day", F.col("__cs").alias("__t"), F.lit(1).alias("__d")
    ).unionAll(
        clipped.select(
            "__day", F.col("__ce").alias("__t"), F.lit(-1).alias("__d")
        )
    )
    sweep = Window.partitionBy("__day").orderBy(
        F.col("__t"), F.col("__d").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = deltas.withColumn("__c", F.sum("__d").over(sweep)).withColumn(
        "__peak", F.max("__c").over(Window.partitionBy("__day"))
    )
    return (
        run.groupBy("__day")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
            F.max("__c").cast("long").alias("peak_concurrent"),
            F.min(
                F.when(F.col("__c") == F.col("__peak"), F.col("__t"))
            ).alias("peak_at_us"),
        )
        .select(
            F.date_from_unix_date(F.col("__day").cast("int"))
            .cast("timestamp")
            .alias("day"),
            "n_intervals",
            "peak_concurrent",
            "peak_at_us",
        )
    )
