"""Ordered-event funnel analysis over the events stream.

The reference's analytics stop at per-category/per-user aggregates
(reference README.md:339-592); a funnel — "of the users who did A, how
many later did B, then C" — is the canonical next question a
pin-interaction log supports, so it joins the engine surface as a
charter extension (SURVEY.md §2.12).

Semantics: step 1 anchors at each user's EARLIEST step-1 event; step
k>1 anchors at the earliest step-k event STRICTLY AFTER the user's
step-(k-1) anchor. Strict ordering means a simultaneous view+click does
not count as a conversion, and re-orderings of the funnel are not
double-counted.

Scale design: one filtered aggregate per step, each shuffling on
``user_id`` with map-side partial ``min``. Every inter-step join is
also on ``user_id``, so all exchanges share one key; AQE broadcasts the
(monotonically shrinking) converted-user side. Nothing is windowed over
a global order and nothing is collected."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_anchor_times(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Per-user anchor timestamp of each completed funnel step.

    Output: (user_id, t1, t2, ..., tN) — one row per user who completed
    step 1; ``tk`` is NULL from the first step the user never completed
    (strictly after the previous anchor)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    anchors = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )

    def extend(acc: DataFrame, idx_step: tuple[int, str]) -> DataFrame:
        i, step = idx_step
        nxt = (
            events.filter(F.col("event_type") == step)
            .join(acc.select("user_id", f"t{i - 1}"), "user_id")
            .filter(F.col("ts") > F.col(f"t{i - 1}"))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t{i}"))
        )
        return acc.join(nxt, "user_id", "left")

    return reduce(extend, enumerate(steps[1:], start=2), anchors)


def funnel_summary(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """One-row funnel report: users reaching each step plus the mean
    seconds between consecutive anchors.

    Timing is exact microsecond arithmetic (``unix_micros``, matching
    DuckDB's ``epoch_us``): the summed deltas stay < 2^53 so the mean is
    bit-exact cross-engine before the final /1e6 and 6dp round."""
    anchors = funnel_anchor_times(events, steps)
    aggs = [F.count("t1").alias("n_step1")]
    for i in range(2, len(steps) + 1):
        aggs.append(F.count(f"t{i}").alias(f"n_step{i}"))
        aggs.append(
            F.round(
                F.avg(
                    F.unix_micros(F.col(f"t{i}"))
                    - F.unix_micros(F.col(f"t{i - 1}"))
                )
                / 1000000.0,
                6,
            ).alias(f"avg_sec_{i - 1}_to_{i}")
        )
    return anchors.agg(*aggs)
