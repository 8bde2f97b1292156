"""Cohort retention analysis over the events stream.

Users are grouped into weekly cohorts by their FIRST activity week
(``date_trunc('week', min(ts))`` — Monday-anchored in Spark and DuckDB
alike); retention at offset k is the fraction of a cohort active in any
way k weeks after its cohort week. With the funnel operator
(:mod:`operators.funnel`) this completes the standard behavioral
analytics pair the reference's per-category aggregates stop short of
(reference README.md:339-592; charter extension SURVEY.md §2.12).

Scale design: first-activity is one min-aggregate on ``user_id``; the
activity relation is a distinct on (user, week) — both map-side-combined
shuffles on the user key, and the join attaching cohorts to activity is
also user-keyed, so the whole pipeline rides one partitioning until the
final (small: weeks × offsets) matrix aggregate. Week arithmetic is
whole-day integer math on truncated timestamps — no float, no timezone
dependence beyond the session's (UTC here, matching the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def weekly_retention(events: DataFrame) -> DataFrame:
    """Cohort-week × week-offset retention matrix.

    Output: (cohort_week 'yyyy-MM-dd' string, week_offset int, n_active
    bigint, cohort_size bigint, retention double 6dp). Offset 0 is the
    cohort week itself (retention 1.0 by construction — kept as a sanity
    anchor). The week is emitted as a string because engines disagree on
    DATE canonicalization at comparison boundaries (datetime.date vs
    datetime64); the internal arithmetic stays on DATE."""
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
    ).distinct()
    active = (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )
    sizes = first.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        active.join(sizes, "cohort_week")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )
