"""RFM (recency / frequency / monetary) segmentation — the classic
behavioral feature grid over an event log, built here WITHOUT a global
ntile window: quintile scores come from five exact percentile CUTPOINTS
(one tiny aggregate) applied back as comparisons, so the corpus-sized
relation never passes through a single-partition ranking.

Exactness: per-user recency/frequency/monetary are integers (days,
counts, cents); the cutpoints are interpolated exact percentiles —
Spark ``percentile`` ≡ DuckDB ``quantile_cont`` on the same integers
(the agg_percentiles-green equivalence) — and a score is 1 + Σ of
integer-vs-cutpoint comparisons, identical on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_QS = [0.2, 0.4, 0.6, 0.8]


def rfm_segments(df: DataFrame) -> DataFrame:
    """Quintile RFM scores per subject, reported as the segment
    histogram: one row per populated (r_score, f_score, m_score) cell
    with its subject count and total monetary cents, ordered by the
    three scores.

    Scores: frequency and monetary score 1-5 as 1 + Σ[x > q_i] over the
    0.2/0.4/0.6/0.8 cutpoints (strictly-greater, so ties land LOW —
    deterministic); recency scores REVERSED (1 + Σ[x < q_i]) because
    fewer days-since-last-event is better. With heavy ties (integer
    metrics) quintiles are deliberately unbalanced rather than
    arbitrarily split — the cutpoint form makes that explicit where
    ntile would hide it.

    Scale: one per-subject aggregate (map-side combine), ONE 1-row
    exact-percentile aggregate over the |subjects| relation for all 12
    cutpoints (at 1e9+ subjects swap in approx_percentile — the repo's
    sketch gates bound the agreement), broadcast back as comparisons;
    the output is ≤125 rows."""
    log_end = df.agg(
        F.date_trunc("day", F.max("ts")).alias("__end")
    )
    per = (
        df.groupBy(F.col("user_id").alias("__s"))
        .agg(
            F.date_trunc("day", F.max("ts")).alias("__last"),
            F.count(F.lit(1)).cast("bigint").alias("__f"),
            F.coalesce(
                F.sum(F.round(F.col("value") * 100).cast("bigint")),
                F.lit(0).cast("bigint"),
            ).alias("__m"),
        )
        .crossJoin(F.broadcast(log_end))
        .select(
            "__s",
            F.datediff(F.col("__end"), F.col("__last"))
            .cast("bigint")
            .alias("__r"),
            "__f",
            "__m",
        )
    )
    per = per.localCheckpoint(eager=False)
    qs = F.array(*[F.lit(q) for q in _QS])
    cuts = per.agg(
        F.percentile("__r", qs).alias("__rq"),
        F.percentile("__f", qs).alias("__fq"),
        F.percentile("__m", qs).alias("__mq"),
    )

    def score_gt(x, arr):
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(x.cast("double") > F.col(arr)[i], 1).otherwise(0)
        return s.cast("int")

    def score_lt(x, arr):
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(x.cast("double") < F.col(arr)[i], 1).otherwise(0)
        return s.cast("int")

    scored = per.crossJoin(F.broadcast(cuts)).select(
        score_lt(F.col("__r"), "__rq").alias("r_score"),
        score_gt(F.col("__f"), "__fq").alias("f_score"),
        score_gt(F.col("__m"), "__mq").alias("m_score"),
        "__m",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
            F.sum("__m").cast("bigint").alias("monetary_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )
