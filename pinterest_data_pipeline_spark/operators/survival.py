"""Kaplan-Meier survival estimation over event logs — the
right-censoring-correct way to read "how long do users stay?" from a
log whose observation window is still open. A naive retention ratio
treats a user who joined yesterday as churned-after-one-day; KM keeps
them in the at-risk denominator exactly as long as they were actually
observable (Kaplan & Meier 1958).

Exactness: lifetimes, churn counts, and at-risk counts are integers
built from date arithmetic; the survival curve is exp(Σ ln(1 − dᵢ/nᵢ))
over an ordered window — the same ordered-ln-sum discipline as the
bigram LM scorer (operators/tfidf.py), replayed verbatim by DuckDB's
window sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def kaplan_meier(df: DataFrame) -> DataFrame:
    """Kaplan-Meier retention curve over an event log's ``user_id`` and
    ``ts``: per subject, lifetime = days from first to last event;
    subjects whose last event falls within
    7 days of the log's end are CENSORED (they may still
    be active — their lifetime is a lower bound, so they exit the risk
    set at that point without counting as churn). Returns one row per
    observed churn day ≤ 30:

        (day, n_risk, n_churn, n_censored, survival_r6)

    where n_risk counts subjects with lifetime ≥ day, n_churn the
    uncensored subjects churning exactly at day, and survival the KM
    product estimate Π_{i ≤ day} (1 − churnᵢ/riskᵢ).

    Scale: one corpus aggregate (per-subject first/last — map-side
    combine), then every relation is |distinct lifetimes| rows; the
    cumulative product is a window over that tiny ordered relation.
    The log-end timestamp is a 1-row broadcast, never a collect."""
    per_subject = df.groupBy(F.col("user_id").alias("__s")).agg(
        F.date_trunc("day", F.min("ts")).alias("__first"),
        F.date_trunc("day", F.max("ts")).alias("__last"),
    )
    log_end = df.agg(
        F.date_trunc("day", F.max("ts")).alias("__end")
    )
    subjects = per_subject.crossJoin(F.broadcast(log_end)).select(
        F.datediff(F.col("__last"), F.col("__first"))
        .cast("bigint")
        .alias("__life"),
        (
            F.datediff(F.col("__end"), F.col("__last"))
            < F.lit(7)
        ).alias("__censored"),
    )
    per_day = subjects.groupBy(F.col("__life").alias("day")).agg(
        F.sum(F.when(~F.col("__censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_churn"),
        F.sum(F.when(F.col("__censored"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_censored"),
        F.count(F.lit(1)).cast("bigint").alias("__exits"),
    )
    # at-risk at day d = everyone exiting (churn or censor) at day ≥ d:
    # reverse cumulative sum over the ordered day relation
    w_risk = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_surv = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # ln(1 − d/n) is −inf exactly when the whole remaining risk set
    # churns — which can only be the LAST row (nobody has a longer
    # lifetime), so an explicit 0.0 there keeps ln out of the domain
    # edge and identical on both engines (Spark ln(0) → NULL, DuckDB
    # → −inf: unguarded they would diverge).
    ratio = F.col("n_churn").cast("double") / F.col("n_risk").cast("double")
    term = F.when(
        F.col("n_churn") < F.col("n_risk"), F.log(F.lit(1.0) - ratio)
    )
    curve = per_day.withColumn(
        "n_risk", F.sum("__exits").over(w_risk).cast("bigint")
    ).withColumn(
        "survival_r6",
        F.when(F.col("n_churn") == F.col("n_risk"), F.lit(0.0)).otherwise(
            F.round(F.exp(F.sum(term).over(w_surv)), 6)
        ),
    )
    return curve.select(
        "day", "n_risk", "n_churn", "n_censored", "survival_r6"
    ).filter(F.col("day") <= 30).orderBy("day")


def logrank_test(
    subjects: DataFrame,
    cohort_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Log-rank test between two cohorts' time-to-event curves — the
    inference half the Kaplan-Meier family lacked: `kaplan_meier`
    DESCRIBES one cohort's curve; this answers "are these two curves
    different", censoring-correct, as one chi-square number (Mantel
    1966 — the survival-time specialization of the same hypergeometric
    machinery as `cmh_test`).

    ``subjects``: one row per subject with an integer ``duration_col``,
    a 0/1 ``event_col`` (1 = the event was OBSERVED at duration;
    0 = censored there), and a cohort label. At each distinct duration
    t with d_t ≥ 1 observed events, cohort a contributes
    O−E = d_a(t) − d_t·n_a(t)/n_t and hypergeometric variance
    V_t = d_t·(n_a/n_t)·(n_b/n_t)·(n_t−d_t)/(n_t−1) (0 when n_t < 2);
    chisq = (ΣO−E)²/ΣV.

    At-risk counts never explode subject×time: the per-duration exit
    histogram plus ONE cumulative window over the distinct-duration
    relation gives n_g(t) = total_g − exits_g(< t) (the mann_whitney_u
    midrank-histogram discipline). Returns ONE row:

        (n_subj_a, n_subj_b, n_events_a, n_events_b,
         o_minus_e_r6, chisq_r6)

    chisq is NULL when ΣV = 0 (no comparable event time). Rows with a
    NULL duration/event, or a cohort outside {a, b}, are excluded.

    Scale: one grouped exit histogram keyed by duration (map-side
    combinable), one ordered window over the distinct-duration
    relation — bounded by the duration grid, not subject count — and
    a single-row fold."""
    ev = F.col(event_col).cast("int")
    is_a = F.col(cohort_col) == "a"
    is_b = F.col(cohort_col) == "b"
    base = subjects.filter(
        (is_a | is_b)
        & F.col(duration_col).isNotNull()
        & ev.isNotNull()
    ).select(
        F.col(duration_col).cast("bigint").alias("__t"),
        is_a.alias("__ca"),
        ev.alias("__e"),
    )
    hist = base.groupBy("__t").agg(
        F.sum(F.when(F.col("__ca"), F.col("__e")).otherwise(0))
        .cast("bigint")
        .alias("__da"),
        F.sum(F.when(~F.col("__ca"), F.col("__e")).otherwise(0))
        .cast("bigint")
        .alias("__db"),
        F.sum(F.when(F.col("__ca"), 1).otherwise(0))
        .cast("bigint")
        .alias("__xa"),
        F.sum(F.when(~F.col("__ca"), 1).otherwise(0))
        .cast("bigint")
        .alias("__xb"),
    )
    w = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, -1)
    tot = hist.agg(
        F.sum("__xa").cast("bigint").alias("__ta"),
        F.sum("__xb").cast("bigint").alias("__tb"),
        F.sum("__da").cast("bigint").alias("n_events_a"),
        F.sum("__db").cast("bigint").alias("n_events_b"),
    )
    scanned = (
        hist.withColumn(
            "__cuma", F.coalesce(F.sum("__xa").over(w), F.lit(0))
        )
        .withColumn("__cumb", F.coalesce(F.sum("__xb").over(w), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .withColumn("__na", F.col("__ta") - F.col("__cuma"))
        .withColumn("__nb", F.col("__tb") - F.col("__cumb"))
    )
    na, nb = F.col("__na").cast("double"), F.col("__nb").cast("double")
    nt = F.col("__na") + F.col("__nb")
    ntd = nt.cast("double")
    d = (F.col("__da") + F.col("__db")).cast("double")
    oe = F.when(
        d > 0, F.col("__da").cast("double") - d * na / ntd
    ).otherwise(F.lit(0.0))
    v = F.when(
        (d > 0) & (nt > 1),
        d
        * (na / ntd)
        * (nb / ntd)
        * ((ntd - d) / (ntd - F.lit(1.0))),
    ).otherwise(F.lit(0.0))
    agg = scanned.agg(
        F.max("__ta").cast("bigint").alias("n_subj_a"),
        F.max("__tb").cast("bigint").alias("n_subj_b"),
        F.max("n_events_a").alias("n_events_a"),
        F.max("n_events_b").alias("n_events_b"),
        F.sum(oe).alias("__oe"),
        F.sum(v).alias("__v"),
    )
    return agg.select(
        "n_subj_a",
        "n_subj_b",
        "n_events_a",
        "n_events_b",
        F.round("__oe", 6).alias("o_minus_e_r6"),
        F.round(
            F.when(
                F.col("__v") > 0,
                F.col("__oe") * F.col("__oe") / F.col("__v"),
            ),
            6,
        ).alias("chisq_r6"),
    )
