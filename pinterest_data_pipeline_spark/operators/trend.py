"""Trend/decay operators: exponentially-weighted moving averages over
per-key event streams.

EWMA is a sequential recurrence (e_t = α·x_t + (1-α)·e_{t-1}) — the
textbook formulation is driver-side or single-partition, both dead at
100 TB. The operator here uses the closed form over a BOUNDED recency
window (the practical monitoring form): the latest K events carry
weights α(1-α)^k for k = 0..K-2 and the oldest carries the full
remaining tail (1-α)^(K-1), so weights sum to exactly 1 and the value
equals the infinite-history EWMA whenever history ≤ K (and a
(1-α)^K-bounded approximation of it otherwise). One per-key window
ranks events, one aggregate folds the weighted sum — a single Exchange
on the key.

Exactness contract: α = 1/2 and integer-cents inputs make every term
``cents × 2^-j`` EXACTLY representable (an integer scaled by a power of
two), and a sum of K ≤ 32 such terms is exact in IEEE double (all terms
are multiples of 2^-(K-1) and the sum stays far below 2^53 ulps), so the
result is independent of addition order — Spark's partial aggregation
and a SQL oracle's fold produce bit-identical doubles with no rounding
discipline needed until the final cents→units division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ewma_half_latest(
    df: DataFrame,
    key_col: str,
    order_col: str,
    cents_col: Column | str,
    k: int = 16,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key EWMA (α = 1/2) of an integer-cents series at the latest
    event, over the last ``k`` events: weight 2^-(j+1) for the j-th most
    recent event (j = 0..k-2), 2^-(k-1) for the oldest retained one.
    Returns (key_col, n_events, ewma_cents) where ewma_cents is the
    exact dyadic weighted sum (double, order-independent — see module
    docstring); callers divide by 100 and round once for display units.

    Keys with fewer than ``k`` events use the same rule truncated at
    their history: the oldest event absorbs the tail weight, so weights
    always sum to exactly 1 (the infinite-history EWMA restarted at the
    first observation — the standard initialization).

    Scale: one shuffle on the key carries both the recency ranking and
    the fold; no state, no recursion, no per-row Python."""
    if not 2 <= k <= 32:
        raise ValueError(f"k must be in [2, 32] (got {k}); k > 32 breaks "
                         "the exact-dyadic-sum guarantee")
    cents = F.col(cents_col) if isinstance(cents_col, str) else cents_col
    order = [F.col(order_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    ranked = df.select(
        F.col(key_col),
        cents.cast("bigint").alias("__cents"),
        F.row_number().over(w).alias("__recency"),  # 1 = latest
    ).filter(F.col("__recency") <= k)
    # per-key event count decides each row's weight exponent: rows
    # before the key's last retained one get 2^-recency, the last gets
    # 2^-(count-1) (tail absorption); pow(.5, j) is exact for j <= 31
    cw = Window.partitionBy(key_col)
    weighted = ranked.withColumn(
        "__n", F.count(F.lit(1)).over(cw)
    ).withColumn(
        "__wexp",
        F.when(F.col("__recency") < F.col("__n"), F.col("__recency")).otherwise(
            F.col("__n") - 1
        ),
    )
    return (
        weighted.groupBy(key_col)
        .agg(
            F.max("__n").cast("bigint").alias("n_events"),
            F.sum(
                F.col("__cents").cast("double")
                * F.pow(F.lit(0.5), F.col("__wexp").cast("double"))
            ).alias("ewma_cents"),
        )
    )


def time_weighted_average(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    cents_col,
    tiebreak_col: str,
) -> DataFrame:
    """Time-weighted average (TWAP) per key — the duration-weighted
    reading beside ewma_half_latest's recency-decay one: each
    observation's value holds until the NEXT observation, so its
    weight is the integer seconds it was in force (the last
    observation closes the series and carries no weight). EWMA asks
    "what is the level, trusting recent points more"; TWAP asks "what
    was the level ON AVERAGE OVER TIME" — the fair-rate number billing
    and market-data pipelines reconcile against, immune to burst
    oversampling (a thousand ticks in one second move EWMA, not TWAP).

    Exactness: Σ(cents·Δt) and Σ(Δt) are exact bigints (integer cents
    × integer epoch-second gaps); one double division, one round(…,6).
    Keys with a single observation (no closed interval) are dropped —
    deterministic, and visible via n_obs against the source count.

    Scale: ONE lead() window per key (a single Exchange on the key,
    the sessionize shuffle shape) feeding one map-side-combinable
    aggregate. No global sort."""
    cents = (
        F.col(cents_col) if isinstance(cents_col, str) else cents_col
    ).cast("long")
    epoch = F.unix_timestamp(F.col(ts_col)).cast("long")
    # ORDER BY the RAW timestamp (microsecond precision), not the
    # truncated epoch seconds: two same-key events within one second
    # must hand the interval weight to the row the full-precision
    # (ts, tiebreak) order picks — ordering by truncated __t would let
    # the tiebreak override sub-second ts order and silently diverge
    # from any full-precision consumer. __dt still comes from the
    # truncated epochs (integer-second weights); truncation is
    # monotone, so lead() along raw-ts order never yields __dt < 0.
    stepped = df.select(
        F.col(key_col).alias("__k"),
        cents.alias("__c"),
        epoch.alias("__t"),
        F.col(ts_col).alias("__ts"),
        F.col(tiebreak_col).alias("__tb"),
    ).select(
        "__k",
        "__c",
        (
            F.lead("__t").over(
                Window.partitionBy("__k").orderBy("__ts", "__tb")
            )
            - F.col("__t")
        ).alias("__dt"),
    )
    # zero-length intervals (same-timestamp bursts) are kept — they
    # carry zero weight, which is TWAP's whole point — but a key whose
    # EVERY interval is zero has no time axis: filter span > 0 below.
    closed = stepped.where(F.col("__dt").isNotNull())
    return (
        closed.groupBy("__k")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_obs"),
            F.sum("__dt").cast("bigint").alias("span_seconds"),
            F.sum(F.col("__c") * F.col("__dt"))
            .cast("bigint")
            .alias("__wsum"),
        )
        .where(F.col("span_seconds") > 0)
        .select(
            F.col("__k").alias(key_col),
            "n_obs",
            "span_seconds",
            F.round(
                F.col("__wsum").cast("double")
                / F.col("span_seconds").cast("double"),
                6,
            ).alias("twap_r6"),
        )
    )


def mase_backtest(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Seasonal-naive forecast backtest scored by MASE (Hyndman &
    Koehler 2006) — the forecast-EVALUATION reading the trend family
    lacks: Mann-Kendall asks "is there drift", CUSUM "where did the
    level shift", autocorr "is there memory"; MASE asks "would the
    simplest seasonal forecaster have been any good, and by how much
    does it beat the naive baseline" — the gate run before anyone
    ships a fancier model.

    Protocol: the last 7 periods are the holdout; the forecast for
    period t is y_{t−7} (seasonal naive, season 7); the scale is the
    IN-SAMPLE seasonal-naive MAE over the training prefix (the standard
    MASE denominator, same season). MASE < 1 means the
    forecaster beats its own in-sample baseline; ≥ 1 means the series
    defeated it.

    Exactness: absolute errors are |integer − integer| bigints;
    MASE = (Σ|e_test|·n_in) / (Σ|e_in|·n_test) is computed as ONE
    rational of exact integer products, rounded once — no
    intermediate means.

    NULL period indices (``x_col`` NULL — e.g. the day bucket of a
    NULL-timestamped event) are DROPPED: a point with no position on
    the time axis cannot participate in a lag, and keeping it would
    make the window order engine-dependent (Spark ASC orders NULL
    first, ANSI engines commonly last).

    Scale: one lag window over the |periods|-sized series (a
    metadata-sized relation by contract — the caller aggregates the
    fact table to periods first), one conditional fold."""
    pts = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).where(F.col("__x").isNotNull())
    w = Window.orderBy("__x")
    lagged = pts.select(
        "__x",
        "__y",
        F.lag("__y", 7).over(w).alias("__yl"),
        F.max("__x").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__mx"),
    ).where(F.col("__yl").isNotNull())
    scored = lagged.select(
        F.abs(F.col("__y") - F.col("__yl")).alias("__ae"),
        (F.col("__x") > F.col("__mx") - 7).alias("__is_test"),
    )
    agg = scored.agg(
        F.sum(F.when(F.col("__is_test"), F.col("__ae")).otherwise(0))
        .cast("bigint")
        .alias("__sum_test"),
        F.sum(F.when(F.col("__is_test"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_test"),
        F.sum(F.when(~F.col("__is_test"), F.col("__ae")).otherwise(0))
        .cast("bigint")
        .alias("__sum_in"),
        F.sum(F.when(~F.col("__is_test"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_train_scored"),
    )
    mase = (
        F.col("__sum_test").cast("double")
        * F.col("n_train_scored").cast("double")
    ) / (
        F.col("__sum_in").cast("double") * F.col("n_test").cast("double")
    )
    return agg.select(
        "n_train_scored",
        "n_test",
        F.col("__sum_test").alias("sum_abs_err_test_cents"),
        F.col("__sum_in").alias("sum_abs_err_train_cents"),
        F.round(
            F.when(
                (F.col("__sum_in") > 0) & (F.col("n_test") > 0), mase
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mase_r6"),
    )
