"""Robust / forensic statistics over metric columns — the data-audit
layer a pipeline runs BEFORE trusting a numeric feed: Benford
leading-digit conformance (fabricated or unit-mixed numeric feeds
diverge from Benford where organic transaction amounts follow it),
an EXACT two-sample Kolmogorov-Smirnov distance (distribution drift
between two slices, the exact companion to the grid-discretized KS in
`split_distribution_drift`), lag-k autocorrelation (seasonality / trend
detection on a daily series), and a Gini + top-share key-skew profile
(the shuffle-partition question "is this key column safe to join on?"
answered as a number — the Lorenz-curve companion to the max-key ppm
diagnosis in `key_skew_profile_events`). MAD outlier flags live in
plans/advanced_ops.mad_outlier_events.

Reference parity: the reference engine has no statistical audit surface;
this extends its cleaning layer (README.md:200-299) the way a
production-scale ingest would. Exactness discipline: integer counts and
integer-cents sums wherever a value crosses an aggregate, fixed
expression trees for the final doubles, one rounding at the end — so
DuckDB oracles replay every output value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# log10(1 + 1/d) rounded to 6 decimals — baked as literals on BOTH
# engines so no log evaluation is in the comparison path.
BENFORD_P_R6 = {
    1: 0.30103,
    2: 0.176091,
    3: 0.124939,
    4: 0.09691,
    5: 0.079181,
    6: 0.066947,
    7: 0.057992,
    8: 0.051153,
    9: 0.045757,
}


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov distance between the value
    distributions of two slices: D = max over observed values of
    |F̂_a(x) − F̂_b(x)|. Returns ONE row:

        (n_a, n_b, n_values, ks_r6, ks_at_cents)

    with ``ks_at_cents`` the smallest integer-cents value achieving the
    maximum (deterministic argmax). This is the exact companion to the
    grid-discretized KS in `split_distribution_drift`: the grid form is
    one conditional aggregate (right at corpus scale); this form pays
    one ordered window over the VALUE HISTOGRAM for the exact supremum
    — the right tool for the |distinct values| ≪ |rows| regime money
    columns live in (cents quantization bounds the domain).

    Exactness: values quantize to integer cents; both empirical CDFs
    are cumulative INTEGER counts over the distinct-value histogram;
    each CDF point is one division, the difference one subtraction —
    identical doubles on both engines, so max and argmax agree.

    Scale: one corpus aggregate (groupBy cents — map-side combine),
    then a window + TakeOrdered over the |distinct cents| histogram."""
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    g = F.col(group_col)
    hist = (
        df.filter(g.isin([group_a, group_b]) & F.col(value_col).isNotNull())
        .select(g.alias("__g"), cents.alias("__cents"))
        .groupBy("__cents")
        .agg(
            F.sum(F.when(F.col("__g") == group_a, 1).otherwise(0))
            .cast("bigint")
            .alias("__na"),
            F.sum(F.when(F.col("__g") == group_b, 1).otherwise(0))
            .cast("bigint")
            .alias("__nb"),
        )
    )
    w = Window.orderBy("__cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    totals = hist.agg(
        F.sum("__na").cast("bigint").alias("n_a"),
        F.sum("__nb").cast("bigint").alias("n_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )
    cdf = hist.select(
        "__cents",
        F.sum("__na").over(w).alias("__ca"),
        F.sum("__nb").over(w).alias("__cb"),
    )
    # NULL (not ANSI DivideByZero) when either slice is absent from the
    # input — the degenerate-denominator guard discipline
    diff = cdf.crossJoin(F.broadcast(totals)).select(
        "__cents",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.abs(
                F.col("__ca").cast("double") / F.col("n_a").cast("double")
                - F.col("__cb").cast("double") / F.col("n_b").cast("double")
            ),
        ).alias("__d"),
    )
    best = (
        diff.orderBy(F.col("__d").desc(), F.col("__cents").asc())
        .limit(1)
        .select(
            F.round("__d", 6).alias("ks_r6"),
            F.col("__cents").alias("ks_at_cents"),
        )
    )
    return totals.crossJoin(best).select(
        "n_a", "n_b", "n_values", "ks_r6", "ks_at_cents"
    )


def benford_audit(
    df: DataFrame,
    amount_col: str,
) -> DataFrame:
    """Benford leading-digit audit of a positive money column. Returns
    nine rows (digit 1-9): observed count, observed share, the Benford
    expectation, and the signed excess — the forensic-accounting test
    applied to a data feed (a synthetic or unit-mixed feed shows flat or
    spiked digit mass where organic amounts decay log-like).

    The leading digit comes from the INTEGER cents value rendered as a
    string (scaling by 100 never changes the leading digit), so no
    log10/floor float boundary is in the comparison path; the Benford
    probabilities are 6-decimal literals baked identically into both
    engines. The filter is ``cents >= 1`` — NOT ``amount > 0`` — so a
    positive sub-cent amount (round(x*100) = 0, leading digit '0')
    is excluded identically on both engines instead of emitting a
    digit-0 row the 9-digit Benford table can't match.

    Scale: one scan → 9-group aggregate with map-side combine; the
    digit table is a 9-row literal."""
    cents = F.round(F.col(amount_col) * 100).cast("bigint")
    counts = (
        df.select(cents.alias("__cents"))
        .filter(F.col("__cents") >= 1)
        .select(
            F.substring(F.col("__cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    p = F.lit(None).cast("double")
    expr = None
    for d, prob in BENFORD_P_R6.items():
        expr = (
            F.when(F.col("digit") == d, F.lit(prob))
            if expr is None
            else expr.when(F.col("digit") == d, F.lit(prob))
        )
    p = expr
    share = F.col("n").cast("double") / F.col("__total").cast("double")
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(share, 6).alias("share_r6"),
            p.alias("benford_p_r6"),
            F.round(share - p, 6).alias("excess_r6"),
        )
        .orderBy("digit")
    )


def autocorr_daily(
    df: DataFrame,
    ts_col: str,
    amount_col: str,
) -> DataFrame:
    """Lag-k autocorrelation of the daily total of a money column —
    the seasonality probe (lag 7 ≫ lag 1 means a weekly cycle) run
    before fitting any forecast on a revenue series. Returns one row
    per lag k ∈ {1, 7}: (lag, n_days, n_pairs, autocorr_r6) with the standard
    estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)².

    The daily series is built as exact integer cents (one grouped sum),
    and — the cusum_changepoint lesson, generalized — EVERY moment sum
    (Σx, Σx², Σx·x_lag, head/tail sums) is accumulated as an exact
    decimal over those integer cents, never as an unordered double
    aggregate, so the result is bit-identical across partition orders
    and engines. r_k is scale-invariant, so the ×100 cents factor (and
    an n² clearing factor that makes the mean terms integral) cancels:

        r_k = (n²·Σcy − n·S(Sh+St) + p·S²) / (n²·Σcc − n·S²)

    with S=Σcents, Σcc=Σcents², Σcy=Σcents·cents_lag — one double
    division at the very end. Exact up to ~1e38 intermediate magnitude
    (decimal(38,0); ~1e10 daily cents × decades of days clears easily).
    The day count is tiny (years of days, not rows), so the lag join is
    a broadcast self-join and the moment sums run over a metadata-sized
    relation. autocorr_r6 is NULL for a constant series (zero
    denominator).

    Scale: ONE corpus-sized aggregate (groupBy day, map-side combine);
    everything after operates on |days| rows."""
    daily = (
        df.select(
            F.date_trunc("day", F.col(ts_col)).alias("__d"),
            F.round(F.col(amount_col) * 100).cast("bigint").alias("__c"),
        )
        .groupBy("__d")
        .agg(F.sum("__c").cast("decimal(38,0)").alias("__cents"))
    )
    daily = daily.localCheckpoint(eager=False)
    moments = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("__cents").alias("__sc"),
        F.sum(F.col("__cents") * F.col("__cents")).alias("__scc"),
    )
    out = None
    for k in (1, 7):
        lagged = daily.select(
            F.date_add(F.col("__d").cast("date"), k)
            .cast("timestamp")
            .alias("__d"),
            F.col("__cents").alias("__c_prev"),
        )
        pairs = daily.join(lagged, "__d").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("__cents") * F.col("__c_prev")).alias("__scy"),
            F.sum("__cents").alias("__sh"),
            F.sum("__c_prev").alias("__st"),
        )
        n_dec = F.col("n_days").cast("decimal(38,0)")
        p_dec = F.col("n_pairs").cast("decimal(38,0)")
        num = (
            F.col("__scy") * n_dec * n_dec
            - F.col("__sc") * (F.col("__sh") + F.col("__st")) * n_dec
            + p_dec * F.col("__sc") * F.col("__sc")
        )
        den = (
            F.col("__scc") * n_dec * n_dec
            - F.col("__sc") * F.col("__sc") * n_dec
        )
        row = pairs.crossJoin(F.broadcast(moments)).select(
            F.lit(k).cast("int").alias("lag"),
            "n_days",
            "n_pairs",
            F.round(
                F.when(den != 0, num.cast("double") / den.cast("double")), 6
            ).alias("autocorr_r6"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("lag")


def gini_skew_profile(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """One-row skew audit of a key column: Gini coefficient of the
    per-key frequency distribution plus top-1 and top-10 mass
    shares — the quantitative answer to "will this key hot-spot a
    shuffle?" (Gini → 1 and top-1 share ≫ 1/n_keys both say yes; the
    salting / AQE-skew-join mitigations in operators/dedup become
    mandatory).

    Gini is computed WITHOUT a global per-key sort: identical counts
    contribute a closed-form rank-sum, so the ranking window runs over
    the count HISTOGRAM (distinct count values — heavy-tailed data has
    few) instead of the key relation:

        Σ rank_i·c_i = Σ_c c · (cum_keys_before·m_c + m_c(m_c+1)/2)
        G = 2·Σ rank_i·c_i / (n_keys·total) − (n_keys+1)/n_keys

    with every term an exact integer until the two final divisions.
    Magnitude guard: c·cum·m_c must stay under 2^63 — holds to ~1e9
    keys × 1e9 max count; shard the histogram beyond.

    Scale: one corpus aggregate (groupBy key), one histogram aggregate
    over |keys| rows, a window over |distinct counts| rows, and a
    TakeOrdered top-10. No global sort of the key relation."""
    counts = (
        df.groupBy(F.col(key_col).alias("__k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .localCheckpoint(eager=False)
    )
    hist = counts.groupBy("__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("__m")
    )
    w = Window.orderBy("__c").rowsBetween(Window.unboundedPreceding, -1)
    runs = hist.withColumn(
        "__cum", F.coalesce(F.sum("__m").over(w), F.lit(0)).cast("bigint")
    )
    gini_terms = runs.agg(
        # integer `div` (not `/`, which widens to double and loses
        # exactness past 2^53): m(m+1) is always even, so div 2 is exact
        F.sum(
            F.col("__c")
            * (
                F.col("__cum") * F.col("__m")
                + F.expr("(__m * (__m + 1)) div 2")
            )
        )
        .cast("bigint")
        .alias("__rank_sum"),
        F.sum(F.col("__m")).cast("bigint").alias("n_keys"),
        F.sum(F.col("__c") * F.col("__m")).cast("bigint").alias("n_rows"),
    )
    top = (
        counts.orderBy(F.col("__c").desc(), F.col("__k").asc())
        .limit(10)
        .agg(
            F.max("__c").cast("bigint").alias("__top1"),
            F.sum("__c").cast("bigint").alias("__topn"),
        )
    )
    n_keys = F.col("n_keys").cast("double")
    total = F.col("n_rows").cast("double")
    gini = (
        F.lit(2.0) * F.col("__rank_sum").cast("double") / (n_keys * total)
        - (n_keys + 1) / n_keys
    )
    return gini_terms.crossJoin(F.broadcast(top)).select(
        "n_keys",
        "n_rows",
        F.round(gini, 6).alias("gini_r6"),
        F.round(F.col("__top1").cast("double") / total, 6).alias(
            "top1_share_r6"
        ),
        F.round(F.col("__topn").cast("double") / total, 6).alias(
            "top10_share_r6"
        ),
    )


def dow_seasonality(
    df: DataFrame,
    ts_col: str,
    amount_col: str,
) -> DataFrame:
    """Day-of-week seasonality profile of an event/money stream: one
    row per weekday (0 = Monday … 6 = Sunday, the ISO convention both
    engines can express exactly):

        (dow, n_events, revenue_cents, revenue_idx_ppm, events_idx_ppm)

    where idx_ppm = (7_000_000 · dow_total) div grand_total — the
    seasonal index as integer parts-per-million of a flat profile
    (1_000_000 = no seasonality), floor-divided from exact counts so
    the profile is engine-exact with no float ratio anywhere.

    Scale: ONE grouped aggregate (7 groups, map-side combine); the
    grand totals are a 1-row broadcast."""
    per = (
        df.select(
            F.weekday(F.col(ts_col)).cast("int").alias("dow"),
            F.round(F.col(amount_col) * 100).cast("bigint").alias("__c"),
        )
        .groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.coalesce(F.sum("__c"), F.lit(0).cast("bigint")).alias(
                "revenue_cents"
            ),
        )
    )
    tot = per.agg(
        F.sum("n_events").alias("__tn"),
        F.sum("revenue_cents").alias("__tc"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_events",
            "revenue_cents",
            # NULL (not ANSI DivideByZero) on an all-NULL/zero-revenue
            # stream — the degenerate-denominator guard discipline
            F.when(
                F.col("__tc") > 0,
                F.expr("(7000000 * revenue_cents) div __tc"),
            )
            .cast("bigint")
            .alias("revenue_idx_ppm"),
            F.expr("(7000000 * n_events) div __tn")
            .cast("bigint")
            .alias("events_idx_ppm"),
        )
        .orderBy("dow")
    )


def cusum_changepoint(
    df: DataFrame,
    ts_col: str,
    amount_col: str,
) -> DataFrame:
    """CUSUM level-shift detection on the daily total of a money
    column: with x̄ the series mean, the cumulative sum
    S_t = Σ_{i≤t}(x_i − x̄) peaks (in absolute value) at the most
    likely change point of the series' level. ONE row:

        (n_days, mean_daily_r6, cusum_peak_r6, changepoint_day)

    with ties on |S_t| broken to the EARLIEST day. The series mean
    comes from the EXACT integer cents total (a double Σx would pick
    up an aggregation-order ulp that the |days|-term prefix sum then
    AMPLIFIES past the 6dp rounding grain — measured as a 1-ulp
    cross-engine flake at sf0.01); with the mean exact, both engines
    build S_t as the same ordered prefix over the same doubles.

    NULL-``ts_col`` rows are dropped before bucketing — the time-axis
    contract (a row with no timestamp is not on the series), and a
    hard portability requirement here: the prefix sum's ORDER BY puts
    a NULL day FIRST on Spark and LAST on ANSI engines, shifting
    every S_t by that bucket's deviation (DuckDB 1.0's optimizer even
    mis-folds ``date_trunc(x) IS NULL`` to false, making the NULL
    bucket's sort position outright unreliable there).

    Scale: one corpus aggregate to the |days| series; the prefix-sum
    window and the argmax TakeOrdered run over days."""
    df = df.where(F.col(ts_col).isNotNull())
    daily = (
        df.select(
            F.date_trunc("day", F.col(ts_col)).alias("__d"),
            F.round(F.col(amount_col) * 100).cast("bigint").alias("__c"),
        )
        .groupBy("__d")
        .agg(F.sum("__c").alias("__cents"))
        .select(
            "__d",
            "__cents",
            (F.col("__cents").cast("double") / 100.0).alias("__x"),
        )
    )
    daily = daily.localCheckpoint(eager=False)
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("__cents").cast("bigint").alias("__tc"),
    )
    mean = (F.col("__tc").cast("double") / F.lit(100.0)) / F.col(
        "n_days"
    ).cast("double")
    w = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn("__dev", F.col("__x") - mean)
        .withColumn("__s", F.sum("__dev").over(w))
    )
    peak = (
        cusum.orderBy(F.abs(F.col("__s")).desc(), F.col("__d").asc())
        .limit(1)
        .select(
            F.round(F.abs(F.col("__s")), 6).alias("cusum_peak_r6"),
            F.date_format(F.col("__d"), "yyyy-MM-dd").alias(
                "changepoint_day"
            ),
        )
    )
    return stats.crossJoin(peak).select(
        "n_days",
        F.round(mean, 6).alias("mean_daily_r6"),
        "cusum_peak_r6",
        "changepoint_day",
    )


def dispersion_index(
    df: DataFrame,
    key_col: str,
    slot_col,
) -> DataFrame:
    """Fano factor / index of dispersion per key — the burstiness
    reading the trend family lacks: autocorr_daily measures memory,
    Mann-Kendall measures drift, CUSUM finds the level shift,
    dow_seasonality the weekly shape; the dispersion index D =
    Var(counts per slot) / Mean(counts per slot) asks "is this stream
    Poisson-smooth (D ≈ 1), clumped into bursts (D ≫ 1), or
    pacemaker-regular (D < 1)?" — the first triage a capacity planner
    or anomaly hunter runs on an event feed.

    ``slot_col``: integer time-slot Column (e.g. epoch-hour). Slots
    with zero events COUNT: the grid is the global [min_slot,
    max_slot] span (one broadcast one-row aggregate), so D is computed
    over n_slots, with empty slots contributing zeros to Σx and Σx² —
    leaving them out would bias every mean up and most variances down.

    Engine-portability: Σx, Σx² and slot bounds are exact bigints from
    integer counts; D = (n·Σx² − (Σx)²) / (n·Σx) is one fixed rational
    expression; one round(…, 6) each for mean and D.

    Scale: one (key, slot) map-side-combinable count, one per-key
    aggregate over it, one broadcast scalar span — the span rides the
    same scan via a separate global aggregate, never a sort."""
    slot = F.col(slot_col) if isinstance(slot_col, str) else slot_col
    slotted = df.select(
        F.col(key_col).alias("__k"), slot.cast("long").alias("__slot")
    )
    span = slotted.agg(
        F.min("__slot").alias("__lo"), F.max("__slot").alias("__hi")
    )
    per_slot = slotted.groupBy("__k", "__slot").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    per_key = per_slot.groupBy("__k").agg(
        F.sum("__c").cast("bigint").alias("n_events"),
        F.sum(F.col("__c") * F.col("__c")).cast("bigint").alias("__sxx"),
        F.count(F.lit(1)).cast("bigint").alias("n_occupied"),
    )
    n_slots = (F.col("__hi") - F.col("__lo") + 1).cast("bigint")
    sx = F.col("n_events").cast("double")
    sxx = F.col("__sxx").cast("double")
    n = n_slots.cast("double")
    return (
        per_key.crossJoin(F.broadcast(span))
        .select(
            F.col("__k").alias(key_col),
            "n_events",
            "n_occupied",
            n_slots.alias("n_slots"),
            F.round(sx / n, 6).alias("mean_per_slot_r6"),
            F.round((n * sxx - sx * sx) / (n * sx), 6).alias("fano_r6"),
        )
    )


def quantile_normalize_by_value(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Quantile normalization mapping (the microarray batch-effect
    corrector, Bolstad 2003, in its value-level form) — the
    distribution ALIGNER beside the family's distribution TESTS: KS
    and drift queries detect that two sources disagree; this produces
    the monotone per-source remap that makes every source's
    distribution match the pooled one, so downstream thresholds mean
    the same thing regardless of which source a row came from.

    Value-level (every row of the same (group, value) maps to one
    normalized value): a group row with within-group cumulative count
    c maps to the pooled value at cumulative position
    ceil(c · N / n_g) — exact integer index arithmetic, no percentile
    interpolation, engine-identical by construction. Returns the
    DOMAIN-SIZED mapping (group, value, normalized_value, n_rows);
    callers join it back to rows or aggregate it directly. Rows with a
    NULL value are excluded up front (engines disagree on where NULL
    sorts in the CDF windows); a NULL group stays its own class —
    windows partition it together, and the oracle must replay that
    with a null-safe join, not equality.

    Scale: the mapping works entirely on (group, value) count tables —
    bounded by the value domain, not the row count: two window
    prefix-sums over those tiny tables and one broadcast band join
    (prev < idx ≤ cdf picks exactly one pooled row). The only
    row-scale work is the initial count aggregate."""
    # The count output is DOMAIN-sized (|groups|·|values|) by this
    # operator's contract and feeds FOUR consumers (source CDF, group
    # totals, pooled CDF, grand total) — without a checkpoint each
    # consumer re-scans the row data and re-runs the aggregate (four
    # full scans, measured 4× the query's real cost; the multi-consumer
    # localCheckpoint rule). coalesce(1) additionally collapses the
    # window/join cascade below into single-task stages over the tiny
    # relation (the OBF look-spine precedent).
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    # Every prefix/total below is a WINDOW over the checkpointed
    # domain relation — no scalar joins, so the whole mapping is one
    # window stage plus the final band lookup (each broadcast exchange
    # a join would add costs a fixed per-stage latency that dwarfs the
    # domain-sized data):
    # - __cum: within-group inclusive prefix (rank of the value's last
    #   row in its group);
    # - __ng / __n: group and grand totals as full-frame windows;
    # - __pcdf / __pprev: POOLED inclusive/exclusive prefixes as
    #   RANGE-frame windows over the value order — the range frame
    #   folds all groups' rows of the same (or lower) value together,
    #   which IS the pooled CDF, no per-value re-aggregation needed.
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    src = counts.select(
        "__g",
        "__v",
        "__c",
        F.sum("__c")
        .over(
            Window.partitionBy("__g")
            .orderBy("__v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("__cum"),
        F.sum("__c").over(Window.partitionBy("__g")).alias("__ng"),
        F.sum("__c").over(full).alias("__n"),
    ).withColumn(
        "__idx",
        F.floor(
            (F.col("__cum") * F.col("__n") + F.col("__ng") - 1)
            / F.col("__ng")
        ).cast("long"),
    )
    pooled = counts.select(
        F.col("__v").alias("__nv"),
        F.sum("__c")
        .over(
            Window.orderBy("__v").rangeBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("__pcdf"),
        F.sum("__c")
        .over(
            Window.orderBy("__v").rangeBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("__pprev_raw"),
    ).select(
        "__nv",
        "__pcdf",
        F.coalesce(F.col("__pprev_raw"), F.lit(0)).alias("__pprev"),
    ).dropDuplicates(["__nv", "__pcdf", "__pprev"])
    return src.join(
        F.broadcast(pooled),
        (F.col("__pprev") < F.col("__idx"))
        & (F.col("__idx") <= F.col("__pcdf")),
    ).select(
        F.col("__g").alias(group_col),
        F.col("__v").alias(value_col),
        F.col("__nv").alias("normalized_value"),
        F.col("__c").cast("bigint").alias("n_rows"),
    )


def theil_sen_slope(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen estimator — the ROBUST trend line beside the
    registered OLS one: the median of all pairwise slopes
    (y_j − y_i)/(x_j − x_i), which a 29%-contaminated series cannot
    move (OLS breaks at a single wild day). Input is an AGGREGATED
    series (one row per x, e.g. daily integer cents), so the pairwise
    self-join runs on a |periods|-sized relation — constant in fact
    rows, the mann_kendall discipline.

    Output: ONE row (n_points, n_pairs, theil_sen_slope_r6,
    ols_slope_r6) — the OLS companion from exact integer moments makes
    the contamination visible as the gap between the two numbers.

    Determinism: every pairwise slope is the same IEEE double in both
    engines (integer dy / integer dx); the median picks by row_number
    over (slope, xi, xj) — a total order — and averages the two middle
    slopes when the pair count is even.

    Scale: one x-level aggregate upstream (caller), one broadcast
    self-join over |periods|² pairs, one TakeOrdered-free median via a
    tiny window (the relation is metadata-sized by contract)."""
    pts = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    )
    l, r = pts.alias("l"), pts.alias("r")
    slopes = l.join(
        F.broadcast(r), F.col("l.__x") < F.col("r.__x")
    ).select(
        F.col("l.__x").alias("__xi"),
        F.col("r.__x").alias("__xj"),
        (
            (F.col("r.__y") - F.col("l.__y")).cast("double")
            / (F.col("r.__x") - F.col("l.__x")).cast("double")
        ).alias("__s"),
    )
    w = Window.orderBy("__s", "__xi", "__xj")
    ranked = slopes.select(
        "__s", F.row_number().over(w).alias("__rn")
    )
    counts = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )
    npairs = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    # median rows in pure integer arithmetic: odd n → the single row
    # with 2·rn = n+1; even n → the two rows with 2·rn ∈ {n, n+2};
    # avg() of one or two identical-on-both-engines doubles
    med = (
        ranked.crossJoin(F.broadcast(npairs))
        .where(
            (F.col("__rn") * 2 == F.col("n_pairs"))
            | (F.col("__rn") * 2 == F.col("n_pairs") + 1)
            | (F.col("__rn") * 2 == F.col("n_pairs") + 2)
        )
        .agg(F.avg("__s").alias("__med"))
    )
    moments = pts.agg(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("double").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("double").alias("__sxx"),
    )
    ols = (
        F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ) / (
        F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    )
    return (
        counts.crossJoin(F.broadcast(npairs))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(moments))
        .select(
            "n_points",
            "n_pairs",
            F.round(F.col("__med"), 6).alias("theil_sen_slope_r6"),
            F.round(ols, 6).alias("ols_slope_r6"),
        )
    )


def spearman_rank_correlation(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation per group — the MONOTONE-association
    audit beside the linear one (`corr_cov_value_hour` is Pearson on
    raw values): rank both metrics with AVERAGE ranks over ties
    (Spearman 1904 / the fractional-rank convention), then Pearson on
    the ranks. Outliers and nonlinear-but-monotone relationships that
    wreck raw-value Pearson leave Spearman intact, so the pair
    (pearson, spearman) separates "linear" from "monotone" from
    "neither" — the feature-screening question asked of every derived
    metric before it enters a ranker.

    Exactness: DOUBLED average ranks are exact integers
    (2·avg_rank = 2·rank_min + ties − 1, and the ×2 cancels in the
    correlation), so every aggregate is an integer sum — n, Σdx, Σdy,
    Σdx², Σdy², Σdx·dy, accumulated as decimal(38,0) (Spark) /
    HUGEINT (DuckDB) — and ONE fixed double expression tree at the
    end. Per-row products are < 4n² and the decimal sums are exact to
    n ≈ 10⁹ rows per group; past that, rank-correlate a per-group
    sample. Constant x or y in a group → NULL rho (0/0 guarded). Rows
    with a NULL x or y are excluded up front — engines disagree on
    where NULL sorts in a rank window (Spark NULLS FIRST, DuckDB NULLS
    LAST), so an unfiltered NULL coordinate silently shifts every rank
    on one side; a NULL group stays its own class (GROUP BY keeps
    it).

    Scale: rank() and the tie count (a RANGE CURRENT ROW..CURRENT ROW
    peers frame) ride ONE Exchange+Sort per metric — two shuffles on
    the group key total — then one map-side-combinable aggregate.
    No global sort, no self-join."""
    wx = Window.partitionBy("__g").orderBy("__x")
    wy = Window.partitionBy("__g").orderBy("__y")
    peers_x = wx.rangeBetween(Window.currentRow, Window.currentRow)
    peers_y = wy.rangeBetween(Window.currentRow, Window.currentRow)
    ranked = (
        df.select(
            F.col(group_col).alias("__g"),
            F.col(x_col).cast("long").alias("__x"),
            F.col(y_col).cast("long").alias("__y"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .withColumn(
            "__dx",
            (
                2 * F.rank().over(wx)
                + F.count(F.lit(1)).over(peers_x)
                - 1
            ).cast("long"),
        )
        .withColumn(
            "__dy",
            (
                2 * F.rank().over(wy)
                + F.count(F.lit(1)).over(peers_y)
                - 1
            ).cast("long"),
        )
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__dx").cast(dec)).alias("__sx"),
        F.sum(F.col("__dy").cast(dec)).alias("__sy"),
        F.sum((F.col("__dx") * F.col("__dx")).cast(dec)).alias("__sxx"),
        F.sum((F.col("__dy") * F.col("__dy")).cast(dec)).alias("__syy"),
        F.sum((F.col("__dx") * F.col("__dy")).cast(dec)).alias("__sxy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    num = nd * F.col("__sxy").cast("double") - sx * sy
    varx = nd * F.col("__sxx").cast("double") - sx * sx
    vary = nd * F.col("__syy").cast("double") - sy * sy
    return agg.select(
        F.col("__g").alias(group_col),
        "n",
        F.when(
            (varx > 0) & (vary > 0),
            F.round(num / (F.sqrt(varx) * F.sqrt(vary)), 6),
        ).alias("spearman_r6"),
    )


def kruskal_wallis_h(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis H (one-way rank ANOVA, Kruskal & Wallis 1952) —
    the K-group omnibus beside the pairwise `mann_whitney_u`: "do
    these K slices draw the metric from the same distribution?", asked
    of ranks so heavy tails and outliers (which wreck classic ANOVA's
    variance pooling) don't decide the answer. The standard
    first-look before K·(K−1)/2 pairwise tests.

        H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1),
        H_tie = H / (1 − Σ_v (t_v³ − t_v)/(N³ − N))

    with R_g the per-group sum of GLOBAL average ranks and t_v the
    tie-group sizes. Returns ONE row: n_rows, n_groups, h_r6,
    h_tie_corrected_r6 (NULL when every value ties — the correction's
    denominator vanishes). Rows missing EITHER coordinate are excluded
    up front (a rank needs a value, a group sum needs a group — and an
    unfiltered NULL would otherwise silently take a rank in one engine
    and not the other).

    Exactness: doubled average ranks are exact integers (the
    spearman_rank_correlation discipline), so R2_g = Σ 2·rank and
    Σ(t³−t) are exact integer sums (decimal(38,0)/HUGEINT); the
    per-group terms R2_g²/n_g are doubles folded in an ORDERED
    cumulative window (group ascending, the Kaplan-Meier pattern) so
    no unordered double accumulation exists; H is one fixed tree.

    Scale: one global rank window — a single total-order sort, the
    cost every exact global-rank statistic pays (the tie counts ride
    the same sort as a peers frame); then one groupBy(group) and a
    K-row ordered fold. Sample per-group first at corpus scale."""
    wv = Window.orderBy("__v")
    peers = wv.rangeBetween(Window.currentRow, Window.currentRow)
    base = df.select(
        F.col(group_col).cast("string").alias("__g"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("__g").isNotNull() & F.col("__v").isNotNull())
    ranked = base.withColumn(
        "__d2",
        (2 * F.rank().over(wv) + F.count(F.lit(1)).over(peers) - 1).cast(
            "long"
        ),
    )
    dec = "decimal(38,0)"
    per_group = ranked.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(F.col("__d2").cast(dec)).alias("__r2"),
    )
    # ordered fold of the K per-group terms (R2_g/2)² / n_g
    term = (
        (F.col("__r2").cast("double") / F.lit(2.0))
        * (F.col("__r2").cast("double") / F.lit(2.0))
        / F.col("__n").cast("double")
    )
    wcum = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    folded = (
        per_group.select(
            "__g", "__n", F.sum(term).over(wcum).alias("__cum")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.sum("__n").cast("bigint").alias("n_rows"),
            F.max_by("__cum", "__g").alias("__rsum"),
        )
    )
    # tie census needs no ranks: branch off the PRE-window relation so
    # this side never touches the global sort
    ties = base.groupBy("__v").agg(
        F.count(F.lit(1)).cast("bigint").alias("__t")
    )
    tie_sum = ties.agg(
        F.sum(
            (F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")).cast(
                dec
            )
        ).alias("__tsum")
    )
    nd = F.col("n_rows").cast("double")
    h = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("__rsum")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__tsum").cast("double") / (
        nd * nd * nd - nd
    )
    return folded.crossJoin(F.broadcast(tie_sum)).select(
        "n_rows",
        "n_groups",
        F.round(h, 6).alias("h_r6"),
        F.when(corr > 0, F.round(h / corr, 6)).alias(
            "h_tie_corrected_r6"
        ),
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """Hill tail-index estimate over the top-k order statistics of a
    positive integer metric — the "HOW heavy is this tail" number the
    family's other audits stop short of: winsorization and the whale
    diagnostics bound tail INFLUENCE, Benford tests digit SHAPE; the
    Hill estimator reads the Pareto exponent α itself (α ≤ 2 ⇒
    infinite variance ⇒ every mean-based readout needs the robust
    path; Hill 1975).

        1/α̂ = (1/k) · Σ_{i=1..k} ln( x_(i) / x_(k+1) )
             = ( Σ_{top k+1} ln x  −  (k+1)·ln x_(k+1) ) / k

    — the second form is what runs: ONE TakeOrdered(k+1) panel by
    (value DESC), one single-row fold of (count, min, Σ ln). Ties at
    the panel floor are harmless (their ln(x/x_floor) terms are 0, and
    which tied ROWS are selected cannot change the value multiset).
    Returns ONE row:

        (n_pos, k_used, tail_floor, alpha_r6)

    ``k_used`` = min(k, n_pos − 1); alpha is NULL when k_used < 1 or
    the top k_used values all equal the floor (zero log-spread — a
    degenerate tail has no index, never a throw). Rows with NULL or
    non-positive values are excluded (the estimator lives on logs).

    Scale: TakeOrderedAndProject with FIXED k+1 — constant in data
    size — plus one map-side count of the positive support; no global
    sort, no window."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    base = df.select(
        F.col(value_col).cast("bigint").alias("__x")
    ).filter(F.col("__x") > 0)
    n_pos = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_pos"))
    top = base.orderBy(F.col("__x").desc()).limit(int(k) + 1)
    panel = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("__m"),
        F.min("__x").cast("bigint").alias("tail_floor"),
        F.sum(F.log(F.col("__x").cast("double"))).alias("__lnsum"),
    )
    out = n_pos.crossJoin(F.broadcast(panel))
    k_used = (F.col("__m") - 1).cast("bigint")
    inv_alpha = (
        F.col("__lnsum")
        - F.col("__m").cast("double")
        * F.log(F.col("tail_floor").cast("double"))
    ) / k_used.cast("double")
    return out.select(
        "n_pos",
        F.greatest(k_used, F.lit(0)).alias("k_used"),
        "tail_floor",
        F.round(
            F.when(
                (k_used >= 1) & (inv_alpha > 0),
                F.lit(1.0) / inv_alpha,
            ),
            6,
        ).alias("alpha_r6"),
    )
