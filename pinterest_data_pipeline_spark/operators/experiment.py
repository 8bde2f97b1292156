"""Experimentation analytics: deterministic A/B assignment and CUPED
variance-reduced treatment effects.

CUPED (Deng et al., WSDM'13) adjusts each unit's experiment-period
metric by its pre-period covariate — adjusted = y − θ·(x − mean(x)),
θ = cov(x, y)/var(x) — typically halving the variance of the measured
lift when pre/post behavior correlates. The operators here compute it
with the repo's engine-portable exactness discipline: per-unit metrics
are integer cents, θ comes from the INTEGER moment sums
(n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with one double division at the end,
and arm means derive algebraically from integer sums — so no
order-dependent double accumulation exists anywhere and a SQL oracle
reproduces every value bit-for-bit.

Scale: one shuffle keyed by unit builds per-unit pre/post sums; the
moment aggregate is a single partial-combinable pass whose output is
ONE row; per-arm results run on the |arms|-row relation with the
1-row moment broadcast. Magnitude guard: Σxy and n·Σxy must stay under
2^63 — with cents ≤ 1e6 per unit and ≤ 1e9 units the products need
headroom review at extreme scales; callers rescale units (dollars) in
that regime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.dedup import portable_hash32


def hash_assign_arm(unit_col: Column | str, salt: str = "exp1") -> Column:
    """Deterministic 50/50 A/B assignment from the portable md5-prefix
    hash of the unit id — stable across runs, engines and the oracle
    (the hash_split discipline, two arms)."""
    c = F.col(unit_col) if isinstance(unit_col, str) else unit_col
    h = portable_hash32(F.concat(F.lit(f"{salt}:"), c.cast("string")))
    return F.when(h % 2 == 0, F.lit("treatment")).otherwise(F.lit("control"))


def cuped_adjusted_means(units: DataFrame) -> DataFrame:
    """Per-arm raw and CUPED-adjusted means from per-unit integer-cents
    (pre, post) sums. Returns one row per arm: n_units, mean_post_r6,
    mean_pre_r6, theta_r6 (same value on every row — the pooled
    regression coefficient), cuped_mean_r6.

    The adjusted arm mean uses the algebraic identity
    mean(y − θ(x − x̄_all)) = ȳ_arm − θ·(x̄_arm − x̄_all): every term is
    an integer-sum ratio or the θ ratio, combined in one fixed
    expression tree — no per-unit double is ever summed, so the result
    is independent of partitioning and row order."""
    u = units.select(
        F.col("arm").alias("__arm"),
        F.col("pre_cents").cast("bigint").alias("__x"),
        F.col("post_cents").cast("bigint").alias("__y"),
    )
    moments = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    per_arm = u.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("__x").alias("__ax"),
        F.sum("__y").alias("__ay"),
    )
    # NULL (not ANSI ArithmeticException) when every pre-period covariate
    # is equal (n·Sxx = Sx²) — the same degenerate-denominator guard
    # two_proportion_ztest / mann_whitney_u apply; oracles mirror the
    # CASE WHEN so DuckDB replays the NULL.
    theta_num = (
        F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ).cast("double")
    theta_den = (
        F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    ).cast("double")
    theta = F.when(theta_den != 0, theta_num / theta_den)
    mean_pre_all = F.col("__sx").cast("double") / F.col("__n").cast("double")
    mean_pre_arm = F.col("__ax").cast("double") / F.col("n_units").cast("double")
    mean_post_arm = F.col("__ay").cast("double") / F.col("n_units").cast("double")
    return (
        per_arm.crossJoin(F.broadcast(moments))
        .select(
            F.col("__arm").alias("arm"),
            "n_units",
            F.round(mean_post_arm / F.lit(100.0), 6).alias("mean_post_r6"),
            F.round(mean_pre_arm / F.lit(100.0), 6).alias("mean_pre_r6"),
            F.round(theta, 6).alias("theta_r6"),
            F.round(
                (mean_post_arm - theta * (mean_pre_arm - mean_pre_all))
                / F.lit(100.0),
                6,
            ).alias("cuped_mean_r6"),
        )
    )


def agreement_kappa(df: DataFrame) -> DataFrame:
    """Cohen's kappa inter-annotator agreement over two boolean label
    columns — the labeling-QA gate a supervised/RLHF data pipeline runs
    before trusting an annotation batch (kappa ≈ 0 means the annotators
    agree no more than chance would predict, however high the raw
    agreement looks under class imbalance).

    Returns ONE row: n_docs, both_pos, both_neg, a_pos, b_pos, po_r6
    (observed agreement), pe_r6 (chance agreement), kappa_r6. All three
    ratios derive from the five integer counts in fixed expression
    trees; kappa itself is computed from the INTEGER numerator and
    denominator of (po − pe)/(1 − pe) scaled by n² —

        kappa = (n·(n11+n00) − (a₁b₁ + a₀b₀)) / (n² − (a₁b₁ + a₀b₀))

    — one double division at the end, so no rounded intermediate ever
    feeds another computation and a SQL oracle replays the value
    bit-for-bit. Magnitude guard: a₁·b₁ must stay under 2^63 — fine to
    ~3e9 rows; shard-and-average beyond that.

    Scale: a single partial-combinable aggregate (five conditional
    counts) over one scan; output is one row."""
    a = F.col("label_a").cast("boolean")
    b = F.col("label_b").cast("boolean")
    counts = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(a & b, 1).otherwise(0)).cast("bigint").alias("both_pos"),
        F.sum(F.when(~a & ~b, 1).otherwise(0))
        .cast("bigint")
        .alias("both_neg"),
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("a_pos"),
        F.sum(F.when(b, 1).otherwise(0)).cast("bigint").alias("b_pos"),
    )
    n = F.col("n_docs")
    agree = F.col("both_pos") + F.col("both_neg")
    chance = F.col("a_pos") * F.col("b_pos") + (n - F.col("a_pos")) * (
        n - F.col("b_pos")
    )
    return counts.select(
        "n_docs",
        "both_pos",
        "both_neg",
        "a_pos",
        "b_pos",
        F.round(agree.cast("double") / n.cast("double"), 6).alias("po_r6"),
        F.round(chance.cast("double") / (n * n).cast("double"), 6).alias(
            "pe_r6"
        ),
        F.round(
            F.when(
                n * n - chance != 0,
                (n * agree - chance).cast("double")
                / (n * n - chance).cast("double"),
            ),
            6,
        ).alias("kappa_r6"),
    )


def two_proportion_ztest(units: DataFrame) -> DataFrame:
    """Pooled two-proportion z statistic for a conversion A/B readout —
    the significance gate on top of ``hash_assign_arm``:

        z = (p̂_t − p̂_c) / sqrt( p̂(1−p̂)·(1/n_t + 1/n_c) )

    with p̂ the pooled conversion rate. Returns ONE row: per-arm unit
    and conversion counts, the two rates, the absolute lift, and z —
    all derived from FOUR integer counters collected in a single
    partial-combinable aggregate (the kappa discipline); the rates and
    z are fixed expression trees over those integers with IEEE ops
    only, so a SQL oracle replays the exact doubles.

    Scale: one scan, one four-counter aggregate, one output row. The
    per-unit conversion relation is the caller's (typically a user-keyed
    groupBy of raw events — that shuffle dominates; this op adds none).
    """
    is_t = F.col("arm") == "treatment"
    is_c = F.col("arm") == "control"
    conv = F.col("converted").cast("boolean")
    counts = units.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_treat"),
        F.sum(F.when(is_t & conv, 1).otherwise(0))
        .cast("bigint")
        .alias("conv_treat"),
        F.sum(F.when(is_c, 1).otherwise(0)).cast("bigint").alias("n_ctrl"),
        F.sum(F.when(is_c & conv, 1).otherwise(0))
        .cast("bigint")
        .alias("conv_ctrl"),
    )
    nt = F.col("n_treat").cast("double")
    nc = F.col("n_ctrl").cast("double")
    pt = F.col("conv_treat").cast("double") / nt
    pc = F.col("conv_ctrl").cast("double") / nc
    pool = (F.col("conv_treat") + F.col("conv_ctrl")).cast("double") / (
        F.col("n_treat") + F.col("n_ctrl")
    ).cast("double")
    return counts.select(
        "n_treat",
        "conv_treat",
        "n_ctrl",
        "conv_ctrl",
        F.round(pt, 6).alias("p_treat_r6"),
        F.round(pc, 6).alias("p_ctrl_r6"),
        F.round(pt - pc, 6).alias("lift_r6"),
        # degenerate pooled variance (every unit converted, or none):
        # z is undefined — emit NULL rather than let ANSI division
        # throw (DuckDB's /0 convention is NULL; the explicit guard
        # makes both engines state it)
        F.when(
            _z_denom(pool, nt, nc) > 0,
            F.round((pt - pc) / _z_denom(pool, nt, nc), 6),
        ).alias("z_r6"),
    )


def _z_denom(pool, nt, nc):
    return F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / nt + F.lit(1.0) / nc)
    )


def mann_whitney_u(units: DataFrame) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two arms over an
    INTEGER unit metric — the nonparametric companion to the CUPED/z
    readouts: compares distributions by rank, so a handful of whale
    users cannot swamp the verdict the way they do a mean test.

    Works entirely on the VALUE-LEVEL aggregate, never a global rank of
    units: for each distinct value v with per-arm counts and ``cum(v)``
    units strictly below it, the midrank identity gives the doubled
    treatment rank sum

        2·R_t = Σ_v n_t(v) · (2·cum(v) + n(v) + 1)

    an exact integer, from which 2·U = 2·R_t − n_t(n_t+1). The normal
    approximation uses the tie-corrected variance
    ``var = n_t·n_c/12 · ((n+1) − T/(n(n−1)))`` with the integer tie
    term ``T = Σ_v (n(v)³ − n(v))``; z = (2U − n_t·n_c)/(2·√var), one
    fixed tree, one final rounding. Also returns the rank-biserial
    effect size r = 2U/(n_t·n_c) − 1. Returns ONE row:
    (n_treat, n_ctrl, u2_treat, tie_term, z_r6, rank_biserial_r6); z is
    NULL when var = 0 (all units tie).

    Scale: one shuffle keyed by value builds the value-level counts;
    the only ordered window runs over the DISTINCT-value relation —
    bounded by the metric's resolution (cents ⇒ ≤ ~1e8 rows regardless
    of unit count), not by |units|. Magnitude guard: 2·R_t ≈ 2n² must
    stay under 2^63 ⇒ n ≤ ~2·10⁹ units; beyond that, coarsen the value
    grid."""
    is_t = F.col("arm") == "treatment"
    is_c = F.col("arm") == "control"
    lv = (
        units.filter(is_t | is_c)
        .groupBy(F.col("value_int").alias("__v"))
        .agg(
            F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("__nt"),
            F.sum(F.when(is_c, 1).otherwise(0)).cast("bigint").alias("__nc"),
        )
        .withColumn("__n", F.col("__nt") + F.col("__nc"))
    )
    w = Window.orderBy(F.col("__v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lv = lv.withColumn("__cum", F.coalesce(F.sum("__n").over(w), F.lit(0)))
    agg = lv.agg(
        F.sum("__nt").cast("bigint").alias("n_treat"),
        F.sum("__nc").cast("bigint").alias("n_ctrl"),
        F.sum(
            F.col("__nt") * (F.lit(2) * F.col("__cum") + F.col("__n") + 1)
        )
        .cast("bigint")
        .alias("__r2t"),
        F.sum(F.col("__n") * F.col("__n") * F.col("__n") - F.col("__n"))
        .cast("bigint")
        .alias("tie_term"),
    )
    nt, nc = F.col("n_treat"), F.col("n_ctrl")
    n = nt + nc
    u2 = F.col("__r2t") - nt * (nt + 1)
    var = (
        (nt * nc).cast("double")
        / F.lit(12.0)
        * (
            (n + 1).cast("double")
            - F.col("tie_term").cast("double")
            / (n.cast("double") * (n - 1).cast("double"))
        )
    )
    return agg.select(
        "n_treat",
        "n_ctrl",
        u2.alias("u2_treat"),
        "tie_term",
        F.when(
            var > 0,
            F.round(
                (u2 - nt * nc).cast("double")
                / (F.lit(2.0) * F.sqrt(var)),
                6,
            ),
        ).alias("z_r6"),
        F.round(
            u2.cast("double") / (nt * nc).cast("double") - F.lit(1.0), 6
        ).alias("rank_biserial_r6"),
    )


def chi_square_independence(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-square independence test over a two-way contingency
    table — the A/A invariance audit an experimentation pipeline runs
    to catch assignment bugs (is the event-type mix independent of the
    arm, as a hash split guarantees it must be?).

    χ² = Σ_cells (o − e)²/e with e = row_total·col_total/n. Observed
    counts and totals are exact integers; each expected value is one
    integer-product division; the cell terms fold in sorted (row, col)
    order via the sorted-collect discipline, so the statistic is the
    identical double in any engine. Returns ONE row:
    (n, n_rows, n_cols, dof, chisq_r6).

    Scale: one partial-combinable aggregate to the |rows|×|cols| cell
    relation (tiny by definition of a contingency test), materialized
    once; totals and the fold run on cells only."""
    cells = (
        df.groupBy(
            F.col(row_col).alias("__r"), F.col(col_col).alias("__c")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__o"))
        # three consumers below (row totals, col totals, the join);
        # the barrier keeps the corpus aggregation at one pass
        .localCheckpoint(eager=False)
    )
    rt = cells.groupBy("__r").agg(F.sum("__o").alias("__rt"))
    ct = cells.groupBy("__c").agg(F.sum("__o").alias("__ct"))
    tot = cells.agg(
        F.sum("__o").cast("bigint").alias("__n"),
        F.countDistinct("__r").cast("bigint").alias("n_rows"),
        F.countDistinct("__c").cast("bigint").alias("n_cols"),
    )
    e = (F.col("__rt") * F.col("__ct")).cast("double") / F.col("__n").cast(
        "double"
    )
    term = (
        (F.col("__o").cast("double") - e)
        * (F.col("__o").cast("double") - e)
        / e
    )
    scored = (
        cells.join(F.broadcast(rt), "__r")
        .join(F.broadcast(ct), "__c")
        .crossJoin(F.broadcast(tot))
        .select(
            "__r",
            "__c",
            "__n",
            "n_rows",
            "n_cols",
            term.alias("__term"),
        )
    )
    return (
        scored.groupBy("__n", "n_rows", "n_cols")
        .agg(
            F.round(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(F.struct("__r", "__c", "__term"))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["__term"],
                ),
                6,
            ).alias("chisq_r6")
        )
        .select(
            F.col("__n").alias("n"),
            "n_rows",
            "n_cols",
            ((F.col("n_rows") - 1) * (F.col("n_cols") - 1)).alias("dof"),
            "chisq_r6",
        )
    )


def quantile_lift(
    units: DataFrame,
    quantiles: list[int] | None = None,
) -> DataFrame:
    """Quantile treatment effect: per requested percentile q, the exact
    type-1 (lower) quantile of the integer unit metric in each arm and
    their difference — where in the distribution an experiment moved
    value (a mean readout can't distinguish "everyone +5%" from "whales
    +50%"; the quantile profile can).

    The q-th quantile is the r-th smallest value with
    ``r = q·(n−1)//100 + 1`` — a pure integer rank — resolved as the
    minimum value whose within-arm cumulative count reaches r, over the
    VALUE-LEVEL count relation (the mann_whitney_u machinery: the only
    ordered window runs over distinct values per arm, bounded by metric
    resolution, never unit count). Everything is integer; returns one
    row per quantile: (q, v_treat, v_ctrl, lift).

    Scale: one value-keyed aggregate, one per-arm ordered window over
    distinct values, a ≤|quantiles|-row broadcast of arm totals."""
    qs = sorted(set(quantiles or [25, 50, 75]))
    is_t = F.col("arm") == "treatment"
    is_c = F.col("arm") == "control"
    lv = (
        units.filter(is_t | is_c)
        .groupBy(
            F.when(is_t, F.lit("treatment")).otherwise(F.lit("control")).alias(
                "__arm"
            ),
            F.col("value_int").alias("__v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        # four consumers (cumulative window, totals, and both quantile
        # probes) — without the barrier each re-runs the unit scan
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("__arm")
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lv = lv.withColumn("__cum", F.sum("__n").over(w))
    totals = lv.groupBy("__arm").agg(F.sum("__n").alias("__tot"))
    targets = totals.select(
        "__arm",
        F.explode(F.array(*[F.lit(q) for q in qs])).alias("q"),
        "__tot",
    ).withColumn(
        # integer rank r = q·(n−1)//100 + 1; the division is exact (the
        # numerator is a multiple of 100 after the mod subtraction), so
        # the bigint cast is lossless for n < 2^46
        "__r",
        (
            (
                F.col("q") * (F.col("__tot") - 1)
                - (F.col("q") * (F.col("__tot") - 1)) % 100
            )
            / 100
        ).cast("bigint")
        + 1,
    )
    hit = (
        lv.join(F.broadcast(targets), "__arm")
        .filter(F.col("__cum") >= F.col("__r"))
        .groupBy("__arm", "q")
        .agg(F.min("__v").alias("__qv"))
    )
    t = hit.filter(F.col("__arm") == "treatment").select(
        "q", F.col("__qv").alias("v_treat")
    )
    c = hit.filter(F.col("__arm") == "control").select(
        "q", F.col("__qv").alias("v_ctrl")
    )
    return t.join(c, "q").select(
        F.col("q").cast("int").alias("q"),
        "v_treat",
        "v_ctrl",
        (F.col("v_treat") - F.col("v_ctrl")).cast("bigint").alias("lift"),
    )


def ips_policy_value(logs: DataFrame) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: estimate the
    value a TARGET decision rule would have earned from logs collected
    under a different (known-propensity) logging policy — the standard
    counterfactual readout a ranking/recommendation pipeline runs
    before an online test:

        V̂_IPS   = (1/n) Σ 1[a_i = π(x_i)] · r_i / p_i
        V̂_SNIPS = Σ 1[·] r_i/p_i / Σ 1[·] 1/p_i   (self-normalized)

    Propensities arrive as QUARTERS (``p_quarters`` ∈ {1,2,3} meaning
    p = k/4): then 1/p ∈ {4, 2, 4/3} and scaling every weight by 3
    makes it integer (12/k ∈ {12, 6, 4}) — both estimator numerators
    and the SNIPS denominator are exact integer sums, with one double
    division each at the end. Returns ONE row:
    (n, n_matched, sum_w3_reward, sum_w3, ips_r6, snips_r6); snips is
    NULL when no logged action matches the target policy.

    Scale: one scan, one partial-combinable four-counter aggregate.
    Magnitude guard: 12·Σr must stay under 2^63 (rewards in cents ⇒
    ~7·10^17 total cents of matched reward — rescale beyond that)."""
    matched = F.col("logged_action") == F.col("target_action")
    # 3·(1/p) = 12/k, an exact integer for k ∈ {1,2,3}; the mod form
    # keeps the expression integer-typed under ANSI (no double division)
    w3i = (
        (F.lit(12) - F.lit(12) % F.col("p_quarters")) / F.col("p_quarters")
    ).cast("bigint")
    agg = logs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(matched, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(
            F.when(matched, w3i * F.col("reward_int").cast("bigint")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("sum_w3_reward"),
        F.sum(F.when(matched, w3i).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_w3"),
    )
    return agg.select(
        "n",
        "n_matched",
        "sum_w3_reward",
        "sum_w3",
        F.round(
            F.col("sum_w3_reward").cast("double")
            / (F.lit(3.0) * F.col("n").cast("double")),
            6,
        ).alias("ips_r6"),
        F.when(
            F.col("sum_w3") > 0,
            F.round(
                F.col("sum_w3_reward").cast("double")
                / F.col("sum_w3").cast("double"),
                6,
            ),
        ).alias("snips_r6"),
    )


_ECE_BINS = 10


def reliability_table_ece(scored: DataFrame) -> DataFrame:
    """Reliability table + expected calibration error for a probability
    scorer against binary outcomes — the calibration audit a quality/
    ranking model gets before its scores are trusted as probabilities.

    Rows bin by predicted probability (bin = min(⌊p·10⌋, 9));
    each bin reports its count, positive count, empirical accuracy and
    the bin-midpoint confidence; ECE is the count-weighted mean absolute
    gap Σ (n_b/n)·|acc_b − mid_b| (the histogram-binning variant: the
    midpoint stands in for mean confidence so every term derives from
    INTEGER counts and exact midpoints — no order-dependent double sum
    anywhere). The per-bin fold runs in sorted bin order. Returns one
    row per non-empty bin: (bin, n_b, n_pos, acc_r6, conf_mid, ece_r6)
    with ece_r6 identical on every row.

    Scale: one scan, one ≤10-row aggregate; the ECE fold runs on
    the bin table."""
    p = F.col("prob").cast("double")
    b = F.least(
        F.floor(p * F.lit(float(_ECE_BINS))).cast("int"),
        F.lit(_ECE_BINS - 1),
    )
    bins = (
        scored.select(
            b.alias("bin"),
            F.col("label").cast("boolean").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_b"),
            F.sum(F.when(F.col("__y"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pos"),
        )
        .localCheckpoint(eager=False)  # read by the rows AND the ECE fold
    )
    mid = (F.col("bin").cast("double") + F.lit(0.5)) / F.lit(float(_ECE_BINS))
    gap = F.abs(
        F.col("n_pos").cast("double") / F.col("n_b").cast("double") - mid
    )
    ece = bins.agg(
        F.sum("n_b").cast("bigint").alias("__n"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("bin"),
                        (F.col("n_b").cast("double") * gap).alias("__t"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["__t"],
        ).alias("__s"),
    ).select(
        F.round(F.col("__s") / F.col("__n").cast("double"), 6).alias(
            "ece_r6"
        )
    )
    return (
        bins.crossJoin(F.broadcast(ece))
        .select(
            "bin",
            "n_b",
            "n_pos",
            F.round(
                F.col("n_pos").cast("double") / F.col("n_b").cast("double"),
                6,
            ).alias("acc_r6"),
            mid.alias("conf_mid"),
            "ece_r6",
        )
    )


def winsorized_mean_lift(
    units: DataFrame,
    pct: int = 95,
) -> DataFrame:
    """Winsorized (capped-metric) mean lift: each arm's unit metric is
    capped at that arm's exact ``pct``-th percentile before averaging —
    the standard whale-robust experiment readout (a single outlier user
    can no longer carry the mean, yet unlike a median the metric still
    moves with the bulk of the distribution).

    The cap is the exact type-1 quantile from the VALUE-LEVEL count
    relation (the quantile_lift machinery: integer rank against per-arm
    cumulative counts, ordered window over distinct values only); the
    capped sum Σ min(v, cap)·n_v is an exact integer, so the means and
    lift are single divisions. Returns ONE row: (n_treat, n_ctrl,
    cap_treat, cap_ctrl, mean_treat_r6, mean_ctrl_r6, lift_r6), means
    in the metric's own units.

    Scale: one value-keyed aggregate, one per-arm distinct-value
    window, a 2-row cap broadcast back onto the value-level relation."""
    is_t = F.col("arm") == "treatment"
    is_c = F.col("arm") == "control"
    lv = (
        units.filter(is_t | is_c)
        .groupBy(
            F.when(is_t, F.lit("treatment")).otherwise(F.lit("control")).alias(
                "__arm"
            ),
            F.col("value_int").alias("__v"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .localCheckpoint(eager=False)  # cap search + capped sum both read it
    )
    w = (
        Window.partitionBy("__arm")
        .orderBy(F.col("__v").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = lv.withColumn("__cum", F.sum("__n").over(w))
    totals = lv.groupBy("__arm").agg(F.sum("__n").alias("__tot"))
    rank = (
        (
            F.lit(pct) * (F.col("__tot") - 1)
            - (F.lit(pct) * (F.col("__tot") - 1)) % 100
        )
        / 100
    ).cast("bigint") + 1
    caps = (
        cum.join(F.broadcast(totals.withColumn("__r", rank)), "__arm")
        .filter(F.col("__cum") >= F.col("__r"))
        .groupBy("__arm", "__tot")
        .agg(F.min("__v").alias("__cap"))
    )
    agg = (
        lv.join(F.broadcast(caps), "__arm")
        .groupBy("__arm", "__tot", "__cap")
        .agg(
            F.sum(F.least(F.col("__v"), F.col("__cap")) * F.col("__n"))
            .cast("bigint")
            .alias("__s")
        )
    )
    t = agg.filter(F.col("__arm") == "treatment").select(
        F.col("__tot").alias("n_treat"),
        F.col("__cap").alias("cap_treat"),
        F.col("__s").alias("__st"),
    )
    c = agg.filter(F.col("__arm") == "control").select(
        F.col("__tot").alias("n_ctrl"),
        F.col("__cap").alias("cap_ctrl"),
        F.col("__s").alias("__sc"),
    )
    mt = F.col("__st").cast("double") / F.col("n_treat").cast("double")
    mc = F.col("__sc").cast("double") / F.col("n_ctrl").cast("double")
    return t.crossJoin(c).select(
        F.col("n_treat").cast("bigint").alias("n_treat"),
        F.col("n_ctrl").cast("bigint").alias("n_ctrl"),
        "cap_treat",
        "cap_ctrl",
        F.round(mt, 6).alias("mean_treat_r6"),
        F.round(mc, 6).alias("mean_ctrl_r6"),
        F.round(mt - mc, 6).alias("lift_r6"),
    )


def dr_policy_value(
    logs: DataFrame,
    qhat: DataFrame,
) -> DataFrame:
    """Doubly-robust off-policy value (Dudík, Langford & Li, ICML'11):
    combines a direct outcome model with the IPS correction —

        V̂_DR = (1/n) Σ [ q̂(x_i, π(x_i))
                          + 1[a_i = π(x_i)] · (r_i − q̂(x_i, a_i)) / p_i ]

    — unbiased if EITHER the propensities or the outcome model are
    right, with far lower variance than plain IPS when the model is
    roughly right. ``qhat`` is the outcome model as a relation
    (context, action, q) with INTEGER q (train it on a disjoint split,
    quantized to the metric's integer units); with quarter propensities
    the 3×-scaled correction weights are integers too, so the whole
    numerator is one exact integer sum:

        3n·V̂ = Σ 3·q̂(x, π(x)) + Σ 1[a=π] · (12/k) · (r − q̂(x, a))

    Returns ONE row: (n, n_matched, sum_dm3, sum_corr3, dr_r6, dm_r6)
    where dm_r6 = Σq̂(x,π(x))/n is the pure direct-method estimate for
    comparison. Contexts absent from ``qhat`` contribute q̂ = 0 (the
    model's pessimistic default) — state it in the model, not the op.

    Scale: ``qhat`` is |contexts|×|actions| rows and broadcasts twice
    (target leg, logged leg); one scan, one integer aggregate."""
    qt = qhat.select(
        F.col("context").alias("__ctx"),
        F.col("logged_action").alias("__act"),
        F.col("q").cast("bigint").alias("__qt"),
    )
    base = (
        logs.join(
            F.broadcast(
                qt.select(
                    F.col("__ctx"),
                    F.col("__act").alias("__ta"),
                    F.col("__qt").alias("__q_target"),
                )
            ),
            (F.col("context") == F.col("__ctx"))
            & (F.col("target_action") == F.col("__ta")),
            "left",
        )
        .drop("__ctx", "__ta")
        .join(
            F.broadcast(
                qt.select(
                    F.col("__ctx"),
                    F.col("__act").alias("__la"),
                    F.col("__qt").alias("__q_logged"),
                )
            ),
            (F.col("context") == F.col("__ctx"))
            & (F.col("logged_action") == F.col("__la")),
            "left",
        )
        .drop("__ctx", "__la")
        .withColumn("__q_target", F.coalesce("__q_target", F.lit(0)))
        .withColumn("__q_logged", F.coalesce("__q_logged", F.lit(0)))
    )
    matched = F.col("logged_action") == F.col("target_action")
    w3i = (
        (F.lit(12) - F.lit(12) % F.col("p_quarters")) / F.col("p_quarters")
    ).cast("bigint")
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(matched, 1).otherwise(0))
        .cast("bigint")
        .alias("n_matched"),
        F.sum(F.lit(3) * F.col("__q_target"))
        .cast("bigint")
        .alias("sum_dm3"),
        F.sum(
            F.when(
                matched,
                w3i
                * (
                    F.col("reward_int").cast("bigint")
                    - F.col("__q_logged")
                ),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("sum_corr3"),
    )
    n3 = F.lit(3.0) * F.col("n").cast("double")
    return agg.select(
        "n",
        "n_matched",
        "sum_dm3",
        "sum_corr3",
        F.round(
            (F.col("sum_dm3") + F.col("sum_corr3")).cast("double") / n3, 6
        ).alias("dr_r6"),
        F.round(F.col("sum_dm3").cast("double") / n3, 6).alias("dm_r6"),
    )


def mde_readout(units: DataFrame) -> DataFrame:
    """Minimum detectable effect of a running conversion experiment at
    its CURRENT sample sizes — the design-side sanity number every
    readout should ship with (a "no significant lift" verdict means
    nothing without the smallest lift the test could have seen):

        MDE_abs = (z_α/2 + z_β) · √( p̄(1−p̄)·(1/n_t + 1/n_c) )

    at 5% two-sided α and 80% power by default (the z constants are
    literals, identical text in the oracle). p̄ is the pooled conversion
    from the same four integer counters as the z-test; MDE_rel divides
    by the control rate. Returns ONE row: (n_treat, n_ctrl, p_pool_r6,
    mde_abs_r6, mde_rel_r6); the relative form is NULL when the control
    never converts.

    Scale: one scan, one four-counter aggregate, one row."""
    is_t = F.col("arm") == "treatment"
    is_c = F.col("arm") == "control"
    conv = F.col("converted").cast("boolean")
    counts = units.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_treat"),
        F.sum(F.when(is_c, 1).otherwise(0)).cast("bigint").alias("n_ctrl"),
        F.sum(F.when(is_t & conv, 1).otherwise(0))
        .cast("bigint")
        .alias("__ct"),
        F.sum(F.when(is_c & conv, 1).otherwise(0))
        .cast("bigint")
        .alias("__cc"),
    )
    nt = F.col("n_treat").cast("double")
    nc = F.col("n_ctrl").cast("double")
    pool = (F.col("__ct") + F.col("__cc")).cast("double") / (
        F.col("n_treat") + F.col("n_ctrl")
    ).cast("double")
    pc = F.col("__cc").cast("double") / nc
    # sum the two z literals as COLUMNS (not in Python) so the oracle's
    # `CAST(.. AS DOUBLE) + CAST(.. AS DOUBLE)` reproduces the exact
    # double from the same two correctly-rounded parses
    mde = (F.lit(1.959964) + F.lit(0.841621)) * F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / nt + F.lit(1.0) / nc)
    )
    return counts.select(
        "n_treat",
        "n_ctrl",
        F.round(pool, 6).alias("p_pool_r6"),
        F.round(mde, 6).alias("mde_abs_r6"),
        F.when(F.col("__cc") > 0, F.round(mde / pc, 6)).alias(
            "mde_rel_r6"
        ),
    )


def group_sequential_obf(
    looks: DataFrame,
    look_col: str,
    k_total: int | None = None,
) -> DataFrame:
    """O'Brien-Fleming group-sequential boundary check (O'Brien &
    Fleming 1979; the standard interim-analysis discipline — peeking at
    a fixed z = 1.96 at every look inflates false positives severalfold,
    OBF spends almost no alpha early by scaling the boundary as
    C·√(K/k)).

    ``looks`` holds ONE row per interim look with CUMULATIVE counts:
    (look_col 1..K, n_treat, conv_treat, n_ctrl, conv_ctrl) — exact
    integers. Output per look: the pooled two-proportion z (one double
    chain from the four integers, rounded 6), the OBF boundary
    C·√(K/k) for the default two-sided α ≈ 0.05 at C = 2.04 (the K = 5
    tabled constant), and ``crossed`` — whether this look stops the
    experiment.

    Scale: the caller aggregates the fact table once (map-side
    combinable); this operator only computes expressions over the
    K-row relation — pass ``k_total`` to skip even the one global
    max() window a K-discovery would add."""
    if k_total is not None:
        k_col = F.lit(int(k_total)).cast("long")
    else:
        k_col = F.max(F.col(look_col)).over(Window.partitionBy())
    nt = F.col("n_treat").cast("double")
    nc = F.col("n_ctrl").cast("double")
    pt = F.col("conv_treat").cast("double") / nt
    pc = F.col("conv_ctrl").cast("double") / nc
    pool = (F.col("conv_treat") + F.col("conv_ctrl")).cast("double") / (
        F.col("n_treat") + F.col("n_ctrl")
    ).cast("double")
    denom = F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / nt + F.lit(1.0) / nc)
    )
    z = F.when(denom > 0, (pt - pc) / denom)
    boundary = F.lit(2.04) * F.sqrt(
        k_col.cast("double") / F.col(look_col).cast("double")
    )
    return looks.select(
        F.col(look_col),
        "n_treat",
        "conv_treat",
        "n_ctrl",
        "conv_ctrl",
        F.round(z, 6).alias("z_r6"),
        F.round(boundary, 6).alias("boundary_r6"),
        F.coalesce(
            F.abs(F.round(z, 6)) > F.round(boundary, 6), F.lit(False)
        ).alias("crossed"),
    )


def post_stratified_lift(
    units: DataFrame,
    arm_col: str,
    stratum_col: str,
    cents_col: str,
) -> DataFrame:
    """Post-stratification adjusted lift (the survey-sampling adjuster;
    Miratrix et al. 2013 for its experiment-analysis properties) — the
    third member of this engine's variance-reduction family: CUPED
    regresses on a pre-period covariate, winsorization caps the tail;
    post-stratification REWEIGHTS within pre-treatment strata so a
    chance imbalance in stratum composition between arms cannot
    masquerade as an effect:

        lift_ps = Σ_s w_s · (mean_treat,s − mean_ctrl,s),
        w_s = n_s / N   over strata with BOTH arms present.

    ``units`` carries one row per experimental unit with its arm
    ('treatment' / 'control'), a PRE-treatment stratum label, and the
    outcome in exact integer cents. Output is ONE row: n_treat,
    n_ctrl, n_strata_used, raw_lift_r6 (unadjusted, full population),
    poststrat_lift_r6 (weights renormalized over usable strata).
    Strata missing an arm contribute no term — deterministic, and the
    n_strata_used column makes the exclusion visible.

    Engine-portability: all counts/sums are exact bigints; per-stratum
    means are single double divisions; the Σ over strata folds in
    SORTED stratum order (the bm25 discipline); one round(…, 6) each.

    Scale: ONE map-side-combinable (stratum, arm) aggregate; every
    later step is column arithmetic on the |strata|-row relation."""
    cents = F.col(cents_col).cast("long")
    cells = units.groupBy(stratum_col).agg(
        F.sum(
            F.when(F.col(arm_col) == "treatment", 1).otherwise(0)
        ).alias("__nt"),
        F.sum(
            F.when(F.col(arm_col) == "treatment", cents).otherwise(0)
        ).alias("__st"),
        F.sum(
            F.when(F.col(arm_col) == "control", 1).otherwise(0)
        ).alias("__nc"),
        F.sum(
            F.when(F.col(arm_col) == "control", cents).otherwise(0)
        ).alias("__sc"),
    )
    used = cells.where((F.col("__nt") > 0) & (F.col("__nc") > 0))
    term = F.struct(
        F.col(stratum_col).alias("s"),
        (F.col("__nt") + F.col("__nc")).alias("n"),
        (
            (F.col("__nt") + F.col("__nc")).cast("double")
            * (
                F.col("__st").cast("double") / F.col("__nt").cast("double")
                - F.col("__sc").cast("double") / F.col("__nc").cast("double")
            )
        ).alias("wterm"),
    )
    ps = used.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_used"),
        F.sum(F.col("__nt") + F.col("__nc")).alias("__n_used"),
        F.sort_array(F.collect_list(term)).alias("__terms"),
    ).select(
        "n_strata_used",
        (
            F.aggregate(
                F.col("__terms"),
                F.lit(0.0),
                lambda acc, t: acc + t["wterm"],
            )
            / F.col("__n_used").cast("double")
        ).alias("__ps_lift"),
    )
    totals = cells.agg(
        F.sum("__nt").cast("bigint").alias("n_treat"),
        F.sum("__nc").cast("bigint").alias("n_ctrl"),
        (
            F.sum("__st").cast("double") / F.sum("__nt").cast("double")
            - F.sum("__sc").cast("double") / F.sum("__nc").cast("double")
        ).alias("__raw"),
    )
    # one-row × one-row combine: hit-flag-free crossJoin of broadcast
    # scalars (the house convention; no plan pin constrains this query)
    return totals.crossJoin(F.broadcast(ps)).select(
        "n_treat",
        "n_ctrl",
        "n_strata_used",
        F.round(F.col("__raw"), 6).alias("raw_lift_r6"),
        F.round(F.col("__ps_lift"), 6).alias("poststrat_lift_r6"),
    )


def srm_audit(
    units: DataFrame,
    experiments: list[tuple[str, Column, int]],
) -> DataFrame:
    """Sample-ratio-mismatch audit (Fabijan et al. 2019's "most useful
    data-quality check in online experimentation"): a chi-square
    GOODNESS-OF-FIT of each experiment's observed treatment share
    against its CONFIGURED split — the trust gate run before reading
    any lift. Distinct from chi_square_independence (metric ⊥ arm,
    a two-way table): SRM tests the assignment itself, one-way,
    against an expected ratio, and fires on ramp bugs, redirect
    losses, and bot filtering that hits one arm harder.

    ``experiments``: (name, is_treatment boolean Column evaluated per
    unit row, expected_treatment_ppm). Output: one row per experiment
    with n_units, n_treatment, expected_treatment_ppm, chisq_r6 and
    srm_flag at the field-standard p<0.001 cut (chi-square_1 > 10.83).

    Engine-portability: unit/treatment counts are exact bigints from
    ONE aggregate; chi-square is a fixed two-term expression over
    those integers and the ppm literal (both engines build the same
    IEEE doubles in the same order, so even the flag compare cannot
    diverge); one round(…, 6) at the end.

    Scale: ONE map-side-combinable aggregate over the unit relation
    produces every experiment's counts as conditional sums; the
    per-experiment rows are unpivoted from that single driver-sized
    row. Adding an experiment adds a column, not a scan."""
    agg = units.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        *[
            F.sum(F.when(col, 1).otherwise(0))
            .cast("bigint")
            .alias(f"__t{i}")
            for i, (_, col, _) in enumerate(experiments)
        ],
    )
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("experiment"),
                        F.col("__n").alias("n_units"),
                        F.col(f"__t{i}").alias("n_treatment"),
                        F.lit(ppm).cast("bigint").alias(
                            "expected_treatment_ppm"
                        ),
                    )
                    for i, (name, _, ppm) in enumerate(experiments)
                ]
            )
        ).alias("e")
    ).select("e.*")
    n = F.col("n_units").cast("double")
    ot = F.col("n_treatment").cast("double")
    et = n * F.col("expected_treatment_ppm").cast("double") / F.lit(1e6)
    ec = n - et
    chisq = (ot - et) * (ot - et) / et + (
        (n - ot) - ec
    ) * ((n - ot) - ec) / ec
    return rows.select(
        "experiment",
        "n_units",
        "n_treatment",
        "expected_treatment_ppm",
        F.round(chisq, 6).alias("chisq_r6"),
        (chisq > F.lit(10.83)).alias("srm_flag"),
    )


def eb_beta_binomial_shrinkage(
    df: DataFrame,
    unit_col: str,
    success_col: Column | str,
    top_k: int = 15,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-unit success rates toward the
    corpus prior — the beta-binomial method-of-moments (Robbins 1956 /
    the "add the prior's pseudo-counts" smoothing every CTR / quality
    feature needs before a ranker consumes it: a 1/1 unit must NOT
    outrank a 95/100 unit). Fits Beta(α, β) from the across-unit mean
    and variance of the raw rates, then reports each unit's posterior
    mean (k+α)/(n+α+β).

    Exactness: per-unit rates enter the fit as FLOOR(1e9·k/n) integer
    ppb (one `div` per unit), so the moment sums Σr and Σr² are exact
    integers (r² ≤ 1e18 per row; decimal(38,0)/HUGEINT accumulation),
    and α, β, and every posterior mean are ONE fixed double expression
    tree over those integers — both engines replay bit-for-bit. The
    MoM strength s = m(1−m)/v − 1 is clamped to ≥ 1e-6 (degenerate
    fits — zero or super-binomial variance — would otherwise flip the
    shrinkage direction); the clamp is baked into both engines.

    Returns the ``top_k`` units by posterior mean (ties: unit asc),
    each row carrying (unit, n, k, raw_ppb, shrunk_r6, alpha_r6,
    beta_r6) — the fitted prior rides every row so the output is
    self-describing.

    Scale: one map-side-combinable groupBy(unit), one 1-row moment
    fold broadcast back, TakeOrderedAndProject for the cut. Nothing
    order-dependent: doubles appear only in the final fixed tree."""
    success = (
        F.col(success_col) if isinstance(success_col, str) else success_col
    )
    per_unit = df.groupBy(F.col(unit_col).alias("unit")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(success.cast("long")).cast("bigint").alias("k"),
    )
    # the prior fit AND the scored output both read this unit-sized
    # relation: materialize it so the corpus aggregation runs once,
    # not once per branch
    rated = per_unit.withColumn(
        "raw_ppb", F.expr("(k * 1000000000) div n").cast("bigint")
    ).localCheckpoint(eager=False)
    dec = "decimal(38,0)"
    moments = rated.agg(
        F.count(F.lit(1)).cast("bigint").alias("__u"),
        F.sum(F.col("raw_ppb").cast(dec)).alias("__s1"),
        F.sum((F.col("raw_ppb") * F.col("raw_ppb")).cast(dec)).alias(
            "__s2"
        ),
    )
    ud = F.col("__u").cast("double")
    m = F.col("__s1").cast("double") / ud / F.lit(1e9)
    v = (
        F.col("__s2").cast("double") / ud / F.lit(1e18)
        - (F.col("__s1").cast("double") / ud / F.lit(1e9))
        * (F.col("__s1").cast("double") / ud / F.lit(1e9))
    )
    s = F.greatest(m * (F.lit(1.0) - m) / v - F.lit(1.0), F.lit(1e-6))
    prior = moments.select(
        (m * s).alias("__alpha"), ((F.lit(1.0) - m) * s).alias("__beta")
    )
    shrunk = (
        F.col("k").cast("double") + F.col("__alpha")
    ) / (
        F.col("n").cast("double") + F.col("__alpha") + F.col("__beta")
    )
    return (
        rated.crossJoin(F.broadcast(prior))
        .withColumn("__shrunk", shrunk)
        .orderBy(F.col("__shrunk").desc(), F.col("unit").asc())
        .limit(top_k)
        .select(
            "unit",
            "n",
            "k",
            "raw_ppb",
            F.round("__shrunk", 6).alias("shrunk_r6"),
            F.round("__alpha", 6).alias("alpha_r6"),
            F.round("__beta", 6).alias("beta_r6"),
        )
    )


def cmh_test(
    units: DataFrame,
    stratum_col: str,
    arm_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran-Mantel-Haenszel test + Mantel-Haenszel pooled odds
    ratio over K stratified 2×2 tables — the stratified-PROPORTIONS
    companion to `post_stratified_lift` (which adjusts MEANS): "is
    treatment associated with success once the stratum composition is
    held fixed", the Simpson's-paradox-safe readout a ramped rollout
    needs when arms are imbalanced across segments.

    Per stratum with cells a=succ_t, b=fail_t, c=succ_c, d=fail_c and
    n = a+b+c+d: E[a] = (a+b)(a+c)/n and the hypergeometric variance
    V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)). The statistic (no continuity
    correction — stated so the oracle replays it exactly) is

        chisq = (Σa − ΣE[a])² / ΣV,

    and OR_MH = Σ(a·d/n) / Σ(b·c/n). Strata with n < 2 carry no
    information (V undefined) and are EXCLUDED, visibly via
    ``n_strata_used``. Every per-stratum term is a ratio of exact
    bigint products; the cross-stratum sums are doubles folded in one
    fixed expression each (the infotheory log-sum precedent). Returns
    ONE row:

        (n_strata_used, n_units, succ_treat, n_treat, succ_ctrl,
         n_ctrl, chisq_r6, or_mh_r6)

    chisq is NULL when ΣV = 0 (every used stratum degenerate);
    OR_MH is NULL when Σ(b·c/n) = 0. Rows with a NULL stratum form
    their own stratum (sentinel coalesce); rows with a success outside
    {0, 1} (including NULL) or an arm outside {treatment, control} are
    EXCLUDED — a success of 2 would otherwise mint a negative failure
    cell silently.

    Scale: one grouped conditional-sum aggregate keyed by stratum
    (map-side combinable), then a single-row fold over the K-row cell
    relation. Magnitude guard: the four-way product (a+b)(c+d)(a+c)(b+d)
    is computed in decimal(38,0) — bigint would overflow past ~55k
    units per stratum."""
    su = F.col(success_col).cast("bigint")
    is_t = F.col(arm_col) == "treatment"
    is_c = F.col(arm_col) == "control"
    base = units.filter((is_t | is_c) & su.isin(0, 1)).select(
        F.coalesce(F.col(stratum_col).cast("string"), F.lit("__NULL__"))
        .alias("__s"),
        is_t.alias("__t"),
        su.alias("__y"),
    )
    cells = base.groupBy("__s").agg(
        F.sum(F.when(F.col("__t"), F.col("__y")).otherwise(0))
        .cast("bigint")
        .alias("__a"),
        F.sum(F.when(F.col("__t"), 1 - F.col("__y")).otherwise(0))
        .cast("bigint")
        .alias("__b"),
        F.sum(F.when(~F.col("__t"), F.col("__y")).otherwise(0))
        .cast("bigint")
        .alias("__c"),
        F.sum(F.when(~F.col("__t"), 1 - F.col("__y")).otherwise(0))
        .cast("bigint")
        .alias("__d"),
    )
    a, b, c, d = (F.col(x) for x in ("__a", "__b", "__c", "__d"))
    n = (a + b + c + d).cast("bigint")
    used = cells.filter(n >= 2)
    nd = n.cast("double")
    e_a = ((a + b) * (a + c)).cast("double") / nd
    v = (
        (a + b).cast("decimal(38,0)")
        * (c + d).cast("decimal(38,0)")
        * (a + c).cast("decimal(38,0)")
        * (b + d).cast("decimal(38,0)")
    ).cast("double") / (nd * nd * (nd - F.lit(1.0)))
    agg = used.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_used"),
        F.sum(n).cast("bigint").alias("n_units"),
        F.sum(a).cast("bigint").alias("succ_treat"),
        F.sum(a + b).cast("bigint").alias("n_treat"),
        F.sum(c).cast("bigint").alias("succ_ctrl"),
        F.sum(c + d).cast("bigint").alias("n_ctrl"),
        F.sum(a.cast("double") - e_a).alias("__oe"),
        F.sum(v).alias("__v"),
        F.sum((a * d).cast("double") / nd).alias("__ad"),
        F.sum((b * c).cast("double") / nd).alias("__bc"),
    )
    return agg.select(
        "n_strata_used",
        "n_units",
        "succ_treat",
        "n_treat",
        "succ_ctrl",
        "n_ctrl",
        F.round(
            F.when(
                F.col("__v") > 0,
                F.col("__oe") * F.col("__oe") / F.col("__v"),
            ),
            6,
        ).alias("chisq_r6"),
        F.round(
            F.when(F.col("__bc") > 0, F.col("__ad") / F.col("__bc")), 6
        ).alias("or_mh_r6"),
    )
