"""ROUND-18 STAGING SEED — implemented, tested, NOT driver-registered.

Seeded small (5 queries) per the standing backlog policy (promote
12/round, stage 4-5): same contract as every staging round — full
DuckDB oracles replayed value-for-value (strict-mirror parity at
sf0.001 + sf0.01 in tests/test_staged_round18.py) and behavior-pinning
unit tests; a later round registers them by pointing ``_stage`` at
``registry.register``.

The batch fills five surfaces the engine lacked — each checked against
the existing inventory first (an early draft of this seed duplicated
``agreement_kappa`` / ``reliability_table_ece`` / the
``mann_whitney_u`` midrank identity and was cut for it):

- PSI (operators/infotheory.psi_fixed_bins): the Population Stability
  Index over fixed bins — the industry drift dashboard number whose
  0.1 / 0.25 action thresholds are quoted against THIS statistic, not
  against the registered JSD/KL nats; Laplace-smoothed so empty bins
  replay exactly.
- DISTRIBUTION-FREE INTERVALS (operators/calibration.
  conformal_coverage): split-conformal coverage, integer-exact — the
  residual quantile rank and the coverage predicate never divide, so
  the finite-sample ≥ 1−α guarantee is replayable bit-for-bit.
- SURVIVAL INFERENCE (operators/survival.logrank_test): the log-rank
  test — `kaplan_meier` DESCRIBES one cohort's curve; this answers
  "are these two curves DIFFERENT", censoring-correct.
- STRATIFIED PROPORTIONS (operators/experiment.cmh_test): the
  Cochran-Mantel-Haenszel chi-square + Mantel-Haenszel pooled odds
  ratio — `post_stratified_lift` adjusts MEANS; this is the
  Simpson's-paradox-safe readout for CONVERSION under imbalanced
  stratum composition.
- TAIL HEAVINESS (operators/robust_stats.hill_tail_index): the Hill
  Pareto-exponent estimate — winsorization bounds tail INFLUENCE,
  Benford tests digit SHAPE; this reads α itself (α ≤ 2 ⇒ infinite
  variance ⇒ mean-based readouts need the robust path).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import has_sql_line_comment
from pinterest_data_pipeline_spark.sources.parquet import load_table

STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
STAGED_ORACLE: dict[str, str] = {}


def _stage(name: str, oracle: str | None = None):
    """registry.register's contract, into the round-18 staging dicts."""

    def deco(fn):
        if name in STAGED_QUERIES:
            raise ValueError(f"duplicate staged query name: {name}")
        if oracle is not None and has_sql_line_comment(oracle):
            raise ValueError(f"oracle for {name} contains a `--` SQL comment")
        STAGED_QUERIES[name] = fn
        if oracle is not None:
            STAGED_ORACLE[name] = " ".join(oracle.split())
        return fn

    return deco


# ------------------------------------------------------------- PSI drift
@_stage(
    "psi_price_drift_orders",
    oracle="""
    WITH b AS (
        SELECT CAST(LEAST(CAST(round(o_totalprice) AS BIGINT) // 50000,
                          9) AS INTEGER) AS bin,
               CAST(o_orderkey % 2 AS INTEGER) AS cur
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    ),
    counts AS (
        SELECT bin, CAST(sum(1 - cur) AS BIGINT) AS nb,
               CAST(sum(cur) AS BIGINT) AS nc
        FROM b GROUP BY bin
    ),
    spine AS (SELECT CAST(i AS INTEGER) AS bin_id
              FROM UNNEST(range(0, 10)) AS r(i)),
    cells AS (
        SELECT bin_id, COALESCE(nb, 0) AS n_base, COALESCE(nc, 0) AS n_cur
        FROM spine LEFT JOIN counts ON counts.bin = spine.bin_id
    ),
    tot AS (
        SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
               CAST(SUM(n_cur) AS BIGINT) AS tc
        FROM cells
    ),
    terms AS (
        SELECT bin_id, CAST(n_base AS BIGINT) AS n_base,
               CAST(n_cur AS BIGINT) AS n_cur,
               ((n_cur + 1.0) / (tc + 10.0) - (n_base + 1.0) / (tb + 10.0))
               * (ln((n_cur + 1.0) / (tc + 10.0))
                  - ln((n_base + 1.0) / (tb + 10.0))) AS t
        FROM cells CROSS JOIN tot
    )
    SELECT bin_id, n_base, n_cur, round(t, 6) AS psi_term_r6 FROM terms
    UNION ALL
    SELECT CAST(-1 AS INTEGER), CAST(SUM(n_base) AS BIGINT),
           CAST(SUM(n_cur) AS BIGINT), round(SUM(t), 6)
    FROM terms
    ORDER BY bin_id
    """,
)
def psi_price_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI of the order-total distribution, even-orderkey baseline vs
    odd-orderkey current, over ten fixed 50k-wide price bins
    (operators/infotheory.psi_fixed_bins). The deterministic halves
    make the planted truth "no drift": the hash-verified readout is
    the PSI arithmetic itself — all ten smoothed bin terms plus the
    total — at the known near-zero answer, exactly how a monitoring
    deployment would wire real week-over-week slices in.

    Scale: one map-side-combinable 10-key grouped count; spine join
    and total folds run on 10 rows."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        psi_fixed_bins,
    )

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    binned = o.select(
        F.expr(
            "cast(least(cast(round(o_totalprice) as bigint) div 50000, 9)"
            " as int)"
        ).alias("bin"),
        F.expr("cast(o_orderkey % 2 as int)").alias("cur"),
    )
    return psi_fixed_bins(binned, "bin", "cur", n_bins=10)


# ------------------------------------------------- conformal coverage
@_stage(
    "conformal_coverage_acctbal",
    oracle="""
    WITH u AS (
        SELECT COALESCE(CAST(c_mktsegment AS VARCHAR), '__NULL__') AS g,
               c_custkey AS k,
               CAST(round(c_acctbal * 100) AS BIGINT) AS x
        FROM customer
        WHERE c_acctbal IS NOT NULL AND c_custkey IS NOT NULL
    ),
    cal AS (SELECT * FROM u WHERE k % 2 = 0),
    tst AS (SELECT * FROM u WHERE k % 2 <> 0),
    st AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM cal GROUP BY g
    ),
    r AS (
        SELECT cal.g, abs(cal.x * st.n - st.s) AS res,
               ROW_NUMBER() OVER (
                   PARTITION BY cal.g
                   ORDER BY abs(cal.x * st.n - st.s), cal.k
               ) AS rn,
               (9 * (st.n + 1) + 9) // 10 AS kk
        FROM cal JOIN st USING (g)
    ),
    q AS (SELECT g, res AS q FROM r WHERE rn = kk),
    gs AS (
        SELECT st.g, st.n, st.s, q.q
        FROM st LEFT JOIN q USING (g)
    ),
    sc AS (
        SELECT gs.g, gs.n, gs.q, tst.x,
               CASE WHEN tst.x IS NOT NULL AND (gs.q IS NULL
                    OR abs(tst.x * gs.n - gs.s) <= gs.q)
                    THEN 1 ELSE 0 END AS cov
        FROM gs LEFT JOIN tst USING (g)
    )
    SELECT g AS c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_calib,
           CAST(SUM(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_test,
           CASE WHEN SUM(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN CAST(SUM(cov) AS BIGINT) END AS n_covered,
           CASE WHEN SUM(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN CAST((SUM(cov) * 1000000)
                     // SUM(CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) END AS coverage_ppm,
           round(CAST(MAX(q) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
               AS halfwidth_r6
    FROM sc GROUP BY g
    ORDER BY c_mktsegment
    """,
)
def conformal_coverage_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval coverage of customer account
    balances per market segment
    (operators/calibration.conformal_coverage): even custkeys
    calibrate a per-segment mean predictor, the k-th smallest scaled
    residual (k = ceil(0.9(n+1))) sets the half-width, odd custkeys
    audit coverage. The guarantee under exchangeability is coverage
    >= 900000 ppm up to discreteness; the driver-verified row is the
    exact integer rank-and-predicate arithmetic behind it.

    Scale: one grouped moment aggregate (broadcast back), one
    residual-rank window partitioned by segment over the calibration
    half, one grouped coverage count over the test half."""
    from pinterest_data_pipeline_spark.operators.calibration import (
        conformal_coverage,
    )

    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(
            F.col("c_acctbal").isNotNull() & F.col("c_custkey").isNotNull()
        )
        .select(
            F.coalesce(
                F.col("c_mktsegment").cast("string"), F.lit("__NULL__")
            ).alias("seg"),
            F.col("c_custkey").alias("id"),
            F.expr("CAST(round(c_acctbal * 100) AS BIGINT)").alias("cents"),
        )
    )
    return conformal_coverage(cust, "seg", "id", "cents").withColumnRenamed(
        "seg", "c_mktsegment"
    )


# --------------------------------------------------------- log-rank test
@_stage(
    "logrank_purchase_by_cohort",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               date_trunc('day', MIN(ts)) AS first_ts,
               date_trunc('day', MAX(ts)) AS last_ts,
               date_trunc('day', MIN(CASE WHEN event_type = 'purchase'
                                     THEN ts END)) AS first_buy
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    ),
    subj AS (
        SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS cohort,
               CAST(CASE WHEN first_buy IS NOT NULL
                    THEN datediff('day', first_ts, first_buy)
                    ELSE datediff('day', first_ts, last_ts) END
                    AS BIGINT) AS t,
               CASE WHEN first_buy IS NOT NULL THEN 1 ELSE 0 END AS e
        FROM per_user
    ),
    hist AS (
        SELECT t,
               CAST(SUM(CASE WHEN cohort = 'a' THEN e ELSE 0 END)
                    AS BIGINT) AS da,
               CAST(SUM(CASE WHEN cohort = 'b' THEN e ELSE 0 END)
                    AS BIGINT) AS db,
               CAST(SUM(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END)
                    AS BIGINT) AS xa,
               CAST(SUM(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END)
                    AS BIGINT) AS xb
        FROM subj GROUP BY t
    ),
    tot AS (
        SELECT CAST(SUM(xa) AS BIGINT) AS ta,
               CAST(SUM(xb) AS BIGINT) AS tb,
               CAST(SUM(da) AS BIGINT) AS ea,
               CAST(SUM(db) AS BIGINT) AS eb
        FROM hist
    ),
    scanned AS (
        SELECT h.*,
               ta - COALESCE(CAST(SUM(xa) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS na,
               tb - COALESCE(CAST(SUM(xb) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS nb,
               ta, tb, ea, eb
        FROM hist h CROSS JOIN tot
    ),
    terms AS (
        SELECT ta, tb, ea, eb,
               CASE WHEN da + db > 0
                    THEN CAST(da AS DOUBLE)
                         - CAST(da + db AS DOUBLE) * na / (na + nb)
                    ELSE 0.0 END AS oe,
               CASE WHEN da + db > 0 AND na + nb > 1
                    THEN CAST(da + db AS DOUBLE)
                         * (CAST(na AS DOUBLE) / (na + nb))
                         * (CAST(nb AS DOUBLE) / (na + nb))
                         * ((CAST(na + nb AS DOUBLE) - (da + db))
                            / (CAST(na + nb AS DOUBLE) - 1.0))
                    ELSE 0.0 END AS v
        FROM scanned
    )
    SELECT CAST(MAX(ta) AS BIGINT) AS n_subj_a,
           CAST(MAX(tb) AS BIGINT) AS n_subj_b,
           CAST(MAX(ea) AS BIGINT) AS n_events_a,
           CAST(MAX(eb) AS BIGINT) AS n_events_b,
           round(SUM(oe), 6) AS o_minus_e_r6,
           round(CASE WHEN SUM(v) > 0
                 THEN SUM(oe) * SUM(oe) / SUM(v) END, 6) AS chisq_r6
    FROM terms
    """,
)
def logrank_purchase_by_cohort(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-rank test of time-to-first-purchase between the even- and
    odd-user-id cohorts (operators/survival.logrank_test): per user,
    duration = days from first activity to first purchase, censored at
    last activity when no purchase was observed — the standard
    right-censored construction `kaplan_meier` uses. The deterministic
    even/odd split plants "no difference", so the hash-verified value
    certifies the hypergeometric O−E / variance machinery at a known
    near-null answer — the same fold a real cohort comparison (a
    feature rollout, a new source) would run.

    Scale: one per-user aggregate (map-side combinable), one exit
    histogram keyed by duration, one cumulative window over the
    distinct-duration grid (bounded by the observation window, ~30
    values here), one single-row fold."""
    from pinterest_data_pipeline_spark.operators.survival import (
        logrank_test,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("__first"),
        F.date_trunc("day", F.max("ts")).alias("__last"),
        F.date_trunc(
            "day",
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ),
        ).alias("__buy"),
    )
    subjects = per_user.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("cohort"),
        F.when(
            F.col("__buy").isNotNull(),
            F.datediff(F.col("__buy"), F.col("__first")),
        )
        .otherwise(F.datediff(F.col("__last"), F.col("__first")))
        .cast("bigint")
        .alias("t"),
        F.when(F.col("__buy").isNotNull(), 1).otherwise(0).alias("e"),
    )
    return logrank_test(subjects, "cohort", "t", "e")


# ------------------------------------------------------------ CMH test
@_stage(
    "cmh_order_status_by_priority",
    oracle="""
    WITH u AS (
        SELECT COALESCE(CAST(o_orderpriority AS VARCHAR), '__NULL__')
                   AS s,
               CASE WHEN CAST(concat('0x', substr(md5(concat('cmh1:',
                        CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT)
                        % 2 = 0
                    THEN 'treatment' ELSE 'control' END AS arm,
               CAST(o_orderstatus = 'F' AS BIGINT) AS y
        FROM orders
        WHERE o_orderstatus IS NOT NULL
    ),
    cells AS (
        SELECT s,
               CAST(SUM(CASE WHEN arm = 'treatment' THEN y
                        ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 - y
                        ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN arm = 'control' THEN y
                        ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN arm = 'control' THEN 1 - y
                        ELSE 0 END) AS BIGINT) AS d
        FROM u GROUP BY s
    ),
    used AS (SELECT * FROM cells WHERE a + b + c + d >= 2),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata_used,
               CAST(SUM(a + b + c + d) AS BIGINT) AS n_units,
               CAST(SUM(a) AS BIGINT) AS succ_treat,
               CAST(SUM(a + b) AS BIGINT) AS n_treat,
               CAST(SUM(c) AS BIGINT) AS succ_ctrl,
               CAST(SUM(c + d) AS BIGINT) AS n_ctrl,
               SUM(CAST(a AS DOUBLE)
                   - CAST((a + b) * (a + c) AS DOUBLE)
                     / (a + b + c + d)) AS oe,
               SUM(CAST((a + b) * (c + d) AS DOUBLE)
                   * CAST((a + c) * (b + d) AS DOUBLE)
                   / (CAST(a + b + c + d AS DOUBLE)
                      * CAST(a + b + c + d AS DOUBLE)
                      * (CAST(a + b + c + d AS DOUBLE) - 1.0))) AS v,
               SUM(CAST(a * d AS DOUBLE) / (a + b + c + d)) AS ad,
               SUM(CAST(b * c AS DOUBLE) / (a + b + c + d)) AS bc
        FROM used
    )
    SELECT n_strata_used, n_units, succ_treat, n_treat, succ_ctrl,
           n_ctrl,
           round(CASE WHEN v > 0 THEN oe * oe / v END, 6) AS chisq_r6,
           round(CASE WHEN bc > 0 THEN ad / bc END, 6) AS or_mh_r6
    FROM t
    """,
)
def cmh_order_status_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Mantel-Haenszel test of F-status rate between md5 arms,
    stratified by order priority (operators/experiment.cmh_test): the
    Simpson's-paradox-safe pooled 2×2 reading — per-priority cells,
    hypergeometric E/V per stratum, one chi-square and the MH pooled
    odds ratio. Hash arms against a hash-independent status plant
    "no association", so the driver row certifies the stratified fold
    at a known near-null answer; the odds ratio lands near 1.

    Scale: one grouped conditional-sum aggregate keyed by the 5-value
    stratum, then a single-row fold over the 5-row cell relation."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        cmh_test,
        hash_assign_arm,
    )

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNotNull()
    )
    units = o.select(
        F.col("o_orderpriority").alias("stratum"),
        hash_assign_arm("o_orderkey", salt="cmh1").alias("arm"),
        F.expr("CAST(o_orderstatus = 'F' AS BIGINT)").alias("y"),
    )
    return cmh_test(units, "stratum", "arm", "y")


# ---------------------------------------------------- Hill tail index
@_stage(
    "hill_tail_order_values",
    oracle="""
    WITH x AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders
        WHERE o_totalprice IS NOT NULL
          AND CAST(round(o_totalprice * 100) AS BIGINT) > 0
    ),
    top AS (SELECT v FROM x ORDER BY v DESC LIMIT 201),
    p AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(MIN(v) AS BIGINT) AS tail_floor,
               SUM(ln(CAST(v AS DOUBLE))) AS lnsum
        FROM top
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pos FROM x)
    SELECT n_pos,
           GREATEST(m - 1, 0) AS k_used,
           tail_floor,
           round(CASE WHEN m - 1 >= 1 AND
                 (lnsum - m * ln(CAST(tail_floor AS DOUBLE)))
                     / (m - 1) > 0
                 THEN 1.0 / ((lnsum
                              - m * ln(CAST(tail_floor AS DOUBLE)))
                             / (m - 1)) END, 6) AS alpha_r6
    FROM n CROSS JOIN p
    """,
)
def hill_tail_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of order totals in cents, k = 200
    (operators/robust_stats.hill_tail_index): the Pareto exponent of
    the spend tail — the number that decides whether the mean-based
    revenue readouts upstream are even well-posed (alpha <= 2 means
    infinite variance and the winsorized/rank paths become mandatory).
    The synthetic totals are near-uniform, so the planted truth is a
    LIGHT tail (alpha well above the heavy-tail band) — the
    hash-verified value certifies the order-statistic panel and the
    log-spread fold, not a dramatic verdict.

    Scale: TakeOrderedAndProject of a FIXED 201-row panel + one
    map-side positive-support count; constant beyond the scan
    regardless of input size."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        hill_tail_index,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents")
    )
    return hill_tail_index(o, "cents", k=200)
