"""Offline-evaluation queries, registered in round 8.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round8.py checks them at sf0.001 and sf0.01
and pins the operators' behavior.

The batch is the OFFLINE EVALUATION layer a decision-making data
pipeline needs between "metrics computed" and "change shipped"
(operators/experiment.py throughout, engine-portable exactness
discipline: integer counts / exact-rational weights, one double
division at the end):

- QUANTILE TREATMENT EFFECT: where in the distribution an experiment
  moved value — exact type-1 quantiles per arm from the value-level
  count relation (the mann_whitney_u machinery; no global unit rank).
- COUNTERFACTUAL POLICY VALUE (IPS/SNIPS): what a target decision rule
  would have earned from logs collected under a known-propensity
  logging policy — quarter-propensities make every importance weight an
  exact integer after a ×3 scaling.
- CALIBRATION (reliability table + ECE): whether a score behaves like
  a probability — histogram-binning ECE whose every term derives from
  integer bin counts and exact midpoints.
- WINSORIZED MEAN LIFT: the capped-metric readout — each arm capped at
  its own exact 95th percentile before averaging, completing the
  estimator family (raw mean → CUPED, rank → Mann-Whitney,
  distribution → quantile lift, capped → winsorized).
- DOUBLY-ROBUST POLICY VALUE: IPS's variance-reduced upgrade — an
  integer outcome model trained on a disjoint split plus the
  importance-weighted correction, the whole numerator one exact
  integer sum; reduction laws (q̂=0 ⇒ IPS, no matches ⇒ direct
  method) pinned in tests.
- MDE / POWER: the design-side number that makes a null readout
  interpretable — minimum detectable effect at the experiment's
  current sample sizes, from the same four integer counters as the
  z-test.

Plus two structural extensions in the same exactness discipline:
HITS hub/authority scores (integer fixed-point, unrolled oracle —
operators/pagerank.hits_bipartite) and a from-scratch count-min
sketch whose counter matrix the oracle rebuilds cell for cell
(operators/sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table


_ARM_SQL = """CASE WHEN CAST(concat('0x', substr(md5(concat('exp1:',
                   CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'treatment' ELSE 'control' END"""


@register(
    "quantile_lift_user_spend",
    oracle=f"""
    WITH units AS (
        SELECT user_id, {_ARM_SQL} AS arm,
               CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0)
                    AS BIGINT) AS v
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    lv AS (
        SELECT arm, v, CAST(count(*) AS BIGINT) AS n
        FROM units GROUP BY arm, v
    ),
    c AS (
        SELECT arm, v, n,
               sum(n) OVER (PARTITION BY arm ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM lv
    ),
    tot AS (SELECT arm, CAST(sum(n) AS BIGINT) AS t FROM lv GROUP BY arm),
    targets AS (
        SELECT tot.arm, q.q, tot.t,
               (q.q * (tot.t - 1) - (q.q * (tot.t - 1)) % 100) // 100 + 1
                   AS r
        FROM tot, (SELECT unnest([25, 50, 75]) AS q) q
    ),
    hit AS (
        SELECT c.arm, tg.q, min(c.v) AS qv
        FROM c JOIN targets tg ON tg.arm = c.arm AND c.cum >= tg.r
        GROUP BY c.arm, tg.q
    )
    SELECT CAST(t.q AS INTEGER) AS q,
           t.qv AS v_treat, ct.qv AS v_ctrl,
           CAST(t.qv - ct.qv AS BIGINT) AS lift
    FROM (SELECT q, qv FROM hit WHERE arm = 'treatment') t
    JOIN (SELECT q, qv FROM hit WHERE arm = 'control') ct ON ct.q = t.q
    """,
)
def quantile_lift_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effect on per-user total spend
    (operators/experiment.quantile_lift): the exact 25th/50th/75th
    percentile of the unit metric in each hash-assigned arm and their
    difference — the distributional readout that distinguishes
    "everyone moved" from "whales moved". Under the null split the
    lifts hover near 0; the driver hash pins the exact integers.

    NULL hygiene (the srm_assignment_audit contract): NULL unit ids
    are excluded — you cannot randomize a unit you cannot identify —
    and a unit whose every value is NULL counts as ZERO spend
    (coalesced on both sides) rather than carrying a NULL rank
    coordinate the engines would order at opposite ends.

    Scale: value-level counts only — the ordered window runs over
    distinct (arm, value) rows, bounded by metric resolution, never
    unit count."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        hash_assign_arm,
        quantile_lift,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    units = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(cents), F.lit(0))
            .cast("bigint")
            .alias("value_int")
        )
        .withColumn("arm", hash_assign_arm("user_id"))
    )
    return quantile_lift(units).orderBy("q")


_IPS_HASH = (
    "CAST(concat('0x', substr(md5(concat('ips:', "
    "CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT)"
)


@register(
    "ips_reranker_policy_value",
    oracle=f"""
    WITH logs AS (
        SELECT CASE WHEN {_IPS_HASH} % 4 <
                    (CASE WHEN user_id % 3 = 0 THEN 1 ELSE 3 END)
               THEN 'A' ELSE 'B' END AS logged,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 3 END AS pa_q,
               CASE WHEN event_type IN ('view', 'click')
                    THEN 'A' ELSE 'B' END AS target,
               CASE WHEN event_type = 'click'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END AS reward
        FROM events
    ),
    w AS (
        SELECT logged, target, reward,
               CASE WHEN logged = 'A' THEN pa_q ELSE 4 - pa_q END AS pq
        FROM logs
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN logged = target THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN logged = target
                        THEN ((12 - 12 % pq) // pq) * reward
                        ELSE 0 END) AS BIGINT) AS sum_w3_reward,
               CAST(sum(CASE WHEN logged = target
                        THEN (12 - 12 % pq) // pq
                        ELSE 0 END) AS BIGINT) AS sum_w3
        FROM w
    )
    SELECT n, n_matched, sum_w3_reward, sum_w3,
           round(CAST(sum_w3_reward AS DOUBLE)
                 / (3.0 * CAST(n AS DOUBLE)), 6) AS ips_r6,
           CASE WHEN sum_w3 > 0
                THEN round(CAST(sum_w3_reward AS DOUBLE)
                           / CAST(sum_w3 AS DOUBLE), 6)
                ELSE NULL END AS snips_r6
    FROM agg
    """,
)
def ips_reranker_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual value of a content-based action rule, estimated
    from hash-logged actions by inverse propensity scoring
    (operators/experiment.ips_policy_value): the logging policy shows
    action A with propensity 1/4 for every third user and 3/4
    otherwise (the logged draw is a deterministic md5 draw, so both
    engines replay it); the TARGET rule picks A on view/click events;
    the reward is click spend in cents. Quarter propensities make every
    importance weight an exact integer after the ×3 scaling, so IPS and
    SNIPS are integer-sum ratios the driver hash pins exactly.

    Scale: one scan, one four-counter partial-combinable aggregate."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32
    from pinterest_data_pipeline_spark.operators.experiment import (
        ips_policy_value,
    )

    events = load_table(spark, sf_dir, "events")
    pa_q = F.when(F.col("user_id") % 3 == 0, F.lit(1)).otherwise(F.lit(3))
    draw = (
        portable_hash32(
            F.concat(F.lit("ips:"), F.col("event_id").cast("string"))
        )
        % 4
    )
    logs = events.select(
        F.when(draw < pa_q, F.lit("A")).otherwise(F.lit("B")).alias(
            "logged_action"
        ),
        F.when(
            F.col("event_type").isin("view", "click"), F.lit("A")
        )
        .otherwise(F.lit("B"))
        .alias("target_action"),
        F.when(
            F.col("event_type") == "click",
            F.round(F.col("value") * 100).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("reward_int"),
        F.when(
            F.when(draw < pa_q, F.lit("A")).otherwise(F.lit("B")) == "A",
            pa_q,
        )
        .otherwise(F.lit(4) - pa_q)
        .alias("p_quarters"),
    )
    return ips_policy_value(logs)


_ECE_MARGIN = r"""CAST(3000 * len(list_filter(
        regexp_split_to_array(lower(trim(text)), '\s+'),
        t -> list_contains(['and','is','of','that','the','to'], t)))
    - 2000 * length(regexp_replace(text, '[a-zA-Z0-9_\s]', '', 'g'))
    - 2000 * length(regexp_replace(text, '[^0-9]', '', 'g'))
    - 100 * len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)"""

_ECE_NOISE = (
    "CAST(concat('0x', substr(md5(concat('kappa:', "
    "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4001 - 2000"
)


@register(
    "ece_quality_gate_probability",
    oracle=f"""
    WITH m AS (
        SELECT doc_id, {_ECE_MARGIN} AS margin FROM documents
    ),
    scored AS (
        SELECT 0.5 + (CAST(margin AS DOUBLE) / 1000.0)
                   / (2.0 * (1.0 + abs(CAST(margin AS DOUBLE) / 1000.0)))
                   AS p,
               margin + ({_ECE_NOISE}) >= 0 AS y
        FROM m
    ),
    binned AS (
        SELECT CAST(least(CAST(floor(p * 10.0) AS BIGINT), 9) AS INTEGER)
                   AS bin,
               y
        FROM scored
    ),
    bins AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        FROM binned GROUP BY bin
    ),
    e AS (
        SELECT round(list_sum(list(
                   CAST(n_b AS DOUBLE)
                   * abs(CAST(n_pos AS DOUBLE) / CAST(n_b AS DOUBLE)
                         - (CAST(bin AS DOUBLE) + 0.5) / 10.0)
                   ORDER BY bin))
               / CAST(sum(n_b) AS DOUBLE), 6) AS ece_r6
        FROM bins
    )
    SELECT b.bin, b.n_b, b.n_pos,
           round(CAST(b.n_pos AS DOUBLE) / CAST(b.n_b AS DOUBLE), 6)
               AS acc_r6,
           (CAST(b.bin AS DOUBLE) + 0.5) / 10.0 AS conf_mid,
           e.ece_r6
    FROM bins b, e
    """,
)
def ece_quality_gate_probability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the quality gate's margin squashed to a
    probability (operators/experiment.reliability_table_ece): the
    rational squashing p = ½ + m/(2(1+|m|)) (IEEE add/mul/div/abs only
    — no libm exp, so both engines produce the identical double) is
    scored against the hash-perturbed annotator's keep decision, binned
    into 10 reliability rows with the histogram-binning ECE. Every ECE
    term derives from integer bin counts and exact midpoints; the fold
    runs in bin order.

    Scale: one scan to ≤10 bins; everything after runs on the bin
    table."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32
    from pinterest_data_pipeline_spark.operators.experiment import (
        reliability_table_ece,
    )
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    margin = linear_quality_margin("text")
    md = margin.cast("double") / F.lit(1000.0)
    prob = F.lit(0.5) + md / (F.lit(2.0) * (F.lit(1.0) + F.abs(md)))
    noise = (
        portable_hash32(
            F.concat(F.lit("kappa:"), F.col("doc_id").cast("string"))
        )
        % 4001
        - 2000
    )
    scored = docs.select(
        prob.alias("prob"), ((margin + noise) >= 0).alias("label")
    )
    return reliability_table_ece(scored).orderBy("bin")


@register(
    "winsorized_mean_lift_user_spend",
    oracle=f"""
    WITH units AS (
        SELECT user_id, {_ARM_SQL} AS arm,
               CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0)
                    AS BIGINT) AS v
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    lv AS (
        SELECT arm, v, CAST(count(*) AS BIGINT) AS n
        FROM units GROUP BY arm, v
    ),
    c AS (
        SELECT arm, v, n,
               sum(n) OVER (PARTITION BY arm ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM lv
    ),
    tot AS (SELECT arm, CAST(sum(n) AS BIGINT) AS t FROM lv GROUP BY arm),
    caps AS (
        SELECT c.arm, tot.t, min(c.v) AS cap
        FROM c JOIN tot ON tot.arm = c.arm
        WHERE c.cum >= (95 * (tot.t - 1) - (95 * (tot.t - 1)) % 100)
                       // 100 + 1
        GROUP BY c.arm, tot.t
    ),
    agg AS (
        SELECT lv.arm, caps.t, caps.cap,
               CAST(sum(least(lv.v, caps.cap) * lv.n) AS BIGINT) AS s
        FROM lv JOIN caps ON caps.arm = lv.arm
        GROUP BY lv.arm, caps.t, caps.cap
    )
    SELECT t.t AS n_treat, c.t AS n_ctrl,
           t.cap AS cap_treat, c.cap AS cap_ctrl,
           round(CAST(t.s AS DOUBLE) / CAST(t.t AS DOUBLE), 6)
               AS mean_treat_r6,
           round(CAST(c.s AS DOUBLE) / CAST(c.t AS DOUBLE), 6)
               AS mean_ctrl_r6,
           round(CAST(t.s AS DOUBLE) / CAST(t.t AS DOUBLE)
                 - CAST(c.s AS DOUBLE) / CAST(c.t AS DOUBLE), 6)
               AS lift_r6
    FROM (SELECT * FROM agg WHERE arm = 'treatment') t,
         (SELECT * FROM agg WHERE arm = 'control') c
    """,
)
def winsorized_mean_lift_user_spend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorized mean lift on per-user total spend
    (operators/experiment.winsorized_mean_lift): each arm's spend is
    capped at that arm's exact 95th percentile before averaging — the
    whale-robust capped-metric readout that completes the estimator
    family (raw mean → CUPED, rank → Mann-Whitney, distribution →
    quantile lift, capped → this). Caps, counts and capped sums are
    exact integers; the driver hash pins the two caps and all three
    rounded means.

    NULL hygiene (the srm_assignment_audit contract): NULL unit ids
    are excluded — you cannot randomize a unit you cannot identify —
    and a unit whose every value is NULL counts as ZERO spend
    (coalesced on both sides) rather than carrying a NULL rank
    coordinate the engines would order at opposite ends.

    Scale: value-level counts only; the cap search and the capped sum
    share one materialized distinct-(arm, value) relation."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        hash_assign_arm,
        winsorized_mean_lift,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    units = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(cents), F.lit(0))
            .cast("bigint")
            .alias("value_int")
        )
        .withColumn("arm", hash_assign_arm("user_id"))
    )
    return winsorized_mean_lift(units, pct=95)


@register(
    "dr_reranker_policy_value",
    oracle=f"""
    WITH logs AS (
        SELECT event_id AS eid, event_type AS ctx,
               CASE WHEN {_IPS_HASH} % 4 <
                    (CASE WHEN user_id % 3 = 0 THEN 1 ELSE 3 END)
               THEN 'A' ELSE 'B' END AS logged,
               CASE WHEN user_id % 3 = 0 THEN 1 ELSE 3 END AS pa_q,
               CASE WHEN event_type IN ('view', 'click')
                    THEN 'A' ELSE 'B' END AS target,
               CASE WHEN event_type = 'click'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END AS reward
        FROM events
    ),
    w AS (
        SELECT eid, ctx, logged, target, reward,
               CASE WHEN logged = 'A' THEN pa_q ELSE 4 - pa_q END AS pq
        FROM logs
    ),
    model AS (
        SELECT ctx, logged AS act,
               CAST((2 * sum(reward) + count(*))
                    // (2 * count(*)) AS BIGINT) AS q
        FROM w WHERE eid % 2 = 0 GROUP BY ctx, logged
    ),
    ev AS (SELECT * FROM w WHERE eid % 2 = 1),
    j AS (
        SELECT ev.logged, ev.target, ev.reward, ev.pq,
               COALESCE(mt.q, 0) AS q_target,
               COALESCE(ml.q, 0) AS q_logged
        FROM ev
        LEFT JOIN model mt ON mt.ctx = ev.ctx AND mt.act = ev.target
        LEFT JOIN model ml ON ml.ctx = ev.ctx AND ml.act = ev.logged
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN logged = target THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matched,
               CAST(sum(3 * q_target) AS BIGINT) AS sum_dm3,
               CAST(sum(CASE WHEN logged = target
                        THEN ((12 - 12 % pq) // pq) * (reward - q_logged)
                        ELSE 0 END) AS BIGINT) AS sum_corr3
        FROM j
    )
    SELECT n, n_matched, sum_dm3, sum_corr3,
           round(CAST(sum_dm3 + sum_corr3 AS DOUBLE)
                 / (3.0 * CAST(n AS DOUBLE)), 6) AS dr_r6,
           round(CAST(sum_dm3 AS DOUBLE)
                 / (3.0 * CAST(n AS DOUBLE)), 6) AS dm_r6
    FROM agg
    """,
)
def dr_reranker_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust counterfactual value of the same content-based
    rule the IPS query evaluates (operators/experiment.dr_policy_value,
    after Dudík et al. ICML'11): the outcome model q̂(event_type,
    action) is the round-half-up integer mean reward trained on the
    even-event-id half of the logs; the estimator runs on the odd half,
    so model and evaluation never share a row. With integer q̂ and
    quarter propensities the whole numerator — direct term plus
    importance-weighted correction — is one exact integer sum; the
    direct-method estimate rides along for comparison.

    Scale: one model aggregate to |event_types|×|actions| rows
    (broadcast twice), one eval-scan aggregate."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32
    from pinterest_data_pipeline_spark.operators.experiment import (
        dr_policy_value,
    )

    events = load_table(spark, sf_dir, "events")
    pa_q = F.when(F.col("user_id") % 3 == 0, F.lit(1)).otherwise(F.lit(3))
    draw = (
        portable_hash32(
            F.concat(F.lit("ips:"), F.col("event_id").cast("string"))
        )
        % 4
    )
    logged = F.when(draw < pa_q, F.lit("A")).otherwise(F.lit("B"))
    logs = events.select(
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("context"),
        logged.alias("logged_action"),
        F.when(
            F.col("event_type").isin("view", "click"), F.lit("A")
        )
        .otherwise(F.lit("B"))
        .alias("target_action"),
        F.when(
            F.col("event_type") == "click",
            F.round(F.col("value") * 100).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("reward_int"),
        F.when(logged == "A", pa_q)
        .otherwise(F.lit(4) - pa_q)
        .alias("p_quarters"),
    )
    model_half = logs.filter(F.col("eid") % 2 == 0)
    s = F.sum("reward_int").cast("bigint")
    n = F.count(F.lit(1)).cast("bigint")
    qhat = model_half.groupBy(
        F.col("context"), F.col("logged_action")
    ).agg(s.alias("__s"), n.alias("__n")).select(
        "context",
        "logged_action",
        (
            (
                F.lit(2) * F.col("__s")
                + F.col("__n")
                - (F.lit(2) * F.col("__s") + F.col("__n"))
                % (F.lit(2) * F.col("__n"))
            )
            / (F.lit(2) * F.col("__n"))
        )
        .cast("bigint")
        .alias("q"),
    )
    eval_half = logs.filter(F.col("eid") % 2 == 1)
    return dr_policy_value(eval_half, qhat)


@register(
    "mde_power_purchase",
    oracle=f"""
    WITH units AS (
        SELECT user_id, {_ARM_SQL} AS arm,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   = 1 AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    c AS (
        SELECT CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_treat,
               CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ctrl,
               CAST(sum(CASE WHEN arm = 'treatment' AND conv
                        THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(sum(CASE WHEN arm = 'control' AND conv
                        THEN 1 ELSE 0 END) AS BIGINT) AS cc
        FROM units
    ),
    p AS (
        SELECT n_treat, n_ctrl, ct, cc,
               CAST(ct + cc AS DOUBLE)
                   / CAST(n_treat + n_ctrl AS DOUBLE) AS pp,
               CAST(cc AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS pc,
               (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))
               * sqrt((CAST(ct + cc AS DOUBLE)
                       / CAST(n_treat + n_ctrl AS DOUBLE))
                      * (1.0 - CAST(ct + cc AS DOUBLE)
                              / CAST(n_treat + n_ctrl AS DOUBLE))
                      * (1.0 / CAST(n_treat AS DOUBLE)
                         + 1.0 / CAST(n_ctrl AS DOUBLE))) AS mde
        FROM c
    )
    SELECT n_treat, n_ctrl,
           round(pp, 6) AS p_pool_r6,
           round(mde, 6) AS mde_abs_r6,
           CASE WHEN cc > 0 THEN round(mde / pc, 6) ELSE NULL END
               AS mde_rel_r6
    FROM p
    """,
)
def mde_power_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the purchase-conversion experiment
    at its current sample sizes (operators/experiment.mde_readout, 5%
    two-sided α / 80% power) — the design-side number that makes a
    "no significant lift" z-test verdict interpretable: any true lift
    below mde_abs was invisible to this test. Completes the
    experimentation loop staged across rounds 7-8: design (this) →
    assignment health (chi-square) → readouts (CUPED, z, U, quantile,
    winsorized) → counterfactual (IPS, DR).

    NULL unit ids are excluded up front (the srm_assignment_audit
    contract: you cannot randomize a unit you cannot identify).

    Scale: one user-keyed aggregate, one four-counter aggregate, one
    row."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        hash_assign_arm,
        mde_readout,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    units = (
        events.groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                == 1
            ).alias("converted")
        )
        .withColumn("arm", hash_assign_arm("user_id"))
    )
    return mde_readout(units)


@register(
    "hits_supplier_part_scores",
    oracle="""
    WITH ed AS (
        SELECT DISTINCT 's#' || CAST(l_suppkey AS VARCHAR) AS h,
                        'p#' || CAST(l_partkey AS VARCHAR) AS a
        FROM lineitem
    ),
    h0 AS (SELECT DISTINCT h, CAST(1000 AS BIGINT) AS s FROM ed),
    
    a1r AS (
        SELECT ed.a AS a, CAST(sum(h0.s) AS BIGINT) AS raw
        FROM ed JOIN h0 ON h0.h = ed.h GROUP BY ed.a
    ),
    a1 AS (
        SELECT a, CAST((raw * 1000) // m.m AS BIGINT) AS s
        FROM a1r, (SELECT max(raw) AS m FROM a1r) m
    ),
    h1r AS (
        SELECT ed.h AS h, CAST(sum(a1.s) AS BIGINT) AS raw
        FROM ed JOIN a1 ON a1.a = ed.a GROUP BY ed.h
    ),
    h1 AS (
        SELECT h, CAST((raw * 1000) // m.m AS BIGINT) AS s
        FROM h1r, (SELECT max(raw) AS m FROM h1r) m
    ),
    
    a2r AS (
        SELECT ed.a AS a, CAST(sum(h1.s) AS BIGINT) AS raw
        FROM ed JOIN h1 ON h1.h = ed.h GROUP BY ed.a
    ),
    a2 AS (
        SELECT a, CAST((raw * 1000) // m.m AS BIGINT) AS s
        FROM a2r, (SELECT max(raw) AS m FROM a2r) m
    ),
    h2r AS (
        SELECT ed.h AS h, CAST(sum(a2.s) AS BIGINT) AS raw
        FROM ed JOIN a2 ON a2.a = ed.a GROUP BY ed.h
    ),
    h2 AS (
        SELECT h, CAST((raw * 1000) // m.m AS BIGINT) AS s
        FROM h2r, (SELECT max(raw) AS m FROM h2r) m
    )
    SELECT 'hub' AS kind, h AS node, s AS score_int FROM h2
    UNION ALL
    SELECT 'authority' AS kind, a AS node, s AS score_int FROM a2
    """,
)
def hits_supplier_part_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the supplier-part bipartite graph
    (operators/pagerank.hits_bipartite, Kleinberg'99): two mutual-
    reinforcement rounds in exact integer arithmetic with truncating
    max-renormalization, the same fixed-point discipline as the
    registered PageRank and the staged power iteration — and the same
    fully-unrolled oracle, so the driver hash pins every round's joins,
    sums and renormalizations, not just the final ordering.

    Scale: per round, two joins keyed by the edge endpoints with the
    side scores broadcast, two partial-combinable aggregates, a 1-row
    max broadcast; lineage truncates between rounds."""
    from pinterest_data_pipeline_spark.operators.pagerank import (
        hits_bipartite,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # The iterations run on LONG keys (hub = suppkey, auth = partkey —
    # the two sides live in separate relations inside hits_bipartite,
    # so no parity encoding is needed); the public 's#…'/'p#…' labels
    # are attached in one final projection. Scores depend only on
    # topology, so the output is identical while the internal distinct
    # and the per-round joins/aggregates key on 8-byte longs instead of
    # strings (guide §2.3 — the pagerank_supplier_part measurement).
    edges = li.select(
        F.col("l_suppkey").cast("long").alias("hub"),
        F.col("l_partkey").cast("long").alias("auth"),
    )
    scores = hits_bipartite(edges, iterations=2)
    return scores.select(
        "kind",
        F.concat(
            F.when(F.col("kind") == "hub", F.lit("s#")).otherwise(
                F.lit("p#")
            ),
            F.col("node").cast("string"),
        ).alias("node"),
        "score_int",
    )


@register(
    "countmin_token_frequency",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(list_filter(
                   string_split_regex(lower(text), '\s+'),
                   x -> x <> '')) AS tok
        FROM documents
    ),
    cnt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY tok),
    probes AS (
        SELECT tok, n FROM cnt ORDER BY n DESC, tok ASC LIMIT 15
    ),
    cells AS (
        SELECT jj.j AS j,
               CAST(concat('0x', substr(md5(concat('cms', jj.j, ':',
                    tok)), 1, 8)) AS BIGINT) % 256 AS b
        FROM toks, (SELECT unnest(range(0, 4)) AS j) jj
    ),
    counters AS (
        SELECT j, b, CAST(count(*) AS BIGINT) AS c
        FROM cells GROUP BY j, b
    ),
    pb AS (
        SELECT p.tok, p.n, jj.j AS j,
               CAST(concat('0x', substr(md5(concat('cms', jj.j, ':',
                    p.tok)), 1, 8)) AS BIGINT) % 256 AS b
        FROM probes p, (SELECT unnest(range(0, 4)) AS j) jj
    ),
    est AS (
        SELECT pb.tok, pb.n, CAST(min(COALESCE(c.c, 0)) AS BIGINT)
                   AS est_n
        FROM pb LEFT JOIN counters c ON c.j = pb.j AND c.b = pb.b
        GROUP BY pb.tok, pb.n
    )
    SELECT tok AS token, n AS true_n, est_n,
           CAST(est_n - n AS BIGINT) AS overshoot
    FROM est
    """,
)
def countmin_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates for the corpus's 15 most
    frequent tokens (operators/sketches: 4×256 portable-md5 counter
    matrix built in one aggregate, probes estimated by min-of-cells) —
    the explicitly-constructed member of the sketch family, with the
    one-sided-error CONTRACT visible in the output: overshoot =
    est − true is the collision overcount, and it can never be
    negative. The DuckDB oracle rebuilds the identical counter matrix
    cell for cell, so the driver hash pins the sketch itself, not just
    the estimates.

    Scale: the sketch is ONE partial-combinable aggregate to ≤1024
    rows whatever the corpus size; estimation joins 15 probes to the
    broadcast matrix. Disjoint-shard sketches merge by summing
    counters."""
    from pinterest_data_pipeline_spark.operators.chunking import ws_tokens
    from pinterest_data_pipeline_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    toks = toks.localCheckpoint(eager=False)  # counts + sketch both read it
    counters = count_min_build(toks, "tok")
    probes = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col("tok").asc())
        .limit(15)
    )
    est = count_min_estimate(counters, probes, "tok")
    return est.select(
        F.col("tok").alias("token"),
        "true_n",
        "est_n",
        (F.col("est_n") - F.col("true_n")).cast("bigint").alias("overshoot"),
    )
