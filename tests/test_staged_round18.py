"""Round-18 seed parity + behavior: the trust-gate tier (PSI drift,
split-conformal coverage, log-rank survival inference, CMH stratified
proportions, Hill tail index) must already pass the exact check the
driver will run once registered — strict-mirror value comparison
against their DuckDB oracles — with semantics pinned on constructed
data.

Staged queries are deliberately NOT in plans/registry (rounds 14-17
are already staged/planned); see plans/staged_round18.py.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.staged_round18 import (
    STAGED_ORACLE,
    STAGED_QUERIES,
)
from tests.oracle_utils import (
    run_both_sides,
    compare_frames,
)


def test_staged_queries_are_not_registered():
    import __spark_entry__ as entry_mod

    overlap = set(STAGED_QUERIES) & set(entry_mod.queries())
    assert not overlap, f"staged queries leaked into the registry: {overlap}"


def test_every_staged_query_has_an_oracle():
    assert set(STAGED_ORACLE) == set(STAGED_QUERIES)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", sorted(STAGED_QUERIES))
def test_staged_query_matches_oracle(spark, name, sf):
    d = f"/root/testdata/{sf}"
    # engine and oracle sides run concurrently (oracle_utils.run_both_sides:
    # both block outside the GIL, so the test pays max, not sum)
    spark_pdf, oracle_pdf, oracle_problems = run_both_sides(
        lambda: STAGED_QUERIES[name](spark, d).toPandas(),
        d,
        STAGED_ORACLE[name],
    )
    assert not oracle_problems, f"{name}@{sf}: {oracle_problems}"
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}@{sf}: {problems}"
    assert len(spark_pdf) > 0


# ------------------------------------------------------------------ PSI


def _psi_df(spark, rows):
    return spark.createDataFrame(rows, "bin int, cur int")


def test_psi_identical_halves_read_zero(spark):
    """Identical bin distributions in both slices: every smoothed term
    and the total are exactly 0 (p_cur == p_base bin-for-bin)."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        psi_fixed_bins,
    )

    rows = [(b, c) for b in (0, 1, 2) for c in (0, 1) for _ in range(5)]
    out = {
        r["bin_id"]: r
        for r in psi_fixed_bins(_psi_df(spark, rows), "bin", "cur", 4)
        .collect()
    }
    assert set(out) == {-1, 0, 1, 2, 3}
    assert all(out[b]["psi_term_r6"] == 0.0 for b in (0, 1, 2, 3))
    assert out[-1]["psi_term_r6"] == 0.0
    assert out[3]["n_base"] == 0 and out[3]["n_cur"] == 0  # empty bin row


def test_psi_planted_shift_fires_and_matches_hand_value(spark):
    """All baseline mass in bin 0, all current mass in bin 1: PSI must
    exceed the 0.25 action threshold, and the bin-0 term matches the
    hand-computed smoothed value."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        psi_fixed_bins,
    )

    rows = [(0, 0)] * 40 + [(1, 1)] * 40
    out = {
        r["bin_id"]: r
        for r in psi_fixed_bins(_psi_df(spark, rows), "bin", "cur", 2)
        .collect()
    }
    # smoothing: n_bins = 2 → p0_base = 41/42, p0_cur = 1/42
    pb, pc = 41 / 42, 1 / 42
    hand = (pc - pb) * (math.log(pc) - math.log(pb))
    assert out[0]["psi_term_r6"] == pytest.approx(round(hand, 6), abs=1e-6)
    assert out[-1]["psi_term_r6"] > 0.25
    assert out[-1]["n_base"] == 40 and out[-1]["n_cur"] == 40


def test_psi_null_bins_and_flags_excluded(spark):
    from pinterest_data_pipeline_spark.operators.infotheory import (
        psi_fixed_bins,
    )

    rows = [(0, 0), (0, 1), (None, 1), (1, None)]
    out = {
        r["bin_id"]: r
        for r in psi_fixed_bins(_psi_df(spark, rows), "bin", "cur", 2)
        .collect()
    }
    assert out[-1]["n_base"] == 1 and out[-1]["n_cur"] == 1


# ------------------------------------------------------------ conformal


def _conf_df(spark, rows):
    return spark.createDataFrame(rows, "g string, k long, x long")


def test_conformal_hand_quantile_and_coverage(spark):
    """10 calib values 0..900 step 100 (even keys), predictor mean
    450 → residuals 50..450; k = ceil(0.9·11) = 10 → q_scaled is the
    largest residual (4500 at scale n=10). Test rows at 0 and 2000:
    |0·10 − 4500| = 4500 ≤ 4500 covered; |2000·10 − 4500| = 15500 not.
    """
    from pinterest_data_pipeline_spark.operators.calibration import (
        conformal_coverage,
    )

    rows = [("a", 2 * i, 100 * i) for i in range(10)]
    rows += [("a", 1, 0), ("a", 3, 2000)]
    r = conformal_coverage(_conf_df(spark, rows), "g", "k", "x").collect()[0]
    assert r["n_calib"] == 10 and r["n_test"] == 2
    assert r["n_covered"] == 1
    assert r["coverage_ppm"] == 500_000
    assert r["halfwidth_r6"] == pytest.approx(450.0, abs=1e-6)


def test_conformal_tiny_calibration_is_infinite_interval(spark):
    """n_calib < 9 at alpha = 0.1 → k > n: every test row covered,
    half-width NULL."""
    from pinterest_data_pipeline_spark.operators.calibration import (
        conformal_coverage,
    )

    rows = [("a", 0, 100), ("a", 2, 200)]  # k = ceil(0.9·3) = 3 > 2
    rows += [("a", 1, -10_000_000), ("a", 3, 10_000_000)]
    r = conformal_coverage(_conf_df(spark, rows), "g", "k", "x").collect()[0]
    assert r["n_covered"] == 2 and r["coverage_ppm"] == 1_000_000
    assert r["halfwidth_r6"] is None


def test_conformal_group_membership_contract(spark):
    """Calib-only groups appear with n_test = 0 and NULL coverage;
    test-only groups are excluded (nothing to cover them with)."""
    from pinterest_data_pipeline_spark.operators.calibration import (
        conformal_coverage,
    )

    rows = [("calib_only", 2 * i, 10 * i) for i in range(12)]
    rows += [("test_only", 1, 5), ("test_only", 3, 7)]
    out = {
        r["g"]: r
        for r in conformal_coverage(
            _conf_df(spark, rows), "g", "k", "x"
        ).collect()
    }
    assert set(out) == {"calib_only"}
    r = out["calib_only"]
    assert r["n_test"] == 0
    assert r["n_covered"] is None and r["coverage_ppm"] is None


def test_conformal_guarantee_on_planted_group(spark):
    """On an exchangeable planted sample the finite-sample guarantee
    coverage ≥ 1 − α must hold exactly (deterministic inputs)."""
    from pinterest_data_pipeline_spark.operators.calibration import (
        conformal_coverage,
    )

    rows = [("g", k, (k * 37) % 1000) for k in range(400)]
    r = conformal_coverage(_conf_df(spark, rows), "g", "k", "x").collect()[0]
    assert r["n_calib"] == 200 and r["n_test"] == 200
    assert r["coverage_ppm"] >= 900_000


# ------------------------------------------------------------- log-rank


def _surv_df(spark, rows):
    return spark.createDataFrame(rows, "cohort string, t long, e int")


def test_logrank_identical_cohorts_read_zero(spark):
    """The same duration/event profile in both cohorts: O−E = 0 at
    every event time, chisq exactly 0."""
    from pinterest_data_pipeline_spark.operators.survival import (
        logrank_test,
    )

    profile = [(1, 1), (2, 1), (3, 0), (5, 1), (7, 0)]
    rows = [("a", t, e) for t, e in profile] + [
        ("b", t, e) for t, e in profile
    ]
    r = logrank_test(_surv_df(spark, rows), "cohort", "t", "e").collect()[0]
    assert r["n_subj_a"] == 5 and r["n_subj_b"] == 5
    assert r["o_minus_e_r6"] == 0.0
    assert r["chisq_r6"] == 0.0


def test_logrank_hand_value(spark):
    """a: two events at t=1; b: two events at t=2. At t=1: O−E =
    2 − 2·(2/4) = 1, V = 2·(2/4)·(2/4)·(2/3) = 1/3; at t=2 both are
    0 (only b at risk). chisq = 1²/(1/3) = 3."""
    from pinterest_data_pipeline_spark.operators.survival import (
        logrank_test,
    )

    rows = [("a", 1, 1), ("a", 1, 1), ("b", 2, 1), ("b", 2, 1)]
    r = logrank_test(_surv_df(spark, rows), "cohort", "t", "e").collect()[0]
    assert r["o_minus_e_r6"] == pytest.approx(1.0, abs=1e-6)
    assert r["chisq_r6"] == pytest.approx(3.0, abs=1e-6)


def test_logrank_censoring_exits_risk_set_without_counting(spark):
    """A censored subject leaves the denominator at its duration but
    is never an event: with every a-event AFTER b's censoring, b's
    censored subjects must not inflate the event counts, and no
    comparable event time exists once only one cohort remains →
    chisq NULL."""
    from pinterest_data_pipeline_spark.operators.survival import (
        logrank_test,
    )

    rows = [("b", 1, 0), ("b", 1, 0), ("a", 5, 1), ("a", 6, 1)]
    r = logrank_test(_surv_df(spark, rows), "cohort", "t", "e").collect()[0]
    assert r["n_events_a"] == 2 and r["n_events_b"] == 0
    # at t=5 and t=6 only cohort a is at risk: oe = 0, v = 0
    assert r["o_minus_e_r6"] == 0.0
    assert r["chisq_r6"] is None


def test_logrank_excludes_unknown_cohorts_and_nulls(spark):
    from pinterest_data_pipeline_spark.operators.survival import (
        logrank_test,
    )

    rows = [
        ("a", 1, 1),
        ("b", 2, 1),
        ("z", 1, 1),      # unknown cohort label
        ("a", None, 1),   # NULL duration
        (None, 3, 1),     # NULL cohort
    ]
    r = logrank_test(_surv_df(spark, rows), "cohort", "t", "e").collect()[0]
    assert r["n_subj_a"] == 1 and r["n_subj_b"] == 1


# ------------------------------------------------------------------ CMH


def _cmh_df(spark, rows):
    return spark.createDataFrame(rows, "s string, arm string, y long")


def test_cmh_single_stratum_equals_hand_chi_square(spark):
    """One stratum (a,b,c,d) = (30,20,10,40): E[a] = 20, O−E = 10,
    V = 50·50·40·60/(100²·99) = 600/99; chisq = 100·99/600 = 16.5;
    OR_MH = (30·40)/(20·10) = 6."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        cmh_test,
    )

    rows = (
        [("s1", "treatment", 1)] * 30
        + [("s1", "treatment", 0)] * 20
        + [("s1", "control", 1)] * 10
        + [("s1", "control", 0)] * 40
    )
    r = cmh_test(_cmh_df(spark, rows), "s", "arm", "y").collect()[0]
    assert r["n_strata_used"] == 1 and r["n_units"] == 100
    assert r["chisq_r6"] == pytest.approx(16.5, abs=1e-6)
    assert r["or_mh_r6"] == pytest.approx(6.0, abs=1e-6)


def test_cmh_is_simpsons_paradox_safe(spark):
    """Two strata each with OR = 1 (no within-stratum association) but
    wildly different sizes/arm mixes: the naive pooled rates differ,
    yet CMH reads O−E = 0 in every stratum → chisq exactly 0 and
    OR_MH exactly 1."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        cmh_test,
    )

    rows = (
        # stratum s1: treat 50/50 of 100, ctrl 5/5 of 10 — both 50%
        [("s1", "treatment", 1)] * 50
        + [("s1", "treatment", 0)] * 50
        + [("s1", "control", 1)] * 5
        + [("s1", "control", 0)] * 5
        # stratum s2: treat 1/9 of 10, ctrl 10/90 of 100 — both 10%
        + [("s2", "treatment", 1)] * 1
        + [("s2", "treatment", 0)] * 9
        + [("s2", "control", 1)] * 10
        + [("s2", "control", 0)] * 90
    )
    r = cmh_test(_cmh_df(spark, rows), "s", "arm", "y").collect()[0]
    assert r["n_strata_used"] == 2
    # naive pooled: treat 51/110 ≈ 46%, ctrl 15/110 ≈ 14% — looks huge
    assert r["succ_treat"] == 51 and r["succ_ctrl"] == 15
    assert r["chisq_r6"] == 0.0
    assert r["or_mh_r6"] == pytest.approx(1.0, abs=1e-6)


def test_cmh_excludes_tiny_strata_and_null_labels(spark):
    """Strata with n < 2 are excluded (visible in n_strata_used); a
    NULL stratum is its own class; NULL successes and unknown arms
    are excluded."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        cmh_test,
    )

    rows = (
        [("s1", "treatment", 1), ("s1", "control", 0)]
        + [("tiny", "treatment", 1)]        # n = 1: excluded
        + [(None, "treatment", 1), (None, "control", 0)]
        + [("s1", "rollout", 1)]            # unknown arm: excluded
        + [("s1", "treatment", None)]       # NULL success: excluded
        + [("s1", "treatment", 2)]          # out-of-domain success:
                                            # excluded, never a
                                            # negative failure cell
    )
    r = cmh_test(_cmh_df(spark, rows), "s", "arm", "y").collect()[0]
    assert r["n_strata_used"] == 2  # s1 and the NULL-sentinel stratum
    assert r["n_units"] == 4


# ----------------------------------------------------------------- Hill


def _vals_df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v long")


def test_hill_hand_value_and_tie_safety(spark):
    """k=2 over [1000, 800, 400, 100]: 1/α = (ln(1000/400) +
    ln(800/400))/2 → α ≈ 1.242674. Duplicating the floor value must
    not change the estimate (ties at the panel floor contribute 0)."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        hill_tail_index,
    )

    inv = (math.log(1000 / 400) + math.log(800 / 400)) / 2
    want = round(1.0 / inv, 6)
    r = hill_tail_index(
        _vals_df(spark, [1000, 800, 400, 100]), "v", k=2
    ).collect()[0]
    assert r["k_used"] == 2 and r["tail_floor"] == 400
    assert r["alpha_r6"] == pytest.approx(want, abs=1e-6)

    r2 = hill_tail_index(
        _vals_df(spark, [1000, 800, 400, 400, 100]), "v", k=2
    ).collect()[0]
    assert r2["alpha_r6"] == pytest.approx(want, abs=1e-6)


def test_hill_recovers_planted_pareto_exponent(spark):
    """Deterministic Pareto(α=2) order statistics x_i = 1e6/√i: the
    Hill estimate over the top 100 must land near 2."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        hill_tail_index,
    )

    vals = [int(1_000_000 / math.sqrt(i)) for i in range(1, 2001)]
    r = hill_tail_index(_vals_df(spark, vals), "v", k=100).collect()[0]
    assert r["n_pos"] == 2000 and r["k_used"] == 100
    assert r["alpha_r6"] == pytest.approx(2.0, rel=0.1)


def test_hill_degenerate_inputs_yield_null(spark):
    """All-equal tail → zero log-spread → NULL; a single positive
    value → k_used = 0 → NULL; non-positive values excluded."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        hill_tail_index,
    )

    r = hill_tail_index(_vals_df(spark, [7, 7, 7, 7]), "v", k=2).collect()[0]
    assert r["alpha_r6"] is None and r["tail_floor"] == 7

    r = hill_tail_index(
        _vals_df(spark, [5, 0, -3]), "v", k=2
    ).collect()[0]
    assert r["n_pos"] == 1 and r["k_used"] == 0
    assert r["alpha_r6"] is None
