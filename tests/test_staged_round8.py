"""Behavior tests for the offline-evaluation queries in
plans/staged_round8.py (quantile treatment effect, IPS/SNIPS
counterfactual value, reliability table + ECE): exact quantiles vs a
sorted-python replay, IPS vs a closed-form hand example, ECE
perfect-calibration zero. Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round8")


def test_staged_queries_are_promoted():
    """All 8 builders in plans/staged_round8.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 8


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



def test_quantile_lift_matches_sorted_python(spark):
    """Exact type-1 quantiles on a hand-built two-arm relation, checked
    against the sorted-list definition r = q·(n−1)//100 + 1."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        quantile_lift,
    )

    t_vals = [10, 20, 20, 30, 100]
    c_vals = [5, 15, 25, 40]
    rows = [("treatment", v) for v in t_vals] + [
        ("control", v) for v in c_vals
    ]
    df = spark.createDataFrame(rows, "arm string, value_int long")
    out = {r["q"]: r for r in quantile_lift(df, [25, 50, 75]).collect()}

    def type1(vals, q):
        s = sorted(vals)
        return s[(q * (len(s) - 1)) // 100]

    for q in (25, 50, 75):
        assert out[q]["v_treat"] == type1(t_vals, q)
        assert out[q]["v_ctrl"] == type1(c_vals, q)
        assert out[q]["lift"] == type1(t_vals, q) - type1(c_vals, q)


def test_ips_hand_computed(spark):
    """Three matched logs at p=1/4 (w=4) with rewards 100, 200 and one
    at p=3/4 (w=4/3) with reward 300, one unmatched: IPS = (4·300 +
    (4/3)·300)/5 computed via the ×3 integer scaling; SNIPS divides by
    the summed weights."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        ips_policy_value,
    )

    rows = [
        ("A", "A", 100, 1),   # w3 = 12
        ("A", "A", 200, 1),   # w3 = 12
        ("B", "B", 300, 3),   # w3 = 4
        ("A", "B", 999, 1),   # unmatched: ignored
        ("B", "B", 0, 2),     # matched, zero reward, w3 = 6
    ]
    df = spark.createDataFrame(
        rows,
        "logged_action string, target_action string, reward_int long,"
        " p_quarters int",
    )
    r = ips_policy_value(df).collect()[0]
    assert (r["n"], r["n_matched"]) == (5, 4)
    assert r["sum_w3_reward"] == 12 * 100 + 12 * 200 + 4 * 300
    assert r["sum_w3"] == 12 + 12 + 4 + 6
    assert r["ips_r6"] == round(r["sum_w3_reward"] / (3 * 5), 6)
    assert r["snips_r6"] == round(r["sum_w3_reward"] / r["sum_w3"], 6)


def test_ips_no_match_gives_null_snips(spark):
    from pinterest_data_pipeline_spark.operators.experiment import (
        ips_policy_value,
    )

    df = spark.createDataFrame(
        [("A", "B", 10, 2)],
        "logged_action string, target_action string, reward_int long,"
        " p_quarters int",
    )
    r = ips_policy_value(df).collect()[0]
    assert r["ips_r6"] == 0.0
    assert r["snips_r6"] is None


def test_ece_perfectly_calibrated_is_zero(spark):
    """Each bin's empirical accuracy equals its midpoint → ECE = 0; and
    a maximally miscalibrated scorer (p≈0.95, all negatives) reads
    0.95."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        reliability_table_ece,
    )

    rows = []
    for b in range(10):
        p = b / 10 + 0.05
        # midpoint of bin b is (b + 0.5)/10; build 20 rows with
        # 2b+1 positives → acc = (2b+1)/20 == midpoint exactly
        rows += [(p, True)] * (2 * b + 1) + [(p, False)] * (20 - 2 * b - 1)
    df = spark.createDataFrame(rows, "prob double, label boolean")
    out = reliability_table_ece(df).collect()
    assert len(out) == 10
    assert all(r["ece_r6"] == 0.0 for r in out)
    for r in out:
        assert r["acc_r6"] == round((2 * r["bin"] + 1) / 20, 6)
        assert math.isclose(r["conf_mid"], (r["bin"] + 0.5) / 10)

    bad = spark.createDataFrame(
        [(0.95, False)] * 8, "prob double, label boolean"
    )
    r = reliability_table_ece(bad).collect()[0]
    assert (r["bin"], r["n_b"], r["n_pos"]) == (9, 8, 0)
    assert r["ece_r6"] == 0.95


def test_winsorized_mean_hand_computed(spark):
    """T = {10,20,30,1000}: p95 cap (type-1, r = 95·3//100+1 = 3) is 30
    → capped values {10,20,30,30}; C = {10,10,40}: cap r = 2 → 10 →
    capped {10,10,10}."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        winsorized_mean_lift,
    )

    rows = [("treatment", v) for v in (10, 20, 30, 1000)] + [
        ("control", v) for v in (10, 10, 40)
    ]
    df = spark.createDataFrame(rows, "arm string, value_int long")
    r = winsorized_mean_lift(df, pct=95).collect()[0]
    assert (r["n_treat"], r["n_ctrl"]) == (4, 3)
    assert (r["cap_treat"], r["cap_ctrl"]) == (30, 10)
    assert r["mean_treat_r6"] == round((10 + 20 + 30 + 30) / 4, 6)
    assert r["mean_ctrl_r6"] == 10.0
    assert r["lift_r6"] == round(90 / 4 - 10, 6)


def test_winsorized_cap_tames_outlier_but_mean_does_not(spark):
    """The defining property: a 100x whale moves the raw mean by ~25x
    but the winsorized mean barely at all."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        winsorized_mean_lift,
    )

    base = [("treatment", 10)] * 19 + [("control", 10)] * 20
    whale = base + [("treatment", 10_000)]
    r = winsorized_mean_lift(
        spark.createDataFrame(whale, "arm string, value_int long"), pct=90
    ).collect()[0]
    assert r["cap_treat"] == 10  # p90 of 19x10 + whale is still 10
    assert r["mean_treat_r6"] == 10.0
    assert r["lift_r6"] == 0.0


def test_dr_hand_computed_and_reduces_to_ips_and_dm(spark):
    """Hand-checked DR on two logs, plus the two reduction laws: with
    an empty outcome model DR equals IPS; with no matched actions DR
    equals the direct method."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        dr_policy_value,
        ips_policy_value,
    )

    logs = spark.createDataFrame(
        [
            ("view", "A", "A", 100, 1),   # matched, w3=12
            ("error", "B", "A", 50, 2),   # unmatched
        ],
        "context string, logged_action string, target_action string,"
        " reward_int long, p_quarters int",
    )
    qhat = spark.createDataFrame(
        [("view", "A", 40), ("error", "A", 7), ("error", "B", 9)],
        "context string, logged_action string, q long",
    )
    r = dr_policy_value(logs, qhat).collect()[0]
    # direct term: q(view,A)=40 + q(error,A)=7 → 3*(40+7) = 141
    # correction: matched row only: 12*(100-40) = 720
    assert (r["n"], r["n_matched"]) == (2, 1)
    assert r["sum_dm3"] == 141
    assert r["sum_corr3"] == 720
    assert r["dr_r6"] == round((141 + 720) / 6, 6)
    assert r["dm_r6"] == round(141 / 6, 6)

    empty_q = spark.createDataFrame(
        [], "context string, logged_action string, q long"
    )
    dr0 = dr_policy_value(logs, empty_q).collect()[0]
    ips = ips_policy_value(logs).collect()[0]
    assert dr0["dr_r6"] == ips["ips_r6"]

    no_match = spark.createDataFrame(
        [("view", "B", "A", 100, 1)],
        "context string, logged_action string, target_action string,"
        " reward_int long, p_quarters int",
    )
    rnm = dr_policy_value(no_match, qhat).collect()[0]
    assert rnm["dr_r6"] == rnm["dm_r6"]


def test_mde_hand_computed_and_shrinks_with_n(spark):
    """12/20 vs 6/20: MDE = 2.801585·sqrt(0.45·0.55·0.1); and
    quadrupling both arms halves it (the 1/sqrt(n) law)."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        mde_readout,
    )

    rows = (
        [("treatment", True)] * 12
        + [("treatment", False)] * 8
        + [("control", True)] * 6
        + [("control", False)] * 14
    )
    df = spark.createDataFrame(rows, "arm string, converted boolean")
    r = mde_readout(df).collect()[0]
    expect = (1.959964 + 0.841621) * math.sqrt(0.45 * 0.55 * (0.05 + 0.05))
    assert r["p_pool_r6"] == 0.45
    assert r["mde_abs_r6"] == round(expect, 6)
    assert r["mde_rel_r6"] == round(expect / 0.3, 6)

    big = spark.createDataFrame(rows * 4, "arm string, converted boolean")
    r4 = mde_readout(big).collect()[0]
    assert abs(r4["mde_abs_r6"] - r["mde_abs_r6"] / 2) < 1e-6


def test_hits_planted_star_dominates(spark):
    """Planted structure: supplier S1 links to 3 parts, S2 to 1 of
    them; part P1 has both suppliers, the rest only S1. After round 1,
    P1's authority is max (2000 raw → 1000), P2/P3 get 1000 raw → 500;
    hubs renormalize so S1 (touching all parts) is the top hub."""
    from pinterest_data_pipeline_spark.operators.pagerank import (
        hits_bipartite,
    )

    edges = spark.createDataFrame(
        [("s1", "p1"), ("s1", "p2"), ("s1", "p3"), ("s2", "p1")],
        "hub string, auth string",
    )
    out = {
        (r["kind"], r["node"]): r["score_int"]
        for r in hits_bipartite(edges, iterations=1).collect()
    }
    assert out[("authority", "p1")] == 1000
    assert out[("authority", "p2")] == 500
    assert out[("authority", "p3")] == 500
    # h(s1) raw = 1000+500+500 = 2000 (max), h(s2) raw = 1000
    assert out[("hub", "s1")] == 1000
    assert out[("hub", "s2")] == 500


def test_countmin_never_undercounts_and_merges(spark):
    """The one-sided-error contract on a planted stream (est ≥ true for
    every item), exact equality when width is large vs vocabulary, and
    shard-merge associativity: sketch(A ∪ B) == sketch(A) + sketch(B)
    cell for cell."""
    from pinterest_data_pipeline_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    rows = (
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 5 + [("d",)] * 1
    )
    df = spark.createDataFrame(rows, "item string")
    counters = count_min_build(df, "item", depth=4, width=64)
    probes = df.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    est = {
        r["item"]: (r["true_n"], r["est_n"])
        for r in count_min_estimate(
            counters, probes, "item", depth=4, width=64
        ).collect()
    }
    for item, (true_n, est_n) in est.items():
        assert est_n >= true_n, item
    # 4 items in 4x64 cells: no collisions — exact
    assert all(t == e for t, e in est.values())

    half_a = spark.createDataFrame(rows[:40], "item string")
    half_b = spark.createDataFrame(rows[40:], "item string")
    merged = (
        count_min_build(half_a, "item", depth=4, width=64)
        .unionByName(count_min_build(half_b, "item", depth=4, width=64))
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    full = {
        (r["j"], r["bucket"]): r["cnt"] for r in counters.collect()
    }
    assert {
        (r["j"], r["bucket"]): r["cnt"] for r in merged.collect()
    } == full


def test_countmin_collision_overcounts_one_sided(spark):
    """Width 1 forces every item into one cell per row: the estimate
    for any item is the TOTAL stream length — grossly high, never
    low."""
    from pinterest_data_pipeline_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )

    rows = [("x",)] * 7 + [("y",)] * 3
    df = spark.createDataFrame(rows, "item string")
    counters = count_min_build(df, "item", depth=2, width=1)
    probes = df.groupBy("item").agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n")
    )
    out = {
        r["item"]: r["est_n"]
        for r in count_min_estimate(
            counters, probes, "item", depth=2, width=1
        ).collect()
    }
    assert out == {"x": 10, "y": 10}


def test_hits_rejects_nonpositive_iterations(spark):
    """Advisor r6: iterations=0 used to dereference a None authority
    relation; the guard must reject it with a clear error."""
    import pytest as _pytest

    from pinterest_data_pipeline_spark.operators.pagerank import (
        hits_bipartite,
    )

    edges = spark.createDataFrame([("h1", "a1")], "hub string, auth string")
    with _pytest.raises(ValueError, match="iterations"):
        hits_bipartite(edges, iterations=0)
