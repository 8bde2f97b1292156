"""Behavior tests for the queries in plans/staged_round13.py (k-core
peeling, ℓ-diversity, Dirichlet query likelihood and the rest of the
batch), pinned on constructed data. Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round13")


def test_promotion_split_matches_plan():
    """All 10 builders in plans/staged_round13.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 10


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



def test_kcore_clique_survives_tail_peels(spark):
    """A 5-clique (every degree 4) with a 3-node tail hanging off it:
    k=4 peeling strips the tail in two rounds and the clique is the
    stable 4-core; profile rows are pinned exactly."""
    from pinterest_data_pipeline_spark.operators.kcore import (
        k_core_peel_profile,
    )

    clique = [(a, b) for a in range(1, 6) for b in range(1, 6) if a != b]
    tail = [(5, 6), (6, 5), (6, 7), (7, 6), (7, 8), (8, 7)]
    edges = spark.createDataFrame(clique + tail, "src long, dst long")
    prof = {
        r["peel_round"]: (r["n_nodes"], r["n_edges"])
        for r in k_core_peel_profile(edges, k=4).collect()
    }
    assert prof[0] == (8, 13)  # 10 clique pairs + 3 tail edges
    # round 1 removes 6,7,8 (degrees 2,2,1): the clique alone remains
    assert prof[1] == (5, 10)
    assert prof[2] == (5, 10) and prof[3] == (5, 10)  # stable 4-core

    with pytest.raises(ValueError, match="rounds"):
        k_core_peel_profile(edges, k=0)


def test_l_diversity_homogeneous_class_and_null_value(spark):
    """A class whose rows share one sensitive value has ℓ = 1 (the
    homogeneity leak); NULL counts as a sensitive value of its own."""
    from pinterest_data_pipeline_spark.operators.privacy import (
        l_diversity_audit,
    )

    rows = [
        ("a", "s1"), ("a", "s1"), ("a", "s1"),   # homogeneous: l = 1
        ("b", "s1"), ("b", "s2"),                # diverse: l = 2
        ("c", "s1"), ("c", None),                # NULL is a value: l = 2
    ]
    df = spark.createDataFrame(rows, "q string, s string")
    out = l_diversity_audit(df, ["q"], "s").collect()[0]
    assert out["n_rows"] == 7 and out["n_classes"] == 3
    assert out["l_min"] == 1
    assert out["classes_below_l"] == 1 and out["rows_below_l"] == 3
    assert out["diverse_share_r6"] == pytest.approx(4 / 7, abs=1e-6)


def test_dirichlet_lm_closed_form_and_ordering(spark):
    """Two-document corpus with hand-computable statistics: scores
    match the closed form, the doc with more query-term mass ranks
    higher, and both scores are negative log-likelihoods."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        dirichlet_lm_scores,
    )

    # corpus: d1 has 'table' twice in 4 tokens; d2 has it once in 4.
    docs = spark.createDataFrame(
        [(1, "table table alpha beta"), (2, "table gamma delta eps")],
        "doc_id long, text string",
    )
    mu = 10.0
    out = {
        r["doc_id"]: r
        for r in dirichlet_lm_scores(
            docs, ["table", "row"], mu=mu
        ).collect()
    }
    # cf(table) = 3, tot = 8, p = 3/8; 'row' absent -> effective q = 1
    p = 3 / 8
    s1 = math.log((2 + mu * p) / (4 + mu))
    s2 = math.log((1 + mu * p) / (4 + mu))
    assert out[1]["qlm_r6"] == pytest.approx(round(s1, 6), abs=1e-6)
    assert out[2]["qlm_r6"] == pytest.approx(round(s2, 6), abs=1e-6)
    assert out[1]["qlm_r6"] > out[2]["qlm_r6"]
    assert out[1]["n_matched"] == 1 and out[2]["n_matched"] == 1
    assert all(r["qlm_r6"] < 0 for r in out.values())


def test_err_closed_form_and_top_heaviness(spark):
    """Closed-form ERR on a hand ranking, and the metric's defining
    property: a perfect doc AT RANK 1 beats the same doc at rank 3
    even when NDCG-style total gain is identical."""
    from pinterest_data_pipeline_spark.operators.ranking import err_at_k

    # group A: grades (9, 0, 0); group B: (0, 0, 9) — same multiset.
    rows = [
        ("A", 1, 9), ("A", 2, 0), ("A", 3, 0),
        ("B", 1, 0), ("B", 2, 0), ("B", 3, 9),
    ]
    df = spark.createDataFrame(rows, "g string, rnk int, grade int")
    out = {
        r["g"]: r["err_r6"]
        for r in err_at_k(df, "g", "rnk", "grade").collect()
    }
    ra = 511 / 512
    expect_a = round(ra / 1, 6)  # grade-0 terms are exactly 0
    expect_b = round(ra / 3, 6)  # survives two R=0 positions unscathed
    assert out["A"] == pytest.approx(expect_a, abs=1e-6)
    assert out["B"] == pytest.approx(expect_b, abs=1e-6)
    assert out["A"] > out["B"]


def test_poststrat_kills_composition_bias(spark):
    """Planted imbalance: within every stratum the arms have IDENTICAL
    means, but treatment oversamples the high-spend stratum — raw lift
    is large and spurious, post-stratified lift is exactly 0. A
    stratum missing one arm is excluded and visible in
    n_strata_used."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        post_stratified_lift,
    )

    rows = []
    # stratum 'low': mean 100 both arms; 30 control, 10 treatment
    rows += [("control", "low", 100)] * 30 + [("treatment", "low", 100)] * 10
    # stratum 'high': mean 1000 both arms; 10 control, 30 treatment
    rows += [("control", "high", 1000)] * 10
    rows += [("treatment", "high", 1000)] * 30
    # stratum 'orphan': control only — must be excluded
    rows += [("control", "orphan", 5000)] * 5
    df = spark.createDataFrame(rows, "arm string, stratum string, c long")
    out = post_stratified_lift(df, "arm", "stratum", "c").collect()[0]
    assert out["n_treat"] == 40 and out["n_ctrl"] == 45
    assert out["n_strata_used"] == 2
    # raw: treatment mean (10*100+30*1000)/40 = 775;
    # control mean (30*100+10*1000+5*5000)/45 = 844.44 -> negative raw
    assert abs(out["raw_lift_r6"]) > 50
    assert out["poststrat_lift_r6"] == 0.0


def test_survivorship_rules_pin(spark):
    """One cluster, three records: longest non-null name wins (NULL
    skipped), newest segment wins, max balance wins, and every
    adjudicated field is counted as a conflict."""
    from pinterest_data_pipeline_spark.operators.linkage import (
        survivorship_golden_record,
    )

    rows = [
        (1, 1, "BOB", "AUTO", 100),
        (1, 2, "BOBBY JR", "HOUSE", 90),
        (1, 3, None, "HOUSE", 95),
        (2, 1, "ANN", "TOYS", 7),
    ]
    df = spark.createDataFrame(
        rows, "k long, rec long, name string, seg string, cents long"
    )
    out = {
        r["k"]: r
        for r in survivorship_golden_record(
            df, "k", "rec", ["name"], ["seg"], ["cents"]
        ).collect()
    }
    g = out[1]
    assert g["name"] == "BOBBY JR"  # longest non-null, NULL skipped
    assert g["seg"] == "HOUSE"  # rec 3 beats rec 1
    assert g["cents"] == 100  # max rule
    assert g["n_records"] == 3
    assert g["n_conflict_fields"] == 3  # all three fields disagreed
    s = out[2]
    assert s["name"] == "ANN" and s["n_records"] == 1
    assert s["n_conflict_fields"] == 0  # singleton: unanimous


def test_survivorship_latest_skips_trailing_null(spark):
    """A newer record with a NULL field must NOT erase the older
    value: the when-guard excludes NULLs before the struct max."""
    from pinterest_data_pipeline_spark.operators.linkage import (
        survivorship_golden_record,
    )

    rows = [(1, 1, "OLD", "A", 1), (1, 2, None, None, 2)]
    df = spark.createDataFrame(
        rows, "k long, rec long, name string, seg string, cents long"
    )
    g = survivorship_golden_record(
        df, "k", "rec", ["name"], ["seg"], ["cents"]
    ).collect()[0]
    assert g["name"] == "OLD" and g["seg"] == "A" and g["cents"] == 2


def test_survivorship_rejects_no_fields(spark):
    """All-empty survivorship rule sets must raise a clear ValueError,
    not an AttributeError from the unassigned conflict column."""
    import pytest

    from pinterest_data_pipeline_spark.operators.linkage import (
        survivorship_golden_record,
    )

    df = spark.createDataFrame([(1, 1)], "k long, rec long")
    with pytest.raises(ValueError, match="at least one field"):
        survivorship_golden_record(df, "k", "rec", [], [], [])


def test_good_turing_counts_pin(spark):
    """Constructed corpus with known bigram table: 'a b' seen twice,
    'b a' once, 'c d' once -> N=4, V=3, N1=2, N2=1; P0 = 2/4,
    r*_1 = 2*1/2 = 1.0, r*_2 = 0 (explicit zero, N2's successor
    empty)."""
    from pinterest_data_pipeline_spark.operators.text import (
        good_turing_coverage,
    )

    docs = spark.createDataFrame(
        [("en", "a b a b"), ("en", "c d"), ("en", "x")],
        "lang string, text string",
    )
    r = good_turing_coverage(docs, "lang").collect()[0]
    # 'a b a b' -> pairs: a b, b a, a b ; 'c d' -> c d ; 'x' -> none
    assert r["n_bigrams"] == 4 and r["vocab"] == 3
    assert r["n1"] == 2 and r["n2"] == 1 and r["n3"] == 0
    assert r["p0_unseen_r6"] == 0.5
    assert r["r_star_1_r6"] == 1.0
    assert r["r_star_2_r6"] == 0.0


def test_kmv_exact_when_fewer_than_k(spark):
    """Fewer distinct values than k: the sketch saw everything, the
    estimate IS the kept count, error 0, gate green."""
    from pinterest_data_pipeline_spark.operators.sketches import (
        kmv_distinct,
    )

    df = spark.createDataFrame(
        [(v,) for v in [1, 2, 3, 2, 1, 3, 7]], "v long"
    )
    r = kmv_distinct(df, "v", k=64).collect()[0]
    assert r["n_exact"] == 4 and r["n_kept"] == 4
    assert r["kmv_est_r6"] == 4.0 and r["err_ppm"] == 0
    assert bool(r["within_bound"])


def test_kmv_estimate_formula_pin(spark):
    """k=2 over known values: the estimate must equal
    (k-1) * 2^32 / (h_(2) + 1) with h the portable md5-prefix hash —
    recomputed here with hashlib."""
    import hashlib

    from pinterest_data_pipeline_spark.operators.sketches import (
        kmv_distinct,
    )

    vals = [10, 20, 30, 40, 50]
    hashes = sorted(
        int(hashlib.md5(f"kmv:{v}".encode()).hexdigest()[:8], 16)
        for v in vals
    )
    expect = round(1 * 4294967296.0 / (hashes[1] + 1), 6)
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    r = kmv_distinct(df, "v", k=2).collect()[0]
    assert r["n_exact"] == 5 and r["n_kept"] == 2
    assert r["kth_hash"] == hashes[1]
    assert r["kmv_est_r6"] == pytest.approx(expect, abs=1e-6)


def test_dispersion_index_pin(spark):
    """4-slot span: a one-event-per-slot key is pacemaker-regular
    (D = 0); a key with all 4 events in one slot is bursty (D = 3);
    empty slots count via the global span."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        dispersion_index,
    )

    rows = [("A", 1), ("A", 2), ("A", 3), ("A", 4),
            ("B", 2), ("B", 2), ("B", 2), ("B", 2)]
    df = spark.createDataFrame(rows, "k string, slot long")
    out = {r["k"]: r for r in dispersion_index(df, "k", "slot").collect()}
    assert out["A"]["n_slots"] == 4 and out["A"]["fano_r6"] == 0.0
    # B: n=4 slots, sx=4, sxx=16 -> (4*16 - 16)/(4*4) = 3
    assert out["B"]["n_occupied"] == 1 and out["B"]["fano_r6"] == 3.0
    assert out["B"]["mean_per_slot_r6"] == 1.0


def test_srm_audit_pin(spark):
    """Planted SRM: a true 50/50 assignment scores chi-square 0 (no
    flag); a 10%-actual vs 50%-configured assignment over n=100
    scores (10-50)^2/50 * 2 = 64 and fires."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        srm_audit,
    )

    units = spark.range(100).withColumnRenamed("id", "u")
    out = {
        r["experiment"]: r
        for r in srm_audit(
            units,
            [
                ("ok", F.col("u") < 50, 500_000),
                ("bad", F.col("u") < 10, 500_000),
            ],
        ).collect()
    }
    ok, bad = out["ok"], out["bad"]
    assert ok["n_units"] == 100 and ok["n_treatment"] == 50
    assert ok["chisq_r6"] == 0.0 and not ok["srm_flag"]
    assert bad["chisq_r6"] == 64.0 and bool(bad["srm_flag"])
