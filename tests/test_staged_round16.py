"""Round-16 staging parity + behavior: the rank-statistics / feature-
smoothing / contrastive-sampling / stylometry seed (Spearman,
Kruskal-Wallis H, EB beta-binomial shrinkage, deterministic negative
sampling, Burrows' Delta) must already pass the exact check the driver
will run once registered — strict-mirror value comparison against their
DuckDB oracles — and each operator's semantic guarantees are pinned
against hand-computed examples.

Staged queries are deliberately NOT in plans/registry (the round-11
window and beyond are already planned/staged); see
plans/staged_round16.py for the promotion recipe.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F  # noqa: F401

from pinterest_data_pipeline_spark.plans.staged_round16 import (
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


# ---------------------------------------------------------- Spearman
def test_spearman_perfect_monotone_and_ties(spark):
    """Hand case with a tie: x=[1,2,3,4], y=[10,20,20,40]. Doubled
    average ranks dx=[2,4,6,8], dy=[2,5,5,8] (the tied 20s share
    2·rank+ties−1 = 5). Sx=Sy=20, Sxx=120, Syy=118,
    Sxy = 2·2+4·5+6·5+8·8 = 118, so num = 4·118−400 = 72,
    varx = 4·120−400 = 80, vary = 4·118−400 = 72 and
    rho = 72/(sqrt(80)·sqrt(72)) = 0.948683…"""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        spearman_rank_correlation,
    )

    df = spark.createDataFrame(
        [("g", 1, 10), ("g", 2, 20), ("g", 3, 20), ("g", 4, 40)],
        "g string, x long, y long",
    )
    r = spearman_rank_correlation(df, "g", "x", "y").collect()[0]
    assert r["n"] == 4
    assert r["spearman_r6"] == pytest.approx(
        72.0 / (math.sqrt(80.0) * math.sqrt(72.0)), abs=1e-6
    )


def test_spearman_reversed_is_minus_one_and_constant_is_null(spark):
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        spearman_rank_correlation,
    )

    df = spark.createDataFrame(
        [("a", 1, 30), ("a", 2, 20), ("a", 3, 10),
         ("b", 1, 7), ("b", 2, 7), ("b", 3, 7)],
        "g string, x long, y long",
    )
    rows = {
        r["g"]: r
        for r in spearman_rank_correlation(df, "g", "x", "y").collect()
    }
    assert rows["a"]["spearman_r6"] == -1.0
    assert rows["b"]["spearman_r6"] is None  # constant y -> 0 variance


# ---------------------------------------------------- EB shrinkage
def test_eb_shrinkage_pulls_small_samples_toward_prior(spark):
    """A 1/1 unit must NOT outrank a 19/20 unit after shrinkage, and
    every posterior mean sits strictly between the raw rate and the
    prior mean (the definition of shrinkage)."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        eb_beta_binomial_shrinkage,
    )

    rows = []
    # unit 1: 1/1; unit 2: 19/20; units 3..12: 2/10 background
    rows += [(1, 1)]
    rows += [(2, 1)] * 19 + [(2, 0)]
    for u in range(3, 13):
        rows += [(u, 1)] * 2 + [(u, 0)] * 8
    df = spark.createDataFrame(rows, "unit long, s int")
    out = eb_beta_binomial_shrinkage(
        df, "unit", F.col("s") == 1, top_k=12
    ).collect()
    by_unit = {r["unit"]: r for r in out}
    assert by_unit[2]["shrunk_r6"] > by_unit[1]["shrunk_r6"]
    assert by_unit[1]["shrunk_r6"] < 1.0  # pulled off the raw 1.0
    assert out[0]["alpha_r6"] > 0 and out[0]["beta_r6"] > 0


# ------------------------------------------- contrastive negatives
def test_contrastive_negatives_never_in_group_and_exactly_k(spark):
    from pinterest_data_pipeline_spark.operators.sampling import (
        contrastive_negative_sample,
    )

    df = spark.createDataFrame(
        [(i, f"g{i % 4}") for i in range(40)], "id long, grp string"
    )
    out = contrastive_negative_sample(df, "id", "grp").collect()
    assert all(r["anchor_group"] != r["negative_group"] for r in out)
    assert sum(r["n_pairs"] for r in out) == 40 * 3


def test_contrastive_negatives_deterministic(spark):
    from pinterest_data_pipeline_spark.operators.sampling import (
        contrastive_negative_sample,
    )

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(30)], "id long, grp string"
    )
    a = contrastive_negative_sample(df, "id", "grp").collect()
    b = contrastive_negative_sample(df, "id", "grp").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------------------- Burrows' Delta
def test_burrows_delta_clone_slices_are_near_zero(spark):
    """Two slices with IDENTICAL text have identical token ppb, so
    every z matches and Delta(a, b) = 0 exactly; a third slice with a
    different function-word mix sits at a strictly larger Delta."""
    from pinterest_data_pipeline_spark.operators.stylometry import (
        burrows_delta,
    )

    same = "the cat and the dog and the bird went to the house"
    other = "of in of in of in of in of to to to of in of"
    rows = [("A", same)] * 5 + [("B", same)] * 5 + [("C", other)] * 5
    df = spark.createDataFrame(rows, "src string, text string")
    out = {
        (r["slice_a"], r["slice_b"]): r["delta_r6"]
        for r in burrows_delta(
            df, "text", "src", top_slices=3, top_tokens=5
        ).collect()
    }
    assert out[("A", "B")] == 0.0
    assert out[("A", "C")] > 0.0 and out[("B", "C")] > 0.0
    assert out[("A", "C")] == out[("B", "C")]  # clones are equidistant


# ------------------------------------------------ Kruskal-Wallis H
def test_kruskal_wallis_hand_case_no_ties(spark):
    """A=[1,2], B=[3,4]: ranks 1..4, R_A=3, R_B=7,
    H = 12/(4·5)·(9/2 + 49/2) − 3·5 = 0.6·29 − 15 = 2.4; no ties, so
    the corrected value equals H."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        kruskal_wallis_h,
    )

    df = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 3), ("B", 4)], "g string, v long"
    )
    r = kruskal_wallis_h(df, "g", "v").collect()[0]
    assert r["n_rows"] == 4 and r["n_groups"] == 2
    assert r["h_r6"] == pytest.approx(2.4, abs=1e-6)
    assert r["h_tie_corrected_r6"] == pytest.approx(2.4, abs=1e-6)


def test_kruskal_wallis_all_tied_is_guarded(spark):
    """Every value identical: H's rank sum degenerates and the tie
    correction denominator vanishes -> corrected is NULL, H is 0."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        kruskal_wallis_h,
    )

    df = spark.createDataFrame(
        [("A", 5), ("A", 5), ("B", 5), ("B", 5)], "g string, v long"
    )
    r = kruskal_wallis_h(df, "g", "v").collect()[0]
    assert r["h_tie_corrected_r6"] is None
    assert r["h_r6"] == pytest.approx(0.0, abs=1e-6)
