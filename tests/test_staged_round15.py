"""Round-15 seed parity + behavior: association rules, Theil-Sen,
LLR collocations, and coverage/diversity evaluation must already pass
the exact check the driver will run once registered — strict-mirror
value comparison against their DuckDB oracles — with semantics pinned
on constructed data.

Staged queries are deliberately NOT in plans/registry (rounds 9-14
are already staged/planned); see plans/staged_round15.py.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.staged_round15 import (
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


def test_association_rules_hand_counts(spark):
    """4 baskets: {a,b} ×3, {a} ×1 → supp(a)=4, supp(b)=3,
    supp(a,b)=3; conf(a→b)=3/4, conf(b→a)=1, lift=3·4/(4·3)=1."""
    from pinterest_data_pipeline_spark.operators.cooccurrence import (
        association_rules,
    )

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"),
            (3, "a"), (3, "b"), (4, "a")]
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "b", "i", top_k=10).collect()
    }
    ab, ba = out[("a", "b")], out[("b", "a")]
    assert ab["pair_support"] == 3
    assert ab["confidence_r6"] == 0.75 and ba["confidence_r6"] == 1.0
    assert ab["lift_r6"] == 1.0 and ba["lift_r6"] == 1.0


def test_association_rules_direction_matters(spark):
    """b always implies a but not vice versa: conf(b→a)=1,
    conf(a→b)<1, same lift both ways (lift is symmetric)."""
    from pinterest_data_pipeline_spark.operators.cooccurrence import (
        association_rules,
    )

    rows = []
    for k in range(6):
        rows.append((k, "a"))
    for k in range(2):
        rows.append((k, "b"))  # b only in baskets that have a
    df = spark.createDataFrame(rows, "b long, i string")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "b", "i", top_k=10).collect()
    }
    assert out[("b", "a")]["confidence_r6"] == 1.0
    assert out[("a", "b")]["confidence_r6"] == pytest.approx(2 / 6, abs=1e-6)
    assert out[("a", "b")]["lift_r6"] == out[("b", "a")]["lift_r6"]


def test_theil_sen_ignores_outlier(spark):
    """y = x on days 0..9 except day 9 jumps to 1000: the median
    pairwise slope stays 1.0 while OLS is dragged far above it."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        theil_sen_slope,
    )

    rows = [(x, x) for x in range(9)] + [(9, 1000)]
    df = spark.createDataFrame(rows, "x long, y long")
    r = theil_sen_slope(df, "x", "y").collect()[0]
    assert r["n_points"] == 10 and r["n_pairs"] == 45
    assert r["theil_sen_slope_r6"] == 1.0
    assert r["ols_slope_r6"] > 10


def test_theil_sen_even_pair_count_averages_middles(spark):
    """4 points → 6 pairs (even): the median averages the two middle
    slopes. Points (0,0),(1,10),(2,12),(3,30): slopes sorted are
    [1,2,6,10,10,15] (×1? compute: pairs (0,1)=10,(0,2)=6,(0,3)=10,
    (1,2)=2,(1,3)=10,(2,3)=18 → sorted [2,6,10,10,10,18]; middles
    10,10 → 10.0."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        theil_sen_slope,
    )

    df = spark.createDataFrame(
        [(0, 0), (1, 10), (2, 12), (3, 30)], "x long, y long"
    )
    r = theil_sen_slope(df, "x", "y").collect()[0]
    assert r["n_pairs"] == 6
    assert r["theil_sen_slope_r6"] == 10.0


def test_llr_weighs_evidence_over_rarity(spark):
    """'of the' repeated 30 times vs a pair seen twice between
    near-hapaxes: LLR ranks the high-evidence pair first (PMI would
    rank the rare one higher)."""
    from pinterest_data_pipeline_spark.operators.collocations import (
        llr_bigrams,
    )

    docs = [("of the " * 30).strip()] * 1 + ["rare pair " * 2] + [
        "filler words here " * 20
    ]
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    out = llr_bigrams(df, min_count=2, top_k=5).collect()
    pairs = [(r["w1"], r["w2"]) for r in out]
    assert pairs[0] == ("of", "the")
    top = out[0]
    assert top["n_pair"] == 30 and top["llr_r6"] > 0


def test_llr_closed_form_pin(spark):
    """Tiny corpus with hand-computable 2×2: bigrams = [a b, a b,
    a c, d b] → for (a,b): k11=2, n_first(a)=3, n_second(b)=3, N=4 →
    k12=1, k21=1, k22=0; LLR matches the formula computed here."""
    from pinterest_data_pipeline_spark.operators.collocations import (
        llr_bigrams,
    )

    df = spark.createDataFrame(
        [("a b",), ("a b",), ("a c",), ("d b",)], "text string"
    )
    out = {
        (r["w1"], r["w2"]): r
        for r in llr_bigrams(df, min_count=2, top_k=5).collect()
    }
    r = out[("a", "b")]
    n, nf, ns, k11 = 4, 3, 3, 2
    k12, k21, k22 = nf - k11, ns - k11, n - nf - ns + k11
    def term(k, rr, c):
        return 0.0 if k <= 0 else k * (
            math.log(k) + math.log(n) - math.log(rr) - math.log(c)
        )
    expect = round(2.0 * (
        term(k11, nf, ns) + term(k12, nf, n - ns)
        + term(k21, n - nf, ns) + term(k22, n - nf, n - ns)
    ), 6)
    assert r["llr_r6"] == pytest.approx(expect, abs=1e-6)


def test_coverage_diversity_pin(spark):
    """Two users, catalog of 10: user 1's list is all one type
    (0 diverse pairs), user 2 mixes two types (2,1 → 2 cross pairs of
    3 total). coverage = 5 distinct of 10 → 500000 ppm; diversity =
    2/(3+3) → 333333 ppm."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        catalog_coverage_diversity,
    )

    recs = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 13), (2, 14), (2, 10)],
        "u long, i long",
    )
    catalog = spark.createDataFrame(
        [(10 + k, "t1" if k < 3 else "t2") for k in range(10)],
        "i long, a string",
    )
    r = catalog_coverage_diversity(recs, catalog, "u", "i", "a").collect()[0]
    assert r["n_users"] == 2 and r["n_catalog"] == 10
    assert r["n_recommended_distinct"] == 5
    assert r["coverage_ppm"] == 500000
    # user1: items 10,11,12 all t1 -> 0/3; user2: 13,14 (t2) + 10 (t1)
    # -> same-type pairs: 1 (13,14); diff pairs 2 of 3. total 2/6.
    assert r["intralist_diversity_ppm"] == 333333


def test_mase_closed_form_pin(spark):
    """Constructed 14-day series with period-7 seasonality plus a
    holdout deviation: lag-7 errors are hand-computable; MASE =
    (sum_test·n_train)/(sum_in·n_test)."""
    from pinterest_data_pipeline_spark.operators.trend import mase_backtest

    # days 0..13; y = 100 for day%7<3 else 200, except day 13 = 250
    rows = []
    for d in range(14):
        y = 100 if d % 7 < 3 else 200
        if d == 13:
            y = 250
        rows.append((d, y))
    df = spark.createDataFrame(rows, "x long, y long")
    r = mase_backtest(df, "x", "y").collect()[0]
    # lagged rows: days 7..13. test = x > 13-7=6 -> ALL 7 lagged rows
    # are test; train_scored = 0 -> guarded MASE = 0.0
    assert r["n_test"] == 7 and r["n_train_scored"] == 0
    assert r["mase_r6"] == 0.0
    # longer series: 21 days, same pattern, day 20 deviates by +50
    rows = []
    for d in range(21):
        y = 100 if d % 7 < 3 else 200
        if d == 20:
            y = 250
        rows.append((d, y))
    df = spark.createDataFrame(rows, "x long, y long")
    r = mase_backtest(df, "x", "y").collect()[0]
    # lagged rows 7..20 (14); test = days 14..20 (7); train 7..13 (7)
    # in-sample errors all 0? day 13 vs 6: both 200 -> 0 ... all 0 ->
    # degenerate denominator -> guarded 0.0 with sum_test = 50
    assert r["n_test"] == 7 and r["n_train_scored"] == 7
    assert r["sum_abs_err_test_cents"] == 50
    assert r["sum_abs_err_train_cents"] == 0 and r["mase_r6"] == 0.0
    # add in-sample noise: day 10 = 210 -> train error 10 at day 10
    # AND day 17 test error |200-210|=10 (its lag-7 is day 10)
    rows = []
    for d in range(21):
        y = 100 if d % 7 < 3 else 200
        if d == 10:
            y = 210
        if d == 20:
            y = 250
        rows.append((d, y))
    df = spark.createDataFrame(rows, "x long, y long")
    r = mase_backtest(df, "x", "y").collect()[0]
    assert r["sum_abs_err_train_cents"] == 10  # day 10 vs day 3
    assert r["sum_abs_err_test_cents"] == 60  # day 17 (10) + day 20 (50)
    assert r["mase_r6"] == pytest.approx(
        round((60 * 7) / (10 * 7), 6), abs=1e-6
    )


def test_mase_null_period_index_is_dropped(spark):
    """A point with NULL x (e.g. the day bucket of a NULL-timestamped
    event) is dropped before the lag window — keeping it would shift
    the lag-7 alignment engine-dependently (Spark orders NULL x first,
    DuckDB last)."""
    from pinterest_data_pipeline_spark.operators.trend import mase_backtest

    rows = []
    for d in range(21):
        y = 100 if d % 7 < 3 else 200
        if d == 10:
            y = 210
        if d == 20:
            y = 250
        rows.append((d, y))
    rows.append((None, 999))
    df = spark.createDataFrame(rows, "x long, y long")
    r = mase_backtest(df, "x", "y").collect()[0]
    # identical to the clean 21-day pin: the NULL-x point is invisible
    assert r["sum_abs_err_train_cents"] == 10
    assert r["sum_abs_err_test_cents"] == 60


def test_skyline_hand_frontier(spark):
    """Points (price, size): (1,1),(2,5),(3,3),(4,5),(5,6): frontier =
    (1,1),(2,5),(5,6) — (3,3) dominated by (2,5); (4,5) dominated by
    the cheaper equal-size (2,5). Equal-x ties keep only the max-y;
    exact (x,y) duplicates all survive."""
    from pinterest_data_pipeline_spark.operators.skyline import skyline_2d

    rows = [(1, 1, 1), (2, 2, 5), (3, 3, 3), (4, 4, 5), (5, 5, 6)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {
        (r["x"], r["y"])
        for r in skyline_2d(df, "x", "y", band_width=2).collect()
    }
    assert got == {(1, 1), (2, 5), (5, 6)}
    # same-x: (7,2) dominated by (7,9); duplicates (7,9) both kept
    rows = [(1, 7, 2), (2, 7, 9), (3, 7, 9)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = skyline_2d(df, "x", "y", band_width=4).collect()
    assert sorted(r["id"] for r in out) == [2, 3]


def test_skyline_band_boundary_equivalence(spark):
    """The banded decomposition must equal the naive definition at a
    band boundary: a dominator in band k-1 kills a band-k row through
    the cross-band prefix max."""
    from pinterest_data_pipeline_spark.operators.skyline import skyline_2d

    # band_width=4: x=3 (band 0) dominates x=4 (band 1, lower y)
    rows = [(1, 3, 10), (2, 4, 9), (3, 4, 11)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    out = sorted(
        r["id"] for r in skyline_2d(df, "x", "y", band_width=4).collect()
    )
    assert out == [1, 3]


def test_trending_rank_shift_pin(spark, tmp_path):
    """Constructed two-period revenue via a tiny parquet pair is
    overkill — pin the rank arithmetic on the real sf0.001 output
    instead: rank_b is 1..20 dense, every rank_a >= 1, and
    rank_shift == rank_a - rank_b row-for-row."""
    from pinterest_data_pipeline_spark.plans.staged_round15 import (
        STAGED_QUERIES,
    )

    out = STAGED_QUERIES["trending_parts_rank_shift"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    ranks_b = sorted(r["rank_b"] for r in out)
    assert ranks_b == list(range(1, 21))
    for r in out:
        assert r["rank_a"] >= 1
        assert r["rank_shift"] == r["rank_a"] - r["rank_b"]


def test_twonn_line_manifold_and_degenerates(spark):
    """Points on a 1-D ray at geometric positions 2^i embedded in
    64-d: every interior point's two neighbors sit at distances
    2^(i-1) and 2^i, so ln(d2²/d1²) = ln 4 — the estimator must match
    the closed form computed here (pure-python replica of the same
    rounding and ranking); a duplicated vector pair has d1 = 0 and
    must be excluded and counted, not poison the sum."""
    import math

    from pinterest_data_pipeline_spark.operators.similarity import (
        intrinsic_dimension_twonn,
    )

    pos = [float(2**i) for i in range(1, 9)]  # 2..256
    rows = [(i, [p] + [0.0] * 63) for i, p in enumerate(pos)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    r = intrinsic_dimension_twonn(df).collect()[0]
    # python replica
    lnsum = 0.0
    for i, p in enumerate(pos):
        d2s = sorted(round((p - q) ** 2, 6) for q in pos if q != p)
        lnsum += math.log(d2s[1] / d2s[0])
    expect = round(2.0 * len(pos) / lnsum, 6)
    assert r["n_sample"] == 8 and r["n_used"] == 8
    assert r["id_twonn_r6"] == pytest.approx(expect, abs=1e-6)
    assert r["id_twonn_r6"] < 2.0  # a line must not read as a volume

    rows_dup = rows + [(99, rows[0][1])]  # exact duplicate of point 0
    df = spark.createDataFrame(
        rows_dup, "vec_id long, embedding array<float>"
    )
    r = intrinsic_dimension_twonn(df).collect()[0]
    assert r["n_degenerate"] == 2  # both copies have a zero d1
    assert r["n_used"] == 7
