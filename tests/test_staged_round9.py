"""Behavior tests for the data-audit / corpus-linguistics queries in
plans/staged_round9.py (Benford, exact KS drift, autocorrelation, Gini
skew, PMI collocations, Flesch, charset profile, weighted priority
sampling, largest-remainder allocation, Kaplan-Meier, feature hashing,
RBO), pinned against hand-computed examples. Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round9")


def test_staged_queries_are_promoted():
    """All 12 builders in plans/staged_round9.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 12


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



# ------------------------------------------------- sampling / allocation
def test_weighted_priority_sample_replays_python_formula(spark):
    """The A-Res key and the winning set match a pure-python replay of
    the md5 formula, and a heavy weight beats a light one given equal
    hash luck."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        weighted_priority_sample,
    )

    rows = [(i, (i % 5 + 1) * 100) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = weighted_priority_sample(df, "w", "doc_id", 10).collect()

    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return math.log((h + 1) / 4294967296.0) / max(w, 1)

    expected = sorted(rows, key=lambda r: (-key(*r), r[0]))[:10]
    assert [(r["doc_id"], r["w"]) for r in got] == expected
    for r in got:
        assert r["priority_key_r6"] == round(key(r["doc_id"], r["w"]), 6)


def test_largest_remainder_conserves_budget(spark, sf_dir):
    from pinterest_data_pipeline_spark.operators.sampling import (
        largest_remainder_allocation,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = largest_remainder_allocation(docs, "lang", 1000).collect()
    assert sum(r["final_alloc"] for r in out) == 1000
    for r in out:
        assert r["final_alloc"] in (r["base_alloc"], r["base_alloc"] + 1)


def test_largest_remainder_tie_breaks_by_stratum(spark):
    """Three equal strata, budget 10: base 3 each, the single leftover
    seat goes to the alphabetically-first stratum (equal remainders)."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    rows = [("a", 1), ("b", 1), ("c", 1)]
    df = spark.createDataFrame(rows, "s string, x long")
    out = {
        r["stratum"]: r
        for r in largest_remainder_allocation(df, "s", 10).collect()
    }
    assert [out[s]["base_alloc"] for s in "abc"] == [3, 3, 3]
    assert [out[s]["extra"] for s in "abc"] == [1, 0, 0]


# ------------------------------------------------------- numeric audits
def test_ks_hand_example(spark):
    """a = {1,2,3}, b = {3,4,5} (in dollars): the CDF gap peaks at 2/3,
    reached at value 2 (|2/3 − 0|) and value 3 (|1 − 1/3|); in IEEE
    doubles 1.0 − 1/3 is one ulp ABOVE 2.0/3.0, so the exact argmax is
    value 3 — identically on both engines (the raw-double ordering is
    part of the operator's determinism contract). Identical samples
    give D = 0."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        ks_two_sample,
    )

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0),
            ("b", 3.0), ("b", 4.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(df, "g", "v", "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_values"]) == (3, 3, 5)
    assert r["ks_r6"] == round(2 / 3, 6)
    assert r["ks_at_cents"] == 300
    assert (1.0 - 1 / 3) > 2 / 3
    same = ks_two_sample(
        df.filter("g = 'a'").unionByName(
            df.filter("g = 'a'").withColumn("g", F.lit("b"))
        ),
        "g", "v", "a", "b",
    ).collect()[0]
    assert same["ks_r6"] == 0.0


def test_benford_counts_leading_digits(spark):
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        benford_audit,
    )

    amounts = [1.23, 19.99, 2.50, 29.0, 900.0, 0.0, -5.0, 0.004]
    df = spark.createDataFrame(
        [(float(a),) for a in amounts], "amt double"
    )
    rows = {r["digit"]: r for r in benford_audit(df, "amt").collect()}
    # 0, negatives AND positive sub-cent (0.004 → cents 0) excluded
    # (r8 advisor fix: amount > 0 would emit a digit-0 row the 9-row
    # Benford table can't join); leading digits of cents: 123→1,
    # 1999→1, 250→2, 2900→2, 90000→9
    assert 0 not in rows
    assert rows[1]["n"] == 2 and rows[2]["n"] == 2 and rows[9]["n"] == 1
    assert rows[1]["benford_p_r6"] == 0.30103
    assert abs(rows[1]["share_r6"] - 0.4) < 1e-9


def test_autocorr_monotone_series_positive(spark):
    """A strictly increasing daily series has strongly positive lag-1
    autocorrelation, and consecutive days give n_pairs = n_days − k."""
    import datetime

    from pinterest_data_pipeline_spark.operators.robust_stats import (
        autocorr_daily,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (base + datetime.timedelta(days=i), float(100 + 10 * i))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, amt double")
    out = {r["lag"]: r for r in autocorr_daily(df, "ts", "amt").collect()}
    assert out[1]["n_days"] == 30
    assert out[1]["n_pairs"] == 29
    assert out[7]["n_pairs"] == 23
    assert out[1]["autocorr_r6"] > 0.8
    # the lag-7 estimate on a 30-point ramp is ~0.32: the truncated
    # cross-sum loses 7 of 30 terms against the full-series variance
    assert out[7]["autocorr_r6"] > 0.2


def test_gini_uniform_zero_and_skewed_positive(spark):
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        gini_skew_profile,
    )

    uniform = spark.createDataFrame(
        [(i,) for i in range(20)], "k long"
    )
    r = gini_skew_profile(uniform, "k").collect()[0]
    assert r["n_keys"] == 20 and r["n_rows"] == 20
    assert r["gini_r6"] == 0.0
    skewed = spark.createDataFrame(
        [(1,)] * 90 + [(i,) for i in range(2, 12)], "k long"
    )
    s = gini_skew_profile(skewed, "k").collect()[0]
    assert s["n_keys"] == 11 and s["n_rows"] == 100
    assert s["gini_r6"] > 0.5
    assert s["top1_share_r6"] == 0.9


# --------------------------------------------------- corpus linguistics
def test_pmi_surfaces_planted_collocation(spark):
    from pinterest_data_pipeline_spark.operators.collocations import (
        pmi_bigrams,
    )

    filler = " ".join(f"word{i}" for i in range(40))
    docs = [(i, f"{filler} zyx qwv {filler}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    top = pmi_bigrams(df, top_k=5).collect()
    pairs = [(r["w1"], r["w2"]) for r in top]
    assert ("zyx", "qwv") in pairs
    planted = next(r for r in top if (r["w1"], r["w2"]) == ("zyx", "qwv"))
    assert planted["n_pair"] == 6
    assert planted["pmi_r6"] > 0


def test_flesch_hand_example(spark):
    """'The cat sat. It ran!' — words 5, syllables 5 (e/a/a/i/a vowel
    groups), sentences 2 → flesch = 206.835 − 1.015·2.5 − 84.6·1."""
    from pinterest_data_pipeline_spark.operators.readability import (
        flesch_reading_ease,
    )

    df = spark.createDataFrame(
        [("en", "The cat sat. It ran!")], "lang string, text string"
    )
    r = flesch_reading_ease(df).collect()[0]
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (5, 2, 5)
    assert r["flesch_r6"] == round(206.835 - 1.015 * 2.5 - 84.6 * 1.0, 6)


def test_charset_hand_example(spark):
    from pinterest_data_pipeline_spark.operators.readability import (
        charset_profile,
    )

    df = spark.createDataFrame(
        [("en", "ab 12!")], "lang string, text string"
    )
    r = charset_profile(df).collect()[0]
    assert r["n_chars"] == 6
    assert r["letter_share_r6"] == round(2 / 6, 6)
    assert r["digit_share_r6"] == round(2 / 6, 6)
    assert r["space_share_r6"] == round(1 / 6, 6)
    assert r["other_share_r6"] == round(1 / 6, 6)


def test_feature_hash_replays_python_md5(spark):
    from pinterest_data_pipeline_spark.operators.tfidf import (
        feature_hash_buckets,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta alpha Gamma beta alpha")], "doc_id long, text string"
    )
    rows = feature_hash_buckets(df).collect()

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 256

    expect = {}
    for w, n in (("alpha", 3), ("beta", 2), ("gamma", 1)):
        b = bucket(w)
        tot, dist = expect.get(b, (0, 0))
        expect[b] = (tot + n, dist + 1)
    got = {r["bucket"]: (r["n_tokens"], r["n_distinct_tokens"]) for r in rows}
    assert got == expect


# --------------------------------------------------- survival / ranking
def test_kaplan_meier_hand_curve(spark):
    """Four subjects: lifetimes 0 (churn), 1 (churn), 2 (churn), 0
    (censored — active at log end). Risk sets 4/2/1; survival
    0.75 / 0.375 / 0.0 (the churn==risk zero branch)."""
    import datetime

    from pinterest_data_pipeline_spark.operators.survival import (
        kaplan_meier,
    )

    d = lambda i: datetime.datetime(2024, 1, 1) + datetime.timedelta(  # noqa: E731
        days=i
    )
    rows = [
        ("a", d(0)), ("a", d(2)),
        ("b", d(0)),
        ("c", d(0)), ("c", d(1)),
        ("z", d(100)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {r["day"]: r for r in kaplan_meier(df).collect()}
    assert out[0]["n_risk"] == 4
    assert (out[0]["n_churn"], out[0]["n_censored"]) == (1, 1)
    assert out[0]["survival_r6"] == 0.75
    assert out[1]["n_risk"] == 2 and out[1]["survival_r6"] == 0.375
    assert out[2]["n_risk"] == 1 and out[2]["survival_r6"] == 0.0


def test_rbo_identical_and_disjoint(spark):
    from pinterest_data_pipeline_spark.operators.ranking import rbo_at_k

    a = spark.createDataFrame(
        [(i, i) for i in range(1, 11)], "id long, rank long"
    )
    b_same = a
    r = rbo_at_k(a, b_same, "id").collect()[0]
    assert r["overlap_at_10"] == 10
    assert r["rbo_r6"] == round(1.0 - 0.9**10, 6)
    b_disj = spark.createDataFrame(
        [(i + 100, i) for i in range(1, 11)], "id long, rank long"
    )
    r2 = rbo_at_k(a, b_disj, "id").collect()[0]
    assert r2["overlap_at_10"] == 0
    assert r2["rbo_r6"] == 0.0
