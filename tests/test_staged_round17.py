"""Round-17 staging parity + behavior: the information-theory /
privacy / matching / sequential-pattern seed (per-source JSD, exact
MI/NMI, t-closeness, caliper NN matching with SMD balance, top event
trigrams) must already pass the exact check the driver will run once
registered — strict-mirror value comparison against their DuckDB
oracles — and each operator's semantic guarantees are pinned against
hand-computed examples.

Staged queries are deliberately NOT in plans/registry (the round-12
window and beyond are already planned/staged); see
plans/staged_round17.py for the promotion recipe.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F  # noqa: F401

from pinterest_data_pipeline_spark.plans.staged_round17 import (
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


# ------------------------------------------------------ JS divergence
def _brute_jsd(group_tokens: dict[str, list[str]]) -> dict[str, float]:
    """Reference JSD per group vs the pooled corpus, over the FULL
    vocabulary (no absent-term folding — the folded Spark formula must
    agree with this unfolded one)."""
    from collections import Counter

    corpus = Counter()
    per = {}
    for g, toks in group_tokens.items():
        per[g] = Counter(toks)
        corpus.update(toks)
    nn = sum(corpus.values())
    out = {}
    for g, cnt in per.items():
        ns = sum(cnt.values())
        jsd = 0.0
        for t, cc in corpus.items():
            p = cnt.get(t, 0) / ns
            q = cc / nn
            m = (p + q) / 2
            if p > 0:
                jsd += 0.5 * p * math.log(p / m)
            jsd += 0.5 * q * math.log(q / m)
        out[g] = jsd
    return out


def test_jsd_identical_groups_read_zero(spark):
    from pinterest_data_pipeline_spark.operators.infotheory import (
        js_divergence_by_group,
    )

    rows = [(g, t) for g in ("a", "b") for t in ["x", "y", "z", "x"]]
    toks = spark.createDataFrame(rows, "g string, term string")
    got = {
        r["g"]: (r["jsd_nats_r6"], r["jsd_norm_r6"])
        for r in js_divergence_by_group(toks, "g", "term").collect()
    }
    assert got == {"a": (0.0, 0.0), "b": (0.0, 0.0)}


def test_jsd_folded_formula_equals_unfolded_brute_force(spark):
    """Skewed overlap + disjoint tails: the absent-term closed form
    must reproduce the full-vocabulary sum; the disjoint-vs-corpus
    group reads high on the normalized scale but NEVER exceeds 1."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        js_divergence_by_group,
    )

    groups = {
        "news": ["the", "a", "market", "market", "rates", "the"],
        "code": ["def", "return", "the", "class", "def"],
        "zz_disjoint": ["qqq", "www", "qqq"],
    }
    brute = _brute_jsd(groups)
    rows = [(g, t) for g, toks in groups.items() for t in toks]
    toks = spark.createDataFrame(rows, "g string, term string")
    res = js_divergence_by_group(toks, "g", "term").collect()
    for r in res:
        assert r["jsd_nats_r6"] == pytest.approx(
            brute[r["g"]], abs=1e-6
        ), r["g"]
        assert 0.0 <= r["jsd_norm_r6"] <= 1.0
    by_g = {r["g"]: r for r in res}
    assert (
        by_g["zz_disjoint"]["jsd_norm_r6"] > by_g["news"]["jsd_norm_r6"]
    )
    assert by_g["news"]["n_terms"] == 4
    assert by_g["news"]["n_tokens"] == 6


# -------------------------------------------------- mutual information
def test_mi_perfect_dependence_reads_nmi_one(spark):
    from pinterest_data_pipeline_spark.operators.infotheory import (
        mutual_information_categorical,
    )

    rows = [(c, c) for c in "aabbbcccc"]
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information_categorical(df, "x", "y").collect()[0]
    # x == y: MI = H(x) = H(y), NMI = 1
    n = 9
    h = -sum(
        k / n * math.log(k / n) for k in (2, 3, 4)
    )
    assert r["mi_nats_r6"] == pytest.approx(h, abs=1e-6)
    assert r["h_x_r6"] == r["h_y_r6"] == pytest.approx(h, abs=1e-6)
    assert r["nmi_r6"] == pytest.approx(1.0, abs=1e-6)
    assert r["n_cells"] == 3 and r["n_rows"] == 9


def test_mi_exact_independence_reads_zero(spark):
    from pinterest_data_pipeline_spark.operators.infotheory import (
        mutual_information_categorical,
    )

    # full cross product with equal counts: joint factorizes exactly
    rows = [(x, y) for x in "ab" for y in "cde" for _ in range(3)]
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information_categorical(df, "x", "y").collect()[0]
    assert r["mi_nats_r6"] == pytest.approx(0.0, abs=1e-6)
    assert r["nmi_r6"] == pytest.approx(0.0, abs=1e-6)
    assert r["n_x_values"] == 2 and r["n_y_values"] == 3


def test_mi_constant_column_nmi_is_null(spark):
    from pinterest_data_pipeline_spark.operators.infotheory import (
        mutual_information_categorical,
    )

    rows = [("k", y) for y in "abab"]
    df = spark.createDataFrame(rows, "x string, y string")
    r = mutual_information_categorical(df, "x", "y").collect()[0]
    assert r["h_x_r6"] == 0.0
    assert r["mi_nats_r6"] == pytest.approx(0.0, abs=1e-6)
    assert r["nmi_r6"] is None


# --------------------------------------------------------- t-closeness
def test_t_closeness_uniform_classes_read_zero(spark):
    from pinterest_data_pipeline_spark.operators.privacy import (
        t_closeness_audit,
    )

    # every class has the same 50/50 sensitive mix as the global
    rows = [
        (q, s) for q in ("g1", "g2") for s in ("a", "b") for _ in range(5)
    ]
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness_audit(df, ["q"], "s", t_threshold=0.1).collect()[0]
    assert r["t_max_r6"] == 0.0
    assert r["classes_above_t"] == 0
    assert r["compliant_share_r6"] == 1.0


def test_t_closeness_planted_skew_hand_value(spark):
    """Global mix 50/50; one class all-'a' (n=10), one class 50/50
    (n=10): the skewed class's TVD is |1-0.75| + |0-0.25| over values
    {a, b} halved = 0.25... computed against the ACTUAL global
    (15a/5b = 0.75/0.25): t_skew = 0.5*(|1-0.75| + |0-0.25|) = 0.25,
    t_even = 0.5*(|0.5-0.75| + |0.5-0.25|) = 0.25."""
    from pinterest_data_pipeline_spark.operators.privacy import (
        t_closeness_audit,
    )

    rows = [("skew", "a")] * 10 + [("even", "a")] * 5 + [("even", "b")] * 5
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness_audit(df, ["q"], "s", t_threshold=0.2).collect()[0]
    assert r["t_max_r6"] == pytest.approx(0.25, abs=1e-6)
    assert r["n_classes"] == 2
    assert r["classes_above_t"] == 2  # both sit at 0.25 > 0.2
    assert r["rows_above_t"] == 20
    assert r["compliant_share_r6"] == 0.0


def test_mi_null_categories_form_their_own_class(spark):
    """NULL x must behave exactly like a distinct category (the
    sentinel coalesce) — without it the marginal equi-join would
    silently drop NULL-keyed cells."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        mutual_information_categorical,
    )

    with_null = spark.createDataFrame(
        [(None, "p"), (None, "p"), ("b", "q"), ("b", "q")],
        "x string, y string",
    )
    with_token = spark.createDataFrame(
        [("__NULL__", "p"), ("__NULL__", "p"), ("b", "q"), ("b", "q")],
        "x string, y string",
    )
    r1 = mutual_information_categorical(with_null, "x", "y").collect()[0]
    r2 = mutual_information_categorical(with_token, "x", "y").collect()[0]
    assert r1 == r2
    assert r1["n_x_values"] == 2 and r1["n_rows"] == 4
    assert r1["nmi_r6"] == pytest.approx(1.0, abs=1e-6)


def test_t_closeness_null_quasi_class_is_kept(spark):
    """A NULL quasi-identifier forms its own class (window partitioning
    groups NULLs) — an equi-join back on the quasi key would have
    dropped it, losing rows from the audit."""
    from pinterest_data_pipeline_spark.operators.privacy import (
        t_closeness_audit,
    )

    rows = [(None, "a")] * 4 + [("g", "a"), ("g", "b")] * 2
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness_audit(df, ["q"], "s", t_threshold=0.2).collect()[0]
    assert r["n_rows"] == 8  # all rows accounted for, incl. NULL class
    assert r["n_classes"] == 2
    # global: 6a/2b = 0.75/0.25; NULL class all-a: t = 0.25; g: 0.25
    assert r["t_max_r6"] == pytest.approx(0.25, abs=1e-6)


def test_t_closeness_null_sensitive_is_a_value(spark):
    from pinterest_data_pipeline_spark.operators.privacy import (
        t_closeness_audit,
    )

    rows = [("g1", "a"), ("g1", None), ("g2", "a"), ("g2", None)]
    df = spark.createDataFrame(rows, "q string, s string")
    r = t_closeness_audit(df, ["q"], "s", t_threshold=0.5).collect()[0]
    # both classes match the global 50/50 (a, NULL) mix exactly
    assert r["t_max_r6"] == 0.0


# ----------------------------------------------------- caliper matching
def _match_df(spark, rows):
    return spark.createDataFrame(rows, "id long, arm string, x long")


def test_caliper_match_nearest_and_tiebreak(spark):
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [
        (1, "treatment", 1000),
        (2, "treatment", 5000),
        (3, "treatment", 9000),  # no control within 1000
        (10, "control", 900),    # dist 100 to t1
        (11, "control", 1100),   # dist 100 to t1 — loses tiebreak to 10
        (12, "control", 5400),   # dist 400 to t2
        (13, "control", 4400),   # dist 600 to t2
        (14, "control", 20000),
    ]
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=1000
    ).collect()[0]
    assert r["n_treatment"] == 3 and r["n_control"] == 5
    assert r["n_matched"] == 2
    assert r["match_rate_r6"] == pytest.approx(2 / 3, abs=1e-6)
    # t1 matches c10 (tie on distance 100 vs c11, min id wins):
    # |dx|=100; t2 matches c12: |dx|=400
    assert r["mean_abs_dx_r6"] == pytest.approx(250.0, abs=1e-6)


def test_caliper_match_cross_bucket_neighbor_found(spark):
    """Nearest control sits across a bucket boundary (t at 999,
    c at 1001 — buckets 0 vs 1): the ±1 probe must find it."""
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [(1, "treatment", 999), (10, "control", 1001)]
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=1000
    ).collect()[0]
    assert r["n_matched"] == 1
    assert r["mean_abs_dx_r6"] == pytest.approx(2.0, abs=1e-6)


def test_caliper_match_negative_covariate_buckets(spark):
    """Negative balances: floor bucketing (not truncation) keeps the
    ±1 probe correct below zero."""
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [(1, "treatment", -50), (10, "control", -949), (11, "control", 500)]
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=1000
    ).collect()[0]
    # both controls are within 1000; c10 at dist 899, c11 at dist 550
    assert r["n_matched"] == 1
    assert r["mean_abs_dx_r6"] == pytest.approx(550.0, abs=1e-6)


def test_caliper_match_no_match_yields_nulls(spark):
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [(1, "treatment", 0), (2, "treatment", 10), (10, "control", 99999)]
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=100
    ).collect()[0]
    assert r["n_matched"] == 0
    assert r["match_rate_r6"] == 0.0
    assert r["mean_abs_dx_r6"] is None and r["smd_after_r6"] is None


def test_caliper_match_null_covariate_excluded(spark):
    """NULL x rows are excluded entirely — from matching AND from the
    arm counts/moments (sums skip NULLs; counting such rows would skew
    the means silently)."""
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [
        (1, "treatment", 100),
        (2, "treatment", None),
        (10, "control", 150),
        (11, "control", None),
        (12, "control", 90),
    ]
    df = spark.createDataFrame(rows, "id long, arm string, x long")
    r = caliper_match_balance(df, "id", "arm", "x", caliper=100).collect()[
        0
    ]
    assert r["n_treatment"] == 1 and r["n_control"] == 2
    assert r["n_matched"] == 1
    assert r["mean_abs_dx_r6"] == pytest.approx(10.0, abs=1e-6)  # c12


def test_caliper_match_rejects_zero_caliper(spark):
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    with pytest.raises(ValueError, match="caliper"):
        caliper_match_balance(
            _match_df(spark, [(1, "treatment", 0)]),
            "id",
            "arm",
            "x",
            caliper=0,
        )


def test_caliper_match_constant_covariate_smd_is_null(spark):
    """Both arms constant (zero pooled variance): the SMDs are
    undefined — NULL, never an ANSI DIVIDE_BY_ZERO throw (r11 advisor
    finding: the both_arms guard alone did not cover sd_pool == 0)."""
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [
        (1, "treatment", 500),
        (2, "treatment", 500),
        (10, "control", 500),
        (11, "control", 500),
    ]
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=1000
    ).collect()[0]
    assert r["n_matched"] == 2
    assert r["smd_before_r6"] is None
    assert r["smd_after_r6"] is None


def test_caliper_match_bucket_exact_beyond_double_precision(spark):
    """Covariates above 2^53: the bucket must come from exact integer
    floor division. At xt = 1152921504606864999 / xc = ...864000
    (distance 999 <= caliper 1000) the old double round-trip put the
    pair in buckets ...865 vs ...863 — outside the +/-1 probe, a
    silently missed in-caliper match; exact buckets are ...864/...864.
    Also exercises the decimal(38,0) second moments (x^2 ~ 1.3e36
    overflows bigint)."""
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = [
        (1, "treatment", 1152921504606864999),
        (10, "control", 1152921504606864000),
    ]
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=1000
    ).collect()[0]
    assert r["n_matched"] == 1
    assert r["mean_abs_dx_r6"] == pytest.approx(999.0, abs=1e-6)


def test_caliper_match_balance_improves_on_planted_shift(spark):
    """Treatments shifted +800 vs controls: matching within the caliper
    pulls the matched-set SMD well below the raw SMD."""
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    rows = []
    for i in range(40):
        rows.append((i, "treatment", 10000 + 100 * i + 800))
        rows.append((100 + i, "control", 10000 + 100 * i))
    r = caliper_match_balance(
        _match_df(spark, rows), "id", "arm", "x", caliper=1000
    ).collect()[0]
    assert r["n_matched"] == 40
    assert abs(r["smd_after_r6"]) < abs(r["smd_before_r6"])
    assert abs(r["smd_after_r6"]) < 0.25


# ------------------------------------------------------ trigram mining
def test_trigrams_hand_sequence(spark):
    from pinterest_data_pipeline_spark.operators.markov import (
        top_path_trigrams,
    )

    # user 1: a b a b a  -> a>b>a (x2), b>a>b (x1)
    # user 2: a b a      -> a>b>a (x1)
    rows = [
        (1, 1, "2024-01-01 00:00:01", "a"),
        (2, 1, "2024-01-01 00:00:02", "b"),
        (3, 1, "2024-01-01 00:00:03", "a"),
        (4, 1, "2024-01-01 00:00:04", "b"),
        (5, 1, "2024-01-01 00:00:05", "a"),
        (6, 2, "2024-01-01 00:00:01", "a"),
        (7, 2, "2024-01-01 00:00:02", "b"),
        (8, 2, "2024-01-01 00:00:03", "a"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [
        (r["path"], r["support"], r["n_subjects"], r["path_rank"])
        for r in top_path_trigrams(df, top_k=10).collect()
    ]
    assert got == [("a>b>a", 3, 2, 1), ("b>a>b", 1, 1, 2)]


def test_trigrams_tiebreak_on_equal_timestamps(spark):
    """Concurrent events order by event_id — the sequence is
    (a, b, c) by id even though all share one timestamp."""
    from pinterest_data_pipeline_spark.operators.markov import (
        top_path_trigrams,
    )

    rows = [
        (3, 1, "2024-01-01 00:00:00", "c"),
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:00:00", "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = top_path_trigrams(df, top_k=5).collect()
    assert len(got) == 1 and got[0]["path"] == "a>b>c"


def test_trigrams_null_state_never_aliases_a_bigram(spark):
    """A NULL mid-sequence state drops every trigram containing it —
    concat_ws would otherwise alias (a, NULL, c) to the 2-gram-looking
    'a>c'."""
    from pinterest_data_pipeline_spark.operators.markov import (
        top_path_trigrams,
    )

    rows = [
        (1, 1, "2024-01-01 00:00:01", "a"),
        (2, 1, "2024-01-01 00:00:02", None),
        (3, 1, "2024-01-01 00:00:03", "c"),
        (4, 1, "2024-01-01 00:00:04", "d"),
        (5, 1, "2024-01-01 00:00:05", "e"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [(r["path"], r["support"]) for r in top_path_trigrams(df).collect()]
    assert got == [("c>d>e", 1)]


def test_trigrams_null_ts_row_is_dropped(spark):
    """An event with no timestamp has no sequence position — it is
    dropped BEFORE windowing, never ordered (Spark would sort NULL ts
    first, DuckDB last; the drop makes the contract engine-neutral)."""
    from pinterest_data_pipeline_spark.operators.markov import (
        top_path_trigrams,
    )

    rows = [
        (1, 1, "2024-01-01 00:00:01", "a"),
        (2, 1, None, "x"),
        (3, 1, "2024-01-01 00:00:03", "b"),
        (4, 1, "2024-01-01 00:00:04", "c"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [(r["path"], r["support"]) for r in top_path_trigrams(df).collect()]
    assert got == [("a>b>c", 1)]


def test_trigrams_topk_order_is_total(spark):
    """Equal support breaks by path ASC, so the LIMIT is stable."""
    from pinterest_data_pipeline_spark.operators.markov import (
        top_path_trigrams,
    )

    rows = []
    eid = 0
    for uid, seq in [(1, "abc"), (2, "bca")]:
        for i, s in enumerate(seq):
            eid += 1
            rows.append((eid, uid, f"2024-01-01 00:00:0{i}", s))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [
        (r["path"], r["path_rank"])
        for r in top_path_trigrams(df, top_k=1).collect()
    ]
    assert got == [("a>b>c", 1)]
