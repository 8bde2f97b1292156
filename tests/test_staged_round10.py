"""Behavior tests for the privacy / behavioral /
retrieval-infrastructure / time-series queries in
plans/staged_round10.py (k-anonymity, RFM segments, Markov log-loss,
positional phrase search, AP@10, PQ training gate, day-of-week
seasonality, CUSUM changepoint), pinned against hand-computed examples.
Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import datetime
import math

import pytest

import __spark_entry__ as entry_mod
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round10")


def test_staged_queries_are_promoted():
    """All 8 builders in plans/staged_round10.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 8


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



# ------------------------------------------------------------- privacy
def test_k_anonymity_hand_example(spark):
    """Groups of sizes 6, 3, 1 under k=5: k_min 1, two groups below,
    four rows at risk, share 0.6."""
    from pinterest_data_pipeline_spark.operators.privacy import (
        k_anonymity_audit,
    )

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, "q string")
    r = k_anonymity_audit(df, ["q"]).collect()[0]
    assert (r["n_rows"], r["n_groups"], r["k_min"]) == (10, 3, 1)
    assert (r["groups_below_k"], r["rows_below_k"]) == (2, 4)
    assert r["anonymous_share_r6"] == 0.6


# --------------------------------------------------------- behavioral
def test_rfm_scores_monotone_and_conserving(spark, sf_dir):
    from pinterest_data_pipeline_spark.operators.rfm import rfm_segments
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    events = load_table(spark, sf_dir, "events")
    seg = rfm_segments(events).collect()
    n_users = events.select("user_id").distinct().count()
    assert sum(r["n_subjects"] for r in seg) == n_users
    for r in seg:
        for c in ("r_score", "f_score", "m_score"):
            assert 1 <= r[c] <= 5


def test_rfm_reversed_recency(spark):
    """Three users with last events 0/10/20 days before log end: the
    most recent gets the highest r_score."""
    from pinterest_data_pipeline_spark.operators.rfm import rfm_segments

    d = lambda i: datetime.datetime(2024, 1, 1) + datetime.timedelta(  # noqa: E731
        days=i
    )
    rows = [("u_new", d(20), 10.0), ("u_mid", d(10), 10.0),
            ("u_old", d(0), 10.0)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    # per-user scores via the segment histogram on 1-user-per-cell data
    seg = rfm_segments(df).collect()
    # recency quintiles of [0, 10, 20]: the 0-day user scores strictly
    # higher than the 20-day user
    r_scores = sorted(r["r_score"] for r in seg)
    assert r_scores[0] < r_scores[-1]


def test_markov_logloss_closed_forms(spark):
    """Deterministic path a->b->a->b...: perplexity 1 (log-loss 0);
    uniform two-way transitions: log-loss ln 2."""
    from pinterest_data_pipeline_spark.operators.markov import (
        markov_logloss,
    )

    d = lambda i: datetime.datetime(2024, 1, 1) + datetime.timedelta(  # noqa: E731
        minutes=i
    )
    det = [("u", d(i), "ab"[i % 2], i) for i in range(10)]
    df = spark.createDataFrame(
        det, "user_id string, ts timestamp, event_type string, event_id long"
    )
    r = markov_logloss(df).collect()[0]
    assert r["avg_logloss_r6"] == 0.0
    assert r["perplexity_r6"] == 1.0
    # two users: a->b and a->c once each — P = 1/2 each, log-loss ln 2
    uni = [("u1", d(0), "a", 0), ("u1", d(1), "b", 1),
           ("u2", d(0), "a", 2), ("u2", d(1), "c", 3)]
    df2 = spark.createDataFrame(
        uni, "user_id string, ts timestamp, event_type string, event_id long"
    )
    r2 = markov_logloss(df2).collect()[0]
    assert r2["avg_logloss_r6"] == round(math.log(2), 6)
    assert r2["perplexity_r6"] == 2.0
    # n_states spans prev ∪ next: b and c only ever END sequences yet
    # still count (r8 advisor fix — prev-only counting said 1)
    assert r2["n_states"] == 3


# --------------------------------------------- retrieval infrastructure
def test_phrase_counts_overlaps_and_order(spark):
    from pinterest_data_pipeline_spark.operators.phrase_index import (
        phrase_match_counts,
    )

    rows = [
        (1, "table hash table hash"),
        (2, "the table hash is here"),
        (3, "hash table only reversed"),
        (4, "no phrase at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_counts(df, ["table", "hash"]).collect()
    }
    assert got == {1: 2, 2: 1}


def test_phrase_three_terms(spark):
    from pinterest_data_pipeline_spark.operators.phrase_index import (
        phrase_match_counts,
    )

    rows = [(1, "a b c a b c"), (2, "a b x c"), (3, "c b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match_counts(df, ["a", "b", "c"]).collect()
    }
    assert got == {1: 2}


def test_average_precision_closed_forms(spark):
    """Perfect ranker AP = 1; relevant docs at ranks 2 and 4 with R=2:
    AP = (1/2 + 2/4)/2 = 0.5."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        average_precision_at_k,
    )

    perfect = [("g", i, 1 if i <= 3 else 0) for i in range(1, 11)]
    df = spark.createDataFrame(perfect, "g string, rank long, rel int")
    r = average_precision_at_k(df, "g", "rank", "rel").collect()[0]
    assert r["ap_r6"] == 1.0
    mixed = [("g", 1, 0), ("g", 2, 1), ("g", 3, 0), ("g", 4, 1)]
    df2 = spark.createDataFrame(mixed, "g string, rank long, rel int")
    r2 = average_precision_at_k(df2, "g", "rank", "rel").collect()[0]
    assert r2["ap_r6"] == 0.5
    none = [("g", 1, 0), ("g", 2, 0)]
    df3 = spark.createDataFrame(none, "g string, rank long, rel int")
    r3 = average_precision_at_k(df3, "g", "rank", "rel").collect()[0]
    assert r3["ap_r6"] is None


def test_pq_gate_zero_violations_and_codes_in_range(spark, sf_dir):
    from pinterest_data_pipeline_spark.operators.pq import pq_train_gate
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    r = pq_train_gate(emb, dim=64, m=8, iterations=1).collect()[0]
    assert r["objective_violations"] == 0
    assert r["range_violations"] == 0
    assert r["n_vectors"] == emb.count()
    assert (r["m_subspaces"], r["k_per_subspace"], r["code_bytes"]) == (
        8,
        16,
        8,
    )


def test_pq_gate_fewer_vectors_than_k_fails_loud(spark):
    """n < k must raise a clear ValueError, not the IndexError the
    empty-cluster fallback would otherwise hit (r8 advisor fix)."""
    from pinterest_data_pipeline_spark.operators.pq import pq_train_gate

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 4) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="at least k=16"):
        pq_train_gate(tiny, dim=4, m=2, iterations=1)


def test_stacked_codebooks_train_like_single_ones(spark, sf_dir):
    """Training two vector columns in one stacked pass returns, bit for
    bit, the codebooks each column trains alone: the stacked (column,
    cluster) aggregate never mixes columns. PQ trains its subspaces
    this way."""
    import json

    from pyspark.sql import functions as F

    from pinterest_data_pipeline_spark.operators.clustering import (
        train_codebooks,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    work = emb.select(
        "vec_id",
        F.slice("embedding", 1, 8).alias("a"),
        F.slice("embedding", 9, 8).alias("b"),
    ).localCheckpoint()
    init, trained = train_codebooks(work, ["a", "b"], "vec_id", 16, 2)
    init_a, trained_a = train_codebooks(work, ["a"], "vec_id", 16, 2)
    init_b, trained_b = train_codebooks(work, ["b"], "vec_id", 16, 2)
    assert json.dumps(init) == json.dumps(init_a + init_b)
    assert json.dumps(trained) == json.dumps(trained_a + trained_b)
    assert trained != init  # the iterations moved the centroids


# ------------------------------------------------------------ time series
def test_dow_seasonality_flat_and_spiked(spark):
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        dow_seasonality,
    )

    d = lambda i: datetime.datetime(2024, 1, 1) + datetime.timedelta(  # noqa: E731
        days=i
    )
    # 2024-01-01 is a Monday; one event per day for 14 days = flat
    flat = [(d(i), 10.0) for i in range(14)]
    df = spark.createDataFrame(flat, "ts timestamp, value double")
    rows = dow_seasonality(df, "ts", "value").collect()
    assert [r["dow"] for r in rows] == list(range(7))
    assert all(r["events_idx_ppm"] == 1_000_000 for r in rows)
    # double the Monday volume: Monday index rises above 1M
    spiked = flat + [(d(0), 10.0), (d(7), 10.0)]
    df2 = spark.createDataFrame(spiked, "ts timestamp, value double")
    monday = {
        r["dow"]: r for r in dow_seasonality(df2, "ts", "value").collect()
    }[0]
    assert monday["events_idx_ppm"] > 1_000_000
    assert monday["n_events"] == 4


def test_cusum_finds_planted_level_shift(spark):
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        cusum_changepoint,
    )

    d = lambda i: datetime.datetime(2024, 3, 1) + datetime.timedelta(  # noqa: E731
        days=i
    )
    rows = [(d(i), 100.0 if i < 10 else 200.0) for i in range(20)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = cusum_changepoint(df, "ts", "value").collect()[0]
    assert r["n_days"] == 20
    assert r["mean_daily_r6"] == 150.0
    # |cusum| peaks at the last pre-shift day (day index 9 = 2024-03-10)
    assert r["changepoint_day"] == "2024-03-10"
    assert r["cusum_peak_r6"] == 500.0
