"""Unit tests for the graph / time-series / profiling families beyond the
oracle parity rows: structural properties (mass conservation, frame
boundaries, row conservation) and plan shape (single scan)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.pagerank import (
    MICRO,
    pagerank_fixed_point,
    symmetric_edges,
)
from pinterest_data_pipeline_spark.plans.profiling_ops import (
    profile_documents_columns,
)
from pinterest_data_pipeline_spark.plans.timeseries_ops import (
    event_transition_matrix,
    rolling_1h_user_value,
)
from pinterest_data_pipeline_spark.sources.parquet import load_table


def test_pagerank_star_graph_center_dominates(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d")], "u string, v string"
    )
    ranks = {
        r["node"]: r["rank_micro"]
        for r in pagerank_fixed_point(symmetric_edges(pairs, "u", "v")).collect()
    }
    assert set(ranks) == {"a", "b", "c", "d"}
    # leaves are symmetric → identical ranks; the hub collects 3 full
    # contributions per round and must dominate
    assert ranks["b"] == ranks["c"] == ranks["d"]
    assert ranks["a"] > ranks["b"]


def test_pagerank_mass_approximately_conserved(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")],
        "u string, v string",
    )
    edges = symmetric_edges(pairs, "u", "v")
    ranks = pagerank_fixed_point(edges)
    total = ranks.agg(F.sum("rank_micro")).collect()[0][0]
    n = 4
    # integer floor losses only shrink mass, bounded by |E| micro-units
    # per iteration; with damping the fixed total is n * MICRO
    assert n * MICRO * 0.999 <= total <= n * MICRO


def test_rolling_1h_matches_pandas_recompute(spark, sf_dir):
    out = rolling_1h_user_value(spark, sf_dir).toPandas()
    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("sec"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .toPandas()
    )
    # recompute the trailing-1h frame naively for the busiest user
    uid = ev["user_id"].value_counts().index[0]
    mine = ev[ev["user_id"] == uid]
    got = out[out["user_id"] == uid].set_index("event_id")
    assert len(got) == len(mine)
    for _, row in mine.iterrows():
        frame = mine[(mine["sec"] >= row["sec"] - 3600) & (mine["sec"] <= row["sec"])]
        assert got.loc[row["event_id"], "n_1h"] == len(frame)
        expect_cents = frame["cents"].dropna().sum()
        have = got.loc[row["event_id"], "cents_1h"]
        if frame["cents"].dropna().empty:
            assert pd.isna(have)
        else:
            assert have == expect_cents


def test_transition_matrix_conserves_transitions(spark, sf_dir):
    out = event_transition_matrix(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every event except each user's first contributes exactly one transition
    assert out.agg(F.sum("n_trans")).collect()[0][0] == n_events - n_users
    # ppm rows per prev_type sum to ≤ 1e6 and > 1e6 - n_types (floor loss)
    sums = (
        out.groupBy("prev_type").agg(F.sum("p_ppm").alias("s"), F.count("*").alias("k"))
    ).collect()
    for r in sums:
        assert 1_000_000 - r["k"] < r["s"] <= 1_000_000


def test_profile_documents_is_single_scan(spark, sf_dir):
    df = profile_documents_columns(spark, sf_dir)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    # formatted explain prints each scan once in the tree and once in the
    # node details; count the unique file-index mentions instead
    assert text.count("InMemoryFileIndex") == 1, text
