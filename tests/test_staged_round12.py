"""Behavior tests for the queries in plans/staged_round12.py
(Poisson-bootstrap CI, O'Brien-Fleming interim looks, span-corruption
planning, profile drift, mutual nearest neighbors, LSH-cell
Davies-Bouldin, label-propagation communities, Fellegi-Sunter link
weights), pinned on constructed data. Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from pinterest_data_pipeline_spark.plans.registry import QUERIES
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round12")


def test_promotion_split_matches_plan():
    """All 8 builders in plans/staged_round12.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 8


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



# ---------------------------------------------------------- bootstrap


def test_poisson_thresholds_are_a_cdf():
    """Monotone, start ≈ e^-1·2^32, end ≈ 2^32 (tail mass ~1e-7)."""
    from pinterest_data_pipeline_spark.operators.bootstrap import (
        POISSON_CDF_U32,
    )

    assert POISSON_CDF_U32 == sorted(POISSON_CDF_U32)
    assert abs(POISSON_CDF_U32[0] / 2**32 - 0.3678794) < 1e-6
    assert POISSON_CDF_U32[-1] / 2**32 > 0.9999988


def test_bootstrap_ci_brackets_mean_and_weights_conserve(spark):
    """On a well-behaved planted sample the 95% CI must bracket the
    full-sample mean, sit strictly inside the data range, and the
    realized Poisson weights must average ≈ 1 (mass conservation — a
    broken threshold table would inflate or starve every resample)."""
    from pinterest_data_pipeline_spark.operators.bootstrap import (
        poisson_bootstrap_mean_ci,
        poisson_weight,
    )
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

    df = spark.range(0, 2000).select(
        F.lit("g").alias("g"),
        F.col("id").alias("id"),
        (F.col("id") % 100).cast("long").alias("cents"),
    )
    out = poisson_bootstrap_mean_ci(df, ["g"], "id", "cents").collect()[0]
    assert out["n_rows"] == 2000 and out["n_resamples"] == 64
    assert out["ci_lo_r6"] <= out["mean_r6"] <= out["ci_hi_r6"]
    assert out["ci_lo_r6"] > 40 and out["ci_hi_r6"] < 60  # mean 49.5

    w = (
        spark.range(0, 50_000)
        .select(
            poisson_weight(
                portable_hash32(F.col("id").cast("string"))
            ).alias("w")
        )
        .agg(F.avg("w"))
        .collect()[0][0]
    )
    assert abs(w - 1.0) < 0.02


# ------------------------------------------------------ OBF sequential


def test_obf_hand_counts(spark):
    """Closed-form z on planted cumulative counts; OBF boundary shrinks
    as C·√(K/k); a huge final-look effect crosses, an early modest one
    does not (the whole point of alpha spending)."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        group_sequential_obf,
    )

    looks = spark.createDataFrame(
        [
            (1, 100, 30, 100, 20),
            (5, 500, 200, 500, 100),
        ],
        "look int, n_treat long, conv_treat long, n_ctrl long, conv_ctrl long",
    )
    out = {r["look"]: r for r in group_sequential_obf(looks, "look").collect()}
    assert out[1]["z_r6"] == pytest.approx(1.632993, abs=1e-6)
    assert out[1]["boundary_r6"] == pytest.approx(2.04 * 5**0.5, abs=1e-5)
    assert not out[1]["crossed"]  # |1.63| < 4.56: early peek spends ~no alpha
    assert out[5]["z_r6"] == pytest.approx(6.900656, abs=1e-5)
    assert out[5]["boundary_r6"] == pytest.approx(2.04, abs=1e-6)
    assert out[5]["crossed"]
    assert out[1]["boundary_r6"] > out[5]["boundary_r6"]


# ------------------------------------------------- span corruption plan


def test_span_plan_bounds_and_rate(spark):
    """Spans live inside the token axis, segments keep them disjoint,
    the realized corruption rate sits at ~15% for long docs, and
    sub-span docs are excluded."""
    from pinterest_data_pipeline_spark.operators.corruption import (
        SPAN_LEN,
        span_corruption_plan,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(200))),
            (2, " ".join(f"t{i}" for i in range(7))),
            (3, "a b"),  # 2 tokens < SPAN_LEN: no legal span
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in span_corruption_plan(
        docs, "doc_id", "text"
    ).collect()}
    assert 3 not in out
    long_doc = out[1]
    assert long_doc["n_spans"] == 10  # round(200·0.05)
    assert long_doc["corrupted_tokens"] == 30
    assert long_doc["corruption_ppm"] == 150_000
    assert 0 <= long_doc["first_start"]
    assert long_doc["last_start"] + SPAN_LEN <= 200
    short = out[2]
    assert short["n_spans"] == 1 and 0 <= short["first_start"] <= 4


# ------------------------------------------------------- profile drift


def test_profile_drift_deltas_match_planted_mutations(spark, sf_dir):
    """The drift rows must equal independently-counted mutation
    effects: dropped rows, nulled statuses (net of drops), and the
    key NDV tracking the row count."""
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    rows = {
        (r["col_name"], r["stat"]): r
        for r in QUERIES["profile_drift_audit"](spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    n_dropped = o.where(F.col("k") % 1013 == 7).count()
    n_nulled = o.where(
        (F.col("k") % 503 == 1) & (F.col("k") % 1013 != 7)
    ).count()
    assert rows[("table", "n_rows")]["delta"] == -n_dropped
    assert rows[("k", "ndv")]["delta"] == -n_dropped
    assert rows[("status", "nulls")]["delta"] == n_nulled
    assert rows[("status", "nulls")]["v1"] == 0


# --------------------------------------------------------- mutual NN


def test_mutual_nn_planted_pairs_exclude_hub(spark):
    """Two tight pairs are mutual; a hub vector whose top-1 is one of
    them is NOT (its target's top-1 is its own partner) — reciprocity
    is exactly the filter that drops it."""
    import math

    from pinterest_data_pipeline_spark.operators.similarity import (
        mutual_top1_pairs,
    )

    def vec(deg):
        r = math.radians(deg)
        return [float(math.cos(r)), float(math.sin(r))]

    rows = [
        (1, vec(0.0)), (2, vec(1.0)),      # tight pair A
        (10, vec(90.0)), (11, vec(91.0)),  # tight pair B
        (99, vec(5.0)),                    # hub near pair A
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in mutual_top1_pairs(df).collect()
    }
    assert pairs == {(1, 2), (10, 11)}


# ------------------------------------------------------ DB cell quality


def test_db_index_two_separated_blobs(spark):
    """Two tight, far-apart blobs along the first seed-7 plane's axis:
    both cells must exist, every member lands with its blob, scatter is
    tiny relative to separation, so DB score ≪ 1."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        lsh_cell_quality_db,
    )
    from pinterest_data_pipeline_spark.operators.similarity import (
        _hyperplanes,
    )

    plane = _hyperplanes(64, 32, 7)[0]
    pos = [[10.0 * p for p in plane]] * 5          # far along +plane
    neg = [[-10.0 * p for p in plane]] * 5         # far along −plane
    rows = [(i, v) for i, v in enumerate(pos + neg)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = lsh_cell_quality_db(df).collect()
    assert sum(r["n_members"] for r in out) == 10
    assert len(out) == 2
    for r in out:
        assert r["n_members"] == 5
        assert r["db_r6"] < 0.1


# ------------------------------------------------------------- LPA


def test_lpa_barbell_two_communities(spark):
    """Two triangles bridged by one edge resolve to two communities
    labeled by each triangle's smallest node id; fixed synchronous
    rounds with self-vote make the trajectory deterministic."""
    from pinterest_data_pipeline_spark.operators.labelprop import (
        community_sizes,
        label_propagation,
    )

    und = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (4, 6), (5, 6)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    sizes = {
        r["community"]: r["n_nodes"]
        for r in community_sizes(edges).collect()
    }
    assert sizes == {1: 3, 4: 3}

    with pytest.raises(ValueError, match="iterations"):
        label_propagation(edges, iterations=0)


def _reference_lpa(edges, iterations):
    """Synchronous LPA in plain Python: each node's votes are its own
    label plus one per (node, neighbour) edge row, ties to the smallest.
    None is a node (SQL GROUP BY); an edge into None never joins, so it
    casts no vote, and a None label loses every tie (NULLS LAST)."""
    from collections import Counter

    nodes = {v for e in edges for v in e}
    labels = {v: v for v in nodes}
    for _ in range(iterations):
        votes = {v: Counter([labels[v]]) for v in nodes}
        for src, dst in edges:
            if dst is not None:
                votes[src][labels[dst]] += 1
        labels = {
            v: min(c, key=lambda lab: (-c[lab], lab is None, lab or 0))
            for v, c in votes.items()
        }
    return labels


def _random_graphs(n_graphs=8):
    """Seeded small directed graphs on disjoint id ranges (so one run
    covers them all), each with an input self-loop, a duplicate edge and
    a node that appears only as a destination; NULL ids at both ends."""
    import random

    edges = [(None, 4), (4, 2), (None, 3), (None, None), (2, None)]
    for g in range(n_graphs):
        rng = random.Random(g)
        ids = [1000 * (g + 1) + i for i in rng.sample(range(100), rng.randint(3, 9))]
        graph = [(rng.choice(ids), rng.choice(ids)) for _ in range(2 * len(ids))]
        dst_only = 1000 * (g + 1) + 500
        graph += [(ids[0], ids[0]), graph[0], (ids[1], dst_only)]
        edges += graph
    return edges


@pytest.mark.parametrize("iterations", [1, 2, 3, 4])
def test_lpa_matches_reference_with_one_barrier(spark, monkeypatch, iterations):
    """Self-loops, duplicate edges, dst-only nodes, NULL ids and ties
    give exactly the pure-Python synchronous LPA, and the whole run
    takes one localCheckpoint (the edge barrier) whatever the round
    count."""
    from pinterest_data_pipeline_spark.operators.labelprop import (
        label_propagation,
    )

    edges = _random_graphs()
    df = spark.createDataFrame(edges, "src long, dst long")
    cls = type(df)
    checkpoints = []
    original = cls.localCheckpoint

    def counting(self, *args, **kwargs):
        checkpoints.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", counting)
    labels = label_propagation(df, iterations=iterations)
    assert len(checkpoints) == 1
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == _reference_lpa(edges, iterations)


def test_lpa_shuffles_edges_once_per_action(spark):
    """Under AQE the checkpointed edges lose their layout, so every
    round's join exchanges them; those exchanges must be ONE shuffle the
    action reuses, not an |E| shuffle per round. Broadcast joins are off
    so the rounds plan as the shuffle joins they are at scale."""
    import contextlib
    import io

    from pinterest_data_pipeline_spark.operators.labelprop import (
        label_propagation,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = spark.createDataFrame(_random_graphs(), "src long, dst long")
        labels = label_propagation(df, iterations=4)
        labels.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            labels.explain()
    finally:
        spark.conf.set(key, old)
    final = buf.getvalue().split("== Initial Plan ==")[0]
    edge_side = [
        line for line in final.splitlines() if "hashpartitioning(coalesce(dst#" in line
    ]
    reused = [line for line in edge_side if "ReusedExchange" in line]
    # rounds 2-4 join the edges: one exchange, reused by the other two
    assert (len(edge_side), len(reused)) == (3, 2), final


def test_lpa_handles_extreme_and_string_ids(spark):
    """Ties break on the ids themselves, so the extreme longs and string
    ids propagate like any other: on the 4-node graph (m,5),(5,6),(m,6),
    (6,7) with m = -2**63 every node ends labeled m after 2 rounds, and
    every run equals the pure-Python synchronous LPA."""
    from pinterest_data_pipeline_spark.operators.labelprop import (
        label_propagation,
    )

    def run(edges, ddl, iterations):
        df = spark.createDataFrame(edges, ddl)
        return {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=iterations).collect()
        }

    lo, hi = -(2**63), 2**63 - 1
    quad = [(lo, 5), (5, 6), (lo, 6), (6, 7)]
    assert run(quad + [(b, a) for a, b in quad], "src long, dst long", 2) == {
        lo: lo, 5: lo, 6: lo, 7: lo
    }
    und = quad + [(hi, 8), (8, 9), (hi, 9), (9, None)]
    longs = und + [(b, a) for a, b in und]
    strs = [("b", "a"), ("a", "b"), ("b", "c"), ("c", "d"), ("d", "c"), (None, "a")]
    for edges, ddl in ((longs, "src long, dst long"), (strs, "src string, dst string")):
        for iterations in (1, 2, 3, 4):
            assert run(edges, ddl, iterations) == _reference_lpa(edges, iterations), (
                ddl, iterations,
            )


def test_lpa_votes_in_one_aggregation_per_round(spark, sf_dir):
    """Each round plans ONE aggregation exchange keyed on the node (the
    vote count and the smallest-label tie break in the same aggregate),
    besides the round join's null-safe exchanges; and building
    lpa_purchasing_communities fires at most 2 construction jobs (the
    edge barrier's upstream shuffle stages: no repartition before it)."""
    import contextlib
    import io
    import re

    from pinterest_data_pipeline_spark.operators.labelprop import (
        label_propagation,
    )
    from tests.test_declared_schemas import _jobs_fired

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = spark.createDataFrame(_random_graphs(), "src long, dst long")
        for k in (1, 2, 4):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                label_propagation(df, iterations=k).explain()
            exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", buf.getvalue())
            votes = [e for e in exchanges if not e.startswith("coalesce(")]
            assert len(votes) == k, exchanges
            assert all(re.fullmatch(r"node#\d+L?, \d+", e) for e in votes), votes
    finally:
        spark.conf.set(key, old)

    lpa = QUERIES["lpa_purchasing_communities"]
    assert len(_jobs_fired(spark, lambda: lpa(spark, sf_dir))) <= 2


# --------------------------------------------------------- Fellegi-Sunter


def test_fs_weights_closed_form(spark):
    """Hand-built candidates with known m/u: weight of the all-agree
    pattern equals the closed-form Σ log2((am+1)/(tm+2) ÷ (au+1)/(tu+2)),
    agreement evidence is positive, disagreement negative, and the
    all-agree pattern dominates every other observed pattern."""
    import math

    from pinterest_data_pipeline_spark.operators.linkage import (
        fellegi_sunter_pattern_weights,
    )

    # 10 matches: 8 agree on f1, all 10 on f2; 90 non-matches: 9 agree
    # on f1, 45 on f2.
    rows = []
    rows += [(True, True, True)] * 8 + [(False, True, True)] * 2
    rows += [(True, True, False)] * 9 + [(False, True, False)] * 36
    rows += [(False, False, False)] * 45
    df = spark.createDataFrame(rows, "f1 boolean, f2 boolean, is_match boolean")
    out = {
        (r["f1"], r["f2"]): r["weight_r6"]
        for r in fellegi_sunter_pattern_weights(df, ["f1", "f2"]).collect()
    }
    m1, u1 = (8 + 1) / 12, (9 + 1) / 92
    m2, u2 = (10 + 1) / 12, (45 + 1) / 92
    expect = round(math.log2(m1 / u1) + math.log2(m2 / u2), 6)
    assert out[(True, True)] == pytest.approx(expect, abs=1e-6)
    assert out[(True, True)] > 0
    assert out[(False, False)] < 0
    assert all(out[(True, True)] >= v for v in out.values())


def test_fs_registered_matches_concentrate(spark, sf_dir):
    """On the re-entry scenario, true matches must sit overwhelmingly
    in patterns agreeing on name (the near-unique field), and the
    all-agree pattern must carry the maximum weight."""
    rows = QUERIES["fellegi_sunter_link_weights"](
        spark, sf_dir
    ).collect()
    n_match_name = sum(r["n_match"] for r in rows if r["a_name"])
    n_match_total = sum(r["n_match"] for r in rows)
    assert n_match_total > 0
    # typo rate is 1-in-10 of twins; at sf0.001's 22 twins the integer
    # granularity puts the agree share at 19/22, so the bound is 0.75
    assert n_match_name / n_match_total > 0.75
    best = max(rows, key=lambda r: r["weight_r6"])
    assert best["a_name"] and best["a_bal"]
