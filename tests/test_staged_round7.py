"""Behavior tests for the spatial / retrieval / experimentation /
spectral / decay queries in plans/staged_round7.py: grid join ≡ brute
force, EWMA dyadic exactness, CUPED θ vs a numpy replay, and
power-iteration recovery of a planted dominant direction. Their oracle parity against the DuckDB oracles runs below, at
sf0.001 and sf0.01.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from pinterest_data_pipeline_spark.plans.registry import QUERIES
from tests.oracle_utils import check_query, module_queries

ROUND_QUERIES = module_queries("staged_round7")


def test_staged_queries_are_promoted():
    """All 17 builders in plans/staged_round7.py are registered: a
    lost @register would drop its query from the driver surface."""
    assert len(ROUND_QUERIES) == 17


def test_every_staged_query_has_an_oracle():
    assert set(ROUND_QUERIES) <= set(entry_mod.oracle_sql())


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", ROUND_QUERIES)
def test_staged_query_matches_oracle(spark, name, sf):
    problems = check_query(spark, name, f"/root/testdata/{sf}", nonempty=True)
    assert not problems, f"{name}@{sf}: {problems}"



# ------------------------------------------------------------------ geo


def test_grid_radius_join_equals_brute_force(spark):
    """The banding cross-check on constructed points: the 3×3-cell
    candidate join must find EXACTLY the brute-force pair set —
    including pairs straddling a cell boundary (the off-by-one the 3×3
    neighborhood exists to catch)."""
    from pinterest_data_pipeline_spark.operators.geo import grid_radius_pairs

    r = 1000
    pts = [
        (1, 5000, 5000),
        (2, 5999, 5000),   # within r of 1, same cell band
        (3, 6001, 5000),   # within r of 2, different lat cell
        (4, 5000, 6999),   # ~2r from 1 in lon: out of range
        (5, 50000, 50000),  # far away
        (6, 999, 999),     # near origin-cell corner
        (7, 1001, 1001),   # cell-diagonal neighbor of 6, within r
    ]
    df = spark.createDataFrame(pts, "id long, lat long, lon long")
    got = {
        (x["id_a"], x["id_b"], x["d2_micro"])
        for x in grid_radius_pairs(df, "id", "lat", "lon", r).collect()
    }
    brute = set()
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            a, b = pts[i], pts[j]
            d2 = (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2
            if d2 <= r * r:
                lo, hi = sorted((a[0], b[0]))
                brute.add((lo, hi, d2))
    assert got == brute
    assert (6, 7, 8) in got  # the cell-diagonal pair survived banding


def test_nearest_within_radius_total_order_tiebreak(spark):
    """Two equidistant neighbors: the smaller id must win (d² ASC,
    id ASC), and a probe with an empty neighborhood yields no row."""
    from pinterest_data_pipeline_spark.operators.geo import (
        nearest_within_radius,
    )

    pts = spark.createDataFrame(
        [(10, 0, 0), (11, 0, 100), (12, 100, 0), (99, 900000, 900000)],
        "id long, lat long, lon long",
    )
    probes = pts.filter(F.col("id").isin(10, 99))
    out = {
        r["probe_id"]: (r["nn_id"], r["d2_micro"])
        for r in nearest_within_radius(
            probes, pts, "id", "lat", "lon", 1000
        ).collect()
    }
    assert out == {10: (11, 10000)}  # 11 beats equidistant 12; 99 empty


# ----------------------------------------------------------------- ewma


def test_ewma_half_latest_exact_weights(spark):
    """Constructed series: weights must be 1/2, 1/4, ... with the
    oldest retained event absorbing the tail, and histories shorter
    than k must sum weights to exactly 1."""
    from pinterest_data_pipeline_spark.operators.trend import ewma_half_latest

    rows = [
        # user 1: 3 events, latest value 800, then 400, oldest 100
        (1, 3, 800), (1, 2, 400), (1, 1, 100),
        # user 2: a single event — EWMA is that value exactly
        (2, 1, 777),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long, cents long")
    out = {
        r["user_id"]: (r["n_events"], r["ewma_cents"])
        for r in ewma_half_latest(
            df, "user_id", "ts", "cents", k=4
        ).collect()
    }
    # user 1: 800/2 + 400/4 + 100/4 (oldest absorbs tail 2^-(3-1))
    assert out[1] == (3, 400.0 + 100.0 + 25.0)
    assert out[2] == (1, 777.0)


def test_ewma_rejects_out_of_range_k(spark):
    from pinterest_data_pipeline_spark.operators.trend import ewma_half_latest

    df = spark.createDataFrame([(1, 1, 1)], "user_id long, ts long, cents long")
    with pytest.raises(ValueError):
        ewma_half_latest(df, "user_id", "ts", "cents", k=40)


# ----------------------------------------------------------------- bm25


def test_bm25_matches_pure_python(spark):
    """Tiny corpus, hand-computed Okapi BM25 (k1=1.2, b=0.75)."""
    from pinterest_data_pipeline_spark.operators.ranking import bm25_scores

    corpus = [
        (0, "apple banana apple"),
        (1, "banana cherry"),
        (2, "durian elderberry fig"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_matched"], r["bm25_r6"])
        for r in bm25_scores(df, ["apple", "banana"]).collect()
    }
    texts = {d: t.split() for d, t in corpus}
    n, avgdl = 3, sum(len(t) for t in texts.values()) / 3
    dfreq = {
        q: sum(1 for t in texts.values() if q in t)
        for q in ("apple", "banana")
    }

    def bm25(doc):
        toks = texts[doc]
        s = 0.0
        m = 0
        for q in sorted(("apple", "banana")):
            tf = toks.count(q)
            if not tf:
                continue
            m += 1
            idf = math.log(1.0 + (n - dfreq[q] + 0.5) / (dfreq[q] + 0.5))
            s += idf * (tf * 2.2) / (
                tf + 1.2 * (0.25 + (0.75 * len(toks)) / avgdl)
            )
        return m, round(s, 6)

    assert got == {0: bm25(0), 1: bm25(1)}  # doc 2 matches nothing


def test_rrf_fuses_without_scale(spark):
    """A row ranked 1st and 3rd must outscore a row ranked 2nd and 2nd
    at k=60 (1/61 + 1/63 > 2/62), pinning the harmonic fusion rule."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        reciprocal_rank_fusion,
    )

    df = spark.createDataFrame(
        [(1, 30, 5), (2, 20, 6), (3, 10, 7)],
        "id long, a long, b long",
    )
    out = reciprocal_rank_fusion(
        df,
        "id",
        {
            "a": [F.col("a").desc(), F.col("id").asc()],
            "b": [F.col("b").desc(), F.col("id").asc()],
        },
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["rank_a"] == 1 and by_id[1]["rank_b"] == 3
    assert by_id[2]["rank_a"] == 2 and by_id[2]["rank_b"] == 2
    assert by_id[1]["rrf_r6"] > by_id[2]["rrf_r6"]
    assert out[0]["id"] == 1  # ordered by fused score


# ---------------------------------------------------------------- cuped


def test_cuped_matches_numpy_regression(spark):
    """θ and adjusted arm means vs a float replay on constructed units;
    CUPED must shrink the arm gap when the 'lift' is pure pre-period
    selection bias (post == pre ⇒ adjusted means equalize toward the
    grand mean)."""
    import numpy as np

    from pinterest_data_pipeline_spark.operators.experiment import (
        cuped_adjusted_means,
    )

    units = [
        ("treatment", 1000, 1100),
        ("treatment", 2000, 2050),
        ("control", 500, 600),
        ("control", 1500, 1450),
        ("control", 800, 900),
    ]
    df = spark.createDataFrame(
        units, "arm string, pre_cents long, post_cents long"
    )
    out = {r["arm"]: r for r in cuped_adjusted_means(df).collect()}
    x = np.array([u[1] for u in units], dtype=float)
    y = np.array([u[2] for u in units], dtype=float)
    theta = ((len(x) * (x * y).sum() - x.sum() * y.sum())
             / (len(x) * (x * x).sum() - x.sum() ** 2))
    assert out["treatment"]["theta_r6"] == pytest.approx(theta, abs=1e-6)
    for arm in ("treatment", "control"):
        sel = [u for u in units if u[0] == arm]
        mp = sum(u[2] for u in sel) / len(sel)
        mx = sum(u[1] for u in sel) / len(sel)
        adj = (mp - theta * (mx - x.mean())) / 100.0
        assert out[arm]["cuped_mean_r6"] == pytest.approx(adj, abs=1e-6)
    raw_gap = abs(out["treatment"]["mean_post_r6"] - out["control"]["mean_post_r6"])
    adj_gap = abs(out["treatment"]["cuped_mean_r6"] - out["control"]["cuped_mean_r6"])
    assert adj_gap < raw_gap  # selection bias removed


# ----------------------------------------------------- shards / deciles


def test_interleave_shards_are_balanced_per_source(spark, sf_dir):
    """Round-robin dealing: within every source, shard sizes differ by
    at most 1 and every document lands in exactly one shard."""
    out = QUERIES["curriculum_interleave_shards"](
        spark, sf_dir
    ).collect()
    per_source: dict[str, list[int]] = {}
    for r in out:
        per_source.setdefault(r["source"], []).append(r["n_docs"])
    for source, counts in per_source.items():
        assert max(counts) - min(counts) <= 1, (source, counts)


def test_decile_cutpoints_are_monotone(spark, sf_dir):
    """Within a source, decile margin ranges must be non-overlapping
    and ordered: hi(d) >= lo(d) >= hi(d+1)."""
    out = QUERIES["quality_decile_calibration"](spark, sf_dir).collect()
    per_source: dict[str, dict[int, tuple[int, int]]] = {}
    for r in out:
        per_source.setdefault(r["source"], {})[r["decile"]] = (
            r["margin_hi"],
            r["margin_lo"],
        )
    for source, cells in per_source.items():
        for d in sorted(cells)[:-1]:
            hi, lo = cells[d]
            nhi, _ = cells[d + 1]
            assert hi >= lo >= nhi, (source, d, cells[d], cells[d + 1])


# ------------------------------------------------------- power iteration


def test_power_iteration_recovers_planted_direction(spark):
    """Anisotropic cloud: points hugging the e0+e1 diagonal (with tiny
    deterministic noise elsewhere) must converge to a direction whose
    first two components dominate and agree in sign."""
    from pinterest_data_pipeline_spark.operators.spectral import (
        power_iteration_top_direction,
    )

    rows = []
    for i in range(200):
        v = [0.0] * 8
        mag = 1.0 + (i % 7) * 0.5
        v[0] = mag
        v[1] = mag * 0.9
        v[2 + i % 6] = 0.05 * ((i % 3) - 1)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vec = power_iteration_top_direction(df, dim=8, iterations=4)
    assert abs(vec[0]) == 1000  # dominant axis at full normalization
    assert abs(vec[1]) > 800
    assert vec[0] * vec[1] > 0  # same sign as the planted diagonal
    assert all(abs(c) < 200 for c in vec[2:])


def test_power_iteration_matches_python_replay(spark, sf_dir):
    """Bit-exactness on real data: the Spark run must equal a pure
    Python-integer replay of the same quantize/mat-vec/renormalize
    steps (the oracle's semantics, independently implemented)."""
    from pinterest_data_pipeline_spark.operators.spectral import (
        power_iteration_top_direction,
    )
    from pinterest_data_pipeline_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = power_iteration_top_direction(emb, dim=64, iterations=3)

    def round_half_away(t: float) -> int:
        # Spark's round() is HALF_UP (away from zero), Python's round()
        # is half-to-even — 62.5 (an exact float32×1000 product) would
        # diverge; t - floor(t) is exact for |t| < 2^52, so the
        # comparison below is decision-exact
        m = math.floor(t)
        frac = t - m
        if frac > 0.5 or (frac == 0.5 and t >= 0):
            return m + 1
        return m

    data = [
        [round_half_away(float(x) * 1000) for x in r["embedding"]]
        for r in emb.select("embedding").collect()
    ]
    v = [1000] * 64
    for _ in range(3):
        w = [0] * 64
        for x in data:
            dot = sum(a * b for a, b in zip(x, v))
            for i in range(64):
                w[i] += dot * x[i]
        m = max(abs(c) for c in w)
        v = [(abs(c) * 1000 // m) * (1 if c >= 0 else -1) for c in w]
    assert got == v


def test_triplet_mining_planted_structure(spark):
    """Planted geometry: anchor [1,0], same-label near-duplicate at
    10°, different-label vectors at 30° (the hard negative) and 80°
    (easy). The miner must pick the 10° positive and the 30° negative,
    and the margin must be cos(10°)−cos(30°)."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        triplet_mining,
    )

    def vec(deg):
        r = math.radians(deg)
        return [float(math.cos(r)), float(math.sin(r))]

    rows = [
        (0, 0, vec(0.0)),    # anchor
        (1, 0, vec(10.0)),   # hardest positive
        (2, 0, vec(25.0)),   # weaker positive
        (3, 1, vec(30.0)),   # hardest negative
        (4, 1, vec(80.0)),   # easy negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = triplet_mining(df, df.filter(F.col("vec_id") == 0)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["positive_id"], r["negative_id"]) == (1, 3)
    assert r["pos_score"] > r["neg_score"] > 0
    assert r["margin_r6"] == round(r["pos_score"] - r["neg_score"], 6)


def test_mmr_prefers_diverse_over_redundant(spark):
    """The defining MMR behavior pure top-k lacks: after picking the
    best candidate, its near-clone (rel 0.98, sim 0.99 to the pick)
    must LOSE to a less relevant but diverse candidate (rel 0.60,
    sim 0.10)."""
    from pinterest_data_pipeline_spark.operators.ranking import mmr_rerank

    pool = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 0.98), (1, 12, 0.6)],
        "query_id long, cand_id long, rel double",
    )
    sims_rows = []
    sim = {(10, 11): 0.99, (10, 12): 0.1, (11, 12): 0.12}
    for (a, b), s in sim.items():
        sims_rows += [(1, a, b, s), (1, b, a, s)]
    sims = spark.createDataFrame(
        sims_rows, "query_id long, id_a long, id_b long, sim double"
    )
    out = {
        r["step"]: r for r in mmr_rerank(pool, sims, select_k=3).collect()
    }
    assert out[1]["cand_id"] == 10  # pure relevance
    assert out[2]["cand_id"] == 12  # diversity beats the near-clone
    assert out[3]["cand_id"] == 11  # clone picked last
    # step-2 arithmetic: 0.5*0.6 - 0.5*0.1 = 0.25 vs clone's
    # 0.5*0.98 - 0.5*0.99 = -0.005
    assert out[2]["mmr_r6"] == 0.25


def test_kappa_textbook_2x2(spark):
    """Cohen's 1960 worked example: po = 0.70, pe = 0.545,
    kappa = (0.70-0.545)/(1-0.545) ≈ 0.340659."""
    rows = (
        [(True, True)] * 25
        + [(True, False)] * 10
        + [(False, True)] * 20
        + [(False, False)] * 45
    )
    from pinterest_data_pipeline_spark.operators.experiment import (
        agreement_kappa,
    )

    df = spark.createDataFrame(rows, "label_a boolean, label_b boolean")
    r = agreement_kappa(df).collect()[0]
    assert (r["n_docs"], r["both_pos"], r["both_neg"]) == (100, 25, 45)
    assert (r["a_pos"], r["b_pos"]) == (35, 45)
    assert r["po_r6"] == 0.7
    assert r["pe_r6"] == round((35 * 45 + 65 * 55) / 10000, 6)
    assert r["kappa_r6"] == round(
        (100 * 70 - (35 * 45 + 65 * 55)) / (10000 - (35 * 45 + 65 * 55)), 6
    )


def test_kappa_zero_for_chance_agreement(spark):
    """Independent uniform annotators: every cell 25 → po = pe = 0.5,
    kappa exactly 0 (the chance-correction property raw agreement
    lacks)."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        agreement_kappa,
    )

    rows = (
        [(True, True)] * 25
        + [(True, False)] * 25
        + [(False, True)] * 25
        + [(False, False)] * 25
    )
    df = spark.createDataFrame(rows, "label_a boolean, label_b boolean")
    r = agreement_kappa(df).collect()[0]
    assert r["po_r6"] == 0.5
    assert r["pe_r6"] == 0.5
    assert r["kappa_r6"] == 0.0


def test_cooccurrence_counts_and_cap(spark):
    """Hand-checked co-counts, and the power-user cap: user 9 touches
    items 1..5 but only the 3 smallest ids survive max_items_per_user=3,
    so (4,5) pairs from that user never form."""
    from pinterest_data_pipeline_spark.operators.cooccurrence import (
        item_cooccurrence,
    )

    rows = [
        (1, 10), (1, 20),
        (2, 10), (2, 20),
        (3, 10), (3, 20),
        (3, 10),            # duplicate interaction — must not double-count
        (4, 10), (4, 30),
        (9, 1), (9, 2), (9, 3), (9, 4), (9, 5),
    ]
    df = spark.createDataFrame(rows, "user_id long, item_id long")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in item_cooccurrence(
            df, max_items_per_user=3, min_pair_count=1
        ).collect()
    }
    r = out[(10, 20)]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (3, 4, 3)
    assert r["cosine_r6"] == round(3 / math.sqrt(12), 6)
    assert (10, 30) in out
    # capped user 9: items 4 and 5 dropped entirely
    assert (1, 2) in out and (2, 3) in out
    assert all(4 not in p and 5 not in p for p in out)


def test_ztest_hand_computed_and_degenerate(spark):
    """12/20 vs 6/20 conversions: z = (0.6-0.3)/sqrt(0.45*0.55*0.1);
    and a run where EVERY unit converts must yield NULL z (pooled
    variance 0), not an error."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        two_proportion_ztest,
    )

    rows = (
        [("treatment", True)] * 12
        + [("treatment", False)] * 8
        + [("control", True)] * 6
        + [("control", False)] * 14
    )
    df = spark.createDataFrame(rows, "arm string, converted boolean")
    r = two_proportion_ztest(df).collect()[0]
    assert (r["n_treat"], r["conv_treat"], r["n_ctrl"], r["conv_ctrl"]) == (
        20, 12, 20, 6,
    )
    assert r["p_treat_r6"] == 0.6 and r["p_ctrl_r6"] == 0.3
    expect = (0.6 - 0.3) / math.sqrt(0.45 * 0.55 * (1 / 20 + 1 / 20))
    assert r["z_r6"] == round(expect, 6)

    allconv = spark.createDataFrame(
        [("treatment", True)] * 3 + [("control", True)] * 3,
        "arm string, converted boolean",
    )
    r2 = two_proportion_ztest(allconv).collect()[0]
    assert r2["z_r6"] is None
    assert r2["lift_r6"] == 0.0


def test_ndcg_perfect_and_inverted_rankers(spark):
    """A ranker that orders exactly by grade gets NDCG 1; the inverted
    ranker scores the hand-computed DCG ratio; both sums match the
    closed-form python replay."""
    from pinterest_data_pipeline_spark.operators.ranking import ndcg_at_k

    grades = [3, 2, 1, 0]
    rows = [("s", i + 1, g, i) for i, g in enumerate(grades)]
    df = spark.createDataFrame(
        rows, "source string, rank int, grade long, doc_id long"
    )
    r = ndcg_at_k(df, "source", "rank", "grade", "doc_id", k=4).collect()[0]
    ideal = sum(
        (2**g - 1) / math.log(i + 2) for i, g in enumerate(grades)
    )
    assert r["ndcg_r6"] == 1.0
    assert r["dcg_r6"] == round(ideal, 6)

    inv = [("s", i + 1, g, i) for i, g in enumerate(reversed(grades))]
    df2 = spark.createDataFrame(
        inv, "source string, rank int, grade long, doc_id long"
    )
    r2 = ndcg_at_k(df2, "source", "rank", "grade", "doc_id", k=4).collect()[0]
    worst = sum(
        (2**g - 1) / math.log(i + 2)
        for i, g in enumerate(reversed(grades))
    )
    assert r2["ndcg_r6"] == round(worst / ideal, 6)
    assert 0 < r2["ndcg_r6"] < 1


def test_mann_whitney_hand_computed(spark):
    """T={1,2,3}, C={2,4}: midranks give R_t=7.5 so 2U=3, tie term 6,
    var = 0.5*(6 - 6/20); plus the symmetry and all-tie degeneracy
    laws."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        mann_whitney_u,
    )

    rows = [
        ("treatment", 1), ("treatment", 2), ("treatment", 3),
        ("control", 2), ("control", 4),
    ]
    df = spark.createDataFrame(rows, "arm string, value_int long")
    r = mann_whitney_u(df).collect()[0]
    assert (r["n_treat"], r["n_ctrl"]) == (3, 2)
    assert r["u2_treat"] == 3
    assert r["tie_term"] == 6
    var = (3 * 2) / 12 * ((5 + 1) - 6 / (5 * 4))
    assert r["z_r6"] == round((3 - 6) / (2 * math.sqrt(var)), 6)
    assert r["rank_biserial_r6"] == -0.5

    # swapping the arm labels negates z and the effect size
    sw = spark.createDataFrame(
        [("control" if a == "treatment" else "treatment", v) for a, v in rows],
        "arm string, value_int long",
    )
    r2 = mann_whitney_u(sw).collect()[0]
    assert r2["z_r6"] == -r["z_r6"]
    assert r2["rank_biserial_r6"] == 0.5

    ties = spark.createDataFrame(
        [("treatment", 7)] * 3 + [("control", 7)] * 2,
        "arm string, value_int long",
    )
    r3 = mann_whitney_u(ties).collect()[0]
    assert r3["z_r6"] is None
    assert r3["rank_biserial_r6"] == 0.0


def test_chisq_textbook_2x2(spark):
    """Contingency [[10,20],[20,10]]: every expected cell is 15, so
    chisq = 4*(25/15) = 20/3; dof = 1. And a perfectly independent
    table gives chisq = 0."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        chi_square_independence,
    )

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 20 + [("b", "y")] * 10
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi_square_independence(df, "r", "c").collect()[0]
    assert (out["n"], out["n_rows"], out["n_cols"], out["dof"]) == (
        60, 2, 2, 1,
    )
    assert out["chisq_r6"] == round(4 * (25 / 15), 6)

    indep = (
        [("a", "x")] * 6 + [("a", "y")] * 6
        + [("b", "x")] * 3 + [("b", "y")] * 3
    )
    out2 = chi_square_independence(
        spark.createDataFrame(indep, "r string, c string"), "r", "c"
    ).collect()[0]
    assert out2["chisq_r6"] == 0.0


def test_triplet_mining_string_ids(spark):
    """Advisor r7→r8: the numeric-id contract is gone — string ids take
    the two-aggregate path with identical (score DESC, id ASC)
    semantics. Same planted geometry as the numeric test, string ids;
    plus a tie case pinning min-id selection on equal scores."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        triplet_mining,
    )

    def vec(deg):
        r = math.radians(deg)
        return [float(math.cos(r)), float(math.sin(r))]

    rows = [
        ("d0", 0, vec(0.0)),    # anchor
        ("d1", 0, vec(10.0)),   # hardest positive
        ("d2", 0, vec(25.0)),   # weaker positive
        ("d3", 1, vec(30.0)),   # hardest negative
        ("d4", 1, vec(80.0)),   # easy negative
        ("d5", 1, vec(30.0)),   # ties d3's score; 'd3' < 'd5' wins
    ]
    df = spark.createDataFrame(
        rows, "vec_id string, label int, embedding array<float>"
    )
    out = triplet_mining(df, df.filter(F.col("vec_id") == "d0")).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["positive_id"], r["negative_id"]) == ("d1", "d3")
    assert r["pos_score"] > r["neg_score"] > 0
    assert r["margin_r6"] == round(r["pos_score"] - r["neg_score"], 6)
