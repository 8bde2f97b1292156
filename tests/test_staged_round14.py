"""Round-14 staged batch parity + behavior: SNM blocking,
assortativity, Heaps growth, idempotency classes, revenue proration,
quantile normalization, TWAP, and compaction planning must already
pass the exact check the driver will run once registered —
strict-mirror value comparison against their DuckDB oracles — with
semantics pinned on constructed data.

Staged queries are deliberately NOT in plans/registry (rounds 9-13
are already staged/planned); see plans/staged_round14.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.staged_round14 import (
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


def test_snm_candidates_window_semantics(spark):
    """Adjacent-after-sort records pair up; records further apart than
    the window never do; rank_gap is bounded by the window."""
    from pinterest_data_pipeline_spark.operators.linkage import (
        sorted_neighborhood_candidates,
    )

    rows = [
        (1, "b", "ANNA"),
        (2, "b", "ANNB"),   # adjacent to ANNA
        (3, "b", "ZZZ1"),   # far from the ANNs after sort
        (4, "b", "ZZZ2"),
        (5, "c", "ANNA"),   # other block: never pairs with block b
    ]
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    cand = sorted_neighborhood_candidates(
        df, "blk", ["name"], ["id"], window=1
    ).collect()
    got = {(r["l_id"], r["r_id"]) for r in cand}
    assert (1, 2) in got and (3, 4) in got
    assert (2, 3) in got  # window 1 chains neighbors
    assert all(r["rank_gap"] == 1 for r in cand)
    assert not any(5 in p for p in got)  # blocks isolate


def test_assortativity_star_is_minus_one(spark):
    """A star graph is maximally disassortative: every edge joins the
    hub (degree n) to a leaf (degree 1), so r = -1 exactly."""
    from pinterest_data_pipeline_spark.operators.pagerank import (
        degree_assortativity,
    )

    pairs = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(4)], "a string, b string"
    )
    r = degree_assortativity(pairs, "a", "b").collect()[0]
    assert r["m_stubs"] == 8
    assert r["assortativity_r6"] == -1.0


def test_vocab_growth_ladder_pin(spark):
    """Ids 0..9, rungs cut at floor(9·p): docs 0 / 0-2 / 0-4 / all.
    Vocabulary grows 1 → 3 → 5 → 10 words; beta matches the closed
    form on the last two rungs."""
    import math

    from pinterest_data_pipeline_spark.operators.text import (
        vocab_growth_ladder,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common") for i in range(10)],
        "doc_id long, text string",
    )
    r = vocab_growth_ladder(docs, "doc_id").collect()[0]
    # cuts: floor(9*.1)=0, floor(9*.25)=2, floor(9*.5)=4, 9
    assert r["n_docs_1"] == 1 and r["vocab_1"] == 2  # w0 + common
    assert r["n_docs_2"] == 3 and r["vocab_2"] == 4
    assert r["n_docs_3"] == 5 and r["vocab_3"] == 6
    assert r["n_docs_4"] == 10 and r["vocab_4"] == 11
    assert r["n_tokens_3"] == 10 and r["n_tokens_4"] == 20
    expect = round(math.log(11 / 6) / math.log(20 / 10), 6)
    assert r["heaps_beta_r6"] == pytest.approx(expect, abs=1e-6)


def test_idempotency_classes_pin(spark):
    """id 1: two identical deliveries (clean dupe); id 2: two
    deliveries, two payloads (conflict); id 3: singleton."""
    from pinterest_data_pipeline_spark.operators.reconcile import (
        idempotency_audit,
    )

    rows = [
        ("t", 1, 100), ("t", 1, 100),
        ("t", 2, 100), ("t", 2, 101),
        ("t", 3, 100),
    ]
    df = spark.createDataFrame(rows, "g string, id long, p long")
    r = idempotency_audit(df, "id", "p", "g").collect()[0]
    assert r["n_delivered"] == 5 and r["n_logical"] == 3
    assert r["n_clean_dupe_ids"] == 1 and r["n_conflict_ids"] == 1


def test_proration_conserves_and_fronts_remainder(spark):
    """A 90-day term starting Jan 15 overlaps Jan(17d) Feb(29d in
    2024) Mar(31d) Apr(13d); floor shares sum ≤ cents and the odd
    cents land in January, so Σ = cents exactly."""
    from pinterest_data_pipeline_spark.operators.proration import (
        prorate_interval_cents,
    )

    df = spark.createDataFrame(
        [(1, "2024-01-15", 10000)], "id long, d string, cents long"
    ).select("id", F.col("d").cast("date").alias("d"), "cents")
    parts = prorate_interval_cents(df, "id", "d", "cents", 90).collect()
    by_month = {str(r["month_start"]): r for r in parts}
    days = {m: r["days"] for m, r in by_month.items()}
    assert days == {
        "2024-01-01": 17, "2024-02-01": 29,
        "2024-03-01": 31, "2024-04-01": 13,
    }
    total = sum(r["recognized_cents"] for r in parts)
    assert total == 10000  # conservation
    # floor shares: 17/90·10000=1888, 29→3222, 31→3444, 13→1444
    # floor sum = 9998 -> 2 odd cents to January
    assert by_month["2024-01-01"]["recognized_cents"] == 1890
    assert by_month["2024-02-01"]["recognized_cents"] == 3222


def test_quantile_normalization_aligns_groups(spark):
    """Group A = {1,2}, group B = {11,12}, equal counts: the pooled
    distribution is {1,2,11,12}; A's low half maps to {2? no — A's
    cum 1→idx 2 → pooled value 2, cum 2→idx 4 → 12}; after mapping
    both groups' value SETS straddle the pooled range — and the map
    is monotone."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        quantile_normalize_by_value,
    )

    rows = [("A", 1), ("A", 2), ("B", 11), ("B", 12)]
    df = spark.createDataFrame(rows, "g string, v long")
    m = {
        (r["g"], r["v"]): r["normalized_value"]
        for r in quantile_normalize_by_value(df, "g", "v").collect()
    }
    # A: cum(1)=1 -> idx ceil(1*4/2)=2 -> pooled value at cdf 2 = 2
    #    cum(2)=2 -> idx 4 -> pooled 12
    # B: cum(11)=1 -> idx 2 -> 2 ; cum(12)=2 -> idx 4 -> 12
    assert m == {("A", 1): 2, ("A", 2): 12, ("B", 11): 2, ("B", 12): 12}


def test_twap_hand_case(spark):
    """Value 100 held 10 s then 200 held 30 s: TWAP = (100·10 +
    200·30)/40 = 175; the closing event carries no weight."""
    from pinterest_data_pipeline_spark.operators.trend import (
        time_weighted_average,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 100, 1),
        (1, "2024-01-01 00:00:10", 200, 2),
        (1, "2024-01-01 00:00:40", 999, 3),  # closes; weight 0
    ]
    df = spark.createDataFrame(
        rows, "u long, ts string, cents long, eid long"
    ).select("u", F.col("ts").cast("timestamp").alias("ts"), "cents", "eid")
    r = time_weighted_average(df, "u", "ts", "cents", "eid").collect()[0]
    assert r["n_obs"] == 3 and r["span_seconds"] == 40
    assert r["twap_r6"] == 175.0


def test_compaction_plan_pin(spark):
    """Three 40 KiB files into 64 KiB bins: 120 KiB needs 2 bins
    (minimal), file 2 straddles the first boundary, file 3 the
    second? cum=80Ki: file3 spans 80Ki..120Ki crossing 64Ki? no —
    80Ki > 64Ki, bin 1 holds 64..128Ki, so file 3 sits inside bin 1:
    exactly one boundary split."""
    from pinterest_data_pipeline_spark.operators.encoding import (
        compaction_binpack_plan,
    )

    k = 40960
    df = spark.createDataFrame(
        [("m", 1, k), ("m", 2, k), ("m", 3, k)],
        "g string, o long, b long",
    )
    r = compaction_binpack_plan(df, "g", "o", "b", 65536).collect()[0]
    assert r["n_files_before"] == 3 and r["n_bins_after"] == 2
    assert r["bytes_total"] == 3 * k
    assert r["n_boundary_splits"] == 1
    assert r["fill_ppm"] == int(3 * k * 1e6 / (2 * 65536))
