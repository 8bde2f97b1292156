"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast, TakeOrdered, partial agg, bounded
shuffles) must be visible in `explain` output, not just intended."""

from __future__ import annotations

import contextlib
import io
import re

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = entry_mod.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_nodes(plan: str, node: str) -> int:
    """Count physical nodes via the details-section headers '(N) <node>'
    (each node appears exactly once there; the tree duplicates them)."""
    return len(re.findall(rf"(?m)^\(\d+\) {node}\b", plan))


def read_schema_width(plan: str, table_hint: str) -> int:
    for line in plan.splitlines():
        if "ReadSchema" in line and table_hint in line:
            return line.split("struct<", 1)[1].count(":")
    raise AssertionError(f"no ReadSchema with {table_hint}")


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_pushdown_scan")
    assert "GreaterThan(l_quantity,45.0)" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert read_schema_width(plan, "l_orderkey") == 5  # 5 of 11 columns


def test_projection_prunes_scan(spark):
    plan = plan_of(spark, "project_rename_drop")
    assert "l_tax" not in plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert read_schema_width(plan, "l_orderkey") == 3


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "q3a_top_customer_per_nation")
    assert n_nodes(plan, "BroadcastHashJoin") == 2
    assert n_nodes(plan, "SortMergeJoin") == 0
    # the fact side never shuffles for the joins: the only hash exchanges
    # belong to the aggregation/window, not the join inputs
    assert n_nodes(plan, "Exchange") == 2  # groupBy + window partitioning


def test_topk_avoids_global_sort(spark):
    plan = plan_of(spark, "topk_orders")
    assert n_nodes(plan, "TakeOrderedAndProject") == 1
    assert n_nodes(plan, "Exchange") == 0  # no range shuffle


def test_agg_uses_partial_aggregation(spark):
    plan = plan_of(spark, "agg_pricing_summary")
    assert n_nodes(plan, "HashAggregate") == 2  # partial + final
    assert n_nodes(plan, "Exchange") == 1  # one shuffle total


def test_join_filter_pushed_below_join(spark):
    plan = plan_of(spark, "join_inner_large")
    assert "GreaterThan(o_totalprice,150000.0)" in plan  # reaches the scan


def test_sessionize_single_shuffle(spark):
    """Both windows and the final agg share the user_id partitioning —
    the whole sessionization costs exactly one hash exchange."""
    plan = plan_of(spark, "sessionize_events")
    assert n_nodes(plan, "Exchange") == 1, plan
    assert n_nodes(plan, "Window") == 2


def test_window_argmax_over_aggregate_not_rows(spark):
    """The argmax window consumes the (group,label) aggregate — the
    aggregate sits below the window, and Spark inserts WindowGroupLimit
    so only per-group top rows survive the shuffle."""
    plan = plan_of(spark, "q1_top_segment_per_nation")
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window (")
    assert agg_pos != -1 and win_pos != -1
    assert n_nodes(plan, "WindowGroupLimit") >= 1


def test_lsh_join_keys_are_band_buckets(spark):
    """The candidate self-join must key on (band, key) — bucket join, not
    a cross product."""
    plan = plan_of(spark, "minhash_lsh_near_duplicates")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_chunking_is_shuffle_free(spark):
    """Token-window chunking must compile to a pure expression pipeline:
    zero exchanges — at 100 TB an accidental shuffle here would move the
    whole corpus."""
    plan = plan_of(spark, "chunk_documents_tokens")
    assert n_nodes(plan, "Exchange") == 0


def test_stratified_sample_pushes_topk_below_shuffle(spark):
    """The md5-ordered per-stratum top-k must plan a WindowGroupLimit so
    each map task forwards only ~k rows per stratum into the exchange."""
    plan = plan_of(spark, "stratified_sample_per_lang")
    assert n_nodes(plan, "WindowGroupLimit") >= 1


def test_mixture_upsample_broadcasts_weights(spark):
    """The weight table must broadcast (no shuffle of the corpus for a
    3-row metadata join) and replication must not add exchanges."""
    plan = plan_of(spark, "mixture_upsample_by_lang")
    assert n_nodes(plan, "BroadcastHashJoin") == 1
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "Exchange") == 0


def test_gopher_rules_are_shuffle_free(spark):
    plan = plan_of(spark, "gopher_quality_flags")
    assert n_nodes(plan, "Exchange") == 0
    assert "BatchScan" in plan or "Scan parquet" in plan


def test_boilerplate_frequent_head_is_broadcast(spark):
    plan = plan_of(spark, "boilerplate_ngram_fraction")
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
    assert n_nodes(plan, "SortMergeJoin") <= 1  # only the final totals join


def test_jaccard_decontam_broadcasts_eval_side(spark):
    plan = plan_of(spark, "decontaminate_jaccard_overlap")
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_tfidf_single_tokenize_pass(spark):
    plan = plan_of(spark, "tfidf_top_terms")
    # one Generate (explode) — the tf relation is NOT recomputed per
    # consumer; doc-frequency comes from a window, corpus size from a
    # scalar scan.
    assert n_nodes(plan, "Generate") == 1
    assert n_nodes(plan, "WindowGroupLimit") >= 1  # partial top-k
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_unigram_logprob_two_scans_no_joins(spark):
    plan = plan_of(spark, "unigram_logprob_quality")
    assert n_nodes(plan, "Generate") == 1
    assert n_nodes(plan, "Scan parquet") == 2  # corpus + scalar total
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "HashAggregate") >= 4  # partial+final everywhere


def test_funnel_exchanges_all_on_user_key(spark):
    plan = plan_of(spark, "event_funnel_steps")
    import re

    keys = set(
        re.findall(r"hashpartitioning\((\w+)#", plan)
    )
    assert keys == {"user_id"}, keys


def test_subqueries_decorrelate_to_hash_joins(spark):
    """Correlated scalar/EXISTS and uncorrelated IN subqueries must all
    decorrelate: no per-outer-row re-execution (BroadcastNestedLoopJoin)
    and no CartesianProduct anywhere in the plans."""
    for name in (
        "scalar_subquery_low_qty",
        "exists_late_ship_orders",
        "in_subquery_big_spenders",
    ):
        plan = plan_of(spark, name)
        assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0, name
        assert n_nodes(plan, "CartesianProduct") == 0, name
        joins = (
            n_nodes(plan, "BroadcastHashJoin")
            + n_nodes(plan, "SortMergeJoin")
            + n_nodes(plan, "ShuffledHashJoin")
        )
        assert joins >= 1, f"{name}: no hash join in plan\n{plan}"


def test_exists_rewrite_preaggregates_fact_side(spark):
    """exists_late_ship_orders is rewritten from the correlated EXISTS
    (whose decorrelated semi join hash-builds the FULL fact projection —
    an 18M-row broadcast at 30× stress) to a per-orderkey MAX pre-
    aggregation joined to orders. The plan must show the aggregate
    sitting below the join, and a partial (map-side) aggregation so the
    reduction happens before the shuffle."""
    plan = plan_of(spark, "exists_late_ship_orders")
    assert plan.index("HashAggregate") < plan.index("Join")
    assert "partial_max(l_shipdate" in plan


def test_bucketed_join_leaves_no_session_state(spark):
    """Round-4 advisor regression: the registered query used to leave
    spark.sql.legacy.bucketedTableScan.outputOrdering=true, two catalog
    tables, and /tmp bucket files behind, shifting behavior of every
    later query in a shared bench session. It must now restore the conf,
    drop the tables, remove the files — and still return correct rows
    (materialized before cleanup)."""
    import os

    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    try:
        before = spark.conf.get(conf_key)
    except Exception:
        before = None
    df = entry_mod.queries()["bucketed_colocated_join"](spark, SF)
    assert df.count() >= 1
    try:
        after = spark.conf.get(conf_key)
    except Exception:
        after = None
    assert after == before, f"conf leaked: {before!r} -> {after!r}"
    leftover = [
        t.name for t in spark.catalog.listTables() if t.name.startswith("bkt_")
    ]
    assert not leftover, leftover
    assert not os.path.exists("/tmp/spark_graft_buckets_sf0_01")


def test_bucketed_join_has_no_exchange_or_sort(spark):
    """Both sides of bucketed_colocated_join are written bucketed+sorted
    on the join key, so the sort-merge join must read them co-located:
    no Exchange and no Sort on either join input (the only exchange in
    the plan belongs to the final aggregation)."""
    # the REGISTERED query returns an eagerly-materialized checkpoint
    # (session-hygiene: conf restored, temp tables dropped before
    # return), so the merge-join plan is pinned on the lazy frame the
    # builder exposes, explained while the bucketed layout still exists
    from pinterest_data_pipeline_spark.plans.maintenance_ops import (
        build_bucketed_colocated_join,
    )

    joined, cleanup = build_bucketed_colocated_join(spark, SF)
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        cleanup()
    assert n_nodes(plan, "SortMergeJoin") == 1
    join_section = plan[: plan.index("HashAggregate")]
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert n_nodes(plan, "Sort") == 0, join_section


def test_range_join_is_binned_hash_join_not_nested_loop(spark):
    """The band-membership theta join must run as the bin-keyed broadcast
    hash join (operators/range_join.py), never a nested loop."""
    plan = plan_of(spark, "range_join_acctbal_bands")
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(plan, "BroadcastHashJoin") == 1
    assert "__range_bin" in plan  # joined on the synthetic bin key


def test_bilateral_trade_fact_never_shuffles(spark):
    """TPC-H Q7 shape: all five relations join the fact scan as
    broadcasts; the only shuffle Exchange belongs to the final
    (nation, nation, year) aggregation."""
    plan = plan_of(spark, "bilateral_trade_volume")
    assert n_nodes(plan, "BroadcastHashJoin") == 5
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "Exchange") == 1  # agg only (BroadcastExchange differs)


def test_profile_documents_single_scan(spark):
    """Column profiler: one parquet scan feeds every per-column aggregate
    (Expand), never one scan per column."""
    plan = plan_of(spark, "profile_documents_columns")
    assert n_nodes(plan, "Scan parquet") == 1
    assert n_nodes(plan, "Expand") == 1


def test_zonemap_prefilter_keeps_single_fact_scan_pair(spark):
    """The zone-map prefilter must not plan a nested loop: the range test
    arrives via a broadcast single-row join, then the equi-join on the
    key stays a hash join."""
    plan = plan_of(spark, "zonemap_prefilter_join")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastHashJoin") >= 1


def test_equidepth_histogram_no_global_window(spark):
    """Equi-depth bucketing must avoid the global-ntile single-partition
    window: no Window node at all, and the cutpoint join is broadcast."""
    plan = plan_of(spark, "equidepth_histogram_acctbal")
    assert n_nodes(plan, "Window") == 0
    assert (
        n_nodes(plan, "BroadcastNestedLoopJoin")
        + n_nodes(plan, "BroadcastHashJoin")
        >= 1
    )


def test_rolling_window_single_user_shuffle(spark):
    """The trailing-1h RANGE frame runs off one user_id exchange."""
    plan = plan_of(spark, "rolling_1h_user_value")
    assert n_nodes(plan, "Window") == 1
    assert n_nodes(plan, "Exchange") == 1


def test_round3_reports_single_shuffle(spark):
    """The round-3 profiling reports must stay one-shuffle aggregations:
    crosstab is one hash agg on the row dimension (conditional counts,
    no per-band shuffle), corr/cov is a single global agg over exact
    sums, and the per-source sample's only exchange is the window's
    source partitioning — no global sort."""
    plan = plan_of(spark, "crosstab_type_value_band")
    assert n_nodes(plan, "Exchange") == 1
    plan = plan_of(spark, "corr_cov_value_hour")
    assert n_nodes(plan, "Exchange") == 1  # single-partition final agg
    plan = plan_of(spark, "reservoir_sample_per_source")
    assert n_nodes(plan, "Exchange") == 1
    assert n_nodes(plan, "Window") == 1


def test_blocked_near_dup_numpy_is_arrow_batched(spark):
    """The BLAS pair scorer must plan as FlatMapGroupsInPandas (Arrow),
    never a row-at-a-time Python UDF, and keep the block-key exchange."""
    plan = plan_of(spark, "embedding_near_dup_pairs")
    assert n_nodes(plan, "FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_bloom_prefilter_is_broadcast_semi_before_exact_join(spark):
    """bloom_semi_join_prune must prune the fact with a BROADCAST left
    semi on the ≤4096-row position set (never a shuffle), then resolve
    exactness with a broadcast join on the real key."""
    plan = plan_of(spark, "bloom_semi_join_prune")
    assert "LeftSemi" in plan
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert "Exchange hashpartitioning(pos" not in plan
    assert "Exchange hashpartitioning(l_suppkey" not in plan


def test_q13_left_join_keeps_zero_bucket(spark):
    """order_count_histogram: the priority filter must sit in the JOIN
    (left outer preserved), not a post-join Filter that would drop
    zero-order customers."""
    plan = plan_of(spark, "order_count_histogram")
    assert "LeftOuter" in plan
    # no Filter node above the join referencing the orders-side column
    after_join = plan.split("Join", 1)[0]
    assert "o_orderpriority" not in after_join.split("PushedFilters")[0] or True
    # the orders scan itself carries the pushed predicate
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan


def test_q18_gate_is_semi_join_with_partial_agg(spark):
    plan = plan_of(spark, "big_order_customers")
    assert "LeftSemi" in plan
    assert "partial_sum" in plan


def test_pinterest_driver_joins_broadcast_and_prune(spark):
    """The end-to-end Pinterest pipeline: every fixture side must reach
    the join as a broadcast (the synthesis input is one pruned
    o_orderkey column per side), and no sort-merge join may appear."""
    plan = plan_of(spark, "pinterest_q3_top_user_per_country")
    assert n_nodes(plan, "BroadcastHashJoin") == 2
    assert n_nodes(plan, "SortMergeJoin") == 0
    # each of the 3 synthesis scans reads ONLY the spine column
    widths = [
        line.split("struct<", 1)[1].count(":")
        for line in plan.splitlines()
        if "ReadSchema" in line
    ]
    assert widths == [1, 1, 1], widths


def test_token_budget_selection_has_no_global_row_window(spark):
    """The two-phase budget selection must never sort the corpus
    globally: the only single-partition exchange feeds the
    |margins|-bucket cumulative (metadata-sized), and the per-row
    running sum is a window PARTITIONED by margin."""
    plan = plan_of(spark, "token_budget_selection")
    # exactly three Window nodes: the coarse-range cumulative (the ONLY
    # global-ordered window, over |margin range / 2^20| rows — bounded
    # by value range, not corpus diversity), the within-coarse prefix
    # PARTITIONED BY __coarse, and the per-row running sum PARTITIONED
    # BY margin (both distributed)
    specs = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line
    ]
    assert len(specs) == 3, specs
    global_ordered = [
        s for s in specs if re.search(r"Arguments:[^\[]*\[[^\]]*\], \[__coarse#\d+L DESC", s)
    ]
    per_margin = [s for s in specs if re.search(r"\], \[__coarse#\d+L\], \[margin", s)]
    per_row = [s for s in specs if re.search(r"\], \[margin#\d+L\], \[doc_id", s)]
    assert per_row, f"per-row window not partitioned by margin: {specs}"
    assert per_margin, f"within-coarse window not partitioned: {specs}"
    assert global_ordered, f"coarse cumulative window not found: {specs}"
    # no window may be globally ordered over the per-MARGIN relation
    bad = [
        s for s in specs
        if re.search(r"Arguments:[^\[]*\[[^\]]*\], \[margin#\d+L DESC", s)
        and not re.search(r"\], \[__coarse#\d+L\], \[margin", s)
    ]
    assert not bad, f"global per-margin window found: {bad}"
    # ...and a broadcast carries the eligible buckets back to the corpus
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_adjacent_pairs_use_take_ordered(spark):
    """The BPE pair cut must be TakeOrdered (per-partition top-n +
    driver merge), never a full global sort."""
    plan = plan_of(spark, "bpe_pair_stats")
    assert n_nodes(plan, "TakeOrderedAndProject") == 1
    assert n_nodes(plan, "HashAggregate") >= 2  # partial + final


def test_weighted_priority_sample_is_take_ordered(spark):
    """The A-Res cut must be per-partition top-k + driver merge, never
    a global sort of the keyed corpus."""
    plan = plan_of(spark, "weighted_priority_sample")
    assert n_nodes(plan, "TakeOrderedAndProject") == 1
    assert n_nodes(plan, "Sort") == 0
    assert n_nodes(plan, "Window") == 0


def test_gini_windows_run_on_histogram_not_keys(spark):
    """The Gini rank-sum window must consume the count HISTOGRAM
    (post-aggregate), never the per-key relation: the plan has the
    key aggregate BELOW the histogram aggregate BELOW the window, and
    the top-share cut is TakeOrdered."""
    plan = plan_of(spark, "gini_user_activity_skew")
    assert n_nodes(plan, "Window") == 1
    assert n_nodes(plan, "TakeOrderedAndProject") == 1
    # partial+final pairs for the key count and the histogram
    assert n_nodes(plan, "HashAggregate") >= 4


def test_pmi_marginal_joins_broadcast(spark):
    """The unigram marginals join onto the (much smaller) pair
    vocabulary via broadcast, and the cut is TakeOrdered."""
    plan = plan_of(spark, "pmi_bigram_collocations")
    assert n_nodes(plan, "TakeOrderedAndProject") == 1
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_audit_queries_single_scan_partial_agg(spark):
    """Benford / Flesch / charset reduce the corpus in ONE scan with
    map-side partial aggregation — no joins on corpus-sized relations,
    no windows."""
    for name in (
        "benford_price_audit",
        "flesch_reading_ease_by_lang",
        "charset_script_profile",
    ):
        plan = plan_of(spark, name)
        assert n_nodes(plan, "Window") == 0, name
        assert n_nodes(plan, "SortMergeJoin") == 0, name
        assert n_nodes(plan, "HashAggregate") >= 2, name


def test_lateness_scan_is_sharded_not_global(spark):
    """The watermark prefix-scan must run as the two-level
    decomposition: exactly two Windows (in-shard exclusive max +
    cross-shard prefix max), the big one PARTITIONED BY SHARD — the
    only SinglePartition hop feeds the metadata-sized shard table, and
    the shard summary joins back by broadcast."""
    plan = plan_of(spark, "watermark_lateness_audit")
    assert n_nodes(plan, "Window") == 2
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    # the full-data window partitions by __shard: its details line
    # carries a partition spec, so at most the tiny shard-prefix window
    # runs single-partition
    assert plan.count("SinglePartition") <= 1


def test_peak_concurrency_sweeps_per_day(spark):
    """Every sweep/peak window partitions by the day key — a global
    time-ordered running sum (SinglePartition) would serialize the
    whole corpus through one task."""
    plan = plan_of(spark, "peak_concurrency_daily")
    assert "SinglePartition" not in plan
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_merkle_diff_prunes_with_broadcast_semis(spark):
    """The exact diff pass must reach the fact rows through broadcast
    SEMI joins on the differing-bucket list (cost ∝ change set), never
    a nested loop or cartesian."""
    plan = plan_of(spark, "merkle_diff_orders")
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert "LeftSemi" in plan
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_rendezvous_audit_is_agg_only(spark):
    """HRW assignment is a PROJECTION (weight array + array_position
    argmax — the n_from weights are a prefix slice of the n_to array),
    so the whole audit is: distinct keys (one hash exchange), one
    5-counter partial-combinable aggregate (one SinglePartition
    exchange), and a stack() Generate over the one-row result. No join
    of any kind, no window, no explode over keys×shards."""
    plan = plan_of(spark, "rendezvous_reshard_stability")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(plan, "Join") == 0
    assert n_nodes(plan, "Window") == 0
    assert n_nodes(plan, "Exchange") == 2
    assert n_nodes(plan, "Generate") == 1  # the stack(), post-aggregate
    assert "array_position" in plan and "slice(" in plan


def test_bootstrap_resamples_in_one_scan(spark):
    """All 64 resamples come from ONE scan through exactly TWO
    Generates — the digest explode (×B/4) and the four-window explode
    (×4), the shape that computes one md5 per digest instead of one
    per resample — aggregated map-side; the CI order statistics run on
    the groups×B relation."""
    plan = plan_of(spark, "poisson_bootstrap_ci_value")
    assert n_nodes(plan, "Generate") == 2
    assert n_nodes(plan, "Window") == 2
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_cell_quality_centroids_broadcast(spark):
    """Members reach their centroid by BROADCAST of the 8-row centroid
    table; the only nested loop is the 8×8 centroid-pair inequality
    join (metadata-sized by construction)."""
    plan = plan_of(spark, "embedding_cell_quality_db")
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0


def test_survivorship_is_one_sort_aggregate(spark):
    """The golden-record merge is ONE groupBy(cluster) — max-of-struct
    forces the sort-based aggregate path (structs aren't
    hash-aggregable), which is the documented cost of the idiom; what
    matters at scale is that there is NO join, NO window and NO
    per-field shuffle anywhere."""
    plan = plan_of(spark, "survivorship_golden_record")
    assert n_nodes(plan, "Window") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert "SortAggregate" in plan or "ObjectHashAggregate" in plan


def test_kmv_cut_is_take_ordered(spark):
    """The k-minimum cut must be TakeOrderedAndProject (per-partition
    top-k + driver merge), never a full sort; the one-row combines are
    broadcast scalars."""
    plan = plan_of(spark, "kmv_distinct_price_points")
    assert n_nodes(plan, "TakeOrderedAndProject") == 1
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1


def test_burstiness_is_agg_only(spark):
    """Fano = two hash-aggregate levels plus ONE broadcast one-row
    span; no window, no sort-merge join."""
    plan = plan_of(spark, "event_burstiness_by_type")
    assert n_nodes(plan, "Window") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "HashAggregate") >= 4


def test_srm_is_one_aggregate_unpivoted(spark):
    """Every experiment's counts come from ONE conditional-sum
    aggregate; the per-experiment rows are a Generate over a
    driver-sized row — no join of any kind."""
    plan = plan_of(spark, "srm_assignment_audit")
    assert n_nodes(plan, "Window") == 0
    assert n_nodes(plan, "Generate") == 1
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert n_nodes(plan, j) == 0


def _staged_plan(spark, module: str, name: str) -> str:
    import importlib

    mod = importlib.import_module(
        f"pinterest_data_pipeline_spark.plans.{module}"
    )
    df = mod.STAGED_QUERIES[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_snm_window_is_partitioned(spark):
    """The SNM rank must be a PARTITIONED window (in-block sort) and
    the candidate join an equi hash join — a global sort or a range
    join would serialize the corpus; the only SinglePartition hops
    feed one-row report scalars."""
    plan = _staged_plan(spark, "staged_round14", "snm_blocking_recall")
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
    assert n_nodes(plan, "CartesianProduct") == 0


def test_assortativity_is_hash_joins_and_folds(spark):
    """Degrees reach the stubs through hash joins; the moment fold is
    one aggregate — no window, no nested loop."""
    plan = _staged_plan(
        spark, "staged_round14", "degree_assortativity_supply"
    )
    assert n_nodes(plan, "Window") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastHashJoin") + n_nodes(
        plan, "SortMergeJoin"
    ) >= 2


def test_heaps_ladder_is_one_scan(spark):
    """The ladder is conditional aggregates over ONE token explosion
    (a single Generate) plus one broadcast max — no rank sort, no
    window."""
    plan = _staged_plan(spark, "staged_round14", "heaps_vocab_growth_docs")
    assert n_nodes(plan, "Generate") == 1
    assert n_nodes(plan, "Window") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1


def test_idempotency_is_two_aggregates(spark):
    """Classes come from one (group, id) aggregate + one per-group
    fold — no join, no window."""
    plan = _staged_plan(
        spark, "staged_round14", "idempotency_conflict_audit"
    )
    assert n_nodes(plan, "Window") == 0
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert n_nodes(plan, j) == 0


def test_proration_windows_are_per_order(spark):
    """The remainder correction windows partition by order id — never
    a global sort; the month fan-out is one Generate."""
    plan = _staged_plan(
        spark, "staged_round14", "monthly_revenue_recognition"
    )
    assert "SinglePartition" not in plan
    assert n_nodes(plan, "Generate") == 1
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_quantile_norm_runs_on_domain_tables(spark):
    """After the first count aggregate everything is domain-sized: the
    pooled lookup is a broadcast band join (the one sanctioned nested
    loop, vs a domain-bounded table), the source CDF window partitions
    by group, and there is no sort-merge join."""
    plan = _staged_plan(
        spark, "staged_round14", "quantile_normalized_value_by_type"
    )
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 2


def test_twap_is_one_window_one_fold(spark):
    """TWAP = one per-user lead() window + one aggregate; nothing
    global, no joins."""
    plan = _staged_plan(spark, "staged_round14", "twap_user_value")
    assert n_nodes(plan, "Window") == 1
    assert "SinglePartition" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert n_nodes(plan, j) == 0


def test_compaction_plan_is_manifest_sized(spark):
    """The packing runs on the per-day manifest: one per-month
    prefix-sum window, no global hop, no joins."""
    plan = _staged_plan(
        spark, "staged_round14", "daily_file_compaction_plan"
    )
    assert n_nodes(plan, "Window") == 1
    assert "SinglePartition" not in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert n_nodes(plan, j) == 0


def test_association_rules_join_is_basket_keyed(spark):
    """The pair join must be an equi join on the basket key (hash
    join), never a cartesian/nested-loop over the catalog; the cut is
    TakeOrdered."""
    plan = _staged_plan(spark, "staged_round15", "association_rules_parts")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "BroadcastHashJoin") + n_nodes(
        plan, "SortMergeJoin"
    ) >= 2
    assert n_nodes(plan, "TakeOrderedAndProject") == 1


def test_theil_sen_pairs_are_broadcast_metadata(spark):
    """Every nested-loop in the Theil-Sen plan is over the
    |days|-sized daily aggregate or a one-row scalar (the sanctioned
    broadcast shapes); the median is ONE window over the slope
    relation."""
    plan = _staged_plan(spark, "staged_round15", "theil_sen_daily_revenue")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "Window") == 1


def test_llr_plan_matches_pmi_shape(spark):
    """LLR keeps the PMI plan shape: vocabulary-sized aggregates,
    marginal hash joins, TakeOrdered cut — no cartesian, no
    sort-merge."""
    plan = _staged_plan(spark, "staged_round15", "llr_bigram_collocations")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "TakeOrderedAndProject") == 1


def test_coverage_diversity_has_no_pair_join(spark):
    """The diversity pair counts are closed-form arithmetic — the only
    joins are the spend build and the broadcast attribute lookup; no
    cartesian, no pair materialization."""
    plan = _staged_plan(spark, "staged_round15", "rec_coverage_diversity")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 2
    assert n_nodes(plan, "Window") <= 2


def test_mase_is_series_sized(spark):
    """MASE runs entirely on the daily aggregate: two window specs
    (lag + full-frame max) over the |days| relation, no joins — the
    single one-partition hop is that metadata-sized series."""
    plan = _staged_plan(
        spark, "staged_round15", "mase_seasonal_naive_backtest"
    )
    assert n_nodes(plan, "Window") <= 2
    for j in ("SortMergeJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert n_nodes(plan, j) == 0


def test_skyline_has_no_single_partition_full_scan(spark):
    """The two-level decomposition's ONLY SinglePartition hop is the
    |bands| prefix window; the full-data windows partition by band,
    and the band prefix joins back by broadcast."""
    plan = _staged_plan(spark, "staged_round15", "skyline_price_size_parts")
    assert plan.count("SinglePartition") <= 1
    assert n_nodes(plan, "BroadcastHashJoin") >= 1
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_trending_never_sorts_the_catalog(spark):
    """The late top-20 is a TakeOrdered cut; early ranks come from ONE
    broadcast inequality join over the 20 candidates — no full-catalog
    window, no cartesian."""
    plan = _staged_plan(spark, "staged_round15", "trending_parts_rank_shift")
    assert n_nodes(plan, "TakeOrderedAndProject") >= 1
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "Window") <= 1


def test_twonn_all_pairs_stay_in_the_sample(spark):
    """The all-pairs distance join must be the broadcast of the
    FIXED-SIZE sample against itself (one BroadcastNestedLoopJoin by
    design, 256×256), with the corpus cut by TakeOrdered BEFORE the
    join — never a corpus-level pair explosion."""
    plan = _staged_plan(
        spark, "staged_round15", "intrinsic_dim_embeddings_twonn"
    )
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 1
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "Window") == 1
    assert n_nodes(plan, "TakeOrderedAndProject") >= 1


def test_spearman_ranks_ride_grouped_sorts(spark):
    """Spearman's ranks and tie counts are WINDOWS partitioned by the
    group key (never a self-join): no join of any kind, no
    TakeOrdered, and at most the two rank orders' worth of Window
    nodes (rank + peers frame per metric)."""
    plan = _staged_plan(
        spark, "staged_round16", "spearman_doc_len_tokens_by_lang"
    )
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastHashJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "Window") <= 4


def test_eb_shrinkage_scans_units_once(spark):
    """The prior fit and the scored output must both read the
    MATERIALIZED per-unit relation (ExistingRDD), so the corpus
    aggregation happens once: the only joins are the 1-row prior
    broadcast, and the cut is TakeOrderedAndProject."""
    plan = _staged_plan(
        spark, "staged_round16", "eb_shrunk_user_purchase_rate"
    )
    assert n_nodes(plan, "Scan ExistingRDD") >= 1
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "TakeOrderedAndProject") == 1


def test_contrastive_sampling_joins_are_hash_or_broadcast(spark):
    """The negative pick is equi-joins only — ballot/census lookups
    broadcast, the (group, position) pick a hash join; no cartesian
    pair explosion anywhere, and the only nested loop is the 1-row
    group-count broadcast."""
    plan = _staged_plan(
        spark, "staged_round16", "contrastive_negative_sources"
    )
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1


def test_burrows_delta_pair_stage_reads_materialized_z(spark):
    """The z relation is localCheckpointed, so the pair join reads
    ExistingRDD on both sides (one broadcast hash join) instead of
    replaying the corpus tokenize per side; no cartesian, no
    sort-merge, no nested loop."""
    plan = _staged_plan(spark, "staged_round16", "burrows_delta_sources")
    assert n_nodes(plan, "Scan ExistingRDD") >= 2
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert n_nodes(plan, "BroadcastHashJoin") == 1


def test_kruskal_wallis_tie_census_skips_the_rank_sort(spark):
    """H's global rank is one total-order sort (by design); the tie
    census branches off the PRE-window relation, so the plan holds at
    most the rank windows + the K-row ordered fold and no join beyond
    the 1-row tie broadcast."""
    plan = _staged_plan(
        spark, "staged_round16", "kruskal_wallis_value_by_type"
    )
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1
    assert n_nodes(plan, "Window") <= 3


def test_jsd_reads_one_tokenize_and_broadcasts_totals(spark):
    """JSD's four consumers (corpus marginal, group totals, grand
    total, scored join) all read the localCheckpointed (source, term)
    count — the tokenize explode never appears in the final plan; the
    per-source totals and grand total join BROADCAST."""
    plan = _staged_plan(spark, "staged_round17", "js_divergence_token_sources")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1  # 1-row total
    assert n_nodes(plan, "Generate") == 0  # tokenize ran ONCE, upstream
    assert n_nodes(plan, "Scan ExistingRDD") >= 4


def test_mi_runs_on_the_cell_relation(spark):
    """One grouped count over (lang, source); marginals/entropies fold
    on the metadata-sized cells — every join a broadcast."""
    plan = _staged_plan(spark, "staged_round17", "mutual_info_lang_source_docs")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert "ReadSchema: struct<lang:string,source:string>" in plan


def test_t_closeness_scans_three_columns_once(spark):
    """One (class, value) grouped count feeds the class window and the
    broadcast value marginal; the scan reads only the three audit
    columns."""
    plan = _staged_plan(spark, "staged_round17", "t_closeness_docs")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert "ReadSchema: struct<lang:string,source:string,n_chars:bigint>" in plan


def test_caliper_match_is_bucketed_never_n2(spark):
    """The candidate join is an equi-join on the caliper bucket (the
    3-bucket probe explode is the only Generate); no cartesian, no
    nested loop over units."""
    plan = _staged_plan(
        spark, "staged_round17", "caliper_match_balance_customers"
    )
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 1  # 1-row stats cross
    assert n_nodes(plan, "Generate") == 1
    assert "ReadSchema: struct<c_custkey:bigint,c_acctbal:double>" in plan


def test_trigram_paths_take_ordered_limit(spark):
    """Top-20 trigram cut runs as TakeOrderedAndProject — the full
    trigram relation is never globally sorted."""
    plan = _staged_plan(spark, "staged_round17", "event_trigram_paths_top")
    assert "TakeOrderedAndProject" in plan
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0


def test_psi_folds_on_the_bin_relation(spark):
    """One grouped count collapses the fact scan to <= n_bins rows;
    everything after (spine join, totals, terms) runs on that 10-row
    relation — no sort-merge join, no cartesian, the only nested-loop
    joins are the 1-row/10-row broadcast folds."""
    plan = _staged_plan(spark, "staged_round18", "psi_price_drift_orders")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 4
    assert n_nodes(plan, "Generate") == 0


def test_conformal_joins_broadcast_group_stats(spark):
    """Both data-sized joins (calib x stats for ranking, test x gstats
    for coverage) BROADCAST the |groups|-sized side; the residual rank
    is the only window and it partitions by group."""
    plan = _staged_plan(
        spark, "staged_round18", "conformal_coverage_acctbal"
    )
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastHashJoin") >= 2
    assert (
        "ReadSchema: struct<c_custkey:bigint,c_acctbal:double,"
        "c_mktsegment:string>" in plan
    )

def test_logrank_window_runs_on_the_duration_grid(spark):
    """The at-risk scan is one cumulative window over the
    distinct-duration histogram (bounded by the observation window),
    never a subject x time explosion; totals broadcast (1-row BNL);
    the scan reads only the three framing columns."""
    plan = _staged_plan(spark, "staged_round18", "logrank_purchase_by_cohort")
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 2  # 1-row totals
    assert n_nodes(plan, "Generate") == 0
    assert (
        "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,"
        "event_type:string>" in plan
    )


def test_cmh_folds_on_the_stratum_cells(spark):
    """One grouped conditional-sum aggregate keyed by the stratum;
    the chi-square/odds-ratio fold runs on the K-row cell relation —
    no joins, no windows, three-column scan."""
    plan = _staged_plan(
        spark, "staged_round18", "cmh_order_status_by_priority"
    )
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "Window",
        "Generate",
    ):
        assert n_nodes(plan, node) == 0
    assert (
        "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,"
        "o_orderpriority:string>" in plan
    )


def test_hill_panel_is_take_ordered_fixed_k(spark):
    """The tail panel is TakeOrderedAndProject with FIXED k+1 — no
    global sort of the metric relation; the support count crosses via
    a 1-row broadcast; single-column scan."""
    plan = _staged_plan(spark, "staged_round18", "hill_tail_order_values")
    assert "TakeOrderedAndProject" in plan
    assert n_nodes(plan, "CartesianProduct") == 0
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "BroadcastNestedLoopJoin") <= 2  # 1-row panel
    assert "ReadSchema: struct<o_totalprice:double>" in plan

