"""Scale-trend stress run: replicate the sf0.1 tables N× into /tmp and
re-run the heavyweight operators, recording wall time vs data size.

This is the local proxy for the 100 TB question: an operator whose cost
grows super-linearly here (all-pairs joins, collapsed-projection HOFs)
will not survive a real cluster. Run:

    python scripts/stress.py [replication_factor]

Ids are remapped per replica (id + replica * stride) so keys stay unique
and dedup/LSH don't see artificial verbatim duplicates beyond the ones
each replica already contains.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from pinterest_data_pipeline_spark.session import get_spark
from pinterest_data_pipeline_spark.sources.parquet import load_table

SRC_SF = "/root/testdata/sf0.1"
STRIDE = 10_000_000

REPLICATED_IDS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
}

QUERIES = [
    "minhash_lsh_near_duplicates",
    "simhash_near_pairs",
    "embedding_near_dup_pairs",
    "embedding_cosine_topk",
    "exact_dedup_fingerprint",
    "agg_pricing_summary",
    "join_inner_large",
    "sessionize_events",
    "q3a_top_customer_per_nation",
    "window_running_and_lag",
    # round-2 operators
    "chunk_documents_tokens",
    "stratified_sample_per_lang",
    "embedding_quantize_error_bound",
    "repetition_signals",
    # corpus-statistics scorers + funnel (this round)
    "tfidf_top_terms",
    "unigram_logprob_quality",
    "event_funnel_steps",
    "boilerplate_ngram_fraction",
    # late round-2 operators
    "semantic_dedup_survivors",
    "scalar_subquery_low_qty",
    "exists_late_ship_orders",
    "range_join_acctbal_bands",
    "incremental_rollup_events",
    # round-2 continuation: graph / timeseries / profiling / join-prefilter
    "pagerank_supplier_part",
    "rolling_1h_user_value",
    "event_transition_matrix",
    "gap_fill_hourly_user_value",
    "cumulative_unique_users",
    "equidepth_histogram_acctbal",
    "zonemap_prefilter_join",
    "profile_documents_columns",
    # round 3: curation funnel (clustering-barrier fix), corpus reports,
    # passage dedup, distribution drift, bloom pruning, EXISTS rewrite
    "corpus_curation_full",
    "exists_late_ship_orders",
    "passage_dedup_report",
    "token_entropy_by_lang",
    "unigram_kl_by_source",
    "bloom_semi_join_prune",
    "dedup_rate_by_source",
    "near_dup_cluster_size_histogram",
    # round-3 continuation: CDC chunking, containment, skew-safe top-k,
    # TPC-H shape fill-ins, bucketed layout join, weighted sampling
    "cdc_chunk_dedup_report",
    "cross_source_containment",
    "salted_topk_events_per_user",
    "order_count_histogram",
    "big_order_customers",
    "part_revenue_share_gate",
    "bucketed_colocated_join",
    "weighted_sample_per_source",
    # round 5: the promoted as-of (nearest direction — records the
    # "two sequential key shuffles, linear in rows" claim), winnowing,
    # the Pinterest end-to-end flagship, and the IVF gate pipelines
    "asof_nearest_view_per_click",
    "winnowing_passage_pairs",
    "pinterest_q1_top_category_per_country",
    "pinterest_q2_top_category_per_year",
    "pinterest_q3_top_user_per_country",
    "pinterest_q4_top_category_per_age_group",
    "pinterest_q5_users_joined_per_year",
    "embedding_ivf_multiprobe_topk",
    # round-5 staging (plans/staged_round6.py): DSIR selection, BPE
    # training, ExactSubstr span
    # dedup, per-session sessionization, DoReMi reweight. NB the
    # replica layout duplicates every document verbatim (only ids are
    # remapped), so the span-dedup rows measure the ALL-DUPLICATED
    # worst case: flagged-shingle volume goes from ~9% to 100% of the
    # corpus, an extra ~11x of honest output-bound work on top of the
    # x30 input scaling.
    "dsir_importance_weights",
    "dsir_gumbel_topk",
    "bpe_learn_merges",
    "bpe_encode_compression",
    "duplicate_span_report",
    "cut_duplicate_spans_stats",
    "sessionize_event_stats",
    "doremi_domain_reweight",
    "cross_source_span_leakage",
    "soft_dedup_weights",
    "bpe_fertility_by_lang",
    "curation_v2_report",
    "bigram_logprob_quality",
    "mattr_lexical_diversity",
    "dedup_keep_best_quality",
    "leakage_safe_split_assign",
    "token_budget_selection",
    "mixture_epoch_capped_plan",
    "bpe_pair_stats",
    "winnowing_cap_report",
    "incremental_embedding_new_pairs",
    "join_null_safe_agg",
    # round-6 staging (plans/staged_round7.py): spatial, retrieval,
    # experimentation, spectral, decay, calibration, curriculum,
    # triplet/MMR retrieval-training, labeling QA, co-occurrence CF
    "geo_radius_pairs_customers",
    "geo_nearest_neighbor_probes",
    "bm25_doc_scores",
    "rrf_quality_length_fusion",
    "cuped_event_experiment",
    "ewma16_user_value",
    "quality_decile_calibration",
    "curriculum_interleave_shards",
    "embedding_top_direction_power",
    "triplet_mining_anchors",
    "mmr_diverse_rerank",
    "annotator_agreement_kappa",
    "item_cooccurrence_similarity",
    "ab_purchase_ztest",
    "ndcg_length_ranker_by_source",
    "mann_whitney_event_value",
    "chisq_event_type_by_arm",
    # round-6 pre-staging for round 8 (plans/staged_round8.py):
    # offline evaluation — quantile lift, IPS/SNIPS, reliability/ECE
    "quantile_lift_user_spend",
    "ips_reranker_policy_value",
    "ece_quality_gate_probability",
    "winsorized_mean_lift_user_spend",
    "dr_reranker_policy_value",
    "mde_power_purchase",
    "hits_supplier_part_scores",
    "countmin_token_frequency",
    # round-7 staging for round 9 (plans/staged_round9.py): data audits,
    # corpus linguistics, sampling/allocation, survival, rank agreement
    "weighted_priority_sample",
    "flesch_reading_ease_by_lang",
    "charset_script_profile",
    "benford_price_audit",
    "ks_exact_two_sample",
    "autocorr_daily_revenue",
    "gini_user_activity_skew",
    "pmi_bigram_collocations",
    "feature_hash_buckets",
    "stratified_budget_allocation",
    "kaplan_meier_retention",
    "rbo_rank_agreement",
    # round-7 pre-staging for round 10 (plans/staged_round10.py):
    # privacy gate, behavioral features, retrieval infra, ts audits
    "k_anonymity_docs",
    "rfm_user_segments",
    "markov_path_logloss",
    "phrase_query_table_hash",
    "average_precision_by_source",
    "pq_codebook_train_gate",
    "dow_seasonality_events",
    "cusum_changepoint_revenue",
    # round-7 seed for round 11 (plans/staged_round11.py): exact
    # similarity joins
    "fastss_customer_name_pairs",
    "jaccard_exact_doc_pairs",
    "containment_exact_doc_pairs",
    "zorder_layout_pruning_report",
    # round-12 addition: the capped trim-report driver row
    "jaccard_trim_report_capped",
    # round-8 extension of the round-11 batch: pipeline operations
    "watermark_lateness_audit",
    "mann_kendall_daily_trend",
    "peak_concurrency_daily",
    "varint_layout_size_report",
    "merkle_diff_orders",
    "rendezvous_reshard_stability",
    # round-8 staging for round 12 (plans/staged_round12.py)
    "poisson_bootstrap_ci_value",
    "obrien_fleming_interim_looks",
    "span_corruption_plan_docs",
    "profile_drift_audit",
    "mutual_nn_pairs_sample",
    "embedding_cell_quality_db",
    "lpa_purchasing_communities",
    "fellegi_sunter_link_weights",
    # round-8 seed for round 13 (plans/staged_round13.py)
    "k_core_purchasing_profile",
    "l_diversity_docs",
    "dirichlet_lm_doc_scores",
    "err_at_10_length_ranker",
    "poststratified_lift_user_spend",
    # round-9 extension of the round-13 batch: record survivorship,
    # Good-Turing coverage, KMV sketch, Fano burstiness, SRM audit
    "survivorship_golden_record",
    "good_turing_bigram_coverage",
    "kmv_distinct_price_points",
    "event_burstiness_by_type",
    "srm_assignment_audit",
    # round-9 staging for round 14 (plans/staged_round14.py):
    # pipeline trust + layout planning
    "snm_blocking_recall",
    "degree_assortativity_supply",
    "heaps_vocab_growth_docs",
    "idempotency_conflict_audit",
    "monthly_revenue_recognition",
    "quantile_normalized_value_by_type",
    "twap_user_value",
    "daily_file_compaction_plan",
    # round-9 seed for round 15 (plans/staged_round15.py)
    "association_rules_parts",
    "theil_sen_daily_revenue",
    "llr_bigram_collocations",
    "rec_coverage_diversity",
    "mase_seasonal_naive_backtest",
    "skyline_price_size_parts",
    "trending_parts_rank_shift",
    "intrinsic_dim_embeddings_twonn",
    # round-10 seed for round 16 (plans/staged_round16.py)
    "spearman_doc_len_tokens_by_lang",
    "eb_shrunk_user_purchase_rate",
    "contrastive_negative_sources",
    "burrows_delta_sources",
    "kruskal_wallis_value_by_type",
    # round-11 seed for round 17 (plans/staged_round17.py)
    "js_divergence_token_sources",
    "mutual_info_lang_source_docs",
    "t_closeness_docs",
    "caliper_match_balance_customers",
    "event_trigram_paths_top",
    # round-12 seed for round 18 (plans/staged_round18.py)
    "psi_price_drift_orders",
    "conformal_coverage_acctbal",
    "logrank_purchase_by_cohort",
    "cmh_order_status_by_priority",
    "hill_tail_order_values",
]

# Queries whose count() plan lets Catalyst eliminate the expensive
# subtree (e.g. a left join on a groupBy key): force full evaluation
# through the noop sink so the measurement covers the real work.
FORCE_FULL_EVAL = {"cut_duplicate_spans_stats"}


def replicate(spark, out_dir: str, factor: int) -> None:
    expected = ["region", "nation", "supplier", "part", *REPLICATED_IDS]
    if all(
        os.path.exists(f"{out_dir}/{t}.parquet/_SUCCESS") for t in expected
    ):
        print(f"# reusing existing replicas in {out_dir}", file=sys.stderr)
        return
    os.makedirs(out_dir, exist_ok=True)
    for name in ["region", "nation", "supplier", "part"]:  # dims: copy once
        load_table(spark, SRC_SF, name).write.mode("overwrite").parquet(
            f"{out_dir}/{name}.parquet"
        )
    for name, id_cols in REPLICATED_IDS.items():
        base = load_table(spark, SRC_SF, name)
        parts = []
        for r in range(factor):
            df = base
            for c in id_cols:
                df = df.withColumn(c, F.col(c) + F.lit(r * STRIDE))
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    # optional comma-separated query subset (argv[2]) for deep-factor
    # runs where the full list would take too long at ×100. The subset
    # is honored VERBATIM (argv order), not intersected with QUERIES —
    # a name outside the standing list (e.g. a heavy registered query
    # that never needed an x30 row) still gets its deep point instead
    # of being silently skipped.
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    out_dir = f"/tmp/stress_x{factor}"
    spark = get_spark(app_name="stress")
    t0 = time.perf_counter()
    replicate(spark, out_dir, factor)
    print(f"# replicated x{factor} in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    results = {}
    # STRESS_RUNS=1 collapses min-of-two to a single BIG-side run for
    # multi-minute output-bound deep points (ED<=1 / Jaccard / containment
    # pair joins at x100 emit 10^8-10^9 rows per evaluation): the JIT
    # inflation min-of-two exists to cancel is a constant few seconds,
    # noise against a 30-minute run, and the second evaluation doubles
    # cost for nothing. The BASE side always keeps min-of-two — it is
    # sub-10s, where first-run codegen bias is real and would deflate
    # the ratio's denominator.
    big_runs = max(1, int(os.environ.get("STRESS_RUNS", "2")))

    def timed(fn, d, full_eval=False, runs=2):
        """min of N runs: the first execution of a plan pays one-time
        JIT/codegen compilation (measured 2-8× inflation), and since the
        ×30 run always follows a base run of the same shape, a single-run
        harness systematically biases base_s up and the ratio down (it
        even inverted some ratios below 1). min-of-two measures the plan
        on both sides (see STRESS_RUNS above for the big-side exception)."""

        def run():
            df = fn(spark, d)
            if full_eval:
                df.write.format("noop").mode("overwrite").save()
                return df.count()  # row count via the (pruned) fast path
            return df.count()

        best = None
        n = 0
        for _ in range(runs):
            t0 = time.perf_counter()
            n = run()
            s = time.perf_counter() - t0
            best = s if best is None else min(best, s)
        return best, n

    import importlib

    queries = dict(entry_mod.queries())
    for r in range(14, 19):  # the never-registered staging batches
        queries.update(
            importlib.import_module(
                f"pinterest_data_pipeline_spark.plans.staged_round{r}"
            ).STAGED_QUERIES
        )
    for name in (only if only is not None else QUERIES):
        fn = queries[name]
        full = name in FORCE_FULL_EVAL
        base_s, n_base = timed(fn, SRC_SF, full)
        big_s, n_big = timed(fn, out_dir, full, runs=big_runs)
        ratio = big_s / base_s if base_s > 0 else float("nan")
        # Output-growth annotation: a pair-generating query under
        # uniform replication legitimately emits ~factor² pairs, so a
        # time_ratio above `factor` is NOT superlinear compute if it
        # stays at-or-under rows_ratio — time tracking output volume is
        # the correct asymptotic. Only time growth beyond BOTH input
        # and output growth gets flagged. (Judged tolerances: 1.25×
        # slack absorbs single-run shuffle/JIT noise.)
        rows_ratio = (
            round(n_big / n_base, 2) if n_base > 0 else None
        )
        if ratio <= factor * 1.25:
            verdict = "ok: sublinear-in-input"
        elif rows_ratio is not None and ratio <= rows_ratio * 1.25:
            verdict = "ok: output-bound (time tracks output rows)"
        else:
            verdict = "FLAG: time grew beyond input and output growth"
        results[name] = {
            "base_s": round(base_s, 2),
            f"x{factor}_s": round(big_s, 2),
            "time_ratio": round(ratio, 2),
            "rows_base": n_base,
            f"rows_x{factor}": n_big,
            "rows_ratio": rows_ratio,
            "verdict": verdict,
        }
        print(
            f"# {name}: {base_s:.2f}s -> {big_s:.2f}s ({ratio:.1f}x; "
            f"rows x{rows_ratio}) {verdict}",
            file=sys.stderr,
        )
    print(json.dumps({"factor": factor, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
