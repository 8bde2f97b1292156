"""NULL-fuzz strict-mirror guard: every staged query must agree with
its DuckDB oracle on NULL-INJECTED data, not just on the clean driver
testdata.

Round-12 provenance: running scripts/nullfuzz.py the first time found
EIGHT latent parity breaks across staged rounds 14-17 — oracles whose
equality joins dropped NULL classes, rank windows where Spark (NULLS
FIRST) and DuckDB (NULLS LAST) silently ranked NULLs at opposite ends,
a COUNT(DISTINCT)-vs-distinct-then-count split, and a skyline where an
unfiltered NULL row survives NOT-EXISTS but not the window
decomposition. All were invisible to the standing two-SF parity tests
because the testdata carries no NULLs in those columns. This test
keeps the class extinct: new staged queries are checked here the day
they are authored.

The fuzz is deterministic (see scripts/nullfuzz.FUZZ_PLAN): column i
of a table gets NULLs exactly where (primary id) % 53 == 7 + i.
"""

from __future__ import annotations

import importlib
import os

import pytest

from tests.oracle_utils import (
    run_both_sides,
    compare_frames,
    duckdb_connection,
)

FUZZ_DIR = "/tmp/nullfuzz_pytest_sf0.001"


def _staged() -> tuple[dict, dict]:
    qs: dict = {}
    oracles: dict = {}
    for n in range(14, 19):
        m = importlib.import_module(
            f"pinterest_data_pipeline_spark.plans.staged_round{n}"
        )
        qs.update(m.STAGED_QUERIES)
        oracles.update(m.STAGED_ORACLE)
    return qs, oracles


STAGED_QUERIES, STAGED_ORACLE = _staged()


@pytest.fixture(scope="session")
def fuzz_dir(spark):
    from scripts.nullfuzz import make_fuzzed

    marker = os.path.join(FUZZ_DIR, "customer.parquet")
    if not os.path.exists(marker):
        make_fuzzed(spark, "/root/testdata/sf0.001", FUZZ_DIR)
    return FUZZ_DIR


@pytest.mark.parametrize("name", sorted(STAGED_QUERIES))
def test_staged_query_matches_oracle_on_null_fuzz(spark, fuzz_dir, name):
    spark_pdf, oracle_pdf, oracle_problems = run_both_sides(
        lambda: STAGED_QUERIES[name](spark, fuzz_dir).toPandas(),
        fuzz_dir,
        STAGED_ORACLE[name],
    )
    assert not oracle_problems, f"{name}@nullfuzz: {oracle_problems}"
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}@nullfuzz: {problems}"


# The REGISTERED queries the round-12 fuzz sweeps flagged — first the
# nine window splits, then the 28 the FULL-registry sweep found — each
# retired with a specific NULL contract (PERF.md "NULL-fuzz of the
# registry window" / "NULL-fuzz of the full registry"). Pinned
# individually — running all 288 registered queries through the fuzz
# every pytest would cost ~15 min for queries whose NULL paths never
# changed; these are the ones with a fixed-in-anger contract worth a
# standing regression. Contract classes:
#   unit-id exclusions   — NULL unit ids excluded from randomization
#                          (srm/poststrat + the whole experiment family)
#   NULL≍'' oracles      — md5 pipelines replay the engines' whole-
#                          document fallback (winnowing/minhash/bloom)
#   NULL propagation     — string synthesis (from_csv/URL/JSON envelope)
#                          and try_* quarantine counts keep NULL rows
#   identity exclusions  — map keys, FK orphans, trend series keys,
#                          z-order coordinates need identifiable values
#   Arrow survivability  — pandas UDFs must survive NULL groups/payloads
RETIRED_REGISTRY_SPLITS = [
    "srm_assignment_audit",
    "poststratified_lift_user_spend",
    "winnowing_passage_pairs",
    "winnowing_cap_report",
    "minhash_dedup_clusters",
    "dsir_importance_weights",
    "dsir_gumbel_topk",
    "fellegi_sunter_link_weights",
    "cut_duplicate_spans_stats",
    # --- full-registry sweep (round 12), alphabetical ---
    "ab_purchase_ztest",
    "approx_percentiles_sketch",
    "argmax_literal_max_first",
    "asof_join_latest_view",
    "bloom_semi_join_prune",
    "chisq_event_type_by_arm",
    "cuped_event_experiment",
    "dedup_keep_best_quality",
    "fk_integrity_audit",
    "from_csv_embedded_records",
    "grouped_map_top2_per_nation",
    "hof_map_ops",
    "incremental_minhash_new_pairs",
    "leakage_safe_split_assign",
    "mann_kendall_daily_trend",
    "mann_whitney_event_value",
    "mde_power_purchase",
    "minhash_estimate_accuracy_gate",
    "minhash_lsh_near_duplicates",
    "multimodal_raw_decode_features",
    "ngram_containment_pairs",
    "ngram_jaccard_pairs",
    "obrien_fleming_interim_looks",
    "parse_url_features",
    "per_source_lang_mix",
    "quality_linear_gate",
    "quantile_lift_user_spend",
    "regex_function_matrix",
    "soft_dedup_weights",
    "stream_running_totals_batch",
    "text_lang_id",
    "to_json_envelope",
    "try_arithmetic_funcs",
    "winsorized_mean_lift_user_spend",
    "zorder_layout_pruning_report",
    # --- NULL graph nodes (NULL l_suppkey/l_partkey): the vote's mode
    # skips NULL labels, which must pick what NULLS-LAST ties picked
    "lpa_purchasing_communities",
]


@pytest.mark.parametrize("name", RETIRED_REGISTRY_SPLITS)
def test_retired_registry_split_stays_null_parity(spark, fuzz_dir, name):
    import __spark_entry__ as entry_mod

    spark_pdf, oracle_pdf, oracle_problems = run_both_sides(
        lambda: entry_mod.queries()[name](spark, fuzz_dir).toPandas(),
        fuzz_dir,
        entry_mod.oracle_sql()[name],
    )
    assert not oracle_problems, f"{name}@nullfuzz: {oracle_problems}"
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}@nullfuzz: {problems}"


EMPTY_FUZZ_DIR = "/tmp/emptyfuzz_pytest_sf0.001"

# The four registered queries the round-12 `--mode empty` sweep flagged
# (PERF.md "empty-string fuzz"): DuckDB's json_extract THROWS on an ''
# payload where Spark's extractors yield NULL, and an '' provenance
# field synthesized a half-parseable URL. Contracts: '' payload ==
# missing payload (nullif both sides; the variant path quarantines via
# try_parse_json), '' provenance == missing provenance.
RETIRED_EMPTY_SPLITS = [
    "json_extract_events",
    "variant_extract_events",
    "item_cooccurrence_similarity",
    "parse_url_features",
]


@pytest.fixture(scope="session")
def empty_fuzz_dir(spark):
    from scripts.nullfuzz import make_fuzzed

    marker = os.path.join(EMPTY_FUZZ_DIR, "customer.parquet")
    if not os.path.exists(marker):
        make_fuzzed(
            spark, "/root/testdata/sf0.001", EMPTY_FUZZ_DIR, mode="empty"
        )
    return EMPTY_FUZZ_DIR


@pytest.mark.parametrize("name", RETIRED_EMPTY_SPLITS)
def test_retired_empty_split_stays_parity(spark, empty_fuzz_dir, name):
    import __spark_entry__ as entry_mod

    spark_pdf = entry_mod.queries()[name](spark, empty_fuzz_dir).toPandas()
    con = duckdb_connection(empty_fuzz_dir)
    try:
        oracle_pdf = con.execute(entry_mod.oracle_sql()[name]).fetchdf()
    finally:
        con.close()
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}@emptyfuzz: {problems}"


TS_FUZZ_DIR = "/tmp/tsfuzz_pytest_sf0.001"

# The registered queries the round-12 `--mode nullts` sweep flagged
# (PERF.md "NULL-timestamp fuzz"): every one rooted in the same ANSI
# divergence — Spark ASC windows order NULL timestamps FIRST, DuckDB
# LAST. Contract classes:
#   time-axis drops   — sequences (transition matrix, logloss,
#                       trigrams), sessionization, streaming windows,
#                       slice-based rollup maintenance and watermark
#                       accounting DROP NULL-ts rows: an event with no
#                       timestamp has no position on the time axis
#                       (streaming's watermark would never admit it)
#   JOIN semantics    — the as-of family: a NULL as-of predicate
#                       matches nothing; NULL-ts left rows pass
#                       through with NULL values (the oracle spells
#                       this out because DuckDB's native ASOF sorts
#                       NULL left keys last and would attach the
#                       LATEST right row)
#   pinned ordering   — pure window demos and layout reports KEEP
#                       NULL-ts rows and pin NULLS FIRST explicitly
#                       on both sides (Spark's default)
#   quarantine rows   — the HLL sketch table keeps a NULL-day
#                       quarantine sketch (users still counted) but
#                       excludes it from n_days
RETIRED_TS_SPLITS = [
    "asof_join_latest_view",
    "cusum_changepoint_revenue",
    "event_transition_matrix",
    "hll_sketch_union_gate",
    "incremental_rollup_events",
    "markov_path_logloss",
    "session_window_user_counts",
    "sessionize_event_stats",
    "sessionize_events",
    "sliding_window_event_counts",
    "tumbling_hourly_event_counts",
    "varint_layout_size_report",
    "watermark_lateness_audit",
    "window_running_and_lag",
    "window_value_functions",
]


@pytest.fixture(scope="session")
def ts_fuzz_dir(spark):
    from scripts.nullfuzz import make_fuzzed

    marker = os.path.join(TS_FUZZ_DIR, "customer.parquet")
    if not os.path.exists(marker):
        make_fuzzed(
            spark, "/root/testdata/sf0.001", TS_FUZZ_DIR, mode="nullts"
        )
    return TS_FUZZ_DIR


@pytest.mark.parametrize("name", RETIRED_TS_SPLITS)
def test_retired_ts_split_stays_parity(spark, ts_fuzz_dir, name):
    import __spark_entry__ as entry_mod

    spark_pdf = entry_mod.queries()[name](spark, ts_fuzz_dir).toPandas()
    con = duckdb_connection(ts_fuzz_dir)
    try:
        oracle_pdf = con.execute(entry_mod.oracle_sql()[name]).fetchdf()
    finally:
        con.close()
    problems = compare_frames(spark_pdf, oracle_pdf)
    assert not problems, f"{name}@tsfuzz: {problems}"
