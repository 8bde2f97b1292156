"""Registry mapping query names → (Spark plan builder, DuckDB oracle SQL).

Every operator the engine claims is registered here with:
- a PySpark builder ``(spark, sf_dir) -> DataFrame``
- optionally, an equivalent ANSI-SQL string the DuckDB oracle runs on the
  same parquet tables (omitted only for genuinely non-SQL-expressible ops,
  which the driver then checks rows-only).

Column names are aliased identically on both sides: the driver's comparator
sorts columns by name before value-hashing, so any alias drift is a fail
even when values match.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# The external driver checks only the first 50 entries of ``queries()``
# each round; ``ordered_queries`` puts first what most needs a row.
#
# RECHECK: a query whose code changed since its last green driver row ->
# the newest CORRECTNESS round committed before the change. An entry is
# active while that round is >= the round of the query's last green row,
# so it expires once the driver commits a newer green row.
RECHECK: dict[str, int] = {
    "corpus_curation_full": 13,
    "dedup_keep_best_quality": 13,
    "embedding_ivf_multiprobe_topk": 13,
    "ivf_kmeans_codebook_assign": 13,
    "leakage_safe_split_assign": 13,
    "lpa_purchasing_communities": 13,
    "minhash_dedup_clusters": 13,
    "near_dup_cluster_size_histogram": 13,
    "pq_codebook_train_gate": 13,
    "semantic_dedup_survivors": 13,
    "soft_dedup_weights": 13,
    "embedding_top_direction_power": 12,
    "hits_supplier_part_scores": 12,
    "incremental_minhash_new_pairs": 12,
    "minhash_estimate_accuracy_gate": 12,
    "minhash_lsh_near_duplicates": 12,
    "near_dup_triangle_count": 12,
    "pagerank_supplier_part": 12,
    "pinterest_q1_top_category_per_country": 12,
    "pinterest_q2_top_category_per_year": 12,
    "pinterest_q3_top_user_per_country": 12,
    "pinterest_q4_top_category_per_age_group": 12,
    "pinterest_q5_users_joined_per_year": 12,
    "poisson_bootstrap_ci_value": 12,
    "repetition_signals": 12,
    "simhash_near_pairs": 12,
}

_EVIDENCE_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def is_green(name: str, row: dict) -> bool:
    """Whether a driver CORRECTNESS row certifies ``name``. A rows-only
    query is green once it ran (the driver marks its row
    err='no_oracle' with spark_rows set): its strongest evidence."""
    if name not in ORACLE:
        return row.get("err") in (None, "no_oracle") and (
            row.get("spark_rows") is not None
        )
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match", True)
        and not row.get("err")
    )


def read_evidence(evidence_dir: str) -> tuple[dict[str, dict], dict[str, int]]:
    """The latest driver row of each query in the CORRECTNESS_r<N>.json
    files of ``evidence_dir``, and the round of its latest green row."""
    rounds = sorted(
        (int(m.group(1)), m.group(0))
        for m in map(_EVIDENCE_FILE.fullmatch, os.listdir(evidence_dir))
        if m
    )
    latest: dict[str, dict] = {}
    last_green: dict[str, int] = {}
    for round_, file in rounds:
        with open(os.path.join(evidence_dir, file)) as fh:
            for name, row in json.load(fh).items():
                latest[name] = row
                if is_green(name, row):
                    last_green[name] = round_
    return latest, last_green


def ordered_queries(evidence_dir: str) -> dict[str, QueryFn]:
    """All registered queries in driver-check order, from the driver's
    CORRECTNESS_r<N>.json files in ``evidence_dir``. Tiers, in order:

    1. no row, or a red latest row;
    2. changed since the last green row (an active RECHECK entry);
    3. every other oracle-backed query;
    4. rows-only queries with a green row: no later row can make their
       evidence stronger.

    Within a tier the oldest last green row leads, then registration
    order, so a round's green rows move behind the rest and the window
    rotates through the registry. With no evidence files, RECHECK
    entries lead, then registration order."""
    latest, last_green = read_evidence(evidence_dir)
    if not latest:
        return {n: QUERIES[n] for n in sorted(QUERIES, key=lambda n: n not in RECHECK)}

    def key(item: tuple[int, str]) -> tuple[int, int, int]:
        index, name = item
        green_round = last_green.get(name, 0)
        if name not in latest or not is_green(name, latest[name]):
            tier = 1
        elif RECHECK.get(name, 0) >= green_round:
            tier = 2
        elif name in ORACLE:
            tier = 3
        else:
            tier = 4
        return tier, green_round, index

    return {name: QUERIES[name] for _, name in sorted(enumerate(QUERIES), key=key)}


def has_sql_line_comment(sql: str) -> bool:
    """True if ``sql`` contains a `--` line comment OUTSIDE string
    literals. A `--` inside a quoted literal (LIKE '%--%', a regex
    class with a literal double dash) is legitimate SQL; only a bare
    `--` would be swallowed by the whitespace collapse in register()."""
    # '' inside a literal is SQL's escaped quote; consume it within the
    # literal so "it''s--x" doesn't end the literal early.
    stripped = re.sub(r"'(?:[^']|'')*'", "''", sql)
    return "--" in stripped


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and its oracle SQL, if expressible)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        # validate BEFORE inserting: a rejected registration must leave
        # no partial entry behind
        if oracle is not None and has_sql_line_comment(oracle):
            # whitespace collapse below strips newlines, so a `--`
            # line comment would swallow the rest of the statement
            raise ValueError(
                f"oracle for {name} contains a `--` SQL comment; "
                "explain in a Python comment instead"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = " ".join(oracle.split())
        return fn

    return deco
