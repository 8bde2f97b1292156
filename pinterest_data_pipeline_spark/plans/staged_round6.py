"""Curation composition queries, registered in round 6.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round6.py checks them at sf0.01
and pins the operators' behavior.

The set completes the LLM-curation story with the COMPOSITION stages
that sit between the already-registered primitives:

- ``dedup_keep_best_quality`` — near-dup clusters keep their
  highest-quality member, not their lowest id (cluster formation ×
  model-based quality gate).
- ``leakage_safe_split_assign`` — train/val/test hash split that routes
  every near-dup cluster through ONE split (dedup × hash_split): the
  guard against eval contamination via duplicates straddling splits.
- ``token_budget_selection`` — best-documents-first selection under a
  token budget, two-phase so no global sort exists at scale.
- ``mixture_epoch_capped_plan`` — sqrt-temperature mixture with
  per-source epoch caps and one water-filling redistribution round.
- ``bpe_pair_stats`` — corpus-wide adjacent-token-pair frequencies,
  the first BPE merge ranking.
- ``winnowing_cap_report`` — the "no silent caps" audit row for the
  winnowing bucket cap (buckets/rows dropped, integer-ppm share).
- ``incremental_embedding_new_pairs`` — embedding near-dup ingest
  against a persisted hyperplane band table (the vector twin of the
  registered incremental MinHash ingest).
- ``dsir_importance_weights`` / ``dsir_gumbel_topk`` — DSIR data
  selection (Xie et al. 2023): hashed-n-gram importance log-weights
  against a target domain, and Gumbel-top-k sampling without
  replacement on top of them (operators/dsir.py).
- ``bpe_learn_merges`` / ``bpe_encode_compression`` — full BPE
  tokenizer training (k merges, corpus touched once, vocab-sized
  iterations) and its application back to the corpus via a vocab
  join; the iterative learn loop unrolls into k oracle CTE layers,
  so even the training run is value-verified (operators/bpe.py).
- ``duplicate_span_report`` / ``cut_duplicate_spans_stats`` —
  ExactSubstr dedup (Lee et al. 2021) via the L-gram cover: maximal
  corpus-duplicated token spans and their removal
  (operators/substring_dedup.py).
- ``cross_source_span_leakage`` — the span-grain decontamination
  variant: passages whose shingles appear in >= 2 DISTINCT sources
  (within-source repetition never flags).
- ``sessionize_event_stats`` — per-SESSION-grain sessionization
  (start/end/count/value per session; the registered
  ``sessionize_events`` reports only per-user session counts),
  factored into a reusable operator with integer-microsecond gap
  math and a pinned single-Exchange plan (operators/sessionize.py).
- ``doremi_domain_reweight`` — one DoReMi exponentiated-gradient
  mixture step over per-domain excess unigram-LM loss
  (operators/sampling.doremi_reweight, Xie et al. 2023).
- ``soft_dedup_weights`` — SoftDeDup (He et al. 2024): keep every
  document, weight it 1/cluster_size so duplicated mass stops
  dominating the loss.
- ``bpe_fertility_by_lang`` — tokenizer-equity audit: per-language
  fertility (pieces/word, chars/piece) of the corpus-trained BPE
  tokenizer (operators/bpe.bpe_fertility).
- ``curation_v2_report`` — end-to-end composition of this round's
  operators on progressively filtered subsets (quality gate ->
  ExactSubstr cut within the survivors -> exact dedup of the
  remainders), per-stage doc/token counts.
- ``bigram_logprob_quality`` — self-trained interpolated bigram LM
  score: the word-ORDER-sensitive quality signal unigram scoring
  cannot express (operators/tfidf.bigram_logprob).
- ``join_null_safe_agg`` — null-safe equality join (`<=>` /
  IS NOT DISTINCT FROM) over a derived-NULL key, the join-family
  member the registered matrix lacks.
- ``mattr_lexical_diversity`` — MATTR-25 moving-average type-token
  ratio (Covington & McFall 2010), the length-robust lexical
  diversity signal; integer window sums, one final division
  (operators/text.mattr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.plans.training_data import (
    _MINHASH_BANDS,
    _PLANES_SQL,
    _QUALITY_MARGIN,
    _TRIGRAMS,
    _cos_sql,
)
from pinterest_data_pipeline_spark.sources.parquet import load_table


# The portable-hash MinHash near-dup clusters, exactly as the
# oracle-green `minhash_dedup_clusters` registration computes them
# (same trigrams, same baked seed-42 permutations, same md5 band keys,
# same 0.5 Jaccard verification, recursive-CTE connected components),
# then extended with singleton ownership: every document not in any
# near-dup cluster owns itself.
_OWNER_CTES = f"""
    sh AS (
        SELECT doc_id, {_TRIGRAMS} AS g FROM documents
    ),
    {_MINHASH_BANDS},
    cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    ),
    verified AS (
        SELECT c.id_a, c.id_b
        FROM cand c JOIN sh a ON a.doc_id = c.id_a
                    JOIN sh b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
              / greatest(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)), 1)
              >= 0.5
    ),
    und AS (
        SELECT id_a AS s, id_b AS t FROM verified
        UNION SELECT id_b, id_a FROM verified
    ),
    reach(node, r) AS (
        SELECT s, s FROM und
        UNION
        SELECT u.t, reach.r FROM reach JOIN und u ON u.s = reach.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    ),
    owner AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    )"""

# The integer quality margin, exactly as the oracle-green
# `quality_linear_gate` registration computes it.
_MARGIN_CTE = rf"""
    margins AS (
        SELECT doc_id,
               {_QUALITY_MARGIN} AS margin,
               CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    )"""


def _cluster_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: portable MinHash near-dup
    connected components, singletons owning themselves."""
    from pinterest_data_pipeline_spark.operators import dedup
    from pinterest_data_pipeline_spark.operators.clustering import (
        duplicate_clusters,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.near_duplicates_minhash(
        docs, "doc_id", "text", portable=True
    )
    clusters = duplicate_clusters(pairs)
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE {_OWNER_CTES}, {_MARGIN_CTE},
    ranked AS (
        SELECT o.cluster_id, o.doc_id, m.margin,
               CAST(COUNT(*) OVER (PARTITION BY o.cluster_id) AS BIGINT)
                   AS cluster_size,
               ROW_NUMBER() OVER (PARTITION BY o.cluster_id
                   ORDER BY m.margin DESC, o.doc_id ASC) AS rn
        FROM owner o JOIN margins m ON m.doc_id = o.doc_id
    )
    SELECT cluster_id, doc_id AS keep_doc_id, margin AS keep_margin,
           cluster_size
    FROM ranked WHERE rn = 1
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup collapse: each MinHash duplicate cluster
    keeps its HIGHEST-QUALITY member (linear-gate margin, doc_id
    tie-break) instead of the conventional lowest-id canonical — the
    production rule when duplicates differ in cleanliness (one copy has
    boilerplate, another doesn't). Singletons keep themselves, so the
    output is the full post-dedup corpus manifest.

    Scale: cluster formation is the registered banded pipeline (never
    cartesian); the quality margin is a zero-shuffle expression scan;
    the keep-choice is one WindowGroupLimit over |docs| rows keyed by
    cluster — the same argmax discipline as every q* query."""
    from pinterest_data_pipeline_spark.operators.argmax import top_per_group
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    owners = _cluster_owners(spark, sf_dir)
    scored = docs.select(
        "doc_id", linear_quality_margin("text").alias("margin")
    ).join(owners, "doc_id")
    sized = scored.withColumn(
        "cluster_size",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("bigint"),
    )
    return top_per_group(
        sized,
        ["cluster_id"],
        [F.desc("margin"), F.asc("doc_id")],
    ).select(
        "cluster_id",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("margin").alias("keep_margin"),
        "cluster_size",
    )


@register(
    "leakage_safe_split_assign",
    oracle=f"""
    WITH RECURSIVE {_OWNER_CTES}
    SELECT doc_id, cluster_id AS owner_id,
           CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '0d'
                THEN 'test'
                WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 2) < '1a'
                THEN 'val'
                ELSE 'train' END AS split
    FROM owner
    """,
)
def leakage_safe_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the content-hash split
    (operators/sampling.hash_split) keyed by each document's near-dup
    CLUSTER owner rather than the document itself, so duplicate and
    near-duplicate documents can never straddle a split boundary — the
    standard guard against test-set contamination via duplicates. A
    plain per-doc hash split leaks: two near-identical docs hash
    independently and land in train and test ~9.3% of the time per
    pair.

    Scale: one broadcast-able cluster map joined onto the corpus; the
    split itself is a per-row md5 expression with zero shuffle."""
    from pinterest_data_pipeline_spark.operators.sampling import hash_split

    owners = _cluster_owners(spark, sf_dir).select(
        "doc_id", F.col("cluster_id").alias("owner_id")
    )
    return hash_split(owners, id_col="owner_id").select(
        "doc_id", "owner_id", "split"
    )


@register(
    "token_budget_selection",
    oracle=f"""
    WITH {_MARGIN_CTE},
    cum AS (
        SELECT doc_id, margin, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   ORDER BY margin DESC, doc_id ASC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM margins
    )
    SELECT doc_id, margin, CAST(n_tokens AS INTEGER) AS n_tokens,
           cum_tokens
    FROM cum WHERE cum_tokens <= 20000
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-documents-first selection under a 20k-token budget
    (operators/sampling.token_budget_selection): the curation stage
    that spends a fixed training-token budget on the highest
    quality-margin documents, with the running total returned for
    auditability. The oracle states the semantics as ONE global running
    sum; the operator computes the identical set two-phase (per-margin
    bucket totals + within-bucket windows) so no single-partition
    global sort exists at 100 TB — the cross-check pins the two
    formulations equal."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        token_budget_selection as select_op,
    )
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        linear_quality_margin("text").alias("margin"),
        token_count("text").alias("n_tokens"),
    )
    return select_op(feats, budget=20000)


@register(
    "mixture_epoch_capped_plan",
    oracle=r"""
    WITH feats AS (
        SELECT source,
               CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS toks
        FROM documents
    ),
    c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS n_tokens
        FROM feats GROUP BY 1
    ),
    n1 AS (
        SELECT list_sum(list_transform(list(n_docs ORDER BY source),
                   x -> sqrt(CAST(x AS DOUBLE)))) AS w1
        FROM c
    ),
    r1 AS (
        SELECT c.source, c.n_docs, c.n_tokens,
               CAST(c.n_tokens * 2 AS BIGINT) AS cap_tokens,
               CAST(least(CAST(c.n_tokens * 2 AS BIGINT),
                   CAST(floor(CAST(30000 AS DOUBLE)
                        * sqrt(CAST(c.n_docs AS DOUBLE)) / n1.w1)
                        AS BIGINT)) AS BIGINT) AS alloc1
        FROM c, n1
    ),
    n2 AS (
        SELECT CAST(30000 - SUM(alloc1) AS BIGINT) AS leftover,
               list_sum(list_transform(
                   list(CASE WHEN alloc1 < cap_tokens THEN n_docs
                        ELSE 0 END ORDER BY source),
                   x -> sqrt(CAST(x AS DOUBLE)))) AS w2
        FROM r1
    )
    SELECT r1.source, r1.n_docs, r1.n_tokens, r1.cap_tokens,
           CAST(r1.alloc1 + CASE
               WHEN r1.alloc1 < r1.cap_tokens AND n2.w2 > 0
               THEN least(r1.cap_tokens - r1.alloc1,
                   CAST(floor(CAST(n2.leftover AS DOUBLE)
                        * sqrt(CAST(r1.n_docs AS DOUBLE)) / n2.w2)
                        AS BIGINT))
               ELSE 0 END AS BIGINT) AS alloc_tokens,
           round(CAST(r1.alloc1 + CASE
               WHEN r1.alloc1 < r1.cap_tokens AND n2.w2 > 0
               THEN least(r1.cap_tokens - r1.alloc1,
                   CAST(floor(CAST(n2.leftover AS DOUBLE)
                        * sqrt(CAST(r1.n_docs AS DOUBLE)) / n2.w2)
                        AS BIGINT))
               ELSE 0 END AS DOUBLE)
               / CAST(r1.n_tokens AS DOUBLE), 6) AS epochs_r6
    FROM r1, n2
    """,
)
def mixture_epoch_capped_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture with per-source epoch caps
    (operators/sampling.epoch_capped_mixture): a 30k-token budget is
    split across sources ∝ sqrt(n_docs) (the T=2 rebalancing rule),
    clamped at 2 epochs per source, with one water-filling round
    redistributing capped surplus to the uncapped sources — the plan a
    real pretraining mix uses when small sources would otherwise be
    over-epoched into memorization. Integer allocations + sorted-order
    sqrt folds keep every value engine-portable.

    Scale: one partial-combinable aggregate per source; all later steps
    run on the |sources|-row relation with 1-row broadcast
    normalizers."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        epoch_capped_mixture,
    )
    from pinterest_data_pipeline_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select("source", token_count("text").alias("toks"))
    return epoch_capped_mixture(feats, "source", "toks", budget=30000)


@register(
    "bpe_pair_stats",
    oracle=r"""
    WITH t AS (
        SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        FROM documents
    ),
    pairs AS (
        SELECT tk[CAST(g.i AS INTEGER)] || ' ' ||
               tk[CAST(g.i AS INTEGER) + 1] AS pair
        FROM t, UNNEST(range(1, len(tk))) AS g(i)
        WHERE len(tk) >= 2
    ),
    counts AS (
        SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1
    )
    SELECT pair, n FROM counts ORDER BY n DESC, pair ASC LIMIT 50
    """,
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token-pair frequencies
    (operators/text.adjacent_pair_counts) — the ranking statistic of
    the first BPE/WordPiece merge step, and the tokenizer-training
    counterpart of the registered unigram/TF-IDF statistics. The
    (n DESC, pair ASC) total order makes the cut deterministic in both
    engines.

    Scale: per-row pair explosion (array zip, no join), vocabulary-sized
    partial-aggregate shuffle, TakeOrdered global cut — no full sort."""
    from pinterest_data_pipeline_spark.operators.text import (
        adjacent_pair_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return adjacent_pair_counts(docs, top_n=50)


def _winnowing_cap_oracle() -> str:
    """Built lazily so the import of round5_promotions (a registered
    module) happens at definition time, after the registry exists."""
    from pinterest_data_pipeline_spark.plans.round5_promotions import (
        WINNOWING_FP_CTES,
    )

    return f"""
    WITH {WINNOWING_FP_CTES}, sizes AS (
        SELECT fp, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_capped,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN n > 64 THEN n - 64 ELSE 0 END) AS BIGINT)
               AS n_rows_trimmed,
           CAST((SUM(CASE WHEN n > 64 THEN n - 64 ELSE 0 END) * 1000000)
               // greatest(SUM(n), 1) AS BIGINT) AS trimmed_rows_ppm
    FROM sizes
    """


@register("winnowing_cap_report", oracle=_winnowing_cap_oracle())
def winnowing_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"No silent caps" made queryable (operators/dedup.cap_drop_report):
    the audit row for the cap_bucket_size(64) straggler guard inside
    winnowing_passage_pairs — how many fingerprint buckets exceed the
    cap, how many rows the min-doc_id retention trims (n - 64 per hot
    bucket), and the trimmed-row share in integer ppm. At this SF the
    cap trims nothing; at ×100 uniform replication every fingerprint is
    hot and the retention keeps 64 rows of each bucket (pairs still
    found, recall degraded not zeroed) — either way the trim volume is
    a registered output instead of a surprise in a pair count.

    Scale: the report's per-bucket aggregate rides the exact shuffle the
    candidate join pays anyway, then collapses to one row."""
    from pinterest_data_pipeline_spark.operators.dedup import (
        cap_drop_report,
        winnowing_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs, k=5, window=4, portable=True)
    return cap_drop_report(fps, ["fp"], max_bucket_size=64)


# Shared by the in-query-state and persisted-state registrations: the
# oracle replays the hyperplane math from the embeddings table directly,
# so it is agnostic to WHERE the Spark side got the band table from.
_INC_EMB_PAIRS_ORACLE = f"""
    WITH planes AS (
        SELECT i AS pidx, {_PLANES_SQL}[i] AS p
        FROM (SELECT unnest(range(1, 33)) AS i)
    ),
    proj AS (
        SELECT e.vec_id,
               CAST((pl.pidx - 1) // 8 AS BIGINT) AS band,
               CAST((pl.pidx - 1) % 8 AS BIGINT) AS bit,
               list_sum(list_transform(range(1, 65), j ->
                   CAST(e.embedding[j] AS DOUBLE) * pl.p[j])) AS pr
        FROM embeddings e, planes pl
    ),
    keys AS (
        SELECT vec_id, band,
               SUM(CASE WHEN pr >= 0 THEN (1 << bit) ELSE 0 END) AS key
        FROM proj GROUP BY vec_id, band
    ),
    cand AS (
        SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        FROM keys l JOIN keys r
          ON l.band = r.band AND l.key = r.key AND l.vec_id < r.vec_id
        WHERE l.vec_id % 5 = 0 OR r.vec_id % 5 = 0
    )
    SELECT DISTINCT c.id_a, c.id_b, {_cos_sql('a', 'b')} AS score
    FROM cand c JOIN embeddings a ON a.vec_id = c.id_a
                JOIN embeddings b ON b.vec_id = c.id_b
    WHERE {_cos_sql('a', 'b')} >= 0.4
    """


@register("incremental_embedding_new_pairs", oracle=_INC_EMB_PAIRS_ORACLE)
def incremental_embedding_new_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding near-dup ingest
    (operators/similarity.incremental_embedding_candidates): vectors
    with vec_id % 5 == 0 arrive as the increment and are the ONLY rows
    paying hyperplane projections; the rest of the corpus participates
    as its persisted band table (operators/similarity.embedding_banded)
    through one bucket-keyed join, with exact-cosine verification
    riding the join (threshold 0.4, the corpus's checkable band — same
    rationale as embedding_lsh_near_duplicates). The vector twin of the
    registered incremental MinHash ingest: per-ingest cost is
    O(increment) + state join, never a corpus re-signature.

    Scale: state is written once and reused every ingest; the join
    shuffles on (part, band, key) — the band table's stored layout —
    and only pairs with >= 1 new member are ever formed. The REGISTERED
    form rebuilds the state in-query (no cross-query storage in the
    driver harness), so its wall time (5.2 s warm at sf0.1) is
    state-construction-dominated; a production ingest pays only the
    increment's projections plus the join."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        embedding_banded,
        incremental_embedding_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    state = embedding_banded(emb.filter(F.col("vec_id") % 5 != 0))
    return incremental_embedding_candidates(
        emb.filter(F.col("vec_id") % 5 == 0), state, threshold=0.4
    )


# The persisted-state twin uses a REALISTIC ingest ratio — a 1%
# increment (vec_id % 100 == 0) against a 99% state table — per the
# round-8 verdict: at the sibling's 1:4 split the increment's own
# projections dominate and the O(increment + state-scan) claim is
# invisible in the wall time. The verification threshold drops to 0.2
# (vs the sibling's 0.4) so the much smaller increment still yields a
# non-empty, hash-checkable pair set at every test SF (5 pairs at
# sf0.01, 105 at sf0.1); both engines bake the same literal.
_INC_EMB_PERSISTED_ORACLE = _INC_EMB_PAIRS_ORACLE.replace(
    "% 5 = 0", "% 100 = 0"
).replace(">= 0.4", ">= 0.2")


def ensure_embedding_band_state(spark: SparkSession, sf_dir: str) -> str:
    """Build-and-persist the corpus hyperplane band table for
    ``incremental_embedding_persisted_pairs`` if absent; return its path.

    This is the PREPARE step (round-8 verdict item 3): run it from
    scripts/prepare_state.py (bench.py also calls it before the timed
    loop) so the one-time state write never lands inside a measured
    query. The registered query still falls back to building the state
    on first call — a fresh checkout's driver sweep must succeed
    without any prepare — but after this runs it only ever reads."""
    import os

    from pinterest_data_pipeline_spark.operators.similarity import (
        embedding_banded,
    )

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(
        repo_root, "spark-warehouse", "incremental_state",
        f"{tag}_embedding_bands_p100",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        emb = load_table(spark, sf_dir, "embeddings")
        embedding_banded(emb.filter(F.col("vec_id") % 100 != 0)).write.mode(
            "overwrite"
        ).parquet(path)
    return path


@register(
    "incremental_embedding_persisted_pairs",
    oracle=_INC_EMB_PERSISTED_ORACLE,
)
def incremental_embedding_persisted_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION-SHAPED twin of incremental_embedding_new_pairs
    (registered round 8; reshaped round 9 to a 1% increment : 99% state
    ratio per the r8 verdict): the corpus band table is PERSISTED
    parquet written by a prepare step (ensure_embedding_band_state,
    invoked by scripts/prepare_state.py and bench.py's warm-up; built
    on first call per SF as a fallback), so the driver-visible wall
    time is what a real ingest pays — the increment's O(|increment|)
    hyperplane projections plus one bucket-keyed join against stored
    state — and at 1:99 that cost is visibly decoupled from corpus
    size, unlike the in-query corpus re-signature that dominates the
    self-contained sibling. The oracle replays the identical hyperplane
    math from the embeddings table: the band table's content is a pure
    function of it (fixed-seed hyperplanes), whether materialized or
    not.

    Scale: state write is one-time per corpus version; each ingest
    shuffles only the increment's bands plus the state scan on
    (band, key)."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        incremental_embedding_candidates,
    )

    path = ensure_embedding_band_state(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    state = spark.read.parquet(path)
    return incremental_embedding_candidates(
        emb.filter(F.col("vec_id") % 100 == 0), state, threshold=0.2
    )


# ------------------------------------------------------- DSIR selection
#
# The hashed-n-gram feature/model pipeline shared by both DSIR queries,
# replayed verbatim: portable md5 bucket ids, add-one smoothing as four
# explicit ln terms (the operator keeps the same expression tree so the
# rounded sums hash-match).
#
# NULL-lang docs: the engine's raw-pool model counts every document
# that is not identified target (importance_log_ratios coalesces the
# target flag to False), so a NULL-lang doc's features belong to the
# RAW background model even though the doc itself is never SCORED
# (neither side emits a weight for a doc whose lang — hence whose
# raw/target identity — is unknown). The lm CTE's cr branch therefore
# tests `lang = 'en' THEN 0 ELSE cnt` (NULL lands in ELSE = raw), NOT
# `lang <> 'en'` (NULL would land in the dropped branch and the two
# model totals would drift — the NULL-fuzz split this retires). The
# weights CTE's `f.lang <> 'en'` mirrors the engine's ~target_pred
# scoring filter, which likewise drops NULL.
_DSIR_CTES = r"""
    toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
               unnest(list_concat(t,
                   list_transform(generate_series(1, len(t) - 1),
                       i -> array_to_string(list_slice(t, i, i + 1), ' ')))) AS g
        FROM toks WHERE len(t) >= 1
    ),
    feats AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096
                   AS bucket,
               count(*) AS cnt
        FROM grams GROUP BY doc_id, lang, bucket
    ),
    lm AS (
        SELECT bucket,
               sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS ct,
               sum(CASE WHEN lang = 'en' THEN 0 ELSE cnt END) AS cr
        FROM feats GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(sum(ct) AS DOUBLE) AS t_total,
               CAST(sum(cr) AS DOUBLE) AS r_total
        FROM lm
    ),
    lr AS (
        SELECT bucket,
               ln(CAST(ct AS DOUBLE) + 1.0) - ln(t_total + 4096.0)
             - ln(CAST(cr AS DOUBLE) + 1.0) + ln(r_total + 4096.0)
                   AS log_ratio
        FROM lm, tot
    ),
    weights AS (
        SELECT f.doc_id, CAST(sum(f.cnt) AS BIGINT) AS n_feats,
               round(sum(CAST(f.cnt AS DOUBLE) * lr.log_ratio), 6)
                   AS logweight
        FROM feats f JOIN lr USING (bucket)
        WHERE f.lang <> 'en'
        GROUP BY f.doc_id
    )"""


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, n_feats, logweight FROM weights
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (operators/dsir.importance_weights,
    after Xie et al. 2023): every non-English document scored by how
    English-like its hashed uni+bigram bag is — ``sum_f count_f *
    (ln p_en[f] - ln p_raw[f])`` under add-one smoothing over 4096
    portable-hash buckets. The target-domain language model is a
    CONSTANT-SIZE (<=4096-row) relation however large the corpus, so
    the whole scorer is one O(tokens) featurize shuffle + one broadcast
    join + one doc-keyed sum — the 100 TB cost class of every n-gram
    operator here."""
    from pinterest_data_pipeline_spark.operators.dsir import (
        importance_weights,
    )

    docs = load_table(spark, sf_dir, "documents")
    return importance_weights(docs, F.col("lang") == "en")


@register(
    "dsir_gumbel_topk",
    oracle=f"""
    WITH {_DSIR_CTES},
    keyed AS (
        SELECT doc_id, logweight,
               round(logweight + (
                   -ln(-ln((CAST(CAST(concat('0x', substr(md5(
                        concat('dsir-gumbel:', CAST(doc_id AS VARCHAR))),
                        1, 8)) AS BIGINT) AS DOUBLE) + 0.5)
                        / 4294967296.0))
               ), 6) AS gumbel_key
        FROM weights
    ),
    ranked AS (
        SELECT doc_id, logweight, gumbel_key,
               ROW_NUMBER() OVER (ORDER BY gumbel_key DESC, doc_id ASC)
                   AS rank
        FROM keyed
    )
    SELECT CAST(rank AS INTEGER) AS rank, doc_id, logweight, gumbel_key
    FROM ranked WHERE rank <= 64
    """,
)
def dsir_gumbel_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection proper (operators/dsir.gumbel_topk_selection):
    sample 64 raw documents without replacement with probability
    proportional to exp(importance logweight), via the Gumbel-top-k
    identity — the noise is a deterministic standard Gumbel drawn from
    the portable md5 hash of the doc id, so retries, engines and the
    oracle produce the identical sample. Planned as
    TakeOrderedAndProject: only the 64 winners ever leave the
    executors; the rank window then runs over those 64 rows alone."""
    from pinterest_data_pipeline_spark.operators.dsir import (
        gumbel_topk_selection,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gumbel_topk_selection(docs, F.col("lang") == "en", k=64)


# ------------------------------------------------- BPE tokenizer training
#
# The learn loop is iterative, but every iteration is deterministic
# (total argmax order) and the piece-string representation makes the
# merge a plain `replace` — so the WHOLE training run unrolls into k
# CTE layers DuckDB replays bit-identically. k is fixed per query;
# chr(31) is the piece separator (operators/bpe.SEP).

_BPE_K = 6

_BPE_W0 = r"""
    w0 AS (
        SELECT word, cnt,
               regexp_replace(word, '(.)',
                   concat(chr(31), '\1', chr(31)), 'g') AS repr
        FROM (
            SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
            FROM (
                SELECT unnest(list_filter(
                    string_split_regex(text, '\s+'), x -> x <> '')) AS t
                FROM documents
            )
            WHERE NOT contains(t, chr(31))
            GROUP BY t
        )
    )"""


def _bpe_layer(i: int) -> str:
    """One unrolled merge iteration: pair counts over w{i-1}, the
    argmax pair, and the rewritten vocab w{i}."""
    return f"""
    pairs{i} AS (
        SELECT p[j] AS l, p[j + 1] AS r,
               CAST(sum(cnt) AS BIGINT) AS pair_count
        FROM (
            SELECT cnt,
                   string_split(substr(repr, 2, length(repr) - 2),
                       concat(chr(31), chr(31))) AS p
            FROM w{i - 1}
        ), unnest(generate_series(1, len(p) - 1)) AS u(j)
        GROUP BY 1, 2
    ),
    best{i} AS (
        SELECT {i} AS merge_rank, l, r, pair_count
        FROM pairs{i} ORDER BY pair_count DESC, l, r LIMIT 1
    ),
    w{i} AS (
        SELECT word, cnt,
               replace(repr,
                   concat(chr(31), b.l, chr(31), chr(31), b.r, chr(31)),
                   concat(chr(31), b.l, b.r, chr(31))) AS repr
        FROM w{i - 1}, best{i} b
    )"""


_BPE_CTES = _BPE_W0 + "," + ",".join(_bpe_layer(i) for i in range(1, _BPE_K + 1))


@register(
    "bpe_learn_merges",
    oracle=f"""
    WITH {_BPE_CTES}
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank,
           l AS left_piece, r AS right_piece, pair_count
    FROM ({" UNION ALL ".join(f"SELECT * FROM best{i}" for i in range(1, _BPE_K + 1))})
    """,
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (operators/bpe.learn_bpe, after Sennrich
    et al. 2016): the first 6 merges learned from the corpus's word-
    frequency table. The corpus is touched ONCE (the word-count
    shuffle); every iteration runs on the Zipf-bounded vocab relation
    and collects exactly one row (the argmax pair under a total
    order), so the loop is driver-metadata-sized however large the
    corpus. The oracle unrolls all 6 iterations as CTE layers over the
    identical wrapped-piece representation — the full training run is
    value-verified, not just the first merge."""
    from pinterest_data_pipeline_spark.operators.bpe import bpe_merge_table

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_table(spark, docs, k=_BPE_K)


@register(
    "bpe_encode_compression",
    oracle=f"""
    WITH {_BPE_CTES}
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(v.np) AS BIGINT) AS n_pieces,
           CAST(sum(v.nc) AS BIGINT) AS n_chars,
           round(CAST(sum(v.nc) AS DOUBLE) / CAST(sum(v.np) AS DOUBLE), 6)
               AS chars_per_piece
    FROM (
        SELECT doc_id, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS word
        FROM documents
    ) d
    JOIN (
        SELECT word,
               len(string_split(substr(repr, 2, length(repr) - 2),
                   concat(chr(31), chr(31)))) AS np,
               length(word) AS nc
        FROM w{_BPE_K}
    ) v USING (word)
    WHERE NOT contains(d.word, chr(31))
    GROUP BY d.doc_id
    """,
)
def bpe_encode_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned 6-merge BPE tokenizer back to the corpus
    (operators/bpe.bpe_encode_stats): per-document token/piece/char
    counts and the chars-per-piece compression ratio. Encoding is a
    JOIN to the trained vocab (word -> piece count) — broadcast here,
    word-keyed hash join as the documented scale fallback — never a
    per-token merge replay, so the encode pass costs one corpus scan
    plus one doc-keyed aggregate."""
    from pinterest_data_pipeline_spark.operators.bpe import bpe_encode_stats

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_stats(docs, k=_BPE_K)


# ------------------------------------------- exact-substring span dedup
#
# Lee et al. 2021 ExactSubstr semantics via the L-gram cover (see
# operators/substring_dedup.py). L=8 tokens, min_count=2 occurrences
# (within- or cross-document). Positions are 1-based inclusive.

def _span_ctes(src: str) -> str:
    """The ExactSubstr CTE chain (toks/grams/flagged) over an
    arbitrary source relation ``src`` — reused by the standalone span
    queries (src='documents') and the curation-v2 composition (src=
    the quality-surviving subset, whose duplicate landscape differs)."""
    return r"""
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS t
        FROM """ + src + r"""
    ),
    grams AS (
        SELECT doc_id, i AS start,
               md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS gh
        FROM toks, unnest(generate_series(1, len(t) - 7)) u(i)
        WHERE len(t) >= 8
    ),
    flagged AS (
        SELECT doc_id, start
        FROM (
            SELECT doc_id, start,
                   count(*) OVER (PARTITION BY gh) AS n
            FROM grams
        )
        WHERE n >= 2
    )"""


_SPAN_CTES = _span_ctes("documents")


@register(
    "duplicate_span_report",
    oracle=f"""
    WITH {_SPAN_CTES},
    isl AS (
        SELECT doc_id, start, start + 7 AS e,
               max(start + 7) OVER (
                   PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pmax
        FROM flagged
    ),
    isl2 AS (
        SELECT doc_id, start, e,
               sum(CASE WHEN pmax IS NULL OR start > pmax + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY start) AS isl_id
        FROM isl
    )
    SELECT doc_id,
           CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(start) + 1 AS BIGINT) AS span_tokens
    FROM isl2 GROUP BY doc_id, isl_id
    """,
)
def duplicate_span_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal exactly-duplicated token spans per document
    (operators/substring_dedup.duplicate_spans, after Lee et al. 2021):
    a span is any maximal token range all of whose 8-token shingles
    occur at least twice corpus-wide — the L-gram-cover equivalent of
    the paper's suffix-array criterion for fixed L. One O(tokens)
    shingle-hash shuffle (full md5, collision-proof), then a
    duplicate-bounded gaps-and-islands window keyed by document."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, L=8)


@register(
    "cut_duplicate_spans_stats",
    oracle=f"""
    WITH {_SPAN_CTES},
    cov AS (
        SELECT doc_id, list(DISTINCT p) AS cov
        FROM (
            SELECT doc_id, unnest(generate_series(start, start + 7)) AS p
            FROM flagged
        )
        GROUP BY doc_id
    ),
    kept AS (
        SELECT t.doc_id,
               CAST(len(t.t) AS BIGINT) AS n_tokens,
               CASE WHEN c.cov IS NULL THEN t.t
                    ELSE list_filter(t.t,
                        (x, i) -> NOT list_contains(c.cov, i)) END AS k
        FROM toks t LEFT JOIN cov c USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           CAST(len(k) AS BIGINT) AS n_kept,
           CASE WHEN k IS NULL THEN NULL
                ELSE coalesce(array_to_string(k, ' '), '') END AS kept_text
    FROM kept
    """,
)
def cut_duplicate_spans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup proper (operators/substring_dedup.
    cut_duplicate_spans): every duplicated span removed, the unique
    remainder kept, for EVERY document — untouched docs pass through,
    fully-duplicated docs keep ''. NULL text stays NULL (no text in,
    no text out — distinct from the fully-duplicated doc's ''); the
    oracle's CASE keeps the two apart because DuckDB's array_to_string
    returns NULL for BOTH an empty and a NULL list, where Spark's
    array_join distinguishes them ('' vs NULL) — the inner coalesce
    restores '' for the empty case, the outer CASE preserves NULL for
    the no-text case. The covered positions travel as one
    per-document array (duplicate-volume-sized), so the corpus scan
    rebuilds kept text with a pure indexed-filter expression and never
    re-shuffles."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        cut_duplicate_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cut_duplicate_spans(docs, L=8)


# SoftDeDup (Nan He et al. 2024, arXiv:2407.06654): instead of
# DROPPING near-duplicates, every document keeps a sampling weight
# inversely proportional to its duplicate-cluster size — the corpus
# stays intact, the duplicated mass stops dominating the loss.
# Cluster formation is the oracle-green banded MinHash pipeline.


@register(
    "soft_dedup_weights",
    oracle=f"""
    WITH RECURSIVE {_OWNER_CTES},
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM owner GROUP BY cluster_id
    )
    SELECT o.doc_id, o.cluster_id, s.cluster_size,
           round(1.0 / s.cluster_size, 6) AS soft_weight
    FROM owner o JOIN sizes s USING (cluster_id)
    """,
)
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup reweighting: every document's training weight is
    1 / (its near-dup cluster size), singletons weighing 1.0 — the
    keep-everything alternative to hard dedup collapse
    (dedup_keep_best_quality beside it). Cluster formation is the
    registered banded MinHash pipeline (never cartesian); the size
    window runs per cluster (bounded by cluster membership, not
    corpus size)."""
    owners = _cluster_owners(spark, sf_dir)
    sized = owners.withColumn(
        "cluster_size",
        F.count(F.lit(1))
        .over(Window.partitionBy("cluster_id"))
        .cast("bigint"),
    )
    return sized.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias(
            "soft_weight"
        ),
    )


# Tokenizer-equity audit over the trained BPE tokenizer: fertility
# (pieces per word) by language — the standard report showing how a
# tokenizer trained on a skewed mixture over-fragments the
# under-represented languages.


@register(
    "bpe_fertility_by_lang",
    oracle=f"""
    WITH {_BPE_CTES}
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(v.np) AS BIGINT) AS n_pieces,
           round(CAST(sum(v.np) AS DOUBLE) / count(*), 6)
               AS pieces_per_token,
           round(CAST(sum(v.nc) AS DOUBLE) / CAST(sum(v.np) AS DOUBLE), 6)
               AS chars_per_piece
    FROM (
        SELECT lang, unnest(list_filter(
            string_split_regex(text, '\\s+'), x -> x <> '')) AS word
        FROM documents
    ) d
    JOIN (
        SELECT word,
               len(string_split(substr(repr, 2, length(repr) - 2),
                   concat(chr(31), chr(31)))) AS np,
               length(word) AS nc
        FROM w{_BPE_K}
    ) v USING (word)
    WHERE NOT contains(d.word, chr(31))
    GROUP BY d.lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility of the corpus-trained 6-merge BPE
    tokenizer (operators/bpe.bpe_fertility): pieces per word and chars
    per piece by language — the tokenizer-equity audit. Same
    join-the-trained-vocab shape as bpe_encode_compression, aggregated
    by language."""
    from pinterest_data_pipeline_spark.operators.bpe import bpe_fertility

    docs = load_table(spark, sf_dir, "documents")
    return bpe_fertility(docs, k=_BPE_K)


# The cross-SOURCE leakage variant: a shingle flags only when it
# appears in >= 2 distinct sources, so within-source repetition is
# ignored and the spans are exactly the passages crossing a source
# (or train/eval) boundary.


@register(
    "cross_source_span_leakage",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source, i AS start,
               md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS gh
        FROM toks, unnest(generate_series(1, len(t) - 7)) u(i)
        WHERE len(t) >= 8
    ),
    dup AS (
        SELECT gh
        FROM (SELECT DISTINCT gh, source FROM grams)
        GROUP BY gh HAVING count(*) >= 2
    ),
    flagged AS (
        SELECT doc_id, start FROM grams JOIN dup USING (gh)
    ),
    isl AS (
        SELECT doc_id, start, start + 7 AS e,
               max(start + 7) OVER (
                   PARTITION BY doc_id ORDER BY start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS pmax
        FROM flagged
    ),
    isl2 AS (
        SELECT doc_id, start, e,
               sum(CASE WHEN pmax IS NULL OR start > pmax + 1
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY start) AS isl_id
        FROM isl
    )
    SELECT doc_id,
           CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(start) + 1 AS BIGINT) AS span_tokens
    FROM isl2 GROUP BY doc_id, isl_id
    """,
)
def cross_source_span_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-grain cross-source leakage report (operators/
    substring_dedup.cross_group_leakage_spans): the maximal passages
    whose 8-token shingles each appear in >= 2 DISTINCT sources —
    within-source repetition never flags, content crossing a source
    (or train/eval) boundary always does. Same skew-safe shape as
    duplicate_span_report with a two-level distinct-group count."""
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        cross_group_leakage_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cross_group_leakage_spans(docs, "source", L=8)


# ----------------------------------------------- lexical diversity


@register(
    "mattr_lexical_diversity",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS t
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(t) - 24 AS BIGINT) AS n_windows,
               list_sum(list_transform(
                   generate_series(1, len(t) - 24),
                   i -> len(list_distinct(list_slice(t, i, i + 24)))
               )) AS dsum
        FROM toks WHERE len(t) >= 25
    )
    SELECT doc_id, lang, n_tokens, n_windows,
           round(CAST(dsum AS DOUBLE)
                 / (25.0 * CAST(n_windows AS DOUBLE)), 6) AS mattr
    FROM scored
    """,
)
def mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR-25 lexical diversity per document (operators/text.mattr,
    after Covington & McFall 2010): the mean type-token ratio over all
    25-token sliding windows — the length-robust diversity signal the
    corpus-QA literature uses where plain TTR degrades with document
    length. Integer window-distinct sums with one final division, so
    the score is bit-identical cross-engine; pure per-row expression,
    zero shuffle. Documents shorter than the window are excluded."""
    from pinterest_data_pipeline_spark.operators.text import mattr

    docs = load_table(spark, sf_dir, "documents")
    n_windows, score = mattr("text", window=25)
    return (
        docs.select(
            "doc_id",
            "lang",
            F.size(
                F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
            )
            .cast("bigint")
            .alias("n_tokens"),
            n_windows.alias("n_windows"),
            score.alias("mattr"),
        )
        .filter(F.col("n_tokens") >= 25)
    )


# ------------------------------------------- null-safe equality join


@register(
    "join_null_safe_agg",
    oracle="""
    WITH a AS (
        SELECT nullif(event_type, 'error') AS k,
               CAST(count(*) AS BIGINT) AS n_all
        FROM events GROUP BY 1
    ),
    b AS (
        SELECT nullif(event_type, 'error') AS k,
               CAST(count(*) AS BIGINT) AS n_big
        FROM events WHERE value > 5 GROUP BY 1
    )
    SELECT a.k, a.n_all, b.n_big
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    join-family member the registered matrix lacks. The key is
    DERIVED-NULL ('error' events map to NULL via nullif), so the
    output visibly contains the NULL-key row a plain equi join would
    drop: the semantics are exercised, not vacuous. Completes the
    eqNullSafe surface the merge sink uses internally
    (streaming/sinks.py:175) with a driver-checkable query form."""
    events = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error")).alias("k")
    a = events.select(k).groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all")
    )
    b = (
        events.filter(F.col("value") > 5)
        .select(k)
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_big"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_all", "n_big"
    )


# ------------------------------------------------ bigram LM scoring


@register(
    "bigram_logprob_quality",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS t
        FROM documents
    ),
    prs AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
    ),
    big AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM prs GROUP BY 1, 2
    ),
    fst AS (
        SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1
    ),
    uni AS (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM uni)
    SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(ln(
               0.75 * (CAST(b.c12 AS DOUBLE) / CAST(f.c1 AS DOUBLE))
             + 0.25 * (CAST(u.cnt AS DOUBLE) / tot.total)
           )), 6) AS avg_bigram_logprob
    FROM prs p
    JOIN big b USING (w1, w2)
    JOIN fst f USING (w1)
    JOIN uni u ON u.w = p.w2
    CROSS JOIN tot
    GROUP BY p.doc_id
    """,
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained interpolated bigram LM score per document
    (operators/tfidf.bigram_logprob): the order-sensitive step beyond
    the registered unigram_logprob_quality — shuffled-word gibberish
    keeps its unigram score but collapses here. Models are
    vocabulary-bounded aggregates; scoring joins shuffle on word
    keys, the TF-IDF cost class."""
    from pinterest_data_pipeline_spark.operators.tfidf import bigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    return bigram_logprob(docs)


# -------------------------------------------- curation pipeline v2
#
# End-to-end composition of THIS round's operators on progressively
# filtered subsets: quality gate -> ExactSubstr span cut over the
# SURVIVORS (whose duplicate landscape differs from the full corpus)
# -> exact dedup of the kept remainders. Per-stage doc/token counts,
# the corpus_curation_full discipline applied to the new stack.


@register(
    "curation_v2_report",
    oracle=f"""
    WITH {_MARGIN_CTE},
    base AS (
        SELECT d.doc_id, d.text, m.margin,
               CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
                   x -> x <> '')) AS BIGINT) AS n_toks
        FROM documents d JOIN margins m USING (doc_id)
    ),
    docs_q AS (SELECT doc_id, text FROM base WHERE margin >= 0),
    {_span_ctes('docs_q')},
    cov AS (
        SELECT doc_id, list(DISTINCT p) AS cov
        FROM (
            SELECT doc_id, unnest(generate_series(start, start + 7)) AS p
            FROM flagged
        )
        GROUP BY doc_id
    ),
    kept AS (
        SELECT t.doc_id,
               CASE WHEN c.cov IS NULL THEN t.t
                    ELSE list_filter(t.t,
                        (x, i) -> NOT list_contains(c.cov, i)) END AS k
        FROM toks t LEFT JOIN cov c USING (doc_id)
    ),
    kept2 AS (
        SELECT doc_id, CAST(len(k) AS BIGINT) AS n_kept,
               coalesce(array_to_string(k, ' '), '') AS kept_text
        FROM kept
    ),
    surv AS (
        SELECT min(doc_id) AS doc_id,
               CAST(min(n_kept) AS BIGINT) AS n_kept
        FROM kept2 WHERE n_kept >= 1 GROUP BY md5(kept_text)
    )
    SELECT CAST(1 AS INTEGER) AS stage_id, 'input' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens
    FROM base
    UNION ALL
    SELECT 2, 'quality', count(*), CAST(sum(n_toks) AS BIGINT)
    FROM base WHERE margin >= 0
    UNION ALL
    SELECT 3, 'span_cut', count(*), CAST(sum(n_kept) AS BIGINT)
    FROM kept2 WHERE n_kept >= 1
    UNION ALL
    SELECT 4, 'exact_dedup', count(*), CAST(sum(n_kept) AS BIGINT)
    FROM surv
    """,
)
def curation_v2_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation pipeline v2, per-stage counts: (1) raw corpus, (2)
    linear-gate quality survivors (margin >= 0), (3) ExactSubstr span
    cut computed WITHIN the survivor subset (L=8, min_count=2; docs
    whose every token is duplicated drop out), (4) exact dedup of the
    kept remainders (md5 of the cut text, min-doc-id canonical — the
    cut can turn near-dups into exact dups, which this stage then
    collapses). Every stage composes the same operators the standalone
    queries register, applied to a FILTERED DataFrame — pinning that
    the operator stack is input-agnostic, not table-bound."""
    from pinterest_data_pipeline_spark.operators.chunking import ws_tokens
    from pinterest_data_pipeline_spark.operators.substring_dedup import (
        cut_duplicate_spans,
    )
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "text",
        F.size(ws_tokens("text")).cast("bigint").alias("n_toks"),
        linear_quality_margin("text").alias("margin"),
    )
    q = base.filter(F.col("margin") >= 0)
    kept = cut_duplicate_spans(q.select("doc_id", "text"), L=8).filter(
        F.col("n_kept") >= 1
    )
    surv = kept.groupBy(F.md5("kept_text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("n_kept").alias("n_kept"),
    )

    def stage(i: int, name: str, df: DataFrame, tok_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(tok_col).cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(i).cast("int").alias("stage_id"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
        )

    return (
        stage(1, "input", base, "n_toks")
        .unionByName(stage(2, "quality", q, "n_toks"))
        .unionByName(stage(3, "span_cut", kept, "n_kept"))
        .unionByName(stage(4, "exact_dedup", surv, "n_kept"))
    )


# ------------------------------------------------------ sessionization


@register(
    "sessionize_event_stats",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, value,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS INTEGER) AS session_id
        FROM s
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def sessionize_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/sessionize.session_stats):
    a new session per user wherever the inter-event gap exceeds 30
    minutes, compared in integer microseconds so both engines agree
    exactly; ordering tiebreaks on event_id, making the numbering
    total. One user-keyed shuffle carries the lag window, the running
    session counter AND the per-session aggregate — a single Exchange
    in the plan."""
    from pinterest_data_pipeline_spark.operators.sessionize import (
        session_stats,
    )

    events = load_table(spark, sf_dir, "events")
    return session_stats(events)


# ---------------------------------------------------- DoReMi reweight


@register(
    "doremi_domain_reweight",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, term
    ),
    freq AS (
        SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
    lp AS (
        SELECT doc_id,
               round(sum(tf * ln(cnt / tot.total)) / sum(tf), 6)
                   AS avg_logprob
        FROM tf JOIN freq USING (term) CROSS JOIN tot
        GROUP BY doc_id
    ),
    item AS (
        SELECT d.source AS domain, -lp.avg_logprob AS loss
        FROM lp JOIN documents d USING (doc_id)
    ),
    per AS (
        SELECT domain, CAST(count(*) AS BIGINT) AS n_items,
               round(avg(loss), 6) AS avg_loss
        FROM item GROUP BY domain
    ),
    corpus AS (
        SELECT CAST(count(*) AS DOUBLE) AS total,
               round(avg(loss), 6) AS corpus_avg
        FROM item
    ),
    raw AS (
        SELECT domain, n_items, avg_loss,
               greatest(0.0, round(avg_loss - corpus_avg, 6))
                   AS excess_loss,
               (CAST(n_items AS DOUBLE) / total)
                   * exp(greatest(0.0, round(avg_loss - corpus_avg, 6)))
                   AS r
        FROM per CROSS JOIN corpus
    )
    SELECT domain, n_items, avg_loss, excess_loss,
           round(r / sum(r) OVER (), 6) AS weight
    FROM raw
    """,
)
def doremi_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi exponentiated-gradient mixture step
    (operators/sampling.doremi_reweight, after Xie et al. 2023): the
    per-document loss proxy is the self-trained unigram LM's negative
    mean logprob (the registered unigram_logprob_quality signal),
    domains are sources, and domains with above-average loss are
    upweighted from their item-count baseline. Rounds before the exp
    so both engines exponentiate identical doubles; everything after
    the one item aggregate runs on the |domains|-row relation."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        doremi_reweight,
    )
    from pinterest_data_pipeline_spark.operators.tfidf import unigram_logprob

    docs = load_table(spark, sf_dir, "documents")
    item = (
        unigram_logprob(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            F.col("source").alias("domain"),
            (-F.col("avg_logprob")).alias("loss"),
        )
    )
    return doremi_reweight(item)
