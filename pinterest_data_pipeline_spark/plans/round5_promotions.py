"""Round-4 staged queries, PROMOTED to the registry in round 5.

These five queries were built and fully tested in round 4 (Spark plan,
DuckDB oracle, behavioral + differential tests — pandas merge_asof,
pure-Python winnowing reference, planted-clone, margin-ordering and
sqrt-boost pins, now in tests/test_round5_operators.py) but held out of
the registry so
round 4's 50-row driver window could close the never-checked backlog.
Round 5 registers them; having no driver row, they lead the
driver-check order (``registry.ordered_queries``) until each earns its
first driver correctness row. The registry-wide strict mirror
(tests/test_oracle_parity.py) re-verifies them every pytest run like
any other registered query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table


# Same sequential-fold double cosine as plans/training_data._cos_sql, so
# staged scores hash-match the engine (kept local: training_data is a
# registered module and staging must not import-cycle into it).
def _cos_sql(a: str, b: str) -> str:
    return f"""
    round(list_sum(list_transform(range(1, 65),
              i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST({a}.embedding[i] AS DOUBLE) * CAST({a}.embedding[i] AS DOUBLE))))
             * sqrt(list_sum(list_transform(range(1, 65),
                 i -> CAST({b}.embedding[i] AS DOUBLE) * CAST({b}.embedding[i] AS DOUBLE)))))
          , 6)
    """


@register(
    "decontaminate_embedding_cosine",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 = 3
          AND list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ), tr AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 97 <> 3
          AND list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ), scored AS (
        SELECT tr.vec_id AS vec_id, {_cos_sql('tr', 'ev')} AS score
        FROM tr, ev
    )
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           MAX(score) AS top_score
    FROM scored WHERE score >= 0.3
    GROUP BY vec_id
    """,
)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination (operators/decontam.embedding_contamination):
    training vectors within cosine 0.3 of ANY held-out eval vector
    (vec_id % 97 == 3, ~1% of the table) are flagged with hit count and
    max score — the embedding-space complement of the n-gram
    decontamination pair, for eval leaks that survive paraphrase.
    Real text embeddings would gate at ~0.8 (the operator default); the
    synthetic fixture's random 64-dim vectors top out at cosine ~0.45
    (sigma ~ 1/8), so 0.3 is the tail that yields a non-trivial flagged
    set (26 vectors at sf0.01) for the driver to hash.

    Scale: eval side broadcast with precomputed norms; one corpus scan;
    the only shuffle carries per-train-id hit aggregates. Work is
    |train|x|eval| by construction (exact brute force) — in production
    the eval set is FIXED benchmark-sized so cost scales linearly with
    the corpus; the x30 stress grows BOTH sides (900x pairwise work,
    measured 0.75 s -> 16.6 s = 22x, sublinear in work via
    vectorization), and past broadcast range the operator degrades to
    the hyperplane-LSH banded join (operator docstring)."""
    from pinterest_data_pipeline_spark.operators.decontam import (
        embedding_contamination,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_contamination(
        emb, F.col("vec_id") % 97 == 3, threshold=0.3
    )


@register(
    "quality_linear_gate",
    oracle=r"""
    WITH feats AS (
        SELECT doc_id,
               CAST(len(list_filter(
                   regexp_split_to_array(lower(trim(text)), '\s+'),
                   t -> list_contains(['and','is','of','that','the','to'], t)
               )) AS BIGINT) AS stop_hits,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9_\s]', '', 'g'))
                    AS BIGINT) AS punct_n,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                    AS BIGINT) AS digit_n,
               CAST(len(regexp_split_to_array(trim(text), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id,
           CAST(3000 * stop_hits - 2000 * punct_n - 2000 * digit_n
                - 100 * n_tokens AS BIGINT) AS margin,
           CAST((3000 * stop_hits - 2000 * punct_n
                 - 2000 * digit_n - 100 * n_tokens >= 0) AS BIGINT) AS keep
    FROM feats
    """,
)
def quality_linear_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/text.linear_quality_margin):
    per-document integer margin of a linear classifier over exact count
    features (stopword hits vs punctuation/digit noise vs a per-token
    length prior) and the keep/drop gate at margin >= 0 — the
    learned-filter stage of an LLM data pipeline with fixed stand-in
    weights, expressed division-free so both engines agree bit-for-bit
    (Spark ``div`` truncates, DuckDB ``//`` floors — a ratio-based
    score would diverge on negative numerators). NULL text carries
    through as NULL margin AND NULL keep on both sides — the oracle
    casts the bare comparison instead of CASE-defaulting it to 0, so a
    doc with no text is neither kept nor dropped, it is unknown.

    Scale: pure codegen expression scan, zero shuffle."""
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    margin = linear_quality_margin("text")
    # keep as 0/1 BIGINT, not boolean: no registered query has shipped a
    # bool column through the driver comparator yet, int is the proven path
    return docs.select(
        "doc_id",
        margin.alias("margin"),
        (margin >= 0).cast("bigint").alias("keep"),
    )


# The portable winnowing fingerprint relation (k=5 window=4, md5-prefix
# gram hash) as DuckDB CTEs — shared with the staged cap-drop report
# (plans/staged_round6.winnowing_cap_report), which audits the same
# relation this query's cap filters.
#
# NULL text: the engine's whole-document fallback treats a NULL text
# exactly like an empty one (split(trim(NULL)) -> NULL tokens,
# concat_ws over a NULL array -> '' -> the single hash('') fingerprint);
# coalesce replays that here. Without it DuckDB's md5(NULL) feeds
# concat('0x', NULL) = '0x' (concat SKIPS NULL args) and the BIGINT
# cast throws — the NULL-fuzz harness's ORACLE-ONLY-ERROR class.
WINNOWING_FP_CTES = r"""
    t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS tk
        FROM documents
    ), g AS (
        SELECT doc_id,
               CASE WHEN len(tk) >= 5
                    THEN list_transform(range(1, len(tk) - 3),
                         i -> array_to_string(list_slice(tk, i, i + 4), ' '))
                    ELSE [array_to_string(tk, ' ')] END AS grams
        FROM t
    ), h AS (
        SELECT doc_id,
               list_transform(grams,
                   s -> CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT))
                   AS gh
        FROM g
    ), w AS (
        SELECT doc_id,
               CASE WHEN len(gh) >= 4
                    THEN list_transform(range(1, len(gh) - 2),
                         j -> list_min(list_slice(gh, j, j + 3)))
                    ELSE [list_min(gh)] END AS minima
        FROM h
    ), fp AS (
        SELECT DISTINCT doc_id, unnest(minima) AS fp FROM w
    )"""


@register(
    "winnowing_passage_pairs",
    oracle=f"""
    WITH {WINNOWING_FP_CTES}, capped AS (
        SELECT doc_id, fp FROM fp
        QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) <= 64
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM capped a JOIN capped b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def winnowing_passage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level near-copy pairs via winnowing fingerprints
    (operators/dedup.winnowing_fingerprints, k=5 window=4, portable
    md5-prefix hash): document pairs sharing >= 2 winnowed k-gram-hash
    minima — the rolling-hash document fingerprinting scheme (MOSS),
    which localizes overlap to shared PASSAGES where MinHash
    approximates whole-document Jaccard. The winnowing guarantee: any
    shared run of k + window - 1 = 8 tokens produces a shared
    fingerprint, at ~2/(window+1) of the gram-stream storage.

    Scale: one expression-only scan builds fingerprints; the pair join
    is fingerprint-keyed with hot buckets (boilerplate passages)
    trimmed to their 64 min-doc_id members by cap_bucket_size(64) —
    identical bucketing discipline to every LSH join in the repo, so
    pair work is cap-bounded, recall DEGRADES (pairs among retained
    rows survive) instead of zeroing when duplication saturates every
    bucket (the pre-round-6 ×100 failure mode), and the
    fingerprint relation is checkpoint-materialized once so the
    self-join never re-runs the corpus scan + per-gram md5 (the planner
    broadcasts a side at small SF, which defeats ReuseExchange).
    Measured pre-registration on the x30 stress corpus: 1.7 s -> 9.6 s
    (5.5x; ~1.5 s of that is the checkpoint write of the 30x fingerprint
    relation, the price of single computation) while pair OUTPUT grew
    x9360 (251 -> 2.35M; uniform replication makes every replica a
    verbatim passage-dup) — pair-output-bound, the correct asymptotic."""
    from pinterest_data_pipeline_spark.operators.dedup import (
        winnowing_shared_passages,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnowing_shared_passages(
        docs, min_shared=2, max_bucket_size=64, portable=True
    ).select("id_a", "id_b", "n_shared")


@register(
    "asof_nearest_view_per_click",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), views AS (
        SELECT event_id AS v_event_id, user_id, ts AS vts,
               CAST(round(value * 100) AS BIGINT) AS v_cents
        FROM events WHERE event_type = 'view'
    ), cand AS (
        SELECT c.event_id, v.v_event_id, v.v_cents,
               abs(epoch(c.ts) - epoch(v.vts)) AS d, epoch(v.vts) AS vte
        FROM clicks c JOIN views v ON c.user_id = v.user_id
        WHERE abs(epoch(c.ts) - epoch(v.vts)) <= 600.0
    ), pick AS (
        SELECT event_id, v_event_id, v_cents,
               ROW_NUMBER() OVER (PARTITION BY event_id
                   ORDER BY d ASC, vte ASC, v_event_id DESC) AS rn
        FROM cand
    )
    SELECT c.event_id, p.v_event_id, p.v_cents
    FROM clicks c LEFT JOIN pick p
      ON p.event_id = c.event_id AND p.rn = 1
    """,
)
def asof_nearest_view_per_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (operators/asof.asof_join_nearest,
    the pandas merge_asof direction='nearest' surface): each click event
    gets the view event closest in time for the same user, within a
    10-minute tolerance, NULL otherwise; delta ties prefer the earlier
    (backward) view. Completes the as-of family next to the registered
    backward join (asof_join_latest_view).

    Scale: two union-spine windows over ONE user_id shuffle (the
    nearest candidate is always the latest-prior or earliest-future
    row) — no range-replicated join, no |clicks|x|views| product; the
    oracle's bounded product formulation is the O(n^2/window) shape the
    operator exists to avoid."""
    from pinterest_data_pipeline_spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        "user_id",
        F.col("ts").alias("vts"),
        F.round(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )
    out = asof_join_nearest(
        clicks, views, "user_id", "ts", "vts",
        value_cols=["v_event_id", "v_cents"],
        tolerance_seconds=600.0, suffix="",
    )
    return out.select("event_id", "v_event_id", "v_cents")


@register(
    "mixture_sqrt_temperature_plan",
    oracle="""
    WITH c AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ), t AS (
        SELECT list_sum(list_transform(list(n_docs ORDER BY source),
                   x -> sqrt(CAST(x AS DOUBLE)))) AS norm
        FROM c
    )
    SELECT source, n_docs,
           round(sqrt(CAST(n_docs AS DOUBLE)), 6) AS w_r6,
           round(sqrt(CAST(n_docs AS DOUBLE)) / norm, 6) AS share_r6
    FROM c, t
    """,
)
def mixture_sqrt_temperature_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture planning
    (operators/sampling.sqrt_temperature_shares): per-source corpus
    counts and T=2 target shares (probability ∝ sqrt(n), the standard
    low-resource-boosting rebalancing rule). T=2 is deliberate: sqrt is
    correctly rounded in IEEE-754 everywhere while libm pow is not, so
    the plan is engine-portable; the normalizer folds weights in sorted
    source order on both sides (sequential aggregate here, ordered list
    fold in the oracle), making even the double summation
    order-deterministic.

    Scale: one partial-combinable count shuffle; everything else runs on
    the |sources|-row aggregate with a 1-row broadcast normalizer."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        sqrt_temperature_shares,
    )

    docs = load_table(spark, sf_dir, "documents")
    return sqrt_temperature_shares(docs, "source")
