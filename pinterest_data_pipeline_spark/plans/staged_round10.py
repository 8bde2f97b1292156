"""Privacy, behavioral-feature, retrieval-infrastructure and time-series
audit queries, registered in round 10.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round10.py checks them at sf0.001 and sf0.01
and pins the operators' behavior.

The batch fills four remaining engine surfaces:

- PRIVACY RELEASE GATE (operators/privacy.py): k-anonymity audit over
  quasi-identifier columns — pure integer equivalence-class counting,
  the column-side companion to the content-side pii_redaction_counts.
- BEHAVIORAL FEATURES (operators/rfm.py, markov.py): RFM quintile
  segmentation built from exact percentile CUTPOINTS (no global ntile
  window anywhere near the corpus relation), and the first-order
  Markov log-loss/perplexity — the model-quality number for the
  sessionization family, computed entirely from the |states|² matrix.
- RETRIEVAL INFRASTRUCTURE (operators/phrase_index.py, ranking.py,
  pq.py): positional phrase search (term-pruned postings + offset
  joins), average precision at k (binary-label companion to
  NDCG/RBO), and a product-quantization training gate (Jégou'11 —
  m per-subspace codebooks, the memory side of billion-scale ANN,
  gated in the ivf_kmeans pattern).
- TIME-SERIES AUDITS (operators/robust_stats.py): day-of-week
  seasonality as integer ppm indices, and CUSUM level-shift detection
  with a deterministic argmax changepoint.

All eight follow the engine-portable exactness discipline: integer
counts / integer cents wherever a value crosses an aggregate, sorted
folds for multi-term double sums, literals baked identically into both
engines, one rounding at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.plans.training_data import _QUALITY_MARGIN
from pinterest_data_pipeline_spark.sources.parquet import load_table


# --------------------------------------------------------- privacy gate
@register(
    "k_anonymity_docs",
    oracle="""
    WITH g AS (
        SELECT lang, source, n_chars // 500 AS len_bucket,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS k_min,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS groups_below_k,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_below_k,
           round(CAST(SUM(CASE WHEN n >= 5 THEN n ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(n) AS DOUBLE), 6) AS anonymous_share_r6
    FROM g
    """,
)
def k_anonymity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) of the documents table under the
    quasi-identifier set (lang, source, 500-char length bucket)
    (operators/privacy.k_anonymity_audit) — the release gate that says
    how re-identifiable rows are from the columns a dataset export
    would keep. Pure integer equivalence-class counting.

    Scale: ONE grouped count (map-side combine), then aggregates over
    the |classes| relation."""
    from pinterest_data_pipeline_spark.operators.privacy import (
        k_anonymity_audit,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 500").alias("len_bucket")
    )
    return k_anonymity_audit(docs, ["lang", "source", "len_bucket"])


# ---------------------------------------------------- behavioral features
@register(
    "rfm_user_segments",
    oracle="""
    WITH ends AS (SELECT date_trunc('day', MAX(ts)) AS log_end FROM events),
    per AS (
        SELECT user_id,
               CAST(date_diff('day', date_trunc('day', MAX(ts)), e.log_end)
                    AS BIGINT) AS r,
               CAST(COUNT(*) AS BIGINT) AS f,
               CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)), 0)
                    AS BIGINT) AS m
        FROM events CROSS JOIN ends e GROUP BY user_id, e.log_end
    ),
    cuts AS (
        SELECT quantile_cont(r, [0.2, 0.4, 0.6, 0.8]) AS rq,
               quantile_cont(f, [0.2, 0.4, 0.6, 0.8]) AS fq,
               quantile_cont(m, [0.2, 0.4, 0.6, 0.8]) AS mq
        FROM per
    ),
    scored AS (
        SELECT CAST(1 + (CASE WHEN CAST(r AS DOUBLE) < rq[1] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(r AS DOUBLE) < rq[2] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(r AS DOUBLE) < rq[3] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(r AS DOUBLE) < rq[4] THEN 1 ELSE 0
                         END) AS INTEGER) AS r_score,
               CAST(1 + (CASE WHEN CAST(f AS DOUBLE) > fq[1] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(f AS DOUBLE) > fq[2] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(f AS DOUBLE) > fq[3] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(f AS DOUBLE) > fq[4] THEN 1 ELSE 0
                         END) AS INTEGER) AS f_score,
               CAST(1 + (CASE WHEN CAST(m AS DOUBLE) > mq[1] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(m AS DOUBLE) > mq[2] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(m AS DOUBLE) > mq[3] THEN 1 ELSE 0
                         END)
                      + (CASE WHEN CAST(m AS DOUBLE) > mq[4] THEN 1 ELSE 0
                         END) AS INTEGER) AS m_score,
               m
        FROM per CROSS JOIN cuts
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_subjects,
           CAST(SUM(m) AS BIGINT) AS monetary_cents
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segment histogram over the event log
    (operators/rfm.rfm_segments): recency/frequency/monetary quintile
    scores from exact percentile CUTPOINTS applied as comparisons — no
    global ntile window near the per-user relation — then the populated
    (r,f,m) cells with subject counts and monetary totals.

    Scale: one per-user aggregate, one 1-row cutpoint aggregate
    broadcast back, ≤125-row output."""
    from pinterest_data_pipeline_spark.operators.rfm import rfm_segments

    events = load_table(spark, sf_dir, "events")
    return rfm_segments(events)


@register(
    "markov_path_logloss",
    oracle="""
    WITH seq AS (
        SELECT event_type AS nxt,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prv
        FROM events WHERE ts IS NOT NULL
    ),
    cells AS (
        SELECT prv, nxt, CAST(COUNT(*) AS BIGINT) AS n_pn
        FROM seq WHERE prv IS NOT NULL GROUP BY prv, nxt
    ),
    pt AS (SELECT prv, CAST(SUM(n_pn) AS BIGINT) AS n_p
           FROM cells GROUP BY prv),
    terms AS (
        SELECT cells.prv, cells.nxt, cells.n_pn,
               CAST(cells.n_pn AS DOUBLE)
               * ln(CAST(cells.n_pn AS DOUBLE) / CAST(pt.n_p AS DOUBLE))
                   AS term
        FROM cells JOIN pt USING (prv)
    ),
    f AS (
        SELECT CAST(SUM(n_pn) AS BIGINT) AS n_transitions,
               (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) FROM
                   (SELECT prv AS s FROM cells
                    UNION SELECT nxt FROM cells)) AS n_states,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               list_sum(list(term ORDER BY prv, nxt)) AS ll
        FROM terms
    )
    SELECT n_transitions, n_states, n_cells,
           round(-ll / CAST(n_transitions AS DOUBLE), 6) AS avg_logloss_r6,
           round(exp(-ll / CAST(n_transitions AS DOUBLE)), 6)
               AS perplexity_r6
    FROM f
    """,
)
def markov_path_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model quality over per-user event sequences
    (operators/markov.markov_logloss) — average log-loss and perplexity
    of the empirical transition model, the "does the matrix explain
    behavior" number on top of the registered event_transition_matrix.
    Computed entirely from the |states|² cell table via the identity
    −Σ n_pn·ln(n_pn/n_p)/N; cell terms fold in sorted (prev, next)
    order (the chi-square discipline).

    Scale: one lag window (single shuffle on user), one aggregate to
    the cell table; the fold runs over ≤|states|² cells."""
    from pinterest_data_pipeline_spark.operators.markov import (
        markov_logloss,
    )

    events = load_table(spark, sf_dir, "events")
    return markov_logloss(events)


# ------------------------------------------------ retrieval infrastructure
@register(
    "phrase_query_table_hash",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    p AS (
        SELECT doc_id, i AS pos, toks[i] AS term
        FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)
        WHERE toks[i] IN ('table', 'hash')
    ),
    s AS (
        SELECT a.doc_id, a.pos
        FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             AND b.term = 'hash'
        WHERE a.term = 'table'
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM s GROUP BY doc_id
    ORDER BY n_matches DESC, doc_id ASC LIMIT 15
    """,
)
def phrase_query_table_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search for the exact token sequence
    "table hash" (operators/phrase_index.phrase_match_counts): term-
    pruned positional postings + one offset equi-join per subsequent
    term — the inverted-index primitive BM25 doesn't cover. Top-15
    documents by occurrence count.

    Scale: the explode is pruned to phrase-term documents; the offset
    joins run over matched postings only; TakeOrdered cut."""
    from pinterest_data_pipeline_spark.operators.phrase_index import (
        phrase_match_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_match_counts(docs, ["table", "hash"])


@register(
    "average_precision_by_source",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id, source, n_chars,
               {_QUALITY_MARGIN} AS margin
        FROM documents
    ),
    g AS (
        SELECT doc_id, source, n_chars,
               CASE WHEN 10 - ntile(10) OVER (PARTITION BY source
                   ORDER BY margin DESC, doc_id ASC) >= 5
               THEN 1 ELSE 0 END AS rel
        FROM feats
    ),
    r AS (
        SELECT source, rel,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS rnk
        FROM g
    ),
    totals AS (
        SELECT source, CAST(SUM(rel) AS BIGINT) AS n_rel
        FROM r GROUP BY source
    ),
    top AS (
        SELECT source, rnk, rel,
               SUM(rel) OVER (PARTITION BY source ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_rel
        FROM r WHERE rnk <= 10
    ),
    folded AS (
        SELECT source,
               CAST(SUM(rel) AS BIGINT) AS hits_at_k,
               list_sum(list(CASE WHEN rel = 1 THEN
                   CAST(cum_rel AS DOUBLE) / CAST(rnk AS DOUBLE)
                   ELSE 0.0 END ORDER BY rnk)) AS ap_num
        FROM top GROUP BY source
    )
    SELECT folded.source, totals.n_rel, folded.hits_at_k,
           round(CASE WHEN totals.n_rel > 0 THEN
               folded.ap_num
               / CAST(LEAST(totals.n_rel, 10) AS DOUBLE) END, 6) AS ap_r6
    FROM folded JOIN totals ON totals.source = folded.source
    ORDER BY folded.source
    """,
)
def average_precision_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision at 10 per source
    (operators/ranking.average_precision_at_k) of the naive length
    ranker against BINARY relevance (top-half quality deciles — the
    same grading relation as the registered NDCG query, binarized at
    grade ≥ 5) — completing the offline ranking-evaluation family:
    NDCG (graded), RBO (label-free), AP (binary).

    Scale: per-source windows and ≤10-row folds; nothing global."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        average_precision_at_k,
    )
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        "source",
        "n_chars",
        linear_quality_margin("text").alias("margin"),
    )
    graded = feats.select(
        "doc_id",
        "source",
        "n_chars",
        F.when(
            F.lit(10)
            - F.ntile(10).over(
                Window.partitionBy("source").orderBy(
                    F.col("margin").desc(), F.col("doc_id").asc()
                )
            )
            >= 5,
            1,
        )
        .otherwise(0)
        .alias("rel"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    return average_precision_at_k(graded, "source", "rank", "rel")


@register(
    "pq_codebook_train_gate",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(8 AS BIGINT) AS m_subspaces,
           CAST(16 AS BIGINT) AS k_per_subspace,
           CAST(8 AS BIGINT) AS code_bytes,
           CAST(0 AS BIGINT) AS objective_violations,
           CAST(0 AS BIGINT) AS range_violations
    FROM embeddings
    """,
)
def pq_codebook_train_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization training gate (operators/pq.pq_train_gate,
    after Jégou'11): 8 subspaces × 16 codes over the 64-dim embeddings
    — a 256-byte vector compressed to 8 code bytes, the memory side of
    billion-scale ANN (IVF partitions the search; PQ compresses the
    residents). The gate pins vector coverage (replayed), the
    compression constants, per-subspace Lloyd monotonicity, and code
    range — the ivf_kmeans_codebook_assign discipline; per-subspace
    assignment behavior stays pinned by tests/test_staged_round10.py.

    Scale: each codebook is k×(dim/m) driver metadata; the final
    objective/range audit is ONE aggregate over the assigned
    relation."""
    from pinterest_data_pipeline_spark.operators.pq import pq_train_gate

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_train_gate(emb, dim=64, m=8, iterations=2)


# -------------------------------------------------------- time-series audits
@register(
    "dow_seasonality_events",
    oracle="""
    WITH per AS (
        SELECT CAST(isodow(ts) - 1 AS INTEGER) AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)), 0)
                    AS BIGINT) AS revenue_cents
        FROM events GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(n_events) AS BIGINT) AS tn,
               CAST(SUM(revenue_cents) AS BIGINT) AS tc
        FROM per
    )
    SELECT dow, n_events, revenue_cents,
           CAST(CASE WHEN t.tc > 0 THEN (7000000 * revenue_cents) // t.tc
                END AS BIGINT) AS revenue_idx_ppm,
           CAST((7000000 * n_events) // t.tn AS BIGINT) AS events_idx_ppm
    FROM per CROSS JOIN t ORDER BY dow
    """,
)
def dow_seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile of the event stream
    (operators/robust_stats.dow_seasonality): event and revenue mass
    per ISO weekday as integer parts-per-million of a flat profile —
    the first thing to check before reading any daily metric movement.
    Floor-divided exact counts; no float ratio anywhere.

    Scale: one 7-group aggregate with map-side combine."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        dow_seasonality,
    )

    events = load_table(spark, sf_dir, "events")
    return dow_seasonality(events, "ts", "value")


@register(
    "cusum_changepoint_revenue",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS d,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE) / 100.0 AS x
        FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                 CAST(SUM(cents) AS BIGINT) AS tc
          FROM daily),
    c AS (
        SELECT d,
               SUM(x - ((CAST(m.tc AS DOUBLE) / 100.0)
                        / CAST(m.n_days AS DOUBLE))) OVER (
                   ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM daily CROSS JOIN m
    ),
    peak AS (
        SELECT round(abs(s), 6) AS cusum_peak_r6,
               strftime(d, '%Y-%m-%d') AS changepoint_day
        FROM c ORDER BY abs(s) DESC, d ASC LIMIT 1
    )
    SELECT m.n_days,
           round((CAST(m.tc AS DOUBLE) / 100.0)
                 / CAST(m.n_days AS DOUBLE), 6) AS mean_daily_r6,
           peak.cusum_peak_r6, peak.changepoint_day
    FROM m CROSS JOIN peak
    """,
)
def cusum_changepoint_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on daily shipped revenue
    (operators/robust_stats.cusum_changepoint): the |cumulative
    deviation| peak marks the most likely change point of the series'
    level — the alarm an ingest-volume or revenue monitor raises before
    anyone eyeballs a dashboard. Ordered prefix sums over the same
    doubles on both engines; earliest-day tie-break.

    Scale: one corpus aggregate to the |days| series; window + argmax
    over days."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        cusum_changepoint,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return cusum_changepoint(li, "l_shipdate", "l_extendedprice")
