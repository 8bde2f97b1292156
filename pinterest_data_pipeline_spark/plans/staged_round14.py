"""ROUND-14 STAGING AREA — implemented, tested, NOT driver-registered.

Same contract as every staging round: each query has a full DuckDB
oracle replayed value-for-value (strict-mirror parity at sf0.001 +
sf0.01 in tests/test_staged_round14.py) and behavior-pinning unit
tests. Registering them means pointing ``_stage`` at
``registry.register``; a query with no driver row then leads the
computed driver-check order (``registry.ordered_queries``) by itself.

The batch is the PIPELINE-TRUST + LAYOUT-PLANNING layer — blocking
quality, graph mixing, corpus growth, delivery hygiene, revenue
calendars, batch-effect alignment, time-weighted levels, and the
compaction plan:

- snm_blocking_recall (operators/linkage.
  sorted_neighborhood_candidates): sorted-neighborhood blocking with a
  measured recall against planted re-entry truth — the
  candidate-generation tier between exact blocking keys and all-pairs.
- degree_assortativity_supply (operators/pagerank.
  degree_assortativity): Newman's degree-mixing coefficient of the
  supplier↔part graph — hubs-to-hubs vs hubs-to-leaves, the shatter
  predictor the centrality family lacks.
- heaps_vocab_growth_docs (operators/text.vocab_growth_ladder):
  Heaps'-law vocabulary growth over id-space prefixes with the fitted
  β — "does doubling the crawl still buy vocabulary".
- idempotency_conflict_audit (operators/reconcile.idempotency_audit):
  at-least-once redelivery classes — clean dupes (transport noise)
  vs same-id-different-payload conflicts (corruption a dedup would
  silently swallow).
- monthly_revenue_recognition (operators/proration.
  prorate_interval_cents): calendar proration of 90-day service terms
  with exact integer conservation (floor shares + odd-cents-to-first-
  month).
- quantile_normalized_value_by_type (operators/robust_stats.
  quantile_normalize_by_value): the batch-effect ALIGNER beside the
  family's drift TESTS — value-level quantile normalization onto the
  pooled distribution via exact integer CDF indices.
- twap_user_value (operators/trend.time_weighted_average): the
  duration-weighted level beside EWMA's recency-decay one — immune to
  burst oversampling.
- daily_file_compaction_plan (operators/encoding.
  compaction_binpack_plan): the maintenance member of the layout
  family — order-preserving cumulative bin-packing of a daily file
  manifest into target-size outputs, with boundary-split counts and
  fill ppm.

All eight follow the engine-portable exactness discipline: integer
counts / integer cents / integer days and seconds wherever a value
crosses an aggregate, fixed expression trees for the final doubles,
literals baked identically into both engines, one rounding at the end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import has_sql_line_comment
from pinterest_data_pipeline_spark.sources.parquet import load_table

STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
STAGED_ORACLE: dict[str, str] = {}


def _stage(name: str, oracle: str | None = None):
    """registry.register's contract, into the round-14 staging dicts."""

    def deco(fn):
        if name in STAGED_QUERIES:
            raise ValueError(f"duplicate staged query name: {name}")
        if oracle is not None and has_sql_line_comment(oracle):
            raise ValueError(f"oracle for {name} contains a `--` SQL comment")
        STAGED_QUERIES[name] = fn
        if oracle is not None:
            STAGED_ORACLE[name] = " ".join(oracle.split())
        return fn

    return deco


# -------------------------------------------- sorted-neighborhood blocking
# The re-entry file: every 7th customer re-enters with the same
# replayable perturbations the survivorship scenario uses (NULL name on
# 70ths, ' JR' suffix on 28ths, segment rewrite on 35ths) — names of a
# re-entered pair sort adjacent (or near-adjacent) inside the nation
# block, which is exactly the property SNM blocking exploits.
_SNM_RECORDS = """
    orig AS (
        SELECT c_custkey AS k, c_nationkey AS nation, 1 AS rec,
               c_name AS name
        FROM customer
    ),
    twin AS (
        SELECT k, nation, 2 AS rec,
               CASE WHEN k % 70 = 0 THEN NULL
                    WHEN k % 28 = 0 THEN name || ' JR'
                    ELSE name END AS name
        FROM orig WHERE k % 7 = 0
    ),
    recs AS (SELECT * FROM orig UNION ALL SELECT * FROM twin)
"""


@_stage(
    "snm_blocking_recall",
    oracle=f"""
    WITH {_SNM_RECORDS},
    ranked AS (
        SELECT k, rec, nation,
               ROW_NUMBER() OVER (PARTITION BY nation
                   ORDER BY name ASC NULLS FIRST, k ASC, rec ASC) AS rn
        FROM recs
    ),
    cand AS (
        SELECT l.k AS lk, l.rec AS lrec, r.k AS rk, r.rec AS rrec
        FROM ranked l JOIN ranked r
          ON l.nation = r.nation
         AND r.rn - l.rn BETWEEN 1 AND 3
    ),
    truth AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM twin),
    caught AS (
        SELECT CAST(count(*) AS BIGINT) AS n_captured,
               CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates
        FROM cand WHERE lk = rk
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM recs)
    SELECT n_records, n_candidates, n_true AS n_true_pairs, n_captured,
           CAST((n_captured * 1000000) // n_true AS BIGINT) AS recall_ppm
    FROM n CROSS JOIN truth CROSS JOIN caught
    """,
)
def snm_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking quality
    (operators/linkage.sorted_neighborhood_candidates, window 3,
    nation blocks, name sort) measured against planted re-entry truth:
    every 7th customer re-enters with the survivorship scenario's
    perturbations, re-entered pairs sort adjacent inside their block,
    and the report row carries the blocking's whole cost/benefit —
    candidate volume (O(n·w), the thing blocking buys) against recall
    of true matches in ppm (the thing blocking risks). The NULL-name
    and suffixed-name twins are the deliberate hard cases: a NULL
    sorts to the block front, away from its partner, so recall < 1
    is the HONEST reading, hash-pinned.

    Scale: one partitioned row_number (never a global sort) + one
    equi-join on (block, rank) with a window-sized fan-out; the
    report folds to one row."""
    from pinterest_data_pipeline_spark.operators.linkage import (
        sorted_neighborhood_candidates,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nation"),
        F.lit(1).alias("rec"),
        F.col("c_name").alias("name"),
    )
    twin = cust.where(F.col("k") % 7 == 0).select(
        "k",
        "nation",
        F.lit(2).alias("rec"),
        F.when(F.col("k") % 70 == 0, F.lit(None).cast("string"))
        .when(F.col("k") % 28 == 0, F.concat(F.col("name"), F.lit(" JR")))
        .otherwise(F.col("name"))
        .alias("name"),
    )
    recs = cust.unionByName(twin)
    cand = sorted_neighborhood_candidates(
        recs, "nation", ["name"], ["k", "rec"], window=3
    )
    counts = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("l_k") == F.col("r_k"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_captured"),
    )
    n_rec = recs.agg(F.count(F.lit(1)).cast("bigint").alias("n_records"))
    n_true = twin.agg(F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"))
    return (
        n_rec.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(counts))
        .select(
            "n_records",
            "n_candidates",
            "n_true_pairs",
            "n_captured",
            F.expr("(n_captured * 1000000) div n_true_pairs")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


# ------------------------------------------------- degree assortativity
@_stage(
    "degree_assortativity_supply",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT 's#' || CAST(l_suppkey AS VARCHAR) AS s,
                        'p#' || CAST(l_partkey AS VARCHAR) AS p
        FROM lineitem
    ),
    edges AS (
        SELECT s AS src, p AS dst FROM pairs
        UNION
        SELECT p AS src, s AS dst FROM pairs
    ),
    deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1
    ),
    stubs AS (
        SELECT du.deg AS du, dv.deg AS dv
        FROM edges e
        JOIN deg du ON e.src = du.src
        JOIN deg dv ON e.dst = dv.src
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS m_stubs,
               CAST(sum(du) AS BIGINT) AS sx,
               CAST(sum(dv) AS BIGINT) AS sy,
               CAST(sum(du * dv) AS BIGINT) AS sxy,
               CAST(sum(du * du) AS BIGINT) AS sxx,
               CAST(sum(dv * dv) AS BIGINT) AS syy
        FROM stubs
    )
    SELECT m_stubs,
           round((CAST(m_stubs AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(m_stubs AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(m_stubs AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS assortativity_r6
    FROM m
    """,
)
def degree_assortativity_supply(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (operators/pagerank.degree_assortativity)
    of the supplier↔part co-supply graph — the same edge relation the
    PageRank/HITS/LPA queries analyze, now read for its MIXING: a
    bipartite supply graph is typically disassortative (prolific
    suppliers serve rare parts), and r quantifies it in one
    hash-checkable number. Exact bigint moments over integer degrees;
    one rational-over-sqrt expression, rounded once.

    Scale: one distinct, one degree aggregate, two edges⋈degrees hash
    joins, one single-row moment fold — no windows, no n²."""
    from pinterest_data_pipeline_spark.operators.pagerank import (
        degree_assortativity,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.concat(F.lit("s#"), F.col("l_suppkey").cast("string")).alias("s"),
        F.concat(F.lit("p#"), F.col("l_partkey").cast("string")).alias("p"),
    ).distinct()
    return degree_assortativity(pairs, "s", "p")


# --------------------------------------------------- Heaps vocab growth
@_stage(
    "heaps_vocab_growth_docs",
    oracle=r"""
    WITH mx AS (
        SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents
    ),
    toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        FROM documents
    ),
    cuts AS (
        SELECT
          CAST(floor(CAST(mx * 100000 AS DOUBLE) / 1000000.0) AS BIGINT)
              AS c1,
          CAST(floor(CAST(mx * 250000 AS DOUBLE) / 1000000.0) AS BIGINT)
              AS c2,
          CAST(floor(CAST(mx * 500000 AS DOUBLE) / 1000000.0) AS BIGINT)
              AS c3,
          CAST(floor(CAST(mx * 1000000 AS DOUBLE) / 1000000.0) AS BIGINT)
              AS c4
        FROM mx
    ),
    agg AS (
        SELECT
          CAST(count(DISTINCT CASE WHEN doc_id <= c1 THEN doc_id END)
               AS BIGINT) AS n_docs_1,
          CAST(sum(CASE WHEN doc_id <= c1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_tokens_1,
          CAST(count(DISTINCT CASE WHEN doc_id <= c1 THEN t END)
               AS BIGINT) AS vocab_1,
          CAST(count(DISTINCT CASE WHEN doc_id <= c2 THEN doc_id END)
               AS BIGINT) AS n_docs_2,
          CAST(sum(CASE WHEN doc_id <= c2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_tokens_2,
          CAST(count(DISTINCT CASE WHEN doc_id <= c2 THEN t END)
               AS BIGINT) AS vocab_2,
          CAST(count(DISTINCT CASE WHEN doc_id <= c3 THEN doc_id END)
               AS BIGINT) AS n_docs_3,
          CAST(sum(CASE WHEN doc_id <= c3 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_tokens_3,
          CAST(count(DISTINCT CASE WHEN doc_id <= c3 THEN t END)
               AS BIGINT) AS vocab_3,
          CAST(count(DISTINCT CASE WHEN doc_id <= c4 THEN doc_id END)
               AS BIGINT) AS n_docs_4,
          CAST(sum(CASE WHEN doc_id <= c4 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_tokens_4,
          CAST(count(DISTINCT CASE WHEN doc_id <= c4 THEN t END)
               AS BIGINT) AS vocab_4
        FROM toks CROSS JOIN cuts
    )
    SELECT *,
           round(CASE WHEN vocab_3 > 0 AND vocab_4 > 0 AND n_tokens_3 > 0
                       AND n_tokens_4 > 0 AND n_tokens_4 <> n_tokens_3
                 THEN ln(CAST(vocab_4 AS DOUBLE) / CAST(vocab_3 AS DOUBLE))
                      / ln(CAST(n_tokens_4 AS DOUBLE)
                           / CAST(n_tokens_3 AS DOUBLE))
                 ELSE 0.0 END, 6) AS heaps_beta_r6
    FROM agg
    """,
)
def heaps_vocab_growth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth
    (operators/text.vocab_growth_ladder) over the 10% / 25% / 50% /
    100% prefixes of the document id space, with the fitted β between
    the last two rungs: the "is the corpus still discovering words"
    audit. On this synthetic closed-vocabulary corpus β pins near 0 —
    the degenerate regime the operator exists to DETECT, and exactly
    what a curator needs to see before trusting coverage claims.

    Scale: one token explosion scanned once with |ladder| conditional
    aggregates (a fixed expand factor, documented), one broadcast
    max — prefixes cut on the id space, never a rank sort."""
    from pinterest_data_pipeline_spark.operators.text import (
        vocab_growth_ladder,
    )

    docs = load_table(spark, sf_dir, "documents")
    return vocab_growth_ladder(docs, "doc_id")


# ---------------------------------------------- idempotency conflict audit
_DELIVERED = """
    base AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    delivered AS (
        SELECT event_id, event_type, cents FROM base
        UNION ALL
        SELECT event_id, event_type, cents FROM base WHERE event_id % 9 = 0
        UNION ALL
        SELECT event_id, event_type, cents + 1 FROM base
        WHERE event_id % 27 = 0
    )
"""


@_stage(
    "idempotency_conflict_audit",
    oracle=f"""
    WITH {_DELIVERED},
    per_id AS (
        SELECT event_type, event_id,
               CAST(count(*) AS BIGINT) AS copies,
               CAST(count(DISTINCT cents) AS BIGINT) AS versions
        FROM delivered GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(sum(copies) AS BIGINT) AS n_delivered,
           CAST(count(*) AS BIGINT) AS n_logical,
           CAST(sum(CASE WHEN copies > 1 AND versions = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clean_dupe_ids,
           CAST(sum(CASE WHEN versions > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conflict_ids
    FROM per_id GROUP BY 1
    """,
)
def idempotency_conflict_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """At-least-once delivery audit
    (operators/reconcile.idempotency_audit) over a deterministic
    redelivery scenario: every 9th event is re-delivered verbatim (the
    expected transport noise — a clean dupe, safe to drop) and every
    27th is re-delivered with a MUTATED payload (+1 cent — the
    producer bug dedup-by-id would silently swallow; 27 ⊂ 9, so those
    ids arrive three times with two versions). The per-type report
    separates the two classes because they mean opposite things: one
    is a health metric, the other is a page.

    Scale: one (type, id) aggregate (per-id distinct is
    deliveries-sized, never corpus-sized), one per-type fold."""
    from pinterest_data_pipeline_spark.operators.reconcile import (
        idempotency_audit,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    delivered = ev.unionByName(
        ev.where(F.col("event_id") % 9 == 0)
    ).unionByName(
        ev.where(F.col("event_id") % 27 == 0).select(
            "event_id", "event_type", (F.col("cents") + 1).alias("cents")
        )
    )
    return idempotency_audit(delivered, "event_id", "cents", "event_type")


# ---------------------------------------------- monthly revenue recognition
@_stage(
    "monthly_revenue_recognition",
    oracle="""
    WITH o AS (
        SELECT o_orderkey AS id, CAST(o_orderdate AS DATE) AS d0,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    spine AS (
        SELECT id, d0, cents, d0 + 90 AS d1,
               unnest(generate_series(
                   date_trunc('month', d0),
                   date_trunc('month', d0 + 89),
                   INTERVAL 1 MONTH)) AS ms
        FROM o
    ),
    parts AS (
        SELECT id, cents, CAST(ms AS DATE) AS month_start,
               CAST(least(CAST((ms + INTERVAL 1 MONTH) AS DATE), d1)
                    - greatest(CAST(ms AS DATE), d0) AS BIGINT) AS days
        FROM spine
    ),
    shares AS (
        SELECT id, cents, month_start, days,
               CAST((cents * days) // 90 AS BIGINT) AS share,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY month_start)
                   AS rn,
               SUM(CAST((cents * days) // 90 AS BIGINT))
                   OVER (PARTITION BY id) AS total_floor
        FROM parts
    ),
    rec AS (
        SELECT month_start,
               share + CASE WHEN rn = 1 THEN cents - total_floor
                       ELSE 0 END AS recognized,
               id
        FROM shares
    )
    SELECT CAST(month_start AS TIMESTAMP) AS month_start,
           CAST(count(DISTINCT id) AS BIGINT) AS n_orders,
           CAST(sum(recognized) AS BIGINT) AS recognized_cents
    FROM rec GROUP BY 1
    """,
)
def monthly_revenue_recognition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar revenue recognition
    (operators/proration.prorate_interval_cents): every order funds a
    90-day service term starting at o_orderdate, and each calendar
    month recognizes cents · overlap_days / 90 — floor shares with the
    odd cents booked to the first month, so Σ recognized ≡ Σ booked
    EXACTLY (conservation by construction, the property a finance
    close reconciles). The per-month totals are the deferred-revenue
    waterfall.

    Scale: a ≤4-month fan-out band join per order (never a calendar
    cross join), one per-order window for the remainder, one month
    fold."""
    from pinterest_data_pipeline_spark.operators.proration import (
        prorate_interval_cents,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_orderdate").alias("d0"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    parts = prorate_interval_cents(orders, "id", "d0", "cents", 90)
    return parts.groupBy(
        F.col("month_start").cast("timestamp").alias("month_start")
    ).agg(
        F.count_distinct("id").cast("bigint").alias("n_orders"),
        F.sum("recognized_cents").cast("bigint").alias("recognized_cents"),
    )


# ------------------------------------------ quantile normalization (cents)
@_stage(
    "quantile_normalized_value_by_type",
    oracle="""
    WITH rows_ AS (
        SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
        FROM events
        WHERE value IS NOT NULL
    ),
    counts AS (
        SELECT g, v, CAST(count(*) AS BIGINT) AS c
        FROM rows_ GROUP BY 1, 2
    ),
    cum AS (
        SELECT g, v, c,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM counts
    ),
    ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM counts GROUP BY 1),
    pooled AS (
        SELECT v,
               SUM(pc) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pcdf,
               SUM(pc) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - pc
                   AS pprev
        FROM (SELECT v, CAST(sum(c) AS BIGINT) AS pc
              FROM counts GROUP BY 1)
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    mapped AS (
        SELECT s.g, s.v, s.c, p.v AS nv
        FROM (
            SELECT cum.g, cum.v, cum.c,
                   CAST(floor((CAST(cum.cum AS DOUBLE)
                               * CAST(t.n AS DOUBLE)
                               + CAST(ng.ng AS DOUBLE) - 1.0)
                              / CAST(ng.ng AS DOUBLE)) AS BIGINT) AS idx
            FROM cum JOIN ng ON cum.g IS NOT DISTINCT FROM ng.g CROSS JOIN tot t
        ) s
        JOIN pooled p ON p.pprev < s.idx AND s.idx <= p.pcdf
    )
    SELECT g AS event_type,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_values,
           round(CAST(sum(v * c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
               AS mean_before_r6,
           round(CAST(sum(nv * c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
               AS mean_after_r6,
           CAST(max(abs(nv - v)) AS BIGINT) AS max_abs_shift
    FROM mapped GROUP BY 1
    """,
)
def quantile_normalized_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile normalization of event value (integer cents) per event
    type onto the pooled distribution
    (operators/robust_stats.quantile_normalize_by_value) — the
    batch-effect ALIGNER beside the family's drift TESTS (KS says the
    types disagree; this builds the monotone per-type remap that makes
    them agree). The per-type summary reads the mapping: mean before
    vs after converge toward the pooled mean, and max_abs_shift is the
    worst correction any value needed — all from exact integer CDF
    index arithmetic, no percentile interpolation anywhere.

    Scale: everything after the first count aggregate runs on
    (type, value) tables bounded by the value DOMAIN (100 price
    points), not the row count; the pooled lookup is a broadcast band
    join picking exactly one row."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        quantile_normalize_by_value,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mapping = quantile_normalize_by_value(ev, "event_type", "cents")
    return mapping.groupBy("event_type").agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.round(
            F.sum(F.col("cents") * F.col("n_rows")).cast("double")
            / F.sum("n_rows").cast("double"),
            6,
        ).alias("mean_before_r6"),
        F.round(
            F.sum(F.col("normalized_value") * F.col("n_rows")).cast(
                "double"
            )
            / F.sum("n_rows").cast("double"),
            6,
        ).alias("mean_after_r6"),
        F.max(F.abs(F.col("normalized_value") - F.col("cents")))
        .cast("bigint")
        .alias("max_abs_shift"),
    )


# ------------------------------------------------------------- TWAP
@_stage(
    "twap_user_value",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(ts)) AS BIGINT) AS t,
               ts, event_id
        FROM events
    ),
    stepped AS (
        SELECT user_id, cents,
               LEAD(t) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) - t AS dt
        FROM e
    ),
    closed AS (SELECT * FROM stepped WHERE dt IS NOT NULL)
    SELECT user_id,
           CAST(count(*) + 1 AS BIGINT) AS n_obs,
           CAST(sum(dt) AS BIGINT) AS span_seconds,
           round(CAST(sum(cents * dt) AS DOUBLE)
                 / CAST(sum(dt) AS DOUBLE), 6) AS twap_r6
    FROM closed GROUP BY 1
    HAVING sum(dt) > 0
    """,
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user
    (operators/trend.time_weighted_average) — the duration-weighted
    level beside ewma16_user_value's recency-decay one: each value
    holds until the user's next event and is weighted by the integer
    seconds it was in force, so a burst of ticks in one second moves
    EWMA but not TWAP — the fair-rate number billing reconciles.
    Σ(cents·Δt) and Σ(Δt) are exact bigints; one division, one round.

    Scale: one lead() window per user (the sessionize shuffle shape)
    feeding one map-side-combinable fold."""
    from pinterest_data_pipeline_spark.operators.trend import (
        time_weighted_average,
    )

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_average(
        ev,
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("long"),
        "event_id",
    )


# ------------------------------------------------- compaction planning
@_stage(
    "daily_file_compaction_plan",
    oracle="""
    WITH files AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                   AS month_start,
               CAST(o_orderdate AS DATE) AS day,
               CAST(sum(50 + length(o_orderpriority)
                        + length(o_orderstatus)) AS BIGINT) AS bytes
        FROM orders GROUP BY 1, 2
    ),
    cums AS (
        SELECT month_start, bytes,
               COALESCE(SUM(bytes) OVER (PARTITION BY month_start
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS before
        FROM files
    ),
    marked AS (
        SELECT month_start, bytes,
               CASE WHEN (before + bytes - 1) // 65536
                         > before // 65536
                    THEN 1 ELSE 0 END AS split
        FROM cums
    ),
    agg AS (
        SELECT month_start,
               CAST(count(*) AS BIGINT) AS n_files_before,
               CAST(sum(bytes) AS BIGINT) AS bytes_total,
               CAST(sum(split) AS BIGINT) AS n_boundary_splits
        FROM marked GROUP BY 1
    )
    SELECT month_start, n_files_before,
           CAST((bytes_total + 65535) // 65536 AS BIGINT) AS n_bins_after,
           bytes_total, n_boundary_splits,
           CAST(floor(CAST(bytes_total AS DOUBLE) * 1000000.0
                / (CAST((bytes_total + 65535) // 65536 AS DOUBLE)
                   * 65536.0)) AS BIGINT) AS fill_ppm
    FROM agg
    """,
)
def daily_file_compaction_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-files compaction plan
    (operators/encoding.compaction_binpack_plan, 64 KiB targets): the
    orders table written one file per order DAY (the classic
    date-partitioned small-files pathology, bytes estimated from the
    rows' own widths) is packed month by month, in day order —
    preserving date clustering and therefore pruning — into
    target-size outputs. n_boundary_splits counts the files a rewrite
    must actually cut, fill_ppm the packedness achieved; the bin count
    is provably minimal because parquet rewrites split at row
    granularity.

    Scale: the plan runs on the FILE MANIFEST (metadata-sized, one
    row per day), never row data: one per-month prefix-sum window,
    one fold."""
    from pinterest_data_pipeline_spark.operators.encoding import (
        compaction_binpack_plan,
    )

    orders = load_table(spark, sf_dir, "orders")
    files = orders.groupBy(
        F.trunc(F.col("o_orderdate"), "month")
        .cast("timestamp")
        .alias("month_start"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(
            F.lit(50)
            + F.length("o_orderpriority")
            + F.length("o_orderstatus")
        )
        .cast("long")
        .alias("bytes")
    )
    return compaction_binpack_plan(
        files, "month_start", "day", "bytes", 65536
    )
