"""Data-audit and corpus-linguistics queries, registered in round 9.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round9.py checks them at sf0.001 and sf0.01
and pins the operators' behavior.

The batch is the DATA-AUDIT + CORPUS-LINGUISTICS layer — the checks a
pipeline runs on a numeric or text feed before trusting it, plus two
sampling/allocation levers and two ranker-agreement/readability
surfaces the existing retrieval and quality families lacked:

- FORENSIC NUMERIC AUDITS (operators/robust_stats.py): Benford
  leading-digit conformance from integer-cents strings, an EXACT
  two-sample Kolmogorov-Smirnov drift distance over the integer-cents
  value histogram, lag-1/lag-7 autocorrelation of a daily revenue
  series from integer-cents daily sums, and a Gini + top-share
  key-skew profile computed on the count HISTOGRAM (closed-form rank
  sums — no global per-key sort; the Lorenz companion to the
  registered key_skew_profile_events ppm diagnosis).
- CORPUS LINGUISTICS (operators/collocations.py, readability.py,
  tfidf.py): PMI collocations (five-ln fixed tree over integer counts),
  Flesch reading ease as ratio-of-integer-sums per language, charset
  class shares, and the hashing-trick bucket histogram with the
  portable md5-prefix hash.
- SAMPLING / ALLOCATION (operators/sampling.py): Efraimidis-Spirakis
  weighted priority sampling with hash-derived determinism
  (TakeOrderedAndProject cut), and largest-remainder integer allocation
  whose Σ = budget invariant naive rounding lacks.
- SURVIVAL + RANK AGREEMENT (operators/survival.py, ranking.py):
  Kaplan-Meier retention with explicit right-censoring (ordered-ln-sum
  window over the lifetime histogram) and rank-biased overlap between
  two top-k rankers (baked geometric depth weights over integer
  overlap counts).

All twelve follow the engine-portable exactness discipline: integer
counts / integer cents wherever a value crosses an aggregate, fixed
expression trees for the final doubles, literals baked identically into
both engines, one rounding at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table


# ------------------------------------------------------ weighted sampling
@register(
    "weighted_priority_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln(CAST(CAST(concat('0x',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) + 1 AS DOUBLE)
                  / 4294967296.0)
               / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS k
        FROM documents
    )
    SELECT doc_id, n_chars, round(k, 6) AS priority_key_r6
    FROM keyed ORDER BY k DESC, doc_id ASC LIMIT 25
    """,
)
def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample without replacement (25 docs, weight =
    n_chars) via deterministic Efraimidis-Spirakis priority keys
    (operators/sampling.weighted_priority_sample): ln(u)/w with u from
    the 32-bit md5 prefix of the id, largest keys win. The length-
    proportional "prefer substantial documents, keep variety" selection
    lever; md5-derived u makes every engine/retry pick the same rows.

    Scale: key is one md5 + one ln per row in codegen; the cut is
    TakeOrderedAndProject — per-partition top-25 then a 25-row driver
    merge, no global sort."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        weighted_priority_sample as wps,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wps(docs.select("doc_id", "n_chars"), "n_chars", "doc_id", 25)


# ---------------------------------------------------------- readability
@register(
    "flesch_reading_ease_by_lang",
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               len(regexp_extract_all(lower(text), '[a-z]+')) AS w,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s
        FROM documents
    ),
    agg AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(w) AS BIGINT) AS n_words,
               CAST(SUM(s) AS BIGINT) AS n_sentences,
               CAST(SUM(y) AS BIGINT) AS n_syllables
        FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_words, n_sentences, n_syllables,
           round(CASE WHEN n_words > 0 THEN
               206.835
               - 1.015 * (CAST(n_words AS DOUBLE)
                          / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE)
                         / CAST(n_words AS DOUBLE)) END, 6) AS flesch_r6
    FROM agg ORDER BY lang
    """,
)
def flesch_reading_ease_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch reading ease per language over the concatenated group
    corpus (operators/readability.flesch_reading_ease) — the
    syntactic-density companion to the Gopher/LM quality family. Ratio
    of integer sums, never an average of per-doc doubles, so the value
    is partition-order independent and DuckDB-replayable.

    Scale: one scan, three regexp-count integers per doc, one grouped
    sum with map-side combine."""
    from pinterest_data_pipeline_spark.operators.readability import (
        flesch_reading_ease,
    )

    docs = load_table(spark, sf_dir, "documents")
    return flesch_reading_ease(docs)


@register(
    "charset_script_profile",
    oracle="""
    WITH per_doc AS (
        SELECT lang, length(text) AS nc,
               len(regexp_extract_all(text, '[A-Za-z]')) AS l,
               len(regexp_extract_all(text, '[0-9]')) AS d,
               len(regexp_extract_all(text, '[\\x20\\t\\n\\r\\f]')) AS s
        FROM documents
    ),
    agg AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(nc) AS BIGINT) AS n_chars,
               CAST(SUM(l) AS BIGINT) AS ls,
               CAST(SUM(d) AS BIGINT) AS ds,
               CAST(SUM(s) AS BIGINT) AS ss
        FROM per_doc GROUP BY lang
    )
    SELECT lang, n_docs, n_chars,
           round(CASE WHEN n_chars > 0 THEN
               CAST(ls AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
               AS letter_share_r6,
           round(CASE WHEN n_chars > 0 THEN
               CAST(ds AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
               AS digit_share_r6,
           round(CASE WHEN n_chars > 0 THEN
               CAST(ss AS DOUBLE) / CAST(n_chars AS DOUBLE) END, 6)
               AS space_share_r6,
           round(CASE WHEN n_chars > 0 THEN
               CAST(n_chars - ls - ds - ss AS DOUBLE)
               / CAST(n_chars AS DOUBLE) END, 6) AS other_share_r6
    FROM agg ORDER BY lang
    """,
)
def charset_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language
    (operators/readability.charset_profile): letter / digit /
    whitespace / other shares from integer character counts — the
    "what is physically in this slice" audit that catches tables,
    markup, or mislabeled scripts before any tokenizer runs.

    Scale: one scan, integer counts, one grouped sum."""
    from pinterest_data_pipeline_spark.operators.readability import (
        charset_profile,
    )

    docs = load_table(spark, sf_dir, "documents")
    return charset_profile(docs)


# ------------------------------------------------------- numeric audits
@register(
    "benford_price_audit",
    oracle="""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders
    ),
    d AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM cents WHERE c >= 1
    ),
    c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c),
    p(digit, bp) AS (VALUES
        (1, CAST(0.30103 AS DOUBLE)), (2, CAST(0.176091 AS DOUBLE)),
        (3, CAST(0.124939 AS DOUBLE)), (4, CAST(0.09691 AS DOUBLE)),
        (5, CAST(0.079181 AS DOUBLE)), (6, CAST(0.066947 AS DOUBLE)),
        (7, CAST(0.057992 AS DOUBLE)), (8, CAST(0.051153 AS DOUBLE)),
        (9, CAST(0.045757 AS DOUBLE)))
    SELECT c.digit, c.n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS share_r6,
           p.bp AS benford_p_r6,
           round(CAST(c.n AS DOUBLE) / t.total - p.bp, 6) AS excess_r6
    FROM c JOIN p ON p.digit = c.digit CROSS JOIN t
    ORDER BY c.digit
    """,
)
def benford_price_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit audit of order totals
    (operators/robust_stats.benford_audit): observed digit shares vs
    the Benford expectation, digits taken from the INTEGER cents string
    so no log10/floor float boundary enters the comparison, Benford
    probabilities baked as identical 6-decimal literals on both
    engines. Synthetic TPC-H-ish prices are uniform-ish, so the audit
    correctly reports a LARGE excess — the test pins that the detector
    detects.

    Scale: one scan → 9-group aggregate with map-side combine."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        benford_audit,
    )

    orders = load_table(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice")


@register(
    "ks_exact_two_sample",
    oracle="""
    WITH hist AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                    END) AS BIGINT) AS nb
        FROM events
        WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
        GROUP BY 1
    ),
    t AS (
        SELECT CAST(SUM(na) AS BIGINT) AS n_a,
               CAST(SUM(nb) AS BIGINT) AS n_b,
               CAST(COUNT(*) AS BIGINT) AS n_values
        FROM hist
    ),
    cdf AS (
        SELECT cents,
               SUM(na) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
               SUM(nb) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        FROM hist
    ),
    d AS (
        SELECT cents,
               CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
                   abs(CAST(ca AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                       - CAST(cb AS DOUBLE) / CAST(t.n_b AS DOUBLE))
               END AS dd
        FROM cdf CROSS JOIN t
    ),
    best AS (
        SELECT round(dd, 6) AS ks_r6, cents AS ks_at_cents
        FROM d ORDER BY dd DESC, cents ASC LIMIT 1
    )
    SELECT t.n_a, t.n_b, t.n_values, best.ks_r6, best.ks_at_cents
    FROM t CROSS JOIN best
    """,
)
def ks_exact_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between click and
    purchase event values (operators/robust_stats.ks_two_sample) — the
    distribution-shape drift test completing the comparison family
    (chi-square: categorical; Mann-Whitney: rank shift; KS: any shape
    difference, with the value where the CDFs diverge most). Exact
    companion to the grid-discretized KS inside
    split_distribution_drift.

    Scale: one corpus aggregate onto the integer-cents histogram; the
    CDF window and argmax run over |distinct cents| rows."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        ks_two_sample,
    )

    events = load_table(spark, sf_dir, "events")
    return ks_two_sample(events, "event_type", "value", "click", "purchase")


@register(
    "autocorr_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', l_shipdate) AS d,
               SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS c
        FROM lineitem GROUP BY 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               SUM(CAST(c AS HUGEINT)) AS sc,
               SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc
        FROM daily
    ),
    lags(lag) AS (VALUES (CAST(1 AS INTEGER)), (CAST(7 AS INTEGER))),
    p AS (
        SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS scy,
               SUM(CAST(a.c AS HUGEINT)) AS sh,
               SUM(CAST(b.c AS HUGEINT)) AS st
        FROM lags l
        JOIN daily b ON TRUE
        JOIN daily a ON a.d = b.d + l.lag * INTERVAL 1 DAY
        GROUP BY l.lag
    )
    SELECT p.lag, m.n_days, p.n_pairs,
           round(CASE WHEN
               m.scc * m.n_days * m.n_days - m.sc * m.sc * m.n_days <> 0
           THEN
               CAST(p.scy * m.n_days * m.n_days
                    - m.sc * (p.sh + p.st) * m.n_days
                    + p.n_pairs * m.sc * m.sc AS DOUBLE)
               / CAST(m.scc * m.n_days * m.n_days
                      - m.sc * m.sc * m.n_days AS DOUBLE)
           END, 6) AS autocorr_r6
    FROM p CROSS JOIN m ORDER BY p.lag
    """,
)
def autocorr_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 and lag-7 autocorrelation of daily shipped revenue
    (operators/robust_stats.autocorr_daily) — the seasonality probe on
    a money series, daily totals built as exact integer cents before
    any double enters.

    Scale: ONE corpus aggregate; all moments run over the |days|-sized
    series, the lag join is a tiny self-join."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        autocorr_daily,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return autocorr_daily(li, "l_shipdate", "l_extendedprice")


@register(
    "gini_user_activity_skew",
    oracle="""
    WITH kc AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    h AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS m FROM kc GROUP BY c),
    runs AS (
        SELECT c, m,
               CAST(COALESCE(SUM(m) OVER (ORDER BY c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
        FROM h
    ),
    g AS (
        SELECT CAST(SUM(c * (cum * m + (m * (m + 1)) // 2)) AS BIGINT)
                   AS rank_sum,
               CAST(SUM(m) AS BIGINT) AS n_keys,
               CAST(SUM(c * m) AS BIGINT) AS n_rows
        FROM runs
    ),
    t AS (
        SELECT CAST(MAX(c) AS BIGINT) AS top1, CAST(SUM(c) AS BIGINT) AS topn
        FROM (SELECT c FROM kc ORDER BY c DESC, user_id ASC LIMIT 10)
    )
    SELECT g.n_keys, g.n_rows,
           round(2.0 * CAST(g.rank_sum AS DOUBLE)
                 / (CAST(g.n_keys AS DOUBLE) * CAST(g.n_rows AS DOUBLE))
                 - (CAST(g.n_keys AS DOUBLE) + 1)
                   / CAST(g.n_keys AS DOUBLE), 6) AS gini_r6,
           round(CAST(t.top1 AS DOUBLE) / CAST(g.n_rows AS DOUBLE), 6)
               AS top1_share_r6,
           round(CAST(t.topn AS DOUBLE) / CAST(g.n_rows AS DOUBLE), 6)
               AS top10_share_r6
    FROM g CROSS JOIN t
    """,
)
def gini_user_activity_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew audit of events.user_id
    (operators/robust_stats.gini_skew_profile): Gini coefficient +
    top-1/top-10 mass shares — the whole-Lorenz-curve companion to the
    registered key_skew_profile_events (which reads only the hottest
    key's ppm). Gini comes from closed-form rank sums over the count
    HISTOGRAM, so no global per-key sort exists anywhere.

    Scale: one corpus aggregate, histogram window over |distinct
    counts| rows, TakeOrdered top-10."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        gini_skew_profile,
    )

    events = load_table(spark, sf_dir, "events")
    return gini_skew_profile(events, "user_id")


# --------------------------------------------------- corpus linguistics
@register(
    "pmi_bigram_collocations",
    oracle="""
    WITH t AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    big AS (
        SELECT toks[i] AS w1, toks[i + 1] AS w2
        FROM t, UNNEST(range(1, len(toks))) AS r(i)
    ),
    uni AS (
        SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS n
        FROM t, UNNEST(toks) AS u(w) GROUP BY u.w
    ),
    nt AS (SELECT CAST(SUM(n) AS BIGINT) AS n_toks FROM uni),
    pc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_pair
        FROM big GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM big)
    SELECT pc.w1, pc.w2, pc.n_pair, u1.n AS n_w1, u2.n AS n_w2,
           round(ln(CAST(pc.n_pair AS DOUBLE))
                 - ln(CAST(np.n_pairs AS DOUBLE))
                 - ln(CAST(u1.n AS DOUBLE))
                 - ln(CAST(u2.n AS DOUBLE))
                 + 2.0 * ln(CAST(nt.n_toks AS DOUBLE)), 6) AS pmi_r6
    FROM pc JOIN uni u1 ON u1.w = pc.w1 JOIN uni u2 ON u2.w = pc.w2
    CROSS JOIN np CROSS JOIN nt
    ORDER BY pmi_r6 DESC, pc.w1, pc.w2 LIMIT 15
    """,
)
def pmi_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 PMI collocations with min pair count 5
    (operators/collocations.pmi_bigrams) — the explicit view of what a
    BPE merge table learns implicitly. Five-ln fixed expression over
    integer counts (never a big-integer product); ordering ties break
    on the ROUNDED pmi then the words, so the cut is engine-identical.

    Scale: explode → map-side-combined counts; marginal joins on the
    pair vocabulary; TakeOrderedAndProject cut."""
    from pinterest_data_pipeline_spark.operators.collocations import (
        pmi_bigrams,
    )

    docs = load_table(spark, sf_dir, "documents")
    return pmi_bigrams(docs, top_k=15)


@register(
    "feature_hash_buckets",
    oracle="""
    WITH toks AS (
        SELECT u.w AS w
        FROM documents,
             UNNEST(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u(w)
    ),
    tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY w),
    b AS (
        SELECT CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % 256
                   AS bucket,
               n
        FROM tc
    )
    SELECT bucket, CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
    FROM b GROUP BY bucket
    ORDER BY n_tokens DESC, bucket ASC LIMIT 10
    """,
)
def feature_hash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bucket histogram, top-10 heaviest of 256 buckets
    (operators/tfidf.feature_hash_buckets): token mass + collision
    degree per bucket with the portable md5-prefix hash, the audit that
    says whether the fixed feature width fits the corpus.

    Scale: explode → token-level combine → 256-row bucket relation →
    TakeOrdered."""
    from pinterest_data_pipeline_spark.operators.tfidf import (
        feature_hash_buckets as fhb,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fhb(docs)


# --------------------------------------------------------- allocation
@register(
    "stratified_budget_allocation",
    oracle="""
    WITH c AS (
        SELECT lang AS stratum, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c),
    s AS (
        SELECT stratum, n_rows,
               (1000 * n_rows) // t.total AS base_alloc,
               (1000 * n_rows) % t.total AS rem
        FROM c CROSS JOIN t
    ),
    l AS (SELECT 1000 - CAST(SUM(base_alloc) AS BIGINT) AS leftover FROM s),
    r AS (
        SELECT stratum, n_rows, base_alloc,
               ROW_NUMBER() OVER (ORDER BY rem DESC, stratum ASC) AS rk
        FROM s
    )
    SELECT r.stratum, r.n_rows,
           CAST(r.base_alloc AS BIGINT) AS base_alloc,
           CAST(CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
               AS extra,
           CAST(r.base_alloc
                + CASE WHEN r.rk <= l.leftover THEN 1 ELSE 0 END AS BIGINT)
               AS final_alloc
    FROM r CROSS JOIN l ORDER BY r.stratum
    """,
)
def stratified_budget_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder allocation of a 1000-row sample budget across
    languages (operators/sampling.largest_remainder_allocation) —
    exactly proportional INTEGER allocation with Σ = budget guaranteed,
    the property per-stratum independent rounding lacks. Pure integer
    arithmetic (div/mod), immune to float ties.

    Scale: one grouped count, then |strata|-row metadata arithmetic."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        largest_remainder_allocation,
    )

    docs = load_table(spark, sf_dir, "documents")
    return largest_remainder_allocation(docs, "lang", 1000)


# ----------------------------------------------------------- survival
@register(
    "kaplan_meier_retention",
    oracle="""
    WITH ends AS (SELECT date_trunc('day', MAX(ts)) AS log_end FROM events),
    subj AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS first_d,
               date_trunc('day', MAX(ts)) AS last_d
        FROM events GROUP BY user_id
    ),
    lives AS (
        SELECT CAST(date_diff('day', s.first_d, s.last_d) AS BIGINT)
                   AS life,
               date_diff('day', s.last_d, e.log_end) < 7 AS censored
        FROM subj s CROSS JOIN ends e
    ),
    per_day AS (
        SELECT life AS day,
               CAST(SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_churn,
               CAST(SUM(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_censored,
               CAST(COUNT(*) AS BIGINT) AS exits
        FROM lives GROUP BY life
    ),
    curve AS (
        SELECT day, n_churn, n_censored,
               CAST(SUM(exits) OVER (ORDER BY day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS BIGINT) AS n_risk
        FROM per_day
    )
    SELECT day, n_risk, n_churn, n_censored,
           CASE WHEN n_churn = n_risk THEN CAST(0.0 AS DOUBLE)
                ELSE round(exp(SUM(CASE WHEN n_churn < n_risk THEN
                    ln(1.0 - CAST(n_churn AS DOUBLE)
                             / CAST(n_risk AS DOUBLE)) END)
                    OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                    6) END AS survival_r6
    FROM curve WHERE day <= 30 ORDER BY day
    """,
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user retention, first 30 lifetime days, 7-day
    censoring gap (operators/survival.kaplan_meier) — the
    right-censoring-correct read of "how long do users stay" while the
    observation window is still open. All counts integer; the survival
    product is the ordered-ln-sum window over the lifetime histogram.

    Scale: one per-user aggregate; everything after runs on |distinct
    lifetimes| rows."""
    from pinterest_data_pipeline_spark.operators.survival import (
        kaplan_meier,
    )

    events = load_table(spark, sf_dir, "events")
    return kaplan_meier(events)


# ------------------------------------------------------ rank agreement
_RBO_P = 0.9
_RBO_WEIGHTS = {
    d: (1.0 - _RBO_P) * _RBO_P ** (d - 1) / d for d in range(1, 11)
}
_RBO_OVERLAPS_SQL = ", ".join(
    "CAST(COALESCE(SUM(CASE WHEN ra <= {d} AND rb <= {d} THEN 1 ELSE 0 "
    "END), 0) AS BIGINT) AS o{d}".format(d=d)
    for d in range(1, 11)
)
_RBO_SUM_SQL = " + ".join(
    f"{w!r} * CAST(o{d} AS DOUBLE)" for d, w in _RBO_WEIGHTS.items()
)


@register(
    "rbo_rank_agreement",
    oracle=f"""
    WITH a AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY n_chars DESC, doc_id ASC) AS ra
        FROM documents QUALIFY ra <= 10
    ),
    b AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                DESC, doc_id ASC) AS rb
        FROM documents QUALIFY rb <= 10
    ),
    j AS (SELECT a.ra, b.rb FROM a JOIN b USING (doc_id)),
    o AS (SELECT {_RBO_OVERLAPS_SQL} FROM j)
    SELECT o10 AS overlap_at_10,
           round({_RBO_SUM_SQL}, 6) AS rbo_r6
    FROM o
    """,
)
def rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, depth 10) between two document
    rankers — raw length (n_chars) vs token count
    (operators/ranking.rbo_at_k): the no-labels agreement measure
    between rankers (NDCG needs graded labels; RBO compares two
    orderings directly). Depth weights are Python-computed literals
    baked identically into plan and oracle; overlaps are integer
    counts from a 10×10 join.

    Scale: each top-10 list is a TakeOrderedAndProject; the rank
    windows then run over 10-row relations, and the RBO aggregate is
    metadata-sized."""
    from pinterest_data_pipeline_spark.operators.ranking import rbo_at_k

    docs = load_table(spark, sf_dir, "documents")
    a = (
        docs.select("doc_id", F.col("n_chars").alias("__m"))
        .orderBy(F.col("__m").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("__m").desc(), F.col("doc_id").asc())
            ),
        )
    )
    b = (
        docs.select(
            "doc_id",
            F.size(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            ).alias("__m"),
        )
        .orderBy(F.col("__m").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("__m").desc(), F.col("doc_id").asc())
            ),
        )
    )
    return rbo_at_k(a, b, "doc_id", p=_RBO_P)
