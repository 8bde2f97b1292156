"""ROUND-17 STAGING SEED — implemented, tested, NOT driver-registered.

Seeded small (5 queries) per the standing backlog policy (promote
12/round, stage 4-5): same contract as every staging round — full
DuckDB oracles replayed value-for-value (strict-mirror parity at
sf0.001 + sf0.01 in tests/test_staged_round17.py) and behavior-pinning
unit tests; a later round registers them by pointing ``_stage`` at
``registry.register``.

The batch fills five surfaces the engine lacked:

- DISTRIBUTION DRIFT, BOUNDED (operators/infotheory.py): per-source
  Jensen-Shannon divergence from the pooled corpus — the symmetric,
  ln2-bounded companion to the registered `unigram_kl_by_source`
  (KL is unbounded exactly when drift matters most).
- FEATURE-LEAKAGE AUDIT (operators/infotheory.py): exact mutual
  information / NMI between two categorical columns — "does `source`
  give away `lang`?" as one number.
- PRIVACY, DISTRIBUTIONAL (operators/privacy.t_closeness_audit):
  t-closeness completes the release trio — k-anonymity bounds class
  size, ℓ-diversity bounds value variety, t-closeness bounds how far a
  class's sensitive distribution sits from the global one (TVD = the
  categorical Earth-Mover's Distance).
- OBSERVATIONAL MATCHING (operators/matching.py): caliper nearest-
  neighbor matching with an SMD balance report — the causal layer when
  assignment wasn't randomized; bucketed candidates, never n².
- SEQUENTIAL PATTERNS (operators/markov.top_path_trigrams): top
  consecutive event trigrams with (support, subject reach) —
  order-3 structure the first-order transition matrix cannot see.
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
    """registry.register's contract, into the round-17 staging dicts."""

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


# ------------------------------------------ Jensen-Shannon source drift
@_stage(
    "js_divergence_token_sources",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                   AS term
        FROM documents
    ),
    sc AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY ALL
    ),
    corpus AS (
        SELECT term, CAST(SUM(c) AS BIGINT) AS cc FROM sc GROUP BY term
    ),
    tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM sc GROUP BY source
    ),
    nn AS (SELECT CAST(SUM(cc) AS BIGINT) AS nn FROM corpus),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(MAX(ns) AS BIGINT) AS n_tokens,
               SUM(
                   (CAST(c AS DOUBLE)/ns)
                     * ln((CAST(c AS DOUBLE)/ns)
                          / ((CAST(c AS DOUBLE)/ns
                              + CAST(cc AS DOUBLE)/nn) / 2))
                 + (CAST(cc AS DOUBLE)/nn)
                     * ln((CAST(cc AS DOUBLE)/nn)
                          / ((CAST(c AS DOUBLE)/ns
                              + CAST(cc AS DOUBLE)/nn) / 2))
               ) AS present,
               SUM(CAST(cc AS DOUBLE)/nn) AS qmass
        FROM sc JOIN corpus USING (term)
                JOIN tot USING (source)
                CROSS JOIN nn
        GROUP BY source
    )
    SELECT source, n_terms, n_tokens,
           round(0.5*present + 0.5*ln(2)*(1 - qmass), 6) AS jsd_nats_r6,
           round((0.5*present + 0.5*ln(2)*(1 - qmass))/ln(2), 6)
               AS jsd_norm_r6
    FROM agg ORDER BY source
    """,
)
def js_divergence_token_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source Jensen-Shannon divergence from the pooled corpus
    unigram distribution (operators/infotheory.js_divergence_by_group)
    — the bounded drift gate beside `unigram_kl_by_source`'s KL: JSD is
    symmetric and ≤ ln 2, so a feed whose content mix collapses to a
    disjoint vocabulary reads 1.0 (normalized) instead of +inf, and
    sources stay comparable on one dashboard scale.

    Scale: one (source, term) grouped count feeds corpus marginals,
    source totals and the scored join; absent-term mass folds in closed
    form so nothing is vocab×sources-sized."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        js_divergence_by_group,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    return js_divergence_by_group(toks, "source", "term")


# ------------------------------------------------ mutual information
@_stage(
    "mutual_info_lang_source_docs",
    oracle="""
    WITH cells AS (
        SELECT COALESCE(CAST(lang AS VARCHAR), '__NULL__') AS x,
               COALESCE(CAST(source AS VARCHAR), '__NULL__') AS y,
               CAST(COUNT(*) AS BIGINT) AS nxy
        FROM documents GROUP BY 1, 2
    ),
    mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM cells GROUP BY x),
    my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM cells GROUP BY y),
    nn AS (SELECT CAST(SUM(nxy) AS BIGINT) AS nn FROM cells),
    mi AS (
        SELECT CAST(MAX(nn) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT x) AS BIGINT) AS n_x_values,
               CAST(COUNT(DISTINCT y) AS BIGINT) AS n_y_values,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               SUM((CAST(nxy AS DOUBLE)/nn)
                   * ln(CAST(nxy AS DOUBLE) * nn
                        / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))))
                   AS mi
        FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN nn
    ),
    hx AS (
        SELECT ln(CAST(MAX(nn) AS DOUBLE))
               - SUM(CAST(nx AS DOUBLE) * ln(CAST(nx AS DOUBLE)))
                 / CAST(MAX(nn) AS DOUBLE) AS h
        FROM mx CROSS JOIN nn
    ),
    hy AS (
        SELECT ln(CAST(MAX(nn) AS DOUBLE))
               - SUM(CAST(ny AS DOUBLE) * ln(CAST(ny AS DOUBLE)))
                 / CAST(MAX(nn) AS DOUBLE) AS h
        FROM my CROSS JOIN nn
    )
    SELECT n_rows, n_x_values, n_y_values, n_cells,
           round(hx.h, 6) AS h_x_r6,
           round(hy.h, 6) AS h_y_r6,
           round(mi.mi, 6) AS mi_nats_r6,
           CASE WHEN hx.h > 0 AND hy.h > 0
                THEN round(mi.mi / sqrt(hx.h * hy.h), 6) END AS nmi_r6
    FROM mi CROSS JOIN hx CROSS JOIN hy
    """,
)
def mutual_info_lang_source_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact mutual information between `lang` and `source` on the
    documents table (operators/infotheory.mutual_information_categorical)
    — the feature-leakage audit: NMI near 1 means one column determines
    the other (a split keyed on `source` would leak `lang`), near 0
    means independent. The PMI collocation surface scores token PAIRS;
    this is the column-level aggregate over the full joint.

    Scale: one grouped count over the (lang, source) joint; every later
    step runs on the metadata-sized cell/marginal relations."""
    from pinterest_data_pipeline_spark.operators.infotheory import (
        mutual_information_categorical,
    )

    docs = load_table(spark, sf_dir, "documents")
    return mutual_information_categorical(docs, "lang", "source")


# ---------------------------------------------------------- t-closeness
@_stage(
    "t_closeness_docs",
    oracle="""
    WITH cells AS (
        SELECT source, n_chars // 500 AS len_bucket,
               COALESCE(CAST(lang AS VARCHAR), '__NULL__') AS v,
               CAST(COUNT(*) AS BIGINT) AS nqv
        FROM documents GROUP BY 1, 2, 3
    ),
    ct AS (
        SELECT source, len_bucket, v, nqv,
               CAST(SUM(nqv) OVER (PARTITION BY source, len_bucket)
                    AS BIGINT) AS nq
        FROM cells
    ),
    vt AS (SELECT v, CAST(SUM(nqv) AS BIGINT) AS nv FROM cells GROUP BY v),
    nn AS (SELECT CAST(SUM(nqv) AS BIGINT) AS nn FROM cells),
    per AS (
        SELECT source, len_bucket, CAST(MAX(nq) AS BIGINT) AS n,
               round(0.5 * (
                   SUM(abs(CAST(nqv AS DOUBLE)/nq - CAST(nv AS DOUBLE)/nn))
                   + 1 - SUM(CAST(nv AS DOUBLE)/nn)), 6) AS t
        FROM ct JOIN vt USING (v)
                CROSS JOIN nn
        GROUP BY 1, 2
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           round(MAX(t), 6) AS t_max_r6,
           CAST(SUM(CASE WHEN t > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
               AS classes_above_t,
           CAST(SUM(CASE WHEN t > 0.1 THEN n ELSE 0 END) AS BIGINT)
               AS rows_above_t,
           round(SUM(CASE WHEN t <= 0.1 THEN n ELSE 0 END)
                 / CAST(SUM(n) AS DOUBLE), 6) AS compliant_share_r6
    FROM per
    """,
)
def t_closeness_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (t=0.1) of the documents table
    (operators/privacy.t_closeness_audit): quasi-identifiers
    (source, 500-char length bucket) — the same class definition as
    `k_anonymity_docs` minus the audited attribute — sensitive
    attribute `lang`. Completes the release trio: a class can be
    5-anonymous and 2-diverse yet still 99% one language; this gate
    reads that skew as the TVD from the corpus language mix.

    Scale: one (class, lang) grouped count; absent-value mass folds in
    closed form; aggregates over the |classes| relation."""
    from pinterest_data_pipeline_spark.operators.privacy import (
        t_closeness_audit,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "lang", "source", F.expr("n_chars div 500").alias("len_bucket")
    )
    return t_closeness_audit(
        docs, ["source", "len_bucket"], "lang", t_threshold=0.1
    )


# ---------------------------------------------------- caliper matching
@_stage(
    "caliper_match_balance_customers",
    oracle="""
    WITH u AS (
        SELECT c_custkey AS id,
               CAST(round(c_acctbal * 100) AS BIGINT) AS x,
               CASE WHEN CAST(concat('0x', substr(md5(concat('match1:',
                        CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT)
                        % 2 = 0
                    THEN 'treatment' ELSE 'control' END AS arm
        FROM customer
        WHERE c_acctbal IS NOT NULL
    ),
    b AS (
        SELECT id, x, arm,
               CAST((x - ((x % 1000) + 1000) % 1000) // 1000
                    AS BIGINT) AS fb
        FROM u
    ),
    t AS (
        SELECT id AS tid, x AS tx, unnest([fb - 1, fb, fb + 1]) AS bk
        FROM b WHERE arm = 'treatment'
    ),
    c AS (
        SELECT id AS cid, x AS cx, fb AS bk FROM b WHERE arm = 'control'
    ),
    cand AS (
        SELECT tid, tx, cid, cx, abs(tx - cx) AS adx
        FROM t JOIN c USING (bk) WHERE abs(tx - cx) <= 1000
    ),
    m AS (
        SELECT tid, tx, adx, cx FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY tid ORDER BY adx, cid) AS rn
            FROM cand
        ) WHERE rn = 1
    ),
    ps AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST(SUM(adx) AS BIGINT) AS sadx,
               CAST(SUM(tx) AS BIGINT) AS smt,
               CAST(SUM(cx) AS BIGINT) AS smc
        FROM m
    ),
    mo AS (
        SELECT
            CAST(SUM(CASE WHEN arm='treatment' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_treatment,
            CAST(SUM(CASE WHEN arm='control' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_control,
            CAST(SUM(CASE WHEN arm='treatment' THEN x ELSE 0 END)
                 AS BIGINT) AS sx_t,
            CAST(SUM(CASE WHEN arm='control' THEN x ELSE 0 END)
                 AS BIGINT) AS sx_c,
            CAST(SUM(CASE WHEN arm='treatment' THEN x*x ELSE 0 END)
                 AS BIGINT) AS sxx_t,
            CAST(SUM(CASE WHEN arm='control' THEN x*x ELSE 0 END)
                 AS BIGINT) AS sxx_c
        FROM u
    ),
    d AS (
        SELECT n_treatment, n_control, n_matched,
               CAST(n_matched AS DOUBLE) AS nm,
               CAST(n_treatment AS DOUBLE) AS nt,
               CAST(n_control AS DOUBLE) AS nc,
               CAST(sx_t AS DOUBLE) / n_treatment AS mean_t,
               CAST(sx_c AS DOUBLE) / n_control AS mean_c,
               sadx, smt, smc,
               sqrt((
                 (CAST(sxx_t AS DOUBLE)
                  - n_treatment * (CAST(sx_t AS DOUBLE)/n_treatment)
                                * (CAST(sx_t AS DOUBLE)/n_treatment))
                   / (n_treatment - 1)
                 + (CAST(sxx_c AS DOUBLE)
                  - n_control * (CAST(sx_c AS DOUBLE)/n_control)
                              * (CAST(sx_c AS DOUBLE)/n_control))
                   / (n_control - 1)
               ) / 2) AS sd_pool
        FROM mo CROSS JOIN ps
    )
    SELECT n_treatment, n_control, n_matched,
           round(nm / nt, 6) AS match_rate_r6,
           CASE WHEN n_matched > 0
                THEN round(CAST(sadx AS DOUBLE) / nm, 6) END
               AS mean_abs_dx_r6,
           CASE WHEN sd_pool > 0
                THEN round((mean_t - mean_c) / sd_pool, 6) END
               AS smd_before_r6,
           CASE WHEN n_matched > 0 AND sd_pool > 0
                THEN round((CAST(smt AS DOUBLE)/nm
                            - CAST(smc AS DOUBLE)/nm) / sd_pool, 6) END
               AS smd_after_r6
    FROM d
    """,
)
def caliper_match_balance_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Caliper nearest-neighbor matching on customer account balance
    (operators/matching.caliper_match_balance): md5-assigned arms
    (salt 'match1'), covariate = acctbal in integer cents, caliper
    $10 (1000 cents), matching with replacement, min-(distance, id)
    tiebreak. The one-row report reads covariate balance (SMD) before
    vs after matching plus match rate and mean matched distance — under
    a randomized assignment SMD is already ≈0 and matching must KEEP it
    there, which is exactly what the oracle certifies.

    Scale: bucketed candidates (3 probe buckets per treatment), one
    integer argmin per treatment, single-row moment aggregates."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        hash_assign_arm,
    )
    from pinterest_data_pipeline_spark.operators.matching import (
        caliper_match_balance,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100)
        .cast("bigint")
        .alias("cents"),
        hash_assign_arm("c_custkey", salt="match1").alias("arm"),
    )
    return caliper_match_balance(cust, "id", "arm", "cents", caliper=1000)


# ------------------------------------------------ trigram path mining
@_stage(
    "event_trigram_paths_top",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS s1,
               lead(event_type, 1) OVER w AS s2,
               lead(event_type, 2) OVER w AS s3
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tri AS (
        SELECT user_id, s1 || '>' || s2 || '>' || s3 AS path
        FROM seq WHERE s1 IS NOT NULL AND s2 IS NOT NULL
                   AND s3 IS NOT NULL
    ),
    counted AS (
        SELECT path, CAST(COUNT(*) AS BIGINT) AS support,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subjects
        FROM tri GROUP BY path
    )
    SELECT path, support, n_subjects,
           CAST(ROW_NUMBER() OVER (ORDER BY support DESC, path)
                AS INTEGER) AS path_rank
    FROM counted ORDER BY support DESC, path LIMIT 20
    """,
)
def event_trigram_paths_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 consecutive event-type trigrams across user sequences
    (operators/markov.top_path_trigrams) — PrefixSpan's length-3
    workhorse tier, with the (support, subject-reach) pair that
    separates a looping bot from a genuinely common path. Order-3
    structure is invisible to `event_transition_matrix` (a>b>c and
    c>b>a share bigram rows) and to `markov_path_logloss` (first-order
    by construction). Ordering is (ts, event_id), deterministic under
    concurrent events; the top-k order (support DESC, path ASC) is
    total, so the LIMIT replays exactly.

    Scale: one per-user lead window (single subject shuffle), one
    grouped (count, count_distinct), TakeOrderedAndProject for the
    limit."""
    from pinterest_data_pipeline_spark.operators.markov import (
        top_path_trigrams,
    )

    events = load_table(spark, sf_dir, "events")
    return top_path_trigrams(
        events,
        top_k=20,
    )
