"""ROUND-16 STAGING SEED — implemented, tested, NOT driver-registered.

Seeded small (5 queries) per the round-9 verdict's backlog advice
(promote 12/round, stage 4-5): same contract as every staging round —
full DuckDB oracles replayed value-for-value (strict-mirror parity at
sf0.001 + sf0.01 in tests/test_staged_round16.py) and behavior-pinning
unit tests; a later round registers them by pointing ``_stage`` at
``registry.register``.

The batch fills five surfaces the engine lacked:

- RANK STATISTICS (operators/robust_stats.py): Spearman rank
  correlation with average-rank ties (the monotone-association
  companion to the registered Pearson `corr_cov_value_hour`), and the
  Kruskal-Wallis H one-way rank ANOVA (the K-group omnibus over the
  registered pairwise `mann_whitney_u` surface) — both on the
  doubled-integer-rank exactness discipline.
- FEATURE SMOOTHING (operators/experiment.py): empirical-Bayes
  beta-binomial shrinkage of per-user rates (method-of-moments prior,
  integer-ppb moment sums) — the smoothing every CTR-like feature
  needs before a ranker consumes it.
- CONTRASTIVE BATCH CONSTRUCTION (operators/sampling.py):
  deterministic k-negative sampling from other groups via md5 ballots
  against a per-group ranked spine — collision-free by construction,
  reproducible across engines/runs/epochs.
- STYLOMETRY (operators/stylometry.py): Burrows' Delta style-distance
  matrix between sources over the top function words — provider-level
  near-clone detection upstream of per-doc dedup.
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
    """registry.register's contract, into the round-16 staging dicts."""

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


# ------------------------------------------------- Spearman correlation
@_stage(
    "spearman_doc_len_tokens_by_lang",
    oracle="""
    WITH base AS (
        SELECT lang AS g, n_chars AS x,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS BIGINT) AS y
        FROM documents
        WHERE n_chars IS NOT NULL AND text IS NOT NULL
    ),
    r AS (
        SELECT g,
               2 * rank() OVER (PARTITION BY g ORDER BY x)
                   + count(*) OVER (PARTITION BY g, x) - 1 AS dx,
               2 * rank() OVER (PARTITION BY g ORDER BY y)
                   + count(*) OVER (PARTITION BY g, y) - 1 AS dy
        FROM base
    ),
    a AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               sum(dx) AS sx, sum(dy) AS sy,
               sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
               sum(dx * dy) AS sxy
        FROM r GROUP BY g
    )
    SELECT g AS lang, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                 AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
           THEN round(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
           END AS spearman_r6
    FROM a ORDER BY lang
    """,
)
def spearman_doc_len_tokens_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation
    (operators/robust_stats.spearman_rank_correlation) between document
    length in characters and its alphanumeric token count, per
    language — the monotone-association audit of a derived feature
    against its source metric: near 1 everywhere is the expected
    "token count is a monotone proxy for length"; a language where it
    drops flags a tokenizer/script problem (CJK segmentation, digit
    runs) that raw-value Pearson would blur with outliers.

    Scale: ranks ride one Exchange+Sort per metric keyed by lang; the
    moment fold is map-side combinable; no self-join, no global sort."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        spearman_rank_correlation,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").alias("x"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0
            )
        )
        .cast("long")
        .alias("y"),
    )
    return spearman_rank_correlation(base, "lang", "x", "y").orderBy("lang")


# ---------------------------------------------- empirical-Bayes rates
@_stage(
    "eb_shrunk_user_purchase_rate",
    oracle="""
    WITH per_unit AS (
        SELECT user_id AS unit, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    rated AS (
        SELECT unit, n, k,
               CAST((k * 1000000000) // n AS BIGINT) AS raw_ppb
        FROM per_unit
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS u,
               sum(raw_ppb) AS s1, sum(raw_ppb * raw_ppb) AS s2
        FROM rated
    ),
    mm AS (
        SELECT CAST(s1 AS DOUBLE) / CAST(u AS DOUBLE) / 1e9 AS m,
               CAST(s2 AS DOUBLE) / CAST(u AS DOUBLE) / 1e18
                   - (CAST(s1 AS DOUBLE) / CAST(u AS DOUBLE) / 1e9)
                   * (CAST(s1 AS DOUBLE) / CAST(u AS DOUBLE) / 1e9) AS v
        FROM mom
    ),
    prior AS (
        SELECT m * greatest(m * (1.0 - m) / v - 1.0, 0.000001) AS alpha,
               (1.0 - m) * greatest(m * (1.0 - m) / v - 1.0, 0.000001)
                   AS beta
        FROM mm
    ),
    scored AS (
        SELECT r.unit, r.n, r.k, r.raw_ppb, p.alpha, p.beta,
               (CAST(r.k AS DOUBLE) + p.alpha)
               / (CAST(r.n AS DOUBLE) + p.alpha + p.beta) AS sh
        FROM rated r CROSS JOIN prior p
    )
    SELECT unit, n, k, raw_ppb, round(sh, 6) AS shrunk_r6,
           round(alpha, 6) AS alpha_r6, round(beta, 6) AS beta_r6
    FROM scored ORDER BY sh DESC, unit ASC LIMIT 15
    """,
)
def eb_shrunk_user_purchase_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage
    (operators/experiment.eb_beta_binomial_shrinkage) of per-user
    purchase rates: fit Beta(α, β) across users by method of moments
    (integer-ppb moment sums), report the top-15 users by posterior
    mean (k+α)/(n+α+β) — the smoothing that stops a 1/1 user from
    outranking a 95/100 user in any rate-ranked feature.

    Scale: one groupBy(user), one 1-row moment broadcast,
    TakeOrderedAndProject cut."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        eb_beta_binomial_shrinkage,
    )

    events = load_table(spark, sf_dir, "events")
    return eb_beta_binomial_shrinkage(
        events, "user_id", F.col("event_type") == "purchase", top_k=15
    )


# --------------------------------------- contrastive negative sampling
@_stage(
    "contrastive_negative_sources",
    oracle="""
    WITH base AS (SELECT doc_id AS id, source AS grp FROM documents WHERE source IS NOT NULL),
    census AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY grp
    ),
    groups AS (
        SELECT grp, cnt,
               CAST(row_number() OVER (ORDER BY grp) - 1 AS BIGINT) AS gidx
        FROM census
    ),
    ng AS (SELECT CAST(count(*) AS BIGINT) AS n_grp FROM groups),
    spine AS (
        SELECT grp, id,
               CAST(row_number() OVER (
                   PARTITION BY grp
                   ORDER BY md5(CAST(id AS VARCHAR)), id) AS BIGINT) AS pos
        FROM base
    ),
    probes AS (
        SELECT b.id AS aid, b.grp AS agrp, t.j,
               CAST(concat('0x', substr(md5(concat(
                   CAST(b.id AS VARCHAR), ':', CAST(t.j AS VARCHAR))),
                   1, 8)) AS BIGINT) % (g.n_grp - 1) AS ballot
        FROM base b CROSS JOIN ng g, UNNEST([0, 1, 2]) AS t(j)
    ),
    tgt AS (
        SELECT p.aid, p.agrp, p.j,
               CASE WHEN p.ballot >= g.gidx THEN p.ballot + 1
                    ELSE p.ballot END AS tidx
        FROM probes p JOIN groups g ON p.agrp = g.grp
    ),
    tgt2 AS (
        SELECT t.aid, t.agrp, g2.grp AS tgrp,
               CAST(concat('0x', substr(md5(concat(
                   CAST(t.aid AS VARCHAR), ':', CAST(t.j AS VARCHAR),
                   ':', 'pos')), 1, 8)) AS BIGINT) % g2.cnt + 1 AS pos
        FROM tgt t JOIN groups g2 ON t.tidx = g2.gidx
    ),
    picked AS (
        SELECT t.agrp, t.tgrp, s.id AS nid
        FROM tgt2 t JOIN spine s ON t.tgrp = s.grp AND t.pos = s.pos
    )
    SELECT agrp AS anchor_group, tgrp AS negative_group,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(nid) AS BIGINT) AS sum_negative_id,
           CAST(count(DISTINCT nid) AS BIGINT) AS distinct_negatives
    FROM picked GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def contrastive_negative_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic 3-negative-per-anchor sampling
    (operators/sampling.contrastive_negative_sample) over the documents
    table with source as the group: every document draws three
    negatives from OTHER sources via md5 ballots against per-source
    md5-ranked spines — the contrastive-batch construction step of a
    two-tower / CLIP-style training pipeline, content-addressed so the
    training set is identical on every engine, run, and retry. The
    audit output (per source-pair counts + a sum-of-picked-ids
    checksum) certifies WHICH rows were picked, not just how many.

    Scale: spine ranks are per-group windows (parallel across groups),
    the pick is one equi-join on (group, position); anchors explode
    ×3 only."""
    from pinterest_data_pipeline_spark.operators.sampling import (
        contrastive_negative_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return contrastive_negative_sample(docs, "doc_id", "source")


# ------------------------------------------------------ Burrows' Delta
@_stage(
    "burrows_delta_sources",
    oracle="""
    WITH toks AS (
        SELECT source AS s,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
    ),
    census AS (
        SELECT source AS s, count(*) AS docs FROM documents GROUP BY 1
    ),
    keep AS (SELECT s FROM census ORDER BY docs DESC, s ASC LIMIT 6),
    kept AS (SELECT t.s, t.w FROM toks t JOIN keep k ON t.s = k.s),
    counts AS (
        SELECT s, w, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY 1, 2
    ),
    totals AS (SELECT s, sum(c) AS tot FROM counts GROUP BY 1),
    topw AS (
        SELECT w FROM (
            SELECT w, sum(c) AS g FROM counts GROUP BY 1
        ) ORDER BY g DESC, w ASC LIMIT 20
    ),
    spine AS (SELECT k.s, t.w FROM keep k CROSS JOIN topw t),
    ppb AS (
        SELECT sp.s, sp.w,
               CAST((coalesce(c.c, 0) * 1000000000) // tt.tot
                    AS BIGINT) AS ppb
        FROM spine sp
        LEFT JOIN counts c ON sp.s = c.s AND sp.w = c.w
        JOIN totals tt ON sp.s = tt.s
    ),
    mom AS (
        SELECT w, CAST(count(*) AS BIGINT) AS ns,
               sum(ppb) AS s1, sum(ppb * ppb) AS s2
        FROM ppb GROUP BY 1
    ),
    z AS (
        SELECT p.s, p.w,
               CASE WHEN (CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                            / CAST(ns AS DOUBLE)) / CAST(ns AS DOUBLE) > 0
               THEN (CAST(p.ppb AS DOUBLE)
                     - CAST(s1 AS DOUBLE) / CAST(ns AS DOUBLE))
                    / sqrt((CAST(s2 AS DOUBLE)
                            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                              / CAST(ns AS DOUBLE)) / CAST(ns AS DOUBLE))
               ELSE 0.0 END AS z
        FROM ppb p JOIN mom ON p.w = mom.w
    ),
    pairs AS (
        SELECT a.s AS slice_a, b.s AS slice_b, a.w, abs(a.z - b.z) AS dz
        FROM z a JOIN z b ON a.w = b.w AND a.s < b.s
    ),
    cum AS (
        SELECT slice_a, slice_b, w,
               sum(dz) OVER (PARTITION BY slice_a, slice_b ORDER BY w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumv
        FROM pairs
    )
    SELECT slice_a, slice_b, CAST(count(*) AS BIGINT) AS n_tokens,
           round(arg_max(cumv, w) / CAST(count(*) AS DOUBLE), 6)
               AS delta_r6
    FROM cum GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance
    (operators/stylometry.burrows_delta) between the six largest
    sources over the corpus's 20 most frequent alphabetic tokens —
    style-drift / provider-near-clone detection: two sources whose
    function-word z-profiles sit at near-zero Delta are stylistic
    clones (mirrors, scrapes of the same upstream) before any per-doc
    dedup runs.

    Scale: one tokenize-and-count shuffle; everything after runs on
    the 6×20 z relation."""
    from pinterest_data_pipeline_spark.operators.stylometry import (
        burrows_delta,
    )

    docs = load_table(spark, sf_dir, "documents")
    return burrows_delta(docs, "text", "source", top_slices=6, top_tokens=20)


# ----------------------------------------------------- Kruskal-Wallis
@_stage(
    "kruskal_wallis_value_by_type",
    oracle="""
    WITH base AS (
        SELECT event_type AS g,
               CAST(round(value * 100) AS BIGINT) AS v
        FROM events
        WHERE event_type IS NOT NULL AND value IS NOT NULL
    ),
    r AS (
        SELECT g, 2 * rank() OVER (ORDER BY v)
                  + count(*) OVER (PARTITION BY v) - 1 AS d2
        FROM base
    ),
    pg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n, sum(d2) AS r2
        FROM r GROUP BY 1
    ),
    cum AS (
        SELECT g, n,
               sum((CAST(r2 AS DOUBLE) / 2.0) * (CAST(r2 AS DOUBLE) / 2.0)
                   / CAST(n AS DOUBLE)) OVER (ORDER BY g
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumv
        FROM pg
    ),
    fold AS (
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(n) AS BIGINT) AS n_rows,
               arg_max(cumv, g) AS rsum
        FROM cum
    ),
    tie AS (
        SELECT sum(t * t * t - t) AS tsum FROM (
            SELECT CAST(count(*) AS BIGINT) AS t FROM base GROUP BY v
        )
    )
    SELECT n_rows, n_groups,
           round(12.0 / (CAST(n_rows AS DOUBLE)
                         * (CAST(n_rows AS DOUBLE) + 1.0)) * rsum
                 - 3.0 * (CAST(n_rows AS DOUBLE) + 1.0), 6) AS h_r6,
           CASE WHEN 1.0 - CAST(tsum AS DOUBLE)
                     / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE)
                        * CAST(n_rows AS DOUBLE)
                        - CAST(n_rows AS DOUBLE)) > 0
           THEN round((12.0 / (CAST(n_rows AS DOUBLE)
                               * (CAST(n_rows AS DOUBLE) + 1.0)) * rsum
                       - 3.0 * (CAST(n_rows AS DOUBLE) + 1.0))
                      / (1.0 - CAST(tsum AS DOUBLE)
                         / (CAST(n_rows AS DOUBLE)
                            * CAST(n_rows AS DOUBLE)
                            * CAST(n_rows AS DOUBLE)
                            - CAST(n_rows AS DOUBLE))), 6)
           END AS h_tie_corrected_r6
    FROM fold CROSS JOIN tie
    """,
)
def kruskal_wallis_value_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis H (operators/robust_stats.kruskal_wallis_h) over
    event value (integer cents) grouped by event_type — the K-group
    rank omnibus "do the event types draw value from one
    distribution?" asked ONCE before any pairwise Mann-Whitney
    drill-down, immune to the heavy tails that wreck variance-pooled
    ANOVA.

    Scale: one global rank sort (the price of any exact global-rank
    statistic; tie counts ride the same sort), one groupBy, a K-row
    ordered fold."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        kruskal_wallis_h,
    )

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return kruskal_wallis_h(base, "event_type", "cents")
