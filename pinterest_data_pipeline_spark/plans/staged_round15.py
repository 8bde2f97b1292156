"""ROUND-15 STAGING SEED — implemented, tested, NOT driver-registered.

Windows through round 14 are fully pre-planned (registry ROTATION
NOTES; plans/staged_round{9..14}.py), so this seed stages six windows
out; later rounds extend it toward a full batch before its window (the
round-11 and round-13 precedent). Same contract as every staging
round: full DuckDB oracles replayed value-for-value (strict-mirror
parity at sf0.001 + sf0.01 in tests/test_staged_round15.py) and
behavior-pinning unit tests.

The seed fills eight family gaps:

- association_rules_parts (operators/cooccurrence.association_rules):
  the RULE reading beside co-occurrence similarity — directional
  support/confidence/lift over order baskets, the cross-sell
  statistic.
- theil_sen_daily_revenue (operators/robust_stats.theil_sen_slope):
  the ROBUST trend line beside the registered OLS one — the median of
  pairwise slopes a contaminated day cannot move, with the OLS
  companion in the same row making contamination visible as a gap.
- llr_bigram_collocations (operators/collocations.llr_bigrams):
  Dunning's log-likelihood-ratio collocations — the
  significance-weighted companion to PMI (which overweights rare
  pairs); the two lists disagree exactly where a phrase vocabulary
  needs adjudication.
- rec_coverage_diversity (operators/ranking.
  catalog_coverage_diversity): beyond-accuracy evaluation — catalog
  coverage ppm and intra-list attribute diversity, where the
  same-five-blockbusters failure shows up that NDCG/ERR/AP cannot
  see.
- mase_seasonal_naive_backtest (operators/trend.mase_backtest): the
  forecast-evaluation gate — seasonal-naive holdout MAE scaled by the
  in-sample baseline (MASE), the bar any shipped forecaster clears.
- skyline_price_size_parts (operators/skyline.skyline_2d): the
  classic SKYLINE OF dominance operator as a two-level banded
  prefix-max (the watermark-lateness scan shape — no SinglePartition
  full-data hop), oracled against the NAIVE NOT-EXISTS definition.
- trending_parts_rank_shift: period-over-period rank dynamics of the
  late top-20 — early-period ranks computed per candidate via one
  broadcast inequality count, never a full catalog sort.
- intrinsic_dim_embeddings_twonn (operators/similarity.
  intrinsic_dimension_twonn): the TwoNN intrinsic-dimension estimate —
  how many degrees of freedom the embedding space actually uses, the
  capacity/drift diagnostic beside norms and top-direction power.

All eight follow the engine-portable exactness discipline: integer
counts wherever a value crosses an aggregate, ln-decomposed fixed
expression trees for the final doubles, one rounding at the end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import has_sql_line_comment
from pinterest_data_pipeline_spark.sources.parquet import load_table

STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
STAGED_ORACLE: dict[str, str] = {}


def _stage(name: str, oracle: str | None = None):
    """registry.register's contract, into the round-15 staging dicts."""

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


# ------------------------------------------------------ association rules
@_stage(
    "association_rules_parts",
    oracle="""
    WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM bi),
    isupp AS (
        SELECT i, CAST(count(*) AS BIGINT) AS s FROM bi GROUP BY 1
    ),
    psupp AS (
        SELECT l.i AS a, r.i AS c, CAST(count(*) AS BIGINT) AS ps
        FROM bi l JOIN bi r ON l.b = r.b AND l.i < r.i
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    directed AS (
        SELECT a AS antecedent, c AS consequent, ps FROM psupp
        UNION ALL
        SELECT c, a, ps FROM psupp
    )
    SELECT d.antecedent, d.consequent,
           d.ps AS pair_support,
           sa.s AS antecedent_support,
           sc.s AS consequent_support,
           round(CAST(d.ps AS DOUBLE) / CAST(sa.s AS DOUBLE), 6)
               AS confidence_r6,
           round(CAST(d.ps AS DOUBLE) * CAST(n.n_baskets AS DOUBLE)
                 / (CAST(sa.s AS DOUBLE) * CAST(sc.s AS DOUBLE)), 6)
               AS lift_r6
    FROM directed d
    JOIN isupp sa ON d.antecedent = sa.i
    JOIN isupp sc ON d.consequent = sc.i
    CROSS JOIN n
    ORDER BY lift_r6 DESC, d.antecedent, d.consequent
    LIMIT 20
    """,
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pairwise association rules over order baskets
    (operators/cooccurrence.association_rules, min pair support 2):
    which part, once in an order, raises the odds of another —
    support/confidence/lift with both rule directions emitted, the
    bundle/cross-sell statistic beside the co-occurrence similarity
    the CF query reads. The (lift DESC, antecedent, consequent) order
    fully breaks ties, so the cut is engine-identical.

    Scale: the self-join is ON THE BASKET KEY — fan-out bounded by
    basket size squared (≤ ~12² here, a domain constant), never
    catalog²; supports aggregate map-side; the cut is TakeOrdered."""
    from pinterest_data_pipeline_spark.operators.cooccurrence import (
        association_rules,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return association_rules(li, "l_orderkey", "l_partkey", top_k=20)


# ------------------------------------------------------ Theil-Sen slope
@_stage(
    "theil_sen_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    slopes AS (
        SELECT l.x AS xi, r.x AS xj,
               CAST(r.y - l.y AS DOUBLE) / CAST(r.x - l.x AS DOUBLE)
                   AS s
        FROM daily l JOIN daily r ON l.x < r.x
    ),
    ranked AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s, xi, xj) AS rn
        FROM slopes
    ),
    np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes),
    med AS (
        SELECT avg(s) AS m
        FROM ranked CROSS JOIN np
        WHERE rn * 2 = n_pairs OR rn * 2 = n_pairs + 1
           OR rn * 2 = n_pairs + 2
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n_points,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx
        FROM daily
    )
    SELECT n_points, n_pairs,
           round(m, 6) AS theil_sen_slope_r6,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               AS ols_slope_r6
    FROM mom CROSS JOIN np CROSS JOIN med
    """,
)
def theil_sen_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily revenue (integer cents per
    epoch-day) beside its OLS companion
    (operators/robust_stats.theil_sen_slope): the median of all
    pairwise day slopes, which a single wild day cannot move — the
    trend number to trust when ols_price_vs_quantity's machinery
    meets a contaminated series, with the OLS value in the same row
    so the contamination is visible as the gap.

    Scale: the pairwise join runs on the |days|-sized daily aggregate
    (the mann_kendall discipline) — constant in fact rows."""
    from pinterest_data_pipeline_spark.operators.robust_stats import (
        theil_sen_slope,
    )

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400)).alias("x")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    return theil_sen_slope(daily, "x", "y")


# ------------------------------------------------- LLR collocations
@_stage(
    "llr_bigram_collocations",
    oracle=r"""
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents
    ),
    bigrams AS (
        SELECT t[CAST(g.i AS INTEGER)] AS w1,
               t[CAST(g.i AS INTEGER) + 1] AS w2
        FROM toks, UNNEST(range(1, len(t))) AS g(i)
        WHERE len(t) >= 2
    ),
    pair AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        FROM bigrams GROUP BY 1, 2 HAVING count(*) >= 5
    ),
    fst AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS n_first
        FROM bigrams GROUP BY 1
    ),
    snd AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS n_second
        FROM bigrams GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bigrams),
    cells AS (
        SELECT p.w1, p.w2, p.n_pair, f.n_first, s.n_second, t.n,
               p.n_pair AS k11,
               f.n_first - p.n_pair AS k12,
               s.n_second - p.n_pair AS k21,
               t.n - f.n_first - s.n_second + p.n_pair AS k22
        FROM pair p JOIN fst f ON p.w1 = f.w1
        JOIN snd s ON p.w2 = s.w2 CROSS JOIN tot t
    )
    SELECT w1, w2, n_pair, n_first, n_second,
           round(2.0 * (
             (CASE WHEN k11 > 0 THEN CAST(k11 AS DOUBLE)
               * (ln(CAST(k11 AS DOUBLE)) + ln(CAST(n AS DOUBLE))
                  - ln(CAST(n_first AS DOUBLE))
                  - ln(CAST(n_second AS DOUBLE))) ELSE 0.0 END)
           + (CASE WHEN k12 > 0 THEN CAST(k12 AS DOUBLE)
               * (ln(CAST(k12 AS DOUBLE)) + ln(CAST(n AS DOUBLE))
                  - ln(CAST(n_first AS DOUBLE))
                  - ln(CAST(n - n_second AS DOUBLE))) ELSE 0.0 END)
           + (CASE WHEN k21 > 0 THEN CAST(k21 AS DOUBLE)
               * (ln(CAST(k21 AS DOUBLE)) + ln(CAST(n AS DOUBLE))
                  - ln(CAST(n - n_first AS DOUBLE))
                  - ln(CAST(n_second AS DOUBLE))) ELSE 0.0 END)
           + (CASE WHEN k22 > 0 THEN CAST(k22 AS DOUBLE)
               * (ln(CAST(k22 AS DOUBLE)) + ln(CAST(n AS DOUBLE))
                  - ln(CAST(n - n_first AS DOUBLE))
                  - ln(CAST(n - n_second AS DOUBLE))) ELSE 0.0 END)
           ), 6) AS llr_r6
    FROM cells
    ORDER BY llr_r6 DESC, w1, w2
    LIMIT 15
    """,
)
def llr_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 collocations by Dunning's log-likelihood ratio
    (operators/collocations.llr_bigrams) — the significance-weighted
    companion to the registered pmi_bigram_collocations: PMI rewards
    rarity, LLR weighs evidence, and a phrase-vocabulary build reads
    both. Same tokenizer, same bigram construction, same ln-decomposed
    exactness discipline; the 2×2 table comes from the bigram
    relation's own marginals so it is self-consistent.

    Scale: one scan, vocabulary-sized pair aggregate, two marginal
    joins, TakeOrdered cut — the PMI plan shape with one more column
    of arithmetic."""
    from pinterest_data_pipeline_spark.operators.collocations import (
        llr_bigrams,
    )

    docs = load_table(spark, sf_dir, "documents")
    return llr_bigrams(docs, min_count=5, top_k=15)


# -------------------------------------------- coverage / diversity eval
@_stage(
    "rec_coverage_diversity",
    oracle="""
    WITH spend AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    recs AS (
        SELECT u, i FROM (
            SELECT u, i, ROW_NUMBER() OVER (PARTITION BY u
                ORDER BY cents DESC, i ASC) AS rn
            FROM spend
        ) WHERE rn <= 5
    ),
    cov AS (
        SELECT CAST(count(DISTINCT i) AS BIGINT)
            AS n_recommended_distinct FROM recs
    ),
    ncat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part),
    pa AS (
        SELECT r.u, p.p_type AS a, CAST(count(*) AS BIGINT) AS c
        FROM recs r JOIN part p ON r.i = p.p_partkey
        GROUP BY 1, 2
    ),
    pu AS (
        SELECT u, sum(c) AS k, sum(c * (c - 1)) AS same2
        FROM pa GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(k * (k - 1)) AS BIGINT) AS pairs2,
               CAST(sum(same2) AS BIGINT) AS same2s
        FROM pu
    )
    SELECT n_users, n_catalog, n_recommended_distinct,
           CAST(n_recommended_distinct * 1000000 // n_catalog
                AS BIGINT) AS coverage_ppm,
           CAST(CASE WHEN pairs2 = 0 THEN 0
                ELSE (pairs2 - same2s) * 1000000 // pairs2
                END AS BIGINT) AS intralist_diversity_ppm
    FROM tot CROSS JOIN cov CROSS JOIN ncat
    """,
)
def rec_coverage_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog coverage + intra-list diversity
    (operators/ranking.catalog_coverage_diversity) of a top-5
    per-customer spend ranker (each customer's five highest-cents
    parts, ties broken by part key) attributed by p_type — the
    beyond-accuracy reading the per-list metrics (NDCG, ERR, AP)
    cannot see: a system showing everyone the same blockbusters wins
    those and fails these. One row: n_users, n_catalog,
    n_recommended_distinct, coverage_ppm, intralist_diversity_ppm —
    pair counts computed closed-form from per-attribute counts, never
    materialized.

    Scale: per-customer window over the (customer, part) spend
    aggregate; one broadcast part-attribute join; two tiny folds."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        catalog_coverage_diversity,
    )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    spend = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    recs = (
        spend.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("u").orderBy(
                    F.col("cents").desc(), F.col("i").asc()
                )
            ),
        )
        .where(F.col("rn") <= 5)
        .select("u", "i")
    )
    catalog = part.select(
        F.col("p_partkey").alias("i"), F.col("p_type").alias("a")
    )
    return catalog_coverage_diversity(recs, catalog, "u", "i", "a")


# ------------------------------------------------------ MASE backtest
@_stage(
    "mase_seasonal_naive_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS x,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    lagged AS (
        SELECT x, y,
               LAG(y, 7) OVER (ORDER BY x) AS yl,
               MAX(x) OVER () AS mx
        FROM daily
    ),
    scored AS (
        SELECT abs(y - yl) AS ae, x > mx - 7 AS is_test
        FROM lagged WHERE yl IS NOT NULL
    ),
    agg AS (
        SELECT
            CAST(sum(CASE WHEN is_test THEN ae ELSE 0 END) AS BIGINT)
                AS sum_test,
            CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
                AS n_test,
            CAST(sum(CASE WHEN is_test THEN 0 ELSE ae END) AS BIGINT)
                AS sum_in,
            CAST(sum(CASE WHEN is_test THEN 0 ELSE 1 END) AS BIGINT)
                AS n_train_scored
        FROM scored
    )
    SELECT n_train_scored, n_test,
           sum_test AS sum_abs_err_test_cents,
           sum_in AS sum_abs_err_train_cents,
           round(CASE WHEN sum_in > 0 AND n_test > 0
                 THEN (CAST(sum_test AS DOUBLE)
                       * CAST(n_train_scored AS DOUBLE))
                      / (CAST(sum_in AS DOUBLE)
                         * CAST(n_test AS DOUBLE))
                 ELSE 0.0 END, 6) AS mase_r6
    FROM agg
    """,
)
def mase_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive (s = 7) forecast backtest on daily revenue,
    scored by MASE (operators/trend.mase_backtest, last-7-days
    holdout): the forecast-evaluation gate beside the trend family's
    detection statistics — MASE < 1 means "last week's value" beats
    the in-sample baseline, the bar any shipped forecaster must clear.
    Absolute errors are exact integer cents; MASE is one rational of
    integer products, rounded once.

    Scale: the lag window runs over the |days|-sized daily aggregate
    (metadata-sized by contract), one conditional fold after."""
    from pinterest_data_pipeline_spark.operators.trend import mase_backtest

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.floor(F.unix_timestamp(F.col("ts")) / F.lit(86400)).alias("x")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y")
    )
    return mase_backtest(daily, "x", "y")


# ------------------------------------------------------ 2-D skyline
@_stage(
    "skyline_price_size_parts",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
               CAST(p_size AS BIGINT) AS size
        FROM part
        WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
    )
    SELECT a.p_partkey, a.cents, a.size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.cents <= a.cents AND b.size >= a.size
          AND (b.cents < a.cents OR b.size > a.size)
    )
    """,
)
def skyline_price_size_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of the part catalog (operators/skyline.skyline_2d):
    the Pareto frontier minimizing price and maximizing size — every
    part no other part beats on both axes, the classic SKYLINE OF
    dominance operator the relational surface lacked. The Spark side
    runs the two-level banded prefix-max decomposition (the
    watermark-lateness scan shape: per-band max → tiny cross-band
    exclusive prefix → partitioned in-band window — no SinglePartition
    full-data hop); the oracle deliberately replays the NAIVE
    NOT-EXISTS dominance definition, so a green row certifies the
    decomposition against the semantics, not against itself.

    Scale: one map-side band aggregate, one |bands| window, one
    broadcast join back, one partitioned window. Integer comparisons
    only."""
    from pinterest_data_pipeline_spark.operators.skyline import skyline_2d

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    return skyline_2d(part, "cents", "size").select(
        "p_partkey", "cents", "size"
    )


# --------------------------------------------------- trending rank shift
@_stage(
    "trending_parts_rank_shift",
    oracle="""
    WITH rev AS (
        SELECT l.l_partkey AS part,
               CAST(sum(CASE WHEN o.o_orderdate < TIMESTAMP '1998-01-01'
                        THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS cents_a,
               CAST(sum(CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01'
                        THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS cents_b
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    ),
    top_b AS (
        SELECT part, cents_a, cents_b,
               ROW_NUMBER() OVER (ORDER BY cents_b DESC, part ASC)
                   AS rank_b
        FROM rev WHERE cents_b > 0
    ),
    cand AS (SELECT * FROM top_b WHERE rank_b <= 20),
    ranked_a AS (
        SELECT c.part, c.cents_a, c.cents_b, c.rank_b,
               CAST(1 + (
                   SELECT count(*) FROM rev r
                   WHERE r.cents_a > c.cents_a
                      OR (r.cents_a = c.cents_a AND r.part < c.part)
               ) AS BIGINT) AS rank_a
        FROM cand c
    )
    SELECT part, cents_a, cents_b,
           CAST(rank_b AS BIGINT) AS rank_b, rank_a,
           CAST(rank_a - rank_b AS BIGINT) AS rank_shift
    FROM ranked_a
    """,
)
def trending_parts_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending analysis: the 20 top-revenue parts of the LATE period
    (orders from 1998 on) with their rank shift against the EARLY
    period — the day-over-day "movers" table every commerce dashboard
    leads with, read here as rank dynamics (a +4,000 shift is a
    breakout; ~0 is an evergreen). rank_a is computed WITHOUT ranking
    the whole early period: each of the 20 candidates counts the parts
    strictly ahead of it (revenue, then key — a total order) through
    one broadcast inequality join, so the full catalog is never
    sorted.

    Scale: one (part, period) conditional aggregate, one TakeOrdered
    for the late top-20, one broadcast 20-row inequality join + count
    for the early ranks."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-01-01").cast("timestamp")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    rev = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(
                F.when(F.col("o_orderdate") < cut, cents).otherwise(0)
            )
            .cast("long")
            .alias("cents_a"),
            F.sum(
                F.when(F.col("o_orderdate") >= cut, cents).otherwise(0)
            )
            .cast("long")
            .alias("cents_b"),
        )
    )
    cand = (
        rev.where(F.col("cents_b") > 0)
        .orderBy(F.col("cents_b").desc(), F.col("part").asc())
        .limit(20)
        .withColumn(
            "rank_b",
            F.row_number().over(
                Window.orderBy(F.col("cents_b").desc(), F.col("part").asc())
            ),
        )
    )
    c = cand.select(
        F.col("part").alias("c_part"),
        F.col("cents_a").alias("c_cents_a"),
        F.col("cents_b").alias("c_cents_b"),
        "rank_b",
    )
    ahead = (
        rev.join(
            F.broadcast(c),
            (F.col("cents_a") > F.col("c_cents_a"))
            | (
                (F.col("cents_a") == F.col("c_cents_a"))
                & (F.col("part") < F.col("c_part"))
            ),
        )
        .groupBy("c_part")
        .agg(F.count(F.lit(1)).cast("long").alias("__n_ahead"))
    )
    ahead = ahead.withColumnRenamed("c_part", "a_part")
    return (
        c.join(
            ahead, c["c_part"] == ahead["a_part"], "left"
        )
        .select(
            F.col("c_part").alias("part"),
            F.col("c_cents_a").alias("cents_a"),
            F.col("c_cents_b").alias("cents_b"),
            F.col("rank_b").cast("long").alias("rank_b"),
            (F.coalesce(F.col("__n_ahead"), F.lit(0)) + 1)
            .cast("long")
            .alias("rank_a"),
            (
                F.coalesce(F.col("__n_ahead"), F.lit(0))
                + 1
                - F.col("rank_b")
            )
            .cast("long")
            .alias("rank_shift"),
        )
    )


# -------------------------------------------- intrinsic dimension (TwoNN)
@_stage(
    "intrinsic_dim_embeddings_twonn",
    oracle="""
    WITH s AS (
        SELECT vec_id AS id, embedding AS v FROM embeddings
        ORDER BY CAST(concat('0x', substr(md5(concat('twonn:',
            CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT), vec_id
        LIMIT 256
    ),
    pairs AS (
        SELECT l.id AS id, r.id AS nid,
               round(list_sum(list_transform(range(1, 65), j ->
                   (CAST(l.v[j] AS DOUBLE) - CAST(r.v[j] AS DOUBLE))
                   * (CAST(l.v[j] AS DOUBLE) - CAST(r.v[j] AS DOUBLE)))),
                   6) AS d2
        FROM s l JOIN s r ON l.id <> r.id
    ),
    ranked AS (
        SELECT id, d2,
               ROW_NUMBER() OVER (PARTITION BY id
                   ORDER BY d2 ASC, nid ASC) AS rn
        FROM pairs
    ),
    top2 AS (
        SELECT id,
               min(CASE WHEN rn = 1 THEN d2 END) AS d1,
               min(CASE WHEN rn = 2 THEN d2 END) AS d2n
        FROM ranked WHERE rn <= 2 GROUP BY id
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sample,
               CAST(sum(CASE WHEN d1 > 0 AND d2n IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_used,
               CAST(sum(CASE WHEN d1 > 0 AND d2n IS NOT NULL
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_degenerate,
               sum(CASE WHEN d1 > 0 AND d2n IS NOT NULL
                   THEN ln(d2n / d1) ELSE 0.0 END) AS lnsum
        FROM top2
    )
    SELECT n_sample, n_used, n_degenerate,
           round(CASE WHEN n_used > 0 AND lnsum > 0
                 THEN 2.0 * CAST(n_used AS DOUBLE) / lnsum
                 ELSE 0.0 END, 6) AS id_twonn_r6
    FROM agg
    """,
)
def intrinsic_dim_embeddings_twonn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate of the embedding space
    (operators/similarity.intrinsic_dimension_twonn) over a
    FIXED-SIZE deterministic sample — the 256 vectors with the
    smallest portable-hash values, a TakeOrdered cut, so the all-pairs
    stage is CONSTANT in corpus size (a rate-based sample would grow
    its pair matrix quadratically with the corpus — measured 11.7x at
    x30 before this cap): how many degrees of freedom the 64-dim vectors
    actually use — the capacity/drift diagnostic an embedding
    pipeline reads before sizing an index or trusting a version bump
    (an encoder change moves ID even when norms hold still). Squared
    distances round to the 6-decimal grain BEFORE neighbor selection,
    ties break on id, degenerate (zero-distance) points are excluded
    and counted.

    Scale: one TakeOrdered-256 cut, all-pairs only within those 256
    rows (constant), one window, one fold."""
    from pinterest_data_pipeline_spark.operators.dedup import (
        portable_hash32,
    )
    from pinterest_data_pipeline_spark.operators.similarity import (
        intrinsic_dimension_twonn,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    h = portable_hash32(
        F.concat(F.lit("twonn:"), F.col("vec_id").cast("string"))
    )
    sample = emb.orderBy(h.asc(), F.col("vec_id").asc()).limit(256)
    return intrinsic_dimension_twonn(sample)
