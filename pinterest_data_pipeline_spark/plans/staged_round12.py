"""Resampling, sequential-testing, linkage and graph-community queries,
registered in rounds 11-12.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round12.py checks them at sf0.001 and sf0.01
and pins the operators' behavior.

The batch closes measurement gaps around capabilities the engine
already ships:

- poisson_bootstrap_ci_value (operators/bootstrap): the cluster-native
  resampling CI — every experiment readout so far is a point estimate
  or a parametric z; this is the distribution-free interval.
- obrien_fleming_interim_looks (operators/experiment): group-sequential
  alpha spending — the guard against the peeking bias none of the
  registered significance queries addresses.
- span_corruption_plan_docs (operators/corruption): T5-style denoising
  masks as a replayable PLAN, not a dataloader-time random draw.
- profile_drift_audit: column-stat drift between two table versions —
  the schema-level sibling of merkle_diff_orders' row-level diff.
- mutual_nn_pairs_sample (operators/similarity.mutual_top1_pairs):
  reciprocal top-1 neighbors, the confidence tier above one-way cosine.
- lsh_cell_quality_db (operators/clustering): Davies-Bouldin scatter
  over the hyperplane cells every LSH operator here banding-trusts.
- lpa_purchasing_communities (operators/labelprop): density communities
  inside the one connected component reachability can't split.
- fellegi_sunter_link_weights (operators/linkage): the probabilistic
  record-linkage evidence layer above the exact similarity joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.bootstrap import (
    POISSON_CDF_U32,
)
from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.plans.training_data import (
    _PLANES_SQL,
    _cos_sql,
)
from pinterest_data_pipeline_spark.sources.parquet import load_table


def _poisson_w_sql(u: str) -> str:
    """The inverse-CDF weight CASE over the SAME baked thresholds the
    engine compares against (operators/bootstrap.POISSON_CDF_U32)."""
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(POISSON_CDF_U32)
    )
    return f"CASE {branches} ELSE {len(POISSON_CDF_U32)} END"


@register(
    "poisson_bootstrap_ci_value",
    oracle=f"""
    WITH e AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    dig AS (
        SELECT event_type, c, rj.j AS j,
               md5(concat('boot:', CAST(event_id AS VARCHAR), ':',
                          CAST(rj.j AS VARCHAR))) AS hx
        FROM e, UNNEST(range(0, 16)) AS rj(j)
    ),
    x AS (
        SELECT event_type, c, j * 4 + rw.w AS b,
               CAST(concat('0x', substr(hx, rw.w * 8 + 1, 8))
                    AS BIGINT) AS u
        FROM dig, UNNEST(range(0, 4)) AS rw(w)
    ),
    w AS (SELECT event_type, b, c, {_poisson_w_sql('u')} AS w FROM x),
    means AS (
        SELECT event_type, b,
               CAST(sum(w * c) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
        FROM w GROUP BY 1, 2 HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT event_type, b, m,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY m, b) AS r,
               count(*) OVER (PARTITION BY event_type) AS nb
        FROM means
    ),
    ci AS (
        SELECT event_type,
               round(min(CASE WHEN r = (nb * 25 + 999) // 1000
                         THEN m END), 6) AS ci_lo_r6,
               round(min(CASE WHEN r = (nb * 975 + 999) // 1000
                         THEN m END), 6) AS ci_hi_r6,
               CAST(max(nb) AS BIGINT) AS n_resamples
        FROM ranked GROUP BY 1
    ),
    f AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
               round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS mean_r6
        FROM e GROUP BY 1
    )
    SELECT f.event_type, n_rows, mean_r6, ci_lo_r6, ci_hi_r6, n_resamples
    FROM f JOIN ci USING (event_type)
    """,
)
def poisson_bootstrap_ci_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """95% Poisson-bootstrap CI for mean event value (cents) per event
    type (operators/bootstrap): 64 resamples, each row's weight an
    independent Poisson(1) draw — resample b reads the (b mod 4)-th
    32-bit window of md5(salt:id:b div 4), so one scan with 16 digests
    per row computes all 64 resamples (4× less hashing than a digest
    per resample; 9.5 s → ~2.5 s at sf0.1), no multinomial
    coordination, no dataloader-side randomness. Resample sums are exact bigints; the
    only doubles are the B mean divisions and the order-statistic CI
    bounds, identical IEEE ops in both engines."""
    from pinterest_data_pipeline_spark.operators.bootstrap import (
        poisson_bootstrap_mean_ci,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return poisson_bootstrap_mean_ci(
        ev, ["event_type"], "event_id", "cents"
    )


@register(
    "obrien_fleming_interim_looks",
    oracle="""
    WITH e AS (
        SELECT CASE WHEN CAST(concat('0x', substr(md5(concat('exp1:',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
                        % 2 = 0
               THEN 'treatment' ELSE 'control' END AS arm,
               (day(ts) + 5) // 6 AS look,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events WHERE user_id IS NOT NULL
    ),
    per AS (
        SELECT look, arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS conv
        FROM e GROUP BY 1, 2
    ),
    spine AS (
        SELECT r.k AS look, a.arm
        FROM UNNEST(range(1, 6)) AS r(k),
             (SELECT 'treatment' AS arm UNION ALL SELECT 'control') a
    ),
    cum AS (
        SELECT s.look, s.arm,
               sum(COALESCE(p.n, 0)) OVER (PARTITION BY s.arm
                   ORDER BY s.look ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS n,
               sum(COALESCE(p.conv, 0)) OVER (PARTITION BY s.arm
                   ORDER BY s.look ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS conv
        FROM spine s LEFT JOIN per p ON s.look = p.look AND s.arm = p.arm
    ),
    looks AS (
        SELECT t.look, CAST(t.n AS BIGINT) AS n_treat,
               CAST(t.conv AS BIGINT) AS conv_treat,
               CAST(c.n AS BIGINT) AS n_ctrl,
               CAST(c.conv AS BIGINT) AS conv_ctrl
        FROM cum t JOIN cum c ON t.look = c.look
        WHERE t.arm = 'treatment' AND c.arm = 'control'
    ),
    z AS (
        SELECT look, n_treat, conv_treat, n_ctrl, conv_ctrl,
               CAST(conv_treat + conv_ctrl AS DOUBLE)
                   / CAST(n_treat + n_ctrl AS DOUBLE) AS pool
        FROM looks
    )
    SELECT look, n_treat, conv_treat, n_ctrl, conv_ctrl,
           round(CASE WHEN sqrt(pool * (1.0 - pool)
                           * (1.0 / CAST(n_treat AS DOUBLE)
                              + 1.0 / CAST(n_ctrl AS DOUBLE))) > 0
                 THEN (CAST(conv_treat AS DOUBLE)
                           / CAST(n_treat AS DOUBLE)
                       - CAST(conv_ctrl AS DOUBLE)
                           / CAST(n_ctrl AS DOUBLE))
                      / sqrt(pool * (1.0 - pool)
                             * (1.0 / CAST(n_treat AS DOUBLE)
                                + 1.0 / CAST(n_ctrl AS DOUBLE)))
                 END, 6) AS z_r6,
           round(2.04 * sqrt(5.0 / CAST(look AS DOUBLE)), 6)
               AS boundary_r6,
           COALESCE(abs(round(CASE WHEN sqrt(pool * (1.0 - pool)
                           * (1.0 / CAST(n_treat AS DOUBLE)
                              + 1.0 / CAST(n_ctrl AS DOUBLE))) > 0
                 THEN (CAST(conv_treat AS DOUBLE)
                           / CAST(n_treat AS DOUBLE)
                       - CAST(conv_ctrl AS DOUBLE)
                           / CAST(n_ctrl AS DOUBLE))
                      / sqrt(pool * (1.0 - pool)
                             * (1.0 / CAST(n_treat AS DOUBLE)
                                + 1.0 / CAST(n_ctrl AS DOUBLE)))
                 END, 6))
               > round(2.04 * sqrt(5.0 / CAST(look AS DOUBLE)), 6),
               FALSE) AS crossed
    FROM z
    """,
)
def obrien_fleming_interim_looks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Five O'Brien-Fleming interim looks at the purchase-conversion
    A/B (operators/experiment.group_sequential_obf): 6-day cumulative
    windows over January, hash-assigned arms, pooled two-proportion z
    per look against the C·√(K/k) boundary — the peeking-safe readout
    the fixed-z queries (ab_purchase_ztest, mde_power_purchase) assume
    away. Counts are exact integers; z and boundary are single double
    chains rounded 6. NULL unit ids are excluded up front (the
    srm_assignment_audit contract: you cannot randomize a unit you
    cannot identify).

    Scale: ONE map-side-combinable aggregate over the fact table to
    (look, arm); everything after runs on a 10-row relation."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        group_sequential_obf,
        hash_assign_arm,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    ).select(
        hash_assign_arm("user_id").alias("arm"),
        ((F.dayofmonth("ts") + 5) / 6).cast("long").alias("look"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("conv"),
    )
    # ALL five cumulative looks as 20 conditional counters in ONE
    # map-side-combinable aggregate (cumulative look k = sum over
    # look <= k), then stack() fans the one-row result into the 5-look
    # relation — the rendezvous_reshard_stability pattern. The earlier
    # spine-join + per-arm running window + conditional-agg pivot
    # computed the same 20 numbers through four tiny exchanges whose
    # fixed scheduling/codegen cost dominated the query (measured ~7 s
    # warm at sf0.1 vs ~1 s for this shape; the scan itself is 0.4 s).
    is_t = F.col("arm") == "treatment"

    def _cnt(k: int, treat: bool, of_conv: bool):
        cond = (F.col("look") <= k) & (is_t if treat else ~is_t)
        val = F.when(cond, F.col("conv") if of_conv else 1).otherwise(0)
        return F.sum(val).cast("bigint").alias(
            f"__{'t' if treat else 'c'}{'v' if of_conv else 'n'}{k}"
        )

    one = ev.agg(
        *[
            _cnt(k, treat, of_conv)
            for k in range(1, 6)
            for treat in (True, False)
            for of_conv in (False, True)
        ]
    )
    looks = one.selectExpr(
        "stack(5, "
        + ", ".join(
            f"CAST({k} AS BIGINT), __tn{k}, __tv{k}, __cn{k}, __cv{k}"
            for k in range(1, 6)
        )
        + ") as (look, n_treat, conv_treat, n_ctrl, conv_ctrl)"
    )
    return group_sequential_obf(looks, "look", k_total=5)


@register(
    "span_corruption_plan_docs",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\\s+'))
                    AS BIGINT) AS n
        FROM documents
    ),
    k AS (
        SELECT doc_id, n,
               greatest(1, least(n // 3, (n * 5 + 50) // 100)) AS k
        FROM t WHERE n >= 3
    ),
    spans AS (
        SELECT doc_id, n, k, r.j AS j, n // k AS seg,
               (r.j * (n // k))
               + (CAST(concat('0x', substr(md5(concat('t5span:',
                      CAST(doc_id AS VARCHAR), ':',
                      CAST(r.j AS VARCHAR))), 1, 8)) AS BIGINT)
                  % ((n // k) - 2)) AS strt
        FROM k, UNNEST(range(0, k)) AS r(j)
    )
    SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) * 3 AS BIGINT) AS corrupted_tokens,
           CAST(count(*) * 3 * 1000000 // max(n) AS BIGINT)
               AS corruption_ppm,
           CAST(sum(strt) AS BIGINT) AS start_checksum,
           CAST(min(strt) AS BIGINT) AS first_start,
           CAST(max(strt) AS BIGINT) AS last_start
    FROM spans GROUP BY doc_id
    """,
)
def span_corruption_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption PLAN per document
    (operators/corruption): ~15% of tokens in disjoint length-3 spans,
    one per equal token segment, placed by the portable hash — the
    denoising masks as a replayable, auditable relation instead of a
    dataloader-time random draw. The per-document summary row carries
    the order-independent Σ-starts checksum, so every placement is
    value-pinned without a per-span row explosion."""
    from pinterest_data_pipeline_spark.operators.corruption import (
        span_corruption_plan,
    )

    docs = load_table(spark, sf_dir, "documents")
    return span_corruption_plan(docs, "doc_id", "text")


_DRIFT_V1 = """
    SELECT o_orderkey AS k,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
           o_orderstatus AS status
    FROM orders
"""

_DRIFT_V2 = f"""
    SELECT k,
           CASE WHEN k % 499 = 2 THEN cents + 5 ELSE cents END AS cents,
           CASE WHEN k % 503 = 1 THEN NULL ELSE status END AS status
    FROM ({_DRIFT_V1}) WHERE k % 1013 <> 7
"""

_DRIFT_STATS = """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT k) AS BIGINT) AS k_ndv,
           CAST(min(k) AS BIGINT) AS k_min,
           CAST(max(k) AS BIGINT) AS k_max,
           CAST(count(DISTINCT cents) AS BIGINT) AS cents_ndv,
           CAST(min(cents) AS BIGINT) AS cents_min,
           CAST(max(cents) AS BIGINT) AS cents_max,
           CAST(sum(CASE WHEN status IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS status_nulls,
           CAST(count(DISTINCT status) AS BIGINT) AS status_ndv
    FROM {src}
"""

_DRIFT_UNPIVOT = """
    SELECT 'table' AS col_name, 'n_rows' AS stat, n_rows AS v FROM {a}
    UNION ALL SELECT 'k', 'ndv', k_ndv FROM {a}
    UNION ALL SELECT 'k', 'min', k_min FROM {a}
    UNION ALL SELECT 'k', 'max', k_max FROM {a}
    UNION ALL SELECT 'cents', 'ndv', cents_ndv FROM {a}
    UNION ALL SELECT 'cents', 'min', cents_min FROM {a}
    UNION ALL SELECT 'cents', 'max', cents_max FROM {a}
    UNION ALL SELECT 'status', 'nulls', status_nulls FROM {a}
    UNION ALL SELECT 'status', 'ndv', status_ndv FROM {a}
"""


@register(
    "profile_drift_audit",
    oracle=f"""
    WITH s1 AS ({_DRIFT_STATS.format(src=f'({_DRIFT_V1})')}),
    s2 AS ({_DRIFT_STATS.format(src=f'({_DRIFT_V2})')}),
    u1 AS ({_DRIFT_UNPIVOT.format(a='s1')}),
    u2 AS ({_DRIFT_UNPIVOT.format(a='s2')})
    SELECT u1.col_name, u1.stat, u1.v AS v1, u2.v AS v2,
           CAST(u2.v - u1.v AS BIGINT) AS delta
    FROM u1 JOIN u2 ON u1.col_name = u2.col_name AND u1.stat = u2.stat
    """,
)
def profile_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-statistics drift between two table versions — the
    SCHEMA-level sibling of merkle_diff_orders' row-level diff (the
    pair a 100 TB ingest runs in sequence: profile drift says WHETHER
    and WHERE to look, the Merkle diff says exactly WHICH rows). The
    second version applies deterministic mutations (drop every 1013th
    key, NULL the status of every 503rd-residue-1, +5 cents on every
    499th-residue-2), so both engines rebuild it identically. Output:
    one row per (column, statistic) with v1, v2, and the delta —
    all exact integers.

    Scale: ONE aggregate scan per version (count/ndv/min/max all
    map-side combinable); the unpivot and join run on 9-row
    relations."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    v2 = base.where(F.col("k") % 1013 != 7).select(
        "k",
        F.when(F.col("k") % 499 == 2, F.col("cents") + 5)
        .otherwise(F.col("cents"))
        .alias("cents"),
        F.when(F.col("k") % 503 == 1, F.lit(None).cast("string"))
        .otherwise(F.col("status"))
        .alias("status"),
    )

    def stats(df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col("k")).alias("k_ndv"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.count_distinct(F.col("cents")).alias("cents_ndv"),
            F.min("cents").alias("cents_min"),
            F.max("cents").alias("cents_max"),
            F.sum(F.col("status").isNull().cast("long")).alias(
                "status_nulls"
            ),
            F.count_distinct(F.col("status")).alias("status_ndv"),
        )

    unpivot = (
        "stack(9, "
        "'table', 'n_rows', n_rows, "
        "'k', 'ndv', k_ndv, 'k', 'min', k_min, 'k', 'max', k_max, "
        "'cents', 'ndv', cents_ndv, 'cents', 'min', cents_min, "
        "'cents', 'max', cents_max, "
        "'status', 'nulls', status_nulls, 'status', 'ndv', status_ndv"
        ") AS (col_name, stat, v)"
    )
    u1 = stats(base).selectExpr(unpivot)
    u2 = stats(v2).selectExpr(unpivot)
    return (
        u1.alias("a")
        .join(
            u2.alias("b"),
            (F.col("a.col_name") == F.col("b.col_name"))
            & (F.col("a.stat") == F.col("b.stat")),
        )
        .select(
            F.col("a.col_name").alias("col_name"),
            F.col("a.stat").alias("stat"),
            F.col("a.v").alias("v1"),
            F.col("b.v").alias("v2"),
            (F.col("b.v") - F.col("a.v")).cast("long").alias("delta"),
        )
    )


@register(
    "mutual_nn_pairs_sample",
    oracle=f"""
    WITH s AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 10 = 0
        ORDER BY md5(concat('mnn:', CAST(vec_id AS VARCHAR))), vec_id
        LIMIT 1024
    ),
    sc AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               {_cos_sql('a', 'b')} AS sc
        FROM s a JOIN s b ON a.vec_id <> b.vec_id
    ),
    nn AS (
        SELECT ia, ib AS nn, sc FROM (
            SELECT ia, ib, sc,
                   row_number() OVER (PARTITION BY ia
                                      ORDER BY sc DESC, ib ASC) AS rn
            FROM sc
        ) WHERE rn = 1
    )
    SELECT n1.ia AS id_a, n1.nn AS id_b, n1.sc AS score_r6
    FROM nn n1 JOIN nn n2 ON n1.nn = n2.ia AND n2.nn = n1.ia
    WHERE n1.ia < n1.nn
    """,
)
def mutual_nn_pairs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal top-1 cosine pairs over the deterministic 1-in-10
    embedding sample (operators/similarity.mutual_top1_pairs): the
    confidence tier ABOVE one-directional similarity — a hub vector
    closest to everything produces many one-way edges but few mutual
    ones, so mutual pairs are the dedup candidates worth trusting
    without human review. Argmax ranks by (round(cos,6) DESC, id ASC),
    making selection independent of sub-grain float noise.

    Scale: the audited universe is a FIXED-SIZE panel, not a fixed
    RATE — the 1-in-10 sample is additionally capped to the 1024
    md5-smallest ids (TakeOrderedAndProject; ties to the id), because
    a rate-based sample grows with the corpus and its all-pairs score
    relation grows quadratically: the uncapped formulation read
    567 s at the x100 stress point (492x on 100x input) behind a
    4x-row output. The cap is non-binding at every test SF (panel
    <= 200 rows there, so the certified values are unchanged) and
    binds exactly in the regimes where the quadratic lived; corpus-
    wide runs swap in this module's IVF/LSH candidate generators and
    keep the same reciprocity logic."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        mutual_top1_pairs,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 10 == 0)
        .orderBy(
            F.md5(F.concat(F.lit("mnn:"), F.col("vec_id").cast("string"))),
            F.col("vec_id"),
        )
        .limit(1024)
    )
    return mutual_top1_pairs(emb)


_CELLS_SQL = f"""
    planes AS (
        SELECT i AS pidx, {_PLANES_SQL}[i] AS p
        FROM (SELECT unnest(range(1, 4)) AS i)
    ),
    cells AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN list_sum(list_transform(range(1, 65),
                        d -> CAST(e.embedding[d] AS DOUBLE)
                             * pl.p[d])) >= 0
                    THEN power(2, pl.pidx - 1) ELSE 0 END)
                    AS BIGINT) AS cell
        FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id
    )
"""


@register(
    "embedding_cell_quality_db",
    oracle=f"""
    WITH {_CELLS_SQL},
    cm AS (
        SELECT c.cell, d.d,
               round(avg(CAST(e.embedding[d.d] AS DOUBLE)), 6) AS cc
        FROM cells c JOIN embeddings e USING (vec_id),
             UNNEST(range(1, 65)) AS d(d)
        GROUP BY 1, 2
    ),
    centa AS (SELECT cell, list(cc ORDER BY d) AS cent FROM cm GROUP BY 1),
    scat AS (
        SELECT c.cell,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(CAST(round(sqrt(list_sum(list_transform(
                        range(1, 65),
                        d -> (CAST(e.embedding[d] AS DOUBLE) - ct.cent[d])
                             * (CAST(e.embedding[d] AS DOUBLE)
                                - ct.cent[d])))) * 1000000)
                    AS BIGINT)) AS BIGINT) AS s_sum_micro
        FROM cells c JOIN embeddings e USING (vec_id)
                     JOIN centa ct ON ct.cell = c.cell
        GROUP BY 1
    ),
    si AS (
        SELECT s.cell, s.n_members, s.s_sum_micro,
               CAST(s.s_sum_micro AS DOUBLE)
                   / CAST(s.n_members AS DOUBLE) / 1000000.0 AS sv,
               ct.cent AS cent
        FROM scat s JOIN centa ct ON ct.cell = s.cell
    ),
    ratios AS (
        SELECT a.cell,
               round(max((a.sv + b.sv)
                   / sqrt(list_sum(list_transform(range(1, 65),
                       d -> (a.cent[d] - b.cent[d])
                            * (a.cent[d] - b.cent[d]))))), 6) AS db_r6
        FROM si a JOIN si b ON a.cell <> b.cell
        GROUP BY 1
    )
    SELECT si.cell, si.n_members, si.s_sum_micro, r.db_r6
    FROM si JOIN ratios r ON r.cell = si.cell
    """,
)
def embedding_cell_quality_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin quality of the 8 hyperplane-LSH cells
    (operators/clustering.lsh_cell_quality_db): within-cell scatter as
    EXACT integer micros (each member distance quantizes before the
    only cross-row sum), centroid components rounded to the 6dp
    portability grain before any distance, DB ratio the one final
    double. The measured answer to "do the seed-7 planes actually
    separate this corpus" that every banding operator here assumes."""
    from pinterest_data_pipeline_spark.operators.clustering import (
        lsh_cell_quality_db,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_cell_quality_db(emb)


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f"""
    v{cur} AS (
        SELECT e.src AS node, l.label, CAST(count(*) AS BIGINT) AS c
        FROM edges e JOIN lab{prev} l ON e.dst = l.node GROUP BY 1, 2
    ),
    m{cur} AS (
        SELECT node, label, CAST(sum(c) AS BIGINT) AS c FROM (
            SELECT node, label, c FROM v{cur}
            UNION ALL SELECT node, label, 1 FROM lab{prev}
        ) GROUP BY 1, 2
    ),
    lab{cur} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY c DESC, label ASC) AS rn
            FROM m{cur}
        ) WHERE rn = 1
    )"""


@register(
    "lpa_purchasing_communities",
    oracle=f"""
    WITH ed AS (
        SELECT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b
        FROM lineitem GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM ed
        UNION ALL SELECT b, a FROM ed
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
    {_lpa_round_sql('0', '1')},
    {_lpa_round_sql('1', '2')},
    {_lpa_round_sql('2', '3')}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM lab3 GROUP BY 1
    """,
)
def lpa_purchasing_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the supplier↔part purchasing
    graph (operators/labelprop): three synchronous self-voting rounds,
    smallest-label ties, over REPEAT-purchase edges (pairs with >= 2
    lineitems: the raw co-occurrence graph is near-complete at supplier
    degree ~500, where every community detector degenerates — repeat
    edges carry the actual affinity signal). The density structure
    INSIDE the single connected component that reachability-based
    clustering cannot split. Histogram output (community, n_nodes); the oracle unrolls
    all three rounds in SQL (the pagerank/power-iteration fixed-point
    precedent).

    Scale: one edge barrier (edges + per-node self-loops), then per
    round one (edge ⋈ label) shuffle + one map-side-combinable vote
    aggregation (deterministic ``mode``); round 1 votes straight from
    the edges, and the plan grows linearly in rounds without per-round
    barriers."""
    from pinterest_data_pipeline_spark.operators.labelprop import (
        community_sizes,
    )

    li = load_table(spark, sf_dir, "lineitem")
    ed = (
        li.groupBy(
            (F.col("l_suppkey") * 2).alias("a"),
            (F.col("l_partkey") * 2 + 1).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("a", "b")
    )
    edges = ed.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionAll(ed.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    return community_sizes(edges)


_FS_ORIG = """
    SELECT c_custkey AS k, c_nationkey AS nation, c_name AS name,
           c_mktsegment AS seg,
           CAST(round(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
"""

_FS_TWIN = f"""
    SELECT k, nation,
           CASE WHEN k % 70 = 0
                THEN substr(name, 1, length(name) - 1) || 'X'
                ELSE name END AS name,
           CASE WHEN k % 35 = 0 THEN 'RE-ENTERED' ELSE seg END AS seg,
           CASE WHEN k % 21 = 0 THEN cents + 1 ELSE cents END AS cents
    FROM ({_FS_ORIG}) WHERE k % 7 = 0
"""


@register(
    "fellegi_sunter_link_weights",
    oracle=f"""
    WITH o AS ({_FS_ORIG}),
    t AS ({_FS_TWIN}),
    cand AS (
        SELECT coalesce(o.name = t.name, FALSE) AS a_name,
               coalesce(o.seg = t.seg, FALSE) AS a_seg,
               coalesce(o.cents = t.cents, FALSE) AS a_bal,
               o.k = t.k AS is_match
        FROM o JOIN t ON o.nation = t.nation
                   AND o.cents // 1000 = t.cents // 1000
    ),
    pat AS (
        SELECT a_name, a_seg, a_bal,
               CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match,
               CAST(sum(CASE WHEN is_match THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_nonmatch
        FROM cand GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT sum(n_match) AS tm, sum(n_nonmatch) AS tu,
               sum(CASE WHEN a_name THEN n_match ELSE 0 END) AS am_name,
               sum(CASE WHEN a_name THEN n_nonmatch ELSE 0 END) AS au_name,
               sum(CASE WHEN a_seg THEN n_match ELSE 0 END) AS am_seg,
               sum(CASE WHEN a_seg THEN n_nonmatch ELSE 0 END) AS au_seg,
               sum(CASE WHEN a_bal THEN n_match ELSE 0 END) AS am_bal,
               sum(CASE WHEN a_bal THEN n_nonmatch ELSE 0 END) AS au_bal
        FROM pat
    )
    SELECT a_name, a_seg, a_bal, n_match, n_nonmatch,
           round(
             (CASE WHEN a_name
              THEN log2((CAST(am_name + 1 AS DOUBLE) / (tm + 2))
                        / (CAST(au_name + 1 AS DOUBLE) / (tu + 2)))
              ELSE log2((1.0 - CAST(am_name + 1 AS DOUBLE) / (tm + 2))
                        / (1.0 - CAST(au_name + 1 AS DOUBLE) / (tu + 2)))
              END)
           + (CASE WHEN a_seg
              THEN log2((CAST(am_seg + 1 AS DOUBLE) / (tm + 2))
                        / (CAST(au_seg + 1 AS DOUBLE) / (tu + 2)))
              ELSE log2((1.0 - CAST(am_seg + 1 AS DOUBLE) / (tm + 2))
                        / (1.0 - CAST(au_seg + 1 AS DOUBLE) / (tu + 2)))
              END)
           + (CASE WHEN a_bal
              THEN log2((CAST(am_bal + 1 AS DOUBLE) / (tm + 2))
                        / (CAST(au_bal + 1 AS DOUBLE) / (tu + 2)))
              ELSE log2((1.0 - CAST(am_bal + 1 AS DOUBLE) / (tm + 2))
                        / (1.0 - CAST(au_bal + 1 AS DOUBLE) / (tu + 2)))
              END), 6) AS weight_r6
    FROM pat CROSS JOIN tot
    """,
)
def fellegi_sunter_link_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter evidence weights per agreement pattern
    (operators/linkage) over a deterministic re-entry scenario: every
    7th customer re-enters the file with replayable perturbations
    (name last-char typo on every 70th — m_name ≈ 0.9, names usually
    survive re-entry — segment rewrite on every 35th, +1 cent on every
    21st), candidates blocked on (nationkey, $10 balance band =
    cents div 1000), ground truth = same key. The band makes the block
    key DISCRIMINATIVE — nationkey alone (25 blocks) made the
    candidate relation quadratic in input, measured 0.99 s → 183 s at
    the ×100 stress point before the band landed; with it the blocked
    join is output-proportional. Band recall on the planted truth is
    ~100%: the only perturbation touching cents is +1, which crosses a
    band boundary only when cents ≡ −1 (mod 1000). Agreement flags are
    NULL-safe under the binary-γ convention: a missing name/segment/
    balance on either side is a DISAGREEMENT (coalesce to False), never
    a NULL pattern row — absent evidence cannot support a link, and the
    pattern key stays a total three-bit domain. As in any blocked
    FS deployment, m/u are estimated ON THE CANDIDATE population —
    u_bal within a shared band reads higher than a global u would, the
    standard blocking bias, and the oracle replays the identical
    blocking. m/u are Laplace-smoothed ratios of exact integers; the k
    log2 terms sum in fixed field order.

    Scale: one blocked candidate join on the composite key → one
    map-side pattern aggregate (≤ 2^3·2 rows); everything after is
    column arithmetic against broadcast one-row totals."""
    from pinterest_data_pipeline_spark.operators.linkage import (
        fellegi_sunter_pattern_weights,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    twin = cust.where(F.col("k") % 7 == 0).select(
        "k",
        "nation",
        F.when(
            F.col("k") % 70 == 0,
            F.concat(
                F.expr("substr(name, 1, length(name) - 1)"), F.lit("X")
            ),
        )
        .otherwise(F.col("name"))
        .alias("name"),
        F.when(F.col("k") % 35 == 0, F.lit("RE-ENTERED"))
        .otherwise(F.col("seg"))
        .alias("seg"),
        F.when(F.col("k") % 21 == 0, F.col("cents") + 1)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    cand = (
        cust.alias("o")
        .join(
            twin.alias("t"),
            (F.col("o.nation") == F.col("t.nation"))
            & (
                F.expr("o.cents div 1000") == F.expr("t.cents div 1000")
            ),
        )
        .select(
            # NULL-safe agreement flags: a missing field is a
            # DISAGREEMENT (the binary-γ convention — absent evidence
            # never supports a link), so each comparison coalesces to
            # False instead of propagating NULL into the pattern key
            F.coalesce(
                F.col("o.name") == F.col("t.name"), F.lit(False)
            ).alias("a_name"),
            F.coalesce(
                F.col("o.seg") == F.col("t.seg"), F.lit(False)
            ).alias("a_seg"),
            F.coalesce(
                F.col("o.cents") == F.col("t.cents"), F.lit(False)
            ).alias("a_bal"),
            (F.col("o.k") == F.col("t.k")).alias("is_match"),
        )
    )
    return fellegi_sunter_pattern_weights(
        cand, ["a_name", "a_seg", "a_bal"]
    )
