"""Spatial, retrieval, experimentation and labeling-QA queries, registered
in round 7.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round7.py checks them at sf0.001 and sf0.01
and pins the operators' behavior.

The set extends the engine sideways into surfaces the inventory
did not yet cover, each with the repo's engine-portable exactness
discipline (integer/dyadic arithmetic or fixed-order expression trees,
so DuckDB replays every value bit-for-bit):

- SPATIAL (operators/geo.py): grid-bucketed radius self-join and
  bounded nearest-neighbor over point coordinates — the query side of
  the reference's geolocation data model (README.md:224-233), candidates
  from a 3×3 cell join, never |points|².
- RETRIEVAL (operators/ranking.py, operators/similarity.py): Okapi
  BM25 scoring over the documents table, reciprocal-rank fusion of
  uncalibrated rankings, greedy MMR diversification with a fully
  unrolled 4-step SQL oracle, contrastive triplet mining (hardest
  same-label positive + hardest cross-label negative per anchor), and
  per-source NDCG@10 ranking evaluation against margin-decile grades.
- LABELING QA + SIGNIFICANCE (operators/experiment.py): Cohen's kappa
  inter-annotator agreement, the pooled two-proportion z-test, the
  tie-corrected Mann-Whitney U rank-sum test (value-level midrank
  identity — no global unit rank), and the Pearson chi-square
  independence audit, all from pure integer counts.
- COLLABORATIVE FILTERING (operators/cooccurrence.py): item-item
  co-occurrence cosine from distinct-interaction counts, per-user
  fan-out capped (the bot guard), degrees broadcast onto pair counts.
- EXPERIMENTATION (operators/experiment.py): deterministic hash A/B
  assignment + CUPED variance-reduced lift from integer moment sums.
- LINEAR ALGEBRA (operators/spectral.py): integer power iteration for
  the corpus's top principal direction — the BPE unrolled-oracle
  discipline applied to an iterative numeric algorithm.
- plus EWMA decay scoring (operators/trend.py, exact dyadic weights),
  per-source quality-decile calibration cutpoints, and deterministic
  curriculum interleave sharding (both window+aggregate compositions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.plans.training_data import (
    _QUALITY_MARGIN,
    _cos_sql,
)
from pinterest_data_pipeline_spark.sources.parquet import load_table


# Synthetic point coordinates for an id column, replayed verbatim by
# the oracles: offset microdegrees from the portable md5-prefix hash
# (operators/geo.synth_point — the pinterest_driver fixture discipline).
def _pt_sql(idexpr: str) -> tuple[str, str]:
    lat = (
        f"CAST(concat('0x', substr(md5(concat('geo-lat:', "
        f"CAST({idexpr} AS VARCHAR))), 1, 8)) AS BIGINT) % 180000001"
    )
    lon = (
        f"CAST(concat('0x', substr(md5(concat('geo-lon:', "
        f"CAST({idexpr} AS VARCHAR))), 1, 8)) AS BIGINT) % 360000001"
    )
    return lat, lon


_LAT, _LON = _pt_sql("c_custkey")


@register(
    "geo_radius_pairs_customers",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id, {_LAT} AS lat, {_LON} AS lon
        FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.lat - b.lat) * (a.lat - b.lat)
              + (a.lon - b.lon) * (a.lon - b.lon) AS BIGINT) AS d2_micro
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.lat - b.lat) * (a.lat - b.lat)
        + (a.lon - b.lon) * (a.lon - b.lon)
        <= CAST(1000000 AS BIGINT) * 1000000
    """,
)
def geo_radius_pairs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer pairs within 1° (planar degree-space, integer
    microdegrees) of each other, over deterministic synthetic
    coordinates (operators/geo.synth_point / grid_radius_pairs). The
    ORACLE states the semantics as the brute-force all-pairs filter;
    the ENGINE computes the identical set with the grid-cell candidate
    join (cell size = radius, 3×3 neighborhoods) — so the driver hash
    cross-validates the banding against first principles, exactly like
    the LSH-vs-exact dedup twins.

    Scale: shuffle is 9×|points| + the cell histogram; pair work per
    cell is density-bounded (hot cells cap like LSH buckets). The
    oracle's |points|² form is the shape the operator exists to
    avoid."""
    from pinterest_data_pipeline_spark.operators.geo import (
        grid_radius_pairs,
        synth_point,
    )

    cust = load_table(spark, sf_dir, "customer")
    lat, lon = synth_point("c_custkey")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        lat.alias("lat"),
        lon.alias("lon"),
    )
    return grid_radius_pairs(pts, "id", "lat", "lon", radius_micro=1_000_000)


@register(
    "geo_nearest_neighbor_probes",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS id, {_LAT} AS lat, {_LON} AS lon
        FROM customer
    ),
    probes AS (SELECT * FROM pts WHERE id % 97 = 0),
    cand AS (
        SELECT p.id AS probe_id, q.id AS nn_id,
               CAST((p.lat - q.lat) * (p.lat - q.lat)
                  + (p.lon - q.lon) * (p.lon - q.lon) AS BIGINT) AS d2
        FROM probes p JOIN pts q ON p.id <> q.id
        WHERE (p.lat - q.lat) * (p.lat - q.lat)
            + (p.lon - q.lon) * (p.lon - q.lon)
            <= CAST(2000000 AS BIGINT) * 2000000
    ),
    best AS (
        SELECT probe_id, nn_id, d2,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                   ORDER BY d2 ASC, nn_id ASC) AS rn
        FROM cand
    )
    SELECT p.id AS probe_id, b.nn_id, b.d2 AS d2_micro
    FROM probes p LEFT JOIN best b
      ON b.probe_id = p.id AND b.rn = 1
    """,
)
def geo_nearest_neighbor_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded nearest neighbor (operators/geo.nearest_within_radius):
    for every probe customer (c_custkey % 97 == 0) the closest other
    customer within 2°, NULL when the neighborhood is empty — the
    spatial analog of the as-of join's nearest direction, with the same
    total-order tiebreak discipline (d² ASC, id ASC). Probes explode to
    their 3×3 cell neighborhood and join the points' home-cell layout;
    cost is |probes| + matched-cell volume, independent of the corpus
    outside the probed cells (the oracle's probe×corpus product is the
    avoided shape)."""
    from pinterest_data_pipeline_spark.operators.geo import (
        nearest_within_radius,
        synth_point,
    )

    cust = load_table(spark, sf_dir, "customer")
    lat, lon = synth_point("c_custkey")
    pts = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon")
    )
    probes = pts.filter(F.col("id") % 97 == 0)
    nn = nearest_within_radius(
        probes, pts, "id", "lat", "lon", radius_micro=2_000_000
    )
    return probes.select(F.col("id").alias("probe_id")).join(
        nn, "probe_id", "left"
    ).select("probe_id", "nn_id", "d2_micro")


@register(
    "ewma16_user_value",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS r
        FROM events
    ),
    recent AS (SELECT * FROM ranked WHERE r <= 16),
    sized AS (
        SELECT user_id, cents, r,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM recent
    )
    SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
           round(sum(CAST(cents AS DOUBLE)
                 * pow(0.5, CAST(CASE WHEN r < n THEN r ELSE n - 1 END
                                 AS DOUBLE))) / 100.0, 6) AS ewma_r6
    FROM sized GROUP BY user_id
    """,
)
def ewma16_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α = ½) of event value at the latest event, over
    the last 16 events (operators/trend.ewma_half_latest): the recency-
    decayed activity score a monitoring/feature pipeline keeps per
    entity. Dyadic-exact: integer cents × 2^-j terms sum exactly in
    IEEE double, so the value is independent of addition order and both
    engines agree bit-for-bit before the single display division.

    Scale: one user-keyed shuffle carries the recency ranking, the
    count and the fold — the sessionize_event_stats cost class; the
    16-event bound caps per-key state at a constant."""
    from pinterest_data_pipeline_spark.operators.trend import ewma_half_latest

    events = load_table(spark, sf_dir, "events")
    scored = ewma_half_latest(
        events.withColumn(
            "cents", F.round(F.col("value") * 100).cast("bigint")
        ),
        key_col="user_id",
        order_col="ts",
        cents_col="cents",
        k=16,
        tiebreak_col="event_id",
    )
    return scored.select(
        "user_id",
        "n_events",
        F.round(F.col("ewma_cents") / F.lit(100.0), 6).alias("ewma_r6"),
    )


_BM25_TERMS = ["batch", "hash", "merge", "row", "table"]


@register(
    "bm25_doc_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
                   AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
               list_filter(t, x -> list_contains(
                   {_BM25_TERMS!r}, x)) AS hits
        FROM toks
    ),
    consts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS tot_len
        FROM base
    ),
    tf AS (
        SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, dl, unnest(hits) AS term FROM base)
        GROUP BY doc_id, dl, term
    ),
    dfc AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ln(1.0 + (CAST(c.n_docs AS DOUBLE) - CAST(dfc.df AS DOUBLE)
                         + 0.5) / (CAST(dfc.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * 2.2)
               / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25
                   + (0.75 * CAST(tf.dl AS DOUBLE))
                     / (CAST(c.tot_len AS DOUBLE)
                        / CAST(c.n_docs AS DOUBLE)))) AS score
        FROM tf JOIN dfc USING (term) CROSS JOIN consts c
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
           round(list_sum(list(score ORDER BY term)), 6) AS bm25_r6
    FROM scored GROUP BY doc_id
    """,
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) of every document against a fixed
    five-term query bag (operators/ranking.bm25_scores) — the retrieval
    relevance function a RAG-ish data pipeline runs over the corpus,
    completing the lexical-statistics family (TF-IDF, unigram/bigram
    LM) with the ranking-side member. The per-doc sum folds in sorted
    term order so the double is engine-portable.

    Scale: the corpus scans once into query-term postings only (an
    array-contains prune before the explode); df/N/avgdl are
    constant-size broadcast aggregates; nothing shuffles more than the
    matched-posting volume."""
    from pinterest_data_pipeline_spark.operators.ranking import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_TERMS)


@register(
    "rrf_quality_length_fusion",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id,
               {_QUALITY_MARGIN} AS margin,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY margin DESC, doc_id ASC)
                    AS BIGINT) AS rank_margin,
               CAST(ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC)
                    AS BIGINT) AS rank_length
        FROM feats
    )
    SELECT doc_id, rank_margin, rank_length,
           round(1.0 / (60.0 + rank_margin)
               + 1.0 / (60.0 + rank_length), 6) AS rrf_r6
    FROM ranked
    ORDER BY rrf_r6 DESC, doc_id ASC LIMIT 100
    """,
)
def rrf_quality_length_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (operators/ranking.reciprocal_rank_fusion,
    Cormack et al. SIGIR'09, k=60) of two uncalibrated document
    rankings — linear-gate quality margin and token count — into a
    fused top-100: the scale-free way to combine heterogeneous signals
    without tuning score weights, standard in both retrieval ensembles
    and data-curation pipelines. Both rankings carry the doc_id ASC
    tiebreak, so ranks, fused scores and the cut are all total-order
    deterministic."""
    from pinterest_data_pipeline_spark.operators.ranking import (
        reciprocal_rank_fusion,
    )
    from pinterest_data_pipeline_spark.operators.chunking import ws_tokens
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        linear_quality_margin("text").alias("margin"),
        F.size(ws_tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return reciprocal_rank_fusion(
        feats,
        "doc_id",
        {
            "margin": [F.col("margin").desc(), F.col("doc_id").asc()],
            "length": [F.col("n_tokens").desc(), F.col("doc_id").asc()],
        },
        top_n=100,
    )


@register(
    "cuped_event_experiment",
    oracle="""
    WITH units AS (
        SELECT user_id,
               CASE WHEN CAST(concat('0x', substr(md5(concat('exp1:',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
                        % 2 = 0
                    THEN 'treatment' ELSE 'control' END AS arm,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                        THEN CAST(round(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM units
    ),
    arms AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(x) AS BIGINT) AS ax, CAST(sum(y) AS BIGINT) AS ay
        FROM units GROUP BY arm
    )
    SELECT arm, n_units,
           round((CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE)) / 100.0, 6)
               AS mean_post_r6,
           round((CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE)) / 100.0, 6)
               AS mean_pre_r6,
           round(CASE WHEN m.n * m.sxx - m.sx * m.sx <> 0 THEN
                 CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                 / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) END, 6)
               AS theta_r6,
           round(CASE WHEN m.n * m.sxx - m.sx * m.sx <> 0 THEN
               ((CAST(ay AS DOUBLE) / CAST(n_units AS DOUBLE))
               - (CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                  / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
                 * ((CAST(ax AS DOUBLE) / CAST(n_units AS DOUBLE))
                    - (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
               / 100.0 END, 6) AS cuped_mean_r6
    FROM arms, m
    """,
)
def cuped_event_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/experiment, after
    Deng et al. WSDM'13): users split 50/50 by the portable hash, the
    experiment metric is each user's second-half event spend (cents),
    the covariate their first-half spend; θ comes from integer moment
    sums and each arm's adjusted mean from the algebraic identity
    ȳ_arm − θ(x̄_arm − x̄_all) — no per-unit double accumulation
    anywhere, so the whole readout is engine-exact. NULL unit ids are
    excluded up front (you cannot randomize a unit you cannot identify,
    and DuckDB's NULL-skipping concat would hash one to an arm the
    engine does not — the srm_assignment_audit contract).

    Scale: one user-keyed aggregate, one single-row moment pass, then
    |arms|-row arithmetic with a 1-row broadcast."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        cuped_adjusted_means,
        hash_assign_arm,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    units = (
        events.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), cents)
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("pre_cents"),
            F.sum(
                F.when(
                    F.col("ts") >= F.lit("2024-01-16").cast("timestamp"), cents
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("post_cents"),
        )
        .withColumn("arm", hash_assign_arm("user_id"))
    )
    return cuped_adjusted_means(units).orderBy("arm")


@register(
    "quality_decile_calibration",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id, source,
               {_QUALITY_MARGIN} AS margin
        FROM documents
    ),
    tiled AS (
        SELECT source, margin,
               CAST(ntile(10) OVER (PARTITION BY source
                   ORDER BY margin DESC, doc_id ASC) AS INTEGER) AS decile
        FROM feats
    )
    SELECT source, decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(margin) AS BIGINT) AS margin_hi,
           CAST(min(margin) AS BIGINT) AS margin_lo
    FROM tiled GROUP BY source, decile
    """,
)
def quality_decile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score calibration table: each source's
    documents split into margin deciles (ntile over the total order
    margin DESC, doc_id ASC) with per-cell counts and margin cutpoints
    — the rank-based cross-source calibration a mixed-source curation
    uses instead of comparing raw scores across sources (each source's
    decile boundaries ARE its empirical quantiles). Integer margins and
    ANSI ntile semantics make every cell engine-exact.

    Scale: one source-keyed window over a zero-shuffle margin scan,
    then a |sources|×10-row aggregate riding the same partitioning."""
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", "source", linear_quality_margin("text").alias("margin")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("margin").desc(), F.col("doc_id").asc()
    )
    return (
        feats.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("margin").cast("bigint").alias("margin_hi"),
            F.min("margin").cast("bigint").alias("margin_lo"),
        )
    )


@register(
    "curriculum_interleave_shards",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id, source,
               {_QUALITY_MARGIN} AS margin
        FROM documents
    ),
    ranked AS (
        SELECT source, margin,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY margin DESC, doc_id ASC) AS rn
        FROM feats
    )
    SELECT CAST((rn - 1) % 8 AS INTEGER) AS shard, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(margin) AS BIGINT) AS sum_margin,
           CAST(max(margin) AS BIGINT) AS top_margin
    FROM ranked GROUP BY 1, 2
    """,
)
def curriculum_interleave_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-preserving shard assignment: within each source,
    documents rank by quality (margin DESC, doc_id ASC) and deal
    round-robin into 8 shards — every shard receives the same
    quality PROFILE and source mixture (stratified interleave), so
    sequential training over shards sees a stationary difficulty
    distribution instead of a quality cliff. Output is the per
    (shard, source) audit: counts, total and best margin.

    Scale: the only ordered window is per source (never global), the
    deal is a modulo on the within-source rank, and the audit aggregate
    rides the same source partitioning — one Exchange end to end."""
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", "source", linear_quality_margin("text").alias("margin")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("margin").desc(), F.col("doc_id").asc()
    )
    return (
        feats.withColumn("rn", F.row_number().over(w))
        .withColumn("shard", ((F.col("rn") - 1) % 8).cast("int"))
        .groupBy("shard", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("margin").cast("bigint").alias("sum_margin"),
            F.max("margin").cast("bigint").alias("top_margin"),
        )
    )


# ---------------------------------------------- integer power iteration
#
# The unrolled oracle: quantize embeddings to integer thousandths, run
# 3 exact integer mat-vec + truncating-renormalization steps from
# v0 = [1000]*64, then emit (dim, v_int, w_next). Mirrors
# operators/spectral.power_iteration_top_direction bit-for-bit.

_PI_Q = """
    q AS (
        SELECT list_transform(embedding,
                   e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT))
               AS x
        FROM embeddings
    )"""


def _pi_step(i: int) -> str:
    """One unrolled power-iteration step: per-dim mat-vec sums w{i}
    against the (cross-joined, 1-row) previous vector v{i-1}, max-abs
    m{i}, renormalized integer vector v{i} (as a 64-list). The previous
    vector joins in as a column — DuckDB forbids subqueries inside
    lambdas, so the lambda references p.v, never (SELECT ...)."""
    return f"""
    w{i} AS (
        SELECT u.j AS dim,
               CAST(sum(d.dot * d.x[u.j]) AS BIGINT) AS w
        FROM (
            SELECT q.x AS x,
                   list_sum(list_transform(range(1, 65),
                       k -> q.x[k] * p.v[k])) AS dot
            FROM q, v{i - 1} p
        ) d, unnest(range(1, 65)) u(j)
        GROUP BY u.j
    ),
    m{i} AS (SELECT max(abs(w)) AS m FROM w{i}),
    v{i} AS (
        SELECT list(CAST(CASE WHEN w >= 0
                    THEN (abs(w) * 1000) // m.m
                    ELSE -((abs(w) * 1000) // m.m) END AS BIGINT)
               ORDER BY dim) AS v
        FROM w{i}, m{i} m GROUP BY m.m
    )"""


_PI_V0 = """
    v0 AS (
        SELECT list_transform(range(1, 65),
                   z -> CAST(1000 AS BIGINT)) AS v
    )"""

_PI_CTES = (
    _PI_Q + "," + _PI_V0 + "," + _pi_step(1) + "," + _pi_step(2) + "," + _pi_step(3)
)


@register(
    "embedding_top_direction_power",
    oracle=f"""
    WITH {_PI_CTES},
    final AS (
        SELECT u.j AS dim,
               CAST(sum(d.dot * d.x[u.j]) AS BIGINT) AS w_next
        FROM (
            SELECT q.x AS x,
                   list_sum(list_transform(range(1, 65),
                       k -> q.x[k] * p.v[k])) AS dot
            FROM q, v3 p
        ) d, unnest(range(1, 65)) u(j)
        GROUP BY u.j
    )
    SELECT CAST(f.dim AS INTEGER) AS dim,
           p.v[f.dim] AS v_int,
           f.w_next
    FROM final f, v3 p
    """,
)
def embedding_top_direction_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding table by INTEGER power
    iteration (operators/spectral.top_direction_report): 3 exact
    mat-vec steps over thousandth-quantized vectors with truncating
    renormalization, plus one final mat-vec re-applied to the converged
    direction (the per-dimension Rayleigh numerator) so every
    iteration's arithmetic is pinned in the hash. The BPE discipline
    applied to numerics: the driver holds only the 64-int vector
    between steps, the oracle unrolls all three steps in SQL, and the
    whole run is order-independent integer arithmetic.

    Scale: each step is one partial-combinable scan (64 sum columns);
    cost is iterations × one corpus pass, state is dim-sized."""
    from pinterest_data_pipeline_spark.operators.spectral import (
        top_direction_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return top_direction_report(emb)


# ------------------------------------------------- retrieval training data
#
# The cosine SQL fragment is the one the green embedding_cosine_topk /
# triplet oracles already replay (same fold order, double math, round
# 6) — imported rather than re-derived so the two surfaces cannot
# drift apart.
@register(
    "triplet_mining_anchors",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, embedding FROM embeddings WHERE vec_id < 8
    ),
    sc AS (
        SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
               c.vec_id AS cand_id, c.label AS cand_label,
               {_cos_sql('q', 'c')} AS score
        FROM q, embeddings c
        WHERE c.vec_id != q.vec_id
    ),
    pos AS (
        SELECT anchor_id, anchor_label, cand_id AS positive_id,
               score AS pos_score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                  ORDER BY score DESC, cand_id ASC) AS rn
              FROM sc WHERE cand_label = anchor_label)
        WHERE rn = 1
    ),
    neg AS (
        SELECT anchor_id, cand_id AS negative_id, score AS neg_score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                  ORDER BY score DESC, cand_id ASC) AS rn
              FROM sc WHERE cand_label != anchor_label)
        WHERE rn = 1
    )
    SELECT p.anchor_id, CAST(p.anchor_label AS INTEGER) AS anchor_label,
           p.positive_id, p.pos_score, n.negative_id, n.neg_score,
           round(p.pos_score - n.neg_score, 6) AS margin_r6
    FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
    """,
)
def triplet_mining_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive (anchor, hardest-positive, hardest-negative) triplet
    mining over the embeddings table (operators/similarity.
    triplet_mining): for each of the 8 anchor vectors, the most-similar
    same-label vector and the most-similar DIFFERENT-label vector, with
    the triplet margin a contrastive loss would see. The oracle is the
    brute-force double-argmax from first principles, so the driver hash
    pins both legs' ranking and the margin arithmetic.

    Scale: one corpus scan scored against the broadcast anchor batch;
    both argmax legs reuse the same scored relation (ReuseExchange), and
    at larger anchor batches the candidate generator swaps to the
    IVF/LSH paths without touching the selection layer."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        triplet_mining,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8)
    out = triplet_mining(emb, anchors)
    return out.select(
        "anchor_id",
        F.col("anchor_label").cast("int").alias("anchor_label"),
        "positive_id",
        "pos_score",
        "negative_id",
        "neg_score",
        "margin_r6",
    )


def _mmr_pick(i: int) -> str:
    """One unrolled greedy-MMR step (i ≥ 2): score every not-yet-picked
    pool candidate by 0.5·rel − 0.5·(max sim to the picked set), take
    the per-query argmax. sel{i-1} accumulates picked ids."""
    return f"""
    c{i} AS (
        SELECT p.query_id, p.cand_id, p.rel,
               round(0.5 * p.rel - 0.5 * max(ps.sim), 6) AS mmr_r6
        FROM pool p
        JOIN ps ON ps.query_id = p.query_id AND ps.id_a = p.cand_id
        JOIN sel{i - 1} s ON s.query_id = ps.query_id
                         AND s.cand_id = ps.id_b
        WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} z
                          WHERE z.query_id = p.query_id
                            AND z.cand_id = p.cand_id)
        GROUP BY p.query_id, p.cand_id, p.rel
    ),
    k{i} AS (
        SELECT query_id, {i} AS step, cand_id, rel, mmr_r6
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY mmr_r6 DESC, cand_id ASC) AS rn FROM c{i})
        WHERE rn = 1
    ),
    sel{i} AS (
        SELECT query_id, cand_id FROM sel{i - 1}
        UNION ALL SELECT query_id, cand_id FROM k{i}
    )"""


@register(
    "mmr_diverse_rerank",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id < 3
    ),
    sc AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {_cos_sql('q', 'c')} AS rel
        FROM q, embeddings c
        WHERE c.vec_id != q.vec_id
    ),
    pool AS (
        SELECT query_id, cand_id, rel
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY rel DESC, cand_id ASC) AS rn FROM sc)
        WHERE rn <= 8
    ),
    pv AS (
        SELECT p.query_id, p.cand_id, p.rel, e.embedding
        FROM pool p JOIN embeddings e ON e.vec_id = p.cand_id
    ),
    ps AS (
        SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
               {_cos_sql('a', 'b')} AS sim
        FROM pv a JOIN pv b ON a.query_id = b.query_id
                           AND a.cand_id != b.cand_id
    ),
    s1 AS (
        SELECT query_id, cand_id, rel, round(0.5 * rel, 6) AS mmr_r6
        FROM pool
    ),
    k1 AS (
        SELECT query_id, 1 AS step, cand_id, rel, mmr_r6
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY mmr_r6 DESC, cand_id ASC) AS rn FROM s1)
        WHERE rn = 1
    ),
    sel1 AS (SELECT query_id, cand_id FROM k1),
    {_mmr_pick(2)},
    {_mmr_pick(3)},
    {_mmr_pick(4)}
    SELECT query_id, CAST(step AS INTEGER) AS step, cand_id, rel, mmr_r6
    FROM (
        SELECT * FROM k1 UNION ALL SELECT * FROM k2
        UNION ALL SELECT * FROM k3 UNION ALL SELECT * FROM k4
    )
    """,
)
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversification (operators/ranking.
    mmr_rerank) of each query's top-8 cosine candidate pool: 4 greedy
    picks per query trading relevance against redundancy at λ = 1/2.
    The oracle unrolls all four greedy steps in SQL (the BPE unrolled-
    oracle discipline applied to a ranking loop), so the driver hash
    pins the entire selection TRAJECTORY — pool construction, pairwise
    sims, per-step argmax and tie-breaks — not just the final set.

    Scale: sequential in k by nature, but every stage is bounded by the
    pool (|queries|·8 rows), never the corpus; the corpus is touched
    exactly once, by the pool builder."""
    from pinterest_data_pipeline_spark.operators.ranking import mmr_rerank
    from pinterest_data_pipeline_spark.operators.similarity import (
        cosine,
        cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    pool = cosine_topk(emb, q, k=8).select(
        "query_id",
        F.col("neighbor_id").alias("cand_id"),
        F.col("score").alias("rel"),
    )
    pv = pool.join(
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding")),
        "cand_id",
    )
    xa = pv.select(
        "query_id",
        F.col("cand_id").alias("id_a"),
        F.col("embedding").alias("__va"),
    )
    xb = pv.select(
        F.col("query_id").alias("__qb"),
        F.col("cand_id").alias("id_b"),
        F.col("embedding").alias("__vb"),
    )
    sims = (
        xa.join(xb, (F.col("query_id") == F.col("__qb")))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            cosine(F.col("__va"), F.col("__vb")).alias("sim"),
        )
    )
    return mmr_rerank(pool, sims, select_k=4)


# ---------------------------------------------------- labeling QA (kappa)
#
# The margin CTE is the exact integer the oracle-green
# quality_linear_gate registration computes (imported from the round-6
# staging module so the two surfaces share one definition).
from pinterest_data_pipeline_spark.plans.staged_round6 import (  # noqa: E402
    _MARGIN_CTE,
)

_KAPPA_HASH = (
    "CAST(concat('0x', substr(md5(concat('kappa:', "
    "CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)"
)


@register(
    "annotator_agreement_kappa",
    oracle=f"""
    WITH {_MARGIN_CTE},
    lab AS (
        SELECT doc_id, margin >= 0 AS a,
               margin + ({_KAPPA_HASH} % 4001 - 2000) >= 0 AS b
        FROM margins
    ),
    counts AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
                   AS n11,
               CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                    AS BIGINT) AS n00,
               CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ap,
               CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS bp
        FROM lab
    )
    SELECT n AS n_docs, n11 AS both_pos, n00 AS both_neg,
           ap AS a_pos, bp AS b_pos,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6)
               AS po_r6,
           round(CAST(ap * bp + (n - ap) * (n - bp) AS DOUBLE)
                 / CAST(n * n AS DOUBLE), 6) AS pe_r6,
           round(CASE WHEN n * n - (ap * bp + (n - ap) * (n - bp)) <> 0
                 THEN
                 CAST(n * (n11 + n00) - (ap * bp + (n - ap) * (n - bp))
                      AS DOUBLE)
                 / CAST(n * n - (ap * bp + (n - ap) * (n - bp))
                        AS DOUBLE) END, 6) AS kappa_r6
    FROM counts
    """,
)
def annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document annotators
    (operators/experiment.agreement_kappa): annotator A is the linear
    quality gate (margin ≥ 0); annotator B is the same judgment with a
    per-document hash-derived perturbation of ±2000 milli-units on the
    margin — a reproducible stand-in for a second rater whose decisions
    correlate with A's but flip near the boundary. The output is the
    full 2×2 agreement audit plus chance-corrected kappa from pure
    integer counts.

    Scale: one scan, one five-counter partial-combinable aggregate,
    one output row."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32
    from pinterest_data_pipeline_spark.operators.experiment import (
        agreement_kappa,
    )
    from pinterest_data_pipeline_spark.operators.text import (
        linear_quality_margin,
    )

    docs = load_table(spark, sf_dir, "documents")
    margin = linear_quality_margin("text")
    noise = (
        portable_hash32(
            F.concat(F.lit("kappa:"), F.col("doc_id").cast("string"))
        )
        % 4001
        - 2000
    )
    lab = docs.select(
        (margin >= 0).alias("label_a"),
        ((margin + noise) >= 0).alias("label_b"),
    )
    return agreement_kappa(lab)


# ------------------------------------------- collaborative co-occurrence


@register(
    "item_cooccurrence_similarity",
    oracle="""
    WITH ui AS (
        SELECT DISTINCT user_id AS u,
               CAST(json_extract_string(nullif(props, ''), '$.k')
                    AS BIGINT) AS i
        FROM events
        WHERE props IS NOT NULL
          AND json_extract_string(nullif(props, ''), '$.k') IS NOT NULL
    ),
    capped AS (
        SELECT u, i FROM (
            SELECT u, i, ROW_NUMBER() OVER (PARTITION BY u
                ORDER BY i ASC) AS rn
            FROM ui)
        WHERE rn <= 64
    ),
    deg AS (
        SELECT i, CAST(count(*) AS BIGINT) AS n FROM capped GROUP BY i
    ),
    pairs AS (
        SELECT a.i AS item_a, b.i AS item_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM capped a JOIN capped b ON a.u = b.u AND a.i < b.i
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT p.item_a, p.item_b, p.n_ab, da.n AS n_a, db.n AS n_b,
           round(CAST(p.n_ab AS DOUBLE)
                 / sqrt(CAST(da.n * db.n AS DOUBLE)), 6) AS cosine_r6
    FROM pairs p JOIN deg da ON da.i = p.item_a
                 JOIN deg db ON db.i = p.item_b
    """,
)
def item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering counts (operators/cooccurrence.
    item_cooccurrence) over the events table, with the JSON ``props.k``
    field as the item id: cosine over binary user-interaction vectors,
    computed entirely from distinct-interaction counts. Pairs with
    co-count < 3 are cut (the support floor every production
    co-occurrence miner applies), and each user contributes at most 64
    items (deterministic min-id retention — the power-user/bot guard).

    Scale: the pair fan-out is generated per user under the cap (one
    shuffle keyed by user, ≤ 64·63/2 pairs per user), aggregated by
    pair; the item-degree relation is |items| rows and broadcasts onto
    the pair counts. The |items|² relation is never formed."""
    from pinterest_data_pipeline_spark.operators.cooccurrence import (
        item_cooccurrence,
    )

    ev = load_table(spark, sf_dir, "events")
    inter = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("item_id"),
    ).filter(F.col("props").isNotNull() & F.col("item_id").isNotNull())
    return item_cooccurrence(
        inter, max_items_per_user=64, min_pair_count=3
    )


@register(
    "ab_purchase_ztest",
    oracle="""
    WITH units AS (
        SELECT user_id,
               CASE WHEN CAST(concat('0x', substr(md5(concat('exp1:',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
                        % 2 = 0
                    THEN 'treatment' ELSE 'control' END AS arm,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   = 1 AS conv
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    c AS (
        SELECT CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_treat,
               CAST(sum(CASE WHEN arm = 'treatment' AND conv
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv_treat,
               CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ctrl,
               CAST(sum(CASE WHEN arm = 'control' AND conv
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv_ctrl
        FROM units
    ),
    p AS (
        SELECT n_treat, conv_treat, n_ctrl, conv_ctrl,
               CAST(conv_treat AS DOUBLE) / CAST(n_treat AS DOUBLE) AS pt,
               CAST(conv_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE) AS pc,
               CAST(conv_treat + conv_ctrl AS DOUBLE)
                   / CAST(n_treat + n_ctrl AS DOUBLE) AS pp
        FROM c
    )
    SELECT n_treat, conv_treat, n_ctrl, conv_ctrl,
           round(pt, 6) AS p_treat_r6,
           round(pc, 6) AS p_ctrl_r6,
           round(pt - pc, 6) AS lift_r6,
           CASE WHEN sqrt(pp * (1.0 - pp)
                     * (1.0 / CAST(n_treat AS DOUBLE)
                        + 1.0 / CAST(n_ctrl AS DOUBLE))) > 0
                THEN round((pt - pc) / sqrt(pp * (1.0 - pp)
                     * (1.0 / CAST(n_treat AS DOUBLE)
                        + 1.0 / CAST(n_ctrl AS DOUBLE))), 6)
                ELSE NULL END AS z_r6
    FROM p
    """,
)
def ab_purchase_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test on purchase conversion between the
    hash-assigned A/B arms (operators/experiment.two_proportion_ztest
    over hash_assign_arm units) — the significance readout that sits
    next to the CUPED mean estimator: same deterministic assignment,
    binary outcome (did the user purchase at all?), z from four integer
    counters in fixed IEEE expression trees. Under the null (the arms
    are a hash split of one population) z should hover near 0 — the
    driver hash pins the exact value. NULL unit ids are excluded up
    front (the srm_assignment_audit contract: you cannot randomize a
    unit you cannot identify).

    Scale: one user-keyed aggregate builds the conversion units; the
    test itself is a single four-counter aggregate and one output row."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        hash_assign_arm,
        two_proportion_ztest,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    units = (
        events.groupBy("user_id")
        .agg(
            (F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) == 1).alias(
                "converted"
            )
        )
        .withColumn("arm", hash_assign_arm("user_id"))
    )
    return two_proportion_ztest(units)


@register(
    "ndcg_length_ranker_by_source",
    oracle=rf"""
    WITH feats AS (
        SELECT doc_id, source, n_chars,
               {_QUALITY_MARGIN} AS margin
        FROM documents
    ),
    g AS (
        SELECT doc_id, source, n_chars,
               CAST(10 - ntile(10) OVER (PARTITION BY source
                   ORDER BY margin DESC, doc_id ASC) AS BIGINT) AS grade
        FROM feats
    ),
    r AS (
        SELECT source, grade,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS rnk,
               ROW_NUMBER() OVER (PARTITION BY source
                   ORDER BY grade DESC, doc_id ASC) AS irnk
        FROM g
    ),
    dcg AS (
        SELECT source,
               list_sum(list(
                   (power(2.0, CAST(grade AS DOUBLE)) - 1.0)
                   / ln(CAST(rnk AS DOUBLE) + 1.0)
                   ORDER BY rnk)) AS d
        FROM r WHERE rnk <= 10 GROUP BY source
    ),
    idcg AS (
        SELECT source,
               list_sum(list(
                   (power(2.0, CAST(grade AS DOUBLE)) - 1.0)
                   / ln(CAST(irnk AS DOUBLE) + 1.0)
                   ORDER BY irnk)) AS i
        FROM r WHERE irnk <= 10 GROUP BY source
    )
    SELECT dcg.source, round(dcg.d, 6) AS dcg_r6,
           round(idcg.i, 6) AS idcg_r6,
           round(CASE WHEN idcg.i <> 0 THEN dcg.d / idcg.i END, 6)
               AS ndcg_r6
    FROM dcg JOIN idcg ON idcg.source = dcg.source
    """,
)
def ndcg_length_ranker_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per source (operators/ranking.ndcg_at_k) of the naive
    length ranker (n_chars DESC) against graded relevance derived from
    the quality-margin decile (top decile = grade 9 … bottom = 0) —
    the offline ranking-evaluation surface: how much of the ideal
    quality-ordered gain does a dumb heuristic ranker capture, per
    source? Gains are exact 2^grade − 1 integers; discounts use the
    same correctly-rounded ln both engines already agree on for BM25;
    both sums fold in ascending rank order, so the driver hash pins
    every term.

    Scale: two per-source windows and two ≤k-row folds per source —
    window cost is the per-source sort, nothing global."""
    from pinterest_data_pipeline_spark.operators.ranking import ndcg_at_k
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
        (
            F.lit(10)
            - F.ntile(10).over(
                Window.partitionBy("source").orderBy(
                    F.col("margin").desc(), F.col("doc_id").asc()
                )
            )
        )
        .cast("bigint")
        .alias("grade"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        ),
    )
    return ndcg_at_k(graded, "source", "rank", "grade", "doc_id", k=10)


_ARM_SQL = """CASE WHEN CAST(concat('0x', substr(md5(concat('exp1:',
                   CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2 = 0
              THEN 'treatment' ELSE 'control' END"""


@register(
    "mann_whitney_event_value",
    oracle=f"""
    WITH units AS (
        SELECT user_id, {_ARM_SQL} AS arm,
               CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0)
                    AS BIGINT) AS v
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ),
    lv AS (
        SELECT v,
               CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nt,
               CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END)
                    AS BIGINT) AS nc,
               CAST(count(*) AS BIGINT) AS n
        FROM units GROUP BY v
    ),
    c AS (
        SELECT v, nt, nc, n,
               COALESCE(sum(n) OVER (ORDER BY v ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum
        FROM lv
    ),
    a AS (
        SELECT CAST(sum(nt) AS BIGINT) AS n_treat,
               CAST(sum(nc) AS BIGINT) AS n_ctrl,
               CAST(sum(nt * (2 * cum + n + 1)) AS BIGINT) AS r2t,
               CAST(sum(n * n * n - n) AS BIGINT) AS tie_term
        FROM c
    ),
    f AS (
        SELECT n_treat, n_ctrl,
               r2t - n_treat * (n_treat + 1) AS u2, tie_term,
               CAST(n_treat * n_ctrl AS DOUBLE) / 12.0
               * (CAST(n_treat + n_ctrl + 1 AS DOUBLE)
                  - CAST(tie_term AS DOUBLE)
                    / (CAST(n_treat + n_ctrl AS DOUBLE)
                       * CAST(n_treat + n_ctrl - 1 AS DOUBLE))) AS var
        FROM a
    )
    SELECT n_treat, n_ctrl, u2 AS u2_treat, tie_term,
           CASE WHEN var > 0
                THEN round(CAST(u2 - n_treat * n_ctrl AS DOUBLE)
                           / (2.0 * sqrt(var)), 6)
                ELSE NULL END AS z_r6,
           round(CAST(u2 AS DOUBLE)
                 / CAST(n_treat * n_ctrl AS DOUBLE) - 1.0, 6)
               AS rank_biserial_r6
    FROM f
    """,
)
def mann_whitney_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test on per-user total spend between the
    hash-assigned arms (operators/experiment.mann_whitney_u) — the
    robust companion to the CUPED mean readout: whales move a mean,
    not a rank distribution. The whole statistic derives from the
    VALUE-LEVEL count relation via the midrank identity (doubled rank
    sums stay integer), with the tie-corrected normal approximation and
    the rank-biserial effect size; under the null of a pure hash split
    z should hover near 0, and the driver hash pins the exact value.

    NULL hygiene (the srm_assignment_audit contract): NULL unit ids are
    excluded — you cannot randomize a unit you cannot identify — and a
    unit whose every value is NULL counts as ZERO spend (coalesced on
    both sides) rather than carrying a NULL rank coordinate, which the
    engines would order at opposite ends (Spark NULLS FIRST, DuckDB
    NULLS LAST).

    Scale: one user-keyed aggregate, one value-keyed aggregate, one
    ordered window over DISTINCT values only (bounded by metric
    resolution, not unit count), one output row."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        hash_assign_arm,
        mann_whitney_u,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    units = (
        events.groupBy("user_id")
        .agg(
            F.coalesce(F.sum(cents), F.lit(0))
            .cast("bigint")
            .alias("value_int")
        )
        .withColumn("arm", hash_assign_arm("user_id"))
    )
    return mann_whitney_u(units)


@register(
    "chisq_event_type_by_arm",
    oracle=f"""
    WITH e AS (
        SELECT event_type AS r, {_ARM_SQL} AS c FROM events
        WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    cells AS (
        SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY r, c
    ),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rtot FROM cells GROUP BY r),
    ctt AS (SELECT c, CAST(sum(o) AS BIGINT) AS ctot FROM cells GROUP BY c),
    tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT c) AS BIGINT) AS n_cols
        FROM cells
    ),
    terms AS (
        SELECT cells.r, cells.c, t.n, t.n_rows, t.n_cols,
               (CAST(o AS DOUBLE)
                - CAST(rtot * ctot AS DOUBLE) / CAST(t.n AS DOUBLE))
               * (CAST(o AS DOUBLE)
                  - CAST(rtot * ctot AS DOUBLE) / CAST(t.n AS DOUBLE))
               / (CAST(rtot * ctot AS DOUBLE) / CAST(t.n AS DOUBLE))
                   AS term
        FROM cells JOIN rt USING (r) JOIN ctt USING (c) CROSS JOIN tot t
    )
    SELECT n, n_rows, n_cols,
           (n_rows - 1) * (n_cols - 1) AS dof,
           round(list_sum(list(term ORDER BY r, c)), 6) AS chisq_r6
    FROM terms GROUP BY n, n_rows, n_cols
    """,
)
def chisq_event_type_by_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence audit of event-type mix vs the
    hash-assigned arm (operators/experiment.chi_square_independence) —
    the A/A sanity gate: a correct hash split makes event behavior
    independent of arm, so χ² should sit near its dof; a biased
    assignment (the sample-ratio-mismatch family of bugs) shows up here
    before any metric readout is trusted. Cell terms fold in sorted
    (event_type, arm) order so the statistic is engine-exact. Rows with
    a NULL unit id (no arm can be assigned — the srm_assignment_audit
    contract) or a NULL event type (no contingency cell) are excluded
    on both sides.

    Scale: one aggregate down to the |types|×2 cell table; everything
    after runs on cells."""
    from pinterest_data_pipeline_spark.operators.experiment import (
        chi_square_independence,
        hash_assign_arm,
    )

    events = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    e = events.select(
        "event_type", hash_assign_arm("user_id").alias("arm")
    )
    return chi_square_independence(e, "event_type", "arm")
