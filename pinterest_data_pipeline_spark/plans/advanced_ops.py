"""Advanced operator coverage: as-of join, UDF surfaces (row, Pandas,
grouped map), explode/lateral, map-typed columns, and the reference's
literal nondeterministic argmax (rows-only).

The Python-boundary queries (pandas_udf / applyInPandas) intentionally
produce integer/string outputs so cross-engine comparison is exact; they
exist to pin the Arrow plumbing into the driver's correctness matrix, not
to put Python in any hot path (see operators docs for why the native
forms are primary).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pinterest_data_pipeline_spark.operators.argmax import argmax_literal
from pinterest_data_pipeline_spark.operators.asof import asof_join
from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table


@register(
    "asof_join_latest_view",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
        SELECT user_id, ts, MAX(value) AS view_value
        FROM events
        WHERE event_type = 'view' AND ts IS NOT NULL
        GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, v.view_value AS view_value_asof
    FROM (SELECT * FROM clicks WHERE ts IS NOT NULL) c
    ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    UNION ALL
    SELECT event_id, user_id, ts, CAST(NULL AS DOUBLE) AS view_value_asof
    FROM clicks WHERE ts IS NULL
    """,
)
def asof_join_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: attach each click's most recent prior 'view' value per
    user (right side pre-aggregated to one row per (user, ts) so the
    match is unambiguous). Oracle uses DuckDB's native ASOF JOIN; our
    engine composes union + ordered window (operators/asof.py).

    NULL timestamps follow JOIN semantics on both sides (a NULL as-of
    predicate matches nothing; NULL-ts clicks pass through with NULL
    value) — spelled out in the oracle because DuckDB's native ASOF
    sorts NULL left keys last and would otherwise attach the user's
    LATEST view to a NULL-ts click, an implementation artifact no
    predicate-based join reproduces."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    return asof_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["view_value"], suffix="_asof",
    )


@register(
    "pandas_udf_bucket_counts",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1
    """,
)
def pandas_udf_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (Arrow) scalar Pandas UDF — the sanctioned slow path
    when Python is unavoidable (vs the reference's row-at-a-time UDF,
    README.md:553-560). Output is string buckets → exact comparison."""

    @F.pandas_udf(T.StringType())
    def bucket(bal: pd.Series) -> pd.Series:
        out = pd.Series(["high"] * len(bal), index=bal.index)
        out[bal < 5000] = "low"
        out[bal < 0] = "neg"
        return out

    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.withColumn("bucket", bucket(F.col("c_acctbal")))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@register(
    "grouped_map_top2_per_nation",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey AS nationkey, c_custkey AS custkey,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        FROM customer
    )
    SELECT nationkey, custkey, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 2
    """,
)
def grouped_map_top2_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: per-nation top-2 by balance computed in
    pandas. Exists to exercise the grouped Arrow path — the native window
    form (window_rank_top3) is the production operator; per-group pandas
    is for logic that genuinely can't be expressed in expressions."""
    out_schema = T.StructType(
        [
            T.StructField("nationkey", T.IntegerType()),
            T.StructField("custkey", T.LongType()),
            T.StructField("rn", T.IntegerType()),
        ]
    )

    def top2(pdf: pd.DataFrame) -> pd.DataFrame:
        # nullable Int32, not numpy int32: a NULL group key arrives as
        # NaN in a float64 column (Arrow int-with-nulls → pandas), and
        # the non-nullable cast throws IntCastingNaNError — the grouped
        # Arrow path must survive a NULL group like the window form
        # does. NaN balances sort last under DESC with the custkey
        # tiebreak still applied inside the NaN block, matching the
        # oracle's NULLS LAST ordering.
        pdf = pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).head(2)
        return pd.DataFrame(
            {
                "nationkey": pdf["c_nationkey"].astype("Int32"),
                "custkey": pdf["c_custkey"],
                "rn": range(1, len(pdf) + 1),
            }
        )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal"
    )
    return cust.groupBy("c_nationkey").applyInPandas(top2, out_schema)


@register(
    "explode_type_words",
    oracle="""
    SELECT p_partkey AS partkey, t.word AS word
    FROM part, UNNEST(regexp_split_to_array(lower(p_type), ' ')) AS t(word)
    """,
)
def explode_type_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode / lateral view: one output row per array element (the
    tag_list-splitting pattern the reference's schema implies but never
    executes — tag_list stays comma-joined, SURVEY.md §1.2)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        F.col("p_partkey").alias("partkey"),
        F.explode(F.split(F.lower("p_type"), " ")).alias("word"),
    )


@register(
    "map_column_access",
    oracle="""
    SELECT o_orderkey AS orderkey,
           o_orderstatus AS status_from_map,
           CAST(2 AS INTEGER) AS map_size
    FROM orders
    """,
)
def map_column_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build a map, read back by key, size it.
    Output is the extracted scalars (map columns themselves don't compare
    portably across engines)."""
    orders = load_table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return orders.select(
        F.col("o_orderkey").alias("orderkey"),
        m.getItem("status").alias("status_from_map"),
        F.size(m).alias("map_size"),
    )


@register(
    "argmax_literal_max_first",
    oracle="""
    SELECT c_nationkey AS nationkey,
           max(c_acctbal) AS max_acctbal,
           TRUE AS label_in_group
    FROM customer GROUP BY 1
    """,
)
def argmax_literal_max_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal argmax idiom ``agg(max(v), first(label))``
    (README.md:460, 489, 521, 568), exposed for API fidelity — GATE form
    (rows-only → oracle upgrade, round 8). first() after a shuffle is
    nondeterministic, so the arbitrary label itself can't be value-hashed;
    what IS checkable is the idiom's contract, and this query emits exactly
    that: the max value (deterministic, hash-compared against the oracle's
    max) and a ``label_in_group`` flag proving the first() label belongs to
    the group's own label set (computed by joining the literal idiom's
    output back to the distinct (group, label) relation — a cross-group
    label leak or a max/label misalignment bug would surface as FALSE and
    hash-mismatch the oracle's TRUE column). The engine's primary
    deterministic form remains the ranking window (operators/argmax.py;
    SURVEY.md §2.5)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    lit_out = argmax_literal(
        cust,
        group_cols=["nationkey"],
        value_col="acctbal",
        label_cols=["segment"],
    )
    # null-safe membership join: a NULL group key (or a first() label
    # that is legitimately NULL) must still find its row in the label
    # set — a plain equality join would report FALSE for those groups
    # and break alignment with the oracle's unconditional TRUE
    labels = (
        cust.select(
            F.col("nationkey").alias("__ln"),
            F.col("segment").alias("__ls"),
        )
        .distinct()
        .withColumn("__in", F.lit(True))
    )
    return lit_out.join(
        labels,
        lit_out["nationkey"].eqNullSafe(labels["__ln"])
        & lit_out["segment"].eqNullSafe(labels["__ls"]),
        "left",
    ).select(
        "nationkey",
        F.col("acctbal").alias("max_acctbal"),
        F.coalesce(F.col("__in"), F.lit(False)).alias("label_in_group"),
    )


@register(
    "salted_agg_events",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1
    """,
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: partials over (key, salt), final
    over key. The salt assignment is random per row but the final result
    is bit-identical to the direct aggregation (counts exact, sums in
    DECIMAL) — which is exactly what the oracle checks."""
    from pinterest_data_pipeline_spark.operators.skew import salted_count_sum

    ev = load_table(spark, sf_dir, "events")
    return salted_count_sum(ev, ["event_type"], "value")


@register(
    "salted_join_orders_customer",
    oracle="""
    SELECT o_orderkey AS orderkey, c.c_name AS customer
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def salted_join_orders_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe replicated-broadcast join: the small side is cloned
    per salt so a skewed big-side key spreads over n_salts tasks; output
    equals the plain left join (small side has unique keys)."""
    from pinterest_data_pipeline_spark.operators.skew import (
        salted_broadcast_left_join,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), F.col("o_custkey").alias("custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.col("c_name").alias("customer")
    )
    return salted_broadcast_left_join(orders, cust, "custkey").select(
        "orderkey", "customer"
    )


@register(
    "sql_revenue_topk",
    oracle="""
    SELECT o_orderkey AS orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           CAST(year(o_orderdate) AS INTEGER) AS order_year
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, year(o_orderdate)
    ORDER BY revenue DESC, orderkey ASC LIMIT 10
    """,
)
def sql_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-string interface (absent in the reference —
    SURVEY §2.12): TPC-H Q3-shaped revenue top-k written as plain Spark
    SQL over temp views; Catalyst plans it identically to the DataFrame
    form (broadcast dims, partial agg, TakeOrdered)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sql_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sql_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("sql_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey AS orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
                   AS revenue,
               year(o_orderdate) AS order_year
        FROM sql_customer JOIN sql_orders ON c_custkey = o_custkey
        JOIN sql_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, year(o_orderdate)
        ORDER BY revenue DESC, orderkey ASC LIMIT 10
        """
    )


@register(
    "event_funnel_steps",
    oracle="""
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    j AS (
        SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT CAST(count(t1) AS BIGINT) AS n_step1,
           CAST(count(t2) AS BIGINT) AS n_step2,
           round(avg(epoch_us(t2) - epoch_us(t1)) / 1000000.0, 6)
               AS avg_sec_1_to_2,
           CAST(count(t3) AS BIGINT) AS n_step3,
           round(avg(epoch_us(t3) - epoch_us(t2)) / 1000000.0, 6)
               AS avg_sec_2_to_3
    FROM j
    """,
)
def event_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase conversion funnel (operators/funnel.py):
    strictly-ordered anchors, per-step min aggregates all keyed on
    user_id, exact-microsecond mean inter-step latency. Extends the
    reference's per-category aggregates (reference README.md:339-592) to
    ordered-sequence analytics."""
    from pinterest_data_pipeline_spark.operators.funnel import funnel_summary

    events = load_table(spark, sf_dir, "events")
    return funnel_summary(events, ["view", "click", "purchase"])


@register(
    "weekly_cohort_retention",
    oracle="""
    WITH first AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
                   AS week
        FROM events
    ),
    a AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week, act.week) / 7 AS INT)
                   AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active
        FROM act JOIN first f USING (user_id)
        GROUP BY 1, 2
    ),
    s AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY 1
    )
    SELECT strftime(a.cohort_week, '%Y-%m-%d') AS cohort_week,
           a.week_offset, a.n_active, s.cohort_size,
           round(a.n_active / s.cohort_size, 6) AS retention
    FROM a JOIN s USING (cohort_week)
    """,
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-activity weekly cohorts x week-offset retention matrix
    (operators/cohorts.py): min-agg, distinct, and join all keyed on
    user_id; Monday-anchored date_trunc weeks; whole-day integer week
    offsets."""
    from pinterest_data_pipeline_spark.operators.cohorts import (
        weekly_retention,
    )

    events = load_table(spark, sf_dir, "events")
    return weekly_retention(events)


@register(
    "zonemap_prefilter_join",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
    """,
)
def zonemap_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map-prefiltered join: aggregate the SELECTIVE side's join-key
    range (one (min,max) row), broadcast it, and drop probe-side rows
    outside the range BEFORE the join shuffle — the join-level analog of
    the file-level min/max skipping in operators/data_skipping.py, and
    the hand-rolled form of the runtime bloom pruning the session
    enables adaptively (tests/test_scale_configs.py pins the injected
    ``might_contain``; Spark keeps `bloom_filter_agg` internal to that
    rule, so the explicit variant uses the public min/max summary).
    Range false-positives only cost extra shuffle — the equi-join still
    verifies every survivor, so the result is exactly the plain join,
    which is what the oracle states.

    Scale: turns "shuffle 100 TB of lineitem, then join" into "shuffle
    only rows whose key can match". The summary build aggregates
    map-side partials to one row; the probe-side range test is scan-side
    codegen against a broadcast value and reaches the parquet scan as a
    pushable predicate once the literal range is known at runtime.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 200000)
    )
    zone = orders.agg(
        F.min("o_orderkey").alias("k_lo"), F.max("o_orderkey").alias("k_hi")
    )
    prefiltered = li.join(F.broadcast(zone)).where(
        F.col("l_orderkey").between(F.col("k_lo"), F.col("k_hi"))
    )
    return (
        prefiltered.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("l_orderkey").alias("n_orders"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("revenue_cents"),
        )
    )


@register(
    "pandas_grouped_agg_median",
    oracle="""
    SELECT c_nationkey AS nationkey,
           median(c_acctbal) AS median_acctbal,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY c_nationkey
    """,
)
def pandas_grouped_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF (the Python UDAF surface): per-nation
    median balance computed by a vectorized aggregation UDF — one Arrow
    batch per group in, one scalar out. pandas' even-count median (mean
    of the two middle values) is the same interpolation DuckDB's
    ``median``/``quantile_cont(0.5)`` uses, so the doubles agree exactly.

    This completes the UDF matrix: scalar pandas (bucket_counts),
    grouped map (top2_per_nation), grouped agg (here), UDTF
    (udtf_split_sentences), plus native-expression primaries. The native
    form of this exact query is ``F.percentile(0.5)``
    (`agg_percentiles`); the UDAF exists for aggregation logic
    expressions can't state.
    """

    @F.pandas_udf("double")
    def median_udaf(bal: pd.Series) -> float:
        return float(bal.median())

    # Spark plans GROUPED_AGG pandas UDFs on a dedicated Arrow aggregate
    # path that cannot mix with native aggregate functions in one agg, so
    # the row count is a (trivial) pandas UDAF too.
    @F.pandas_udf("long")
    def count_udaf(bal: pd.Series) -> int:
        return len(bal)

    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        median_udaf("c_acctbal").alias("median_acctbal"),
        count_udaf("c_acctbal").alias("n"),
    )


@register(
    "arrow_map_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                AS INTEGER) AS n_tokens
    FROM documents
    """,
)
def arrow_map_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy RecordBatch UDF surface (lower-level
    than mapInPandas — no pandas conversion at all; the batch arrives and
    leaves as pyarrow). Whitespace token counts computed with pyarrow
    compute kernels, value-checked against the SQL regexp formulation.

    This completes the Python-boundary matrix: scalar pandas_udf,
    grouped map (applyInPandas), grouped agg, UDTF, mapInPandas
    (multimodal), and mapInArrow — each with a native-expression primary
    elsewhere in the registry (here: `text_token_stats`).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def count_tokens(batches):
        for batch in batches:
            text = pc.utf8_trim_whitespace(batch.column("text"))
            # split_pattern_regex then list_value_length, all in Arrow
            toks = pc.split_pattern_regex(text, r"\s+")
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pc.list_value_length(toks)],
                ["doc_id", "n_tokens"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(count_tokens, "doc_id long, n_tokens int")


@register(
    "ols_price_vs_quantity",
    oracle="""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
               SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
               SUM(CAST(l_quantity AS DECIMAL(18,2))
                   * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
        FROM lineitem
    )
    SELECT n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
               AS slope_cents_per_unit,
           round((CAST(sy AS DOUBLE)
                  - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
               AS intercept_cents
    FROM s
    """,
)
def ols_price_vs_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form least squares (price ~ quantity) via the normal
    equations over EXACT aggregate sums — the distributed-ML-as-
    aggregation pattern: one partial-combinable pass computes
    (n, Σx, Σy, Σxy, Σx²) with DECIMAL/BIGINT arithmetic (bit-exact,
    order-independent), and the driver-side arithmetic that turns sums
    into slope/intercept is a handful of identical double ops on both
    engines. No gradient loop, no per-row Python, no second scan — and
    the same shape extends to k features via the k×k normal matrix.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).alias("sx"),
        F.sum(cents).alias("sy"),
        F.sum(qty * qty).alias("sxx"),
        F.sum(qty * cents).alias("sxy"),
    )
    n, sx, sy = (
        F.col("n").cast("double"),
        F.col("sx").cast("double"),
        F.col("sy").cast("double"),
    )
    sxx, sxy = F.col("sxx").cast("double"), F.col("sxy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "n",
        F.round(slope, 6).alias("slope_cents_per_unit"),
        F.round((sy - slope * sx) / n, 6).alias("intercept_cents"),
    )


@register(
    "zscore_outlier_events",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               CAST(COUNT(value) AS BIGINT) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS s1,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS s2
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) FILTER (WHERE
               abs(CAST(round(e.value * 100) AS BIGINT)
                   - CAST(s.s1 AS DOUBLE) / s.n)
               > 3 * sqrt((CAST(s.s2 AS DOUBLE)
                           - CAST(s.s1 AS DOUBLE) * s.s1 / s.n)
                          / (s.n - 1))
           ) AS BIGINT) AS n_outliers,
           s.n AS n_events
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type, s.n
    """,
)
def zscore_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier counts (|value − μ| > 3σ): group
    moments from EXACT integer-cents sums (s1, s2 — partial-combinable,
    order-independent), broadcast back to the scan, outliers counted in
    a second pass. Both engines derive μ and σ from the same exact
    integers with the same double ops, so the 3σ threshold is
    bit-identical — no tolerance needed even at the hash-compare
    boundary.

    Scale: two scans + one broadcast join; no window over raw events, no
    per-group collect. (A one-scan variant exists via `observe`-style
    two-level aggregation; the two-scan form keeps the outlier WHICH
    information available, not just counts.)
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    stats = ev.groupBy("event_type").agg(
        F.count(cents).alias("n"),
        F.sum(cents).alias("s1"),
        F.sum(cents * cents).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type", F.col("n").alias("n_events"))
        .agg(
            F.count(
                F.when(F.abs(cents - mu) > 3 * sd, True)
            ).alias("n_outliers")
        )
        .select("event_type", "n_outliers", "n_events")
    )


@register(
    "group_by_all_sql",
    oracle="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def group_by_all_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL ergonomics surface: ``GROUP BY ALL`` (group on every
    non-aggregate select item) and ``ORDER BY ALL`` — the DuckDB-origin
    shorthand Spark 4 adopted, so the oracle runs the IDENTICAL statement
    text on both engines. Semantically the plan is the ordinary
    partial+final hash aggregate; the feature removes the
    positional-list drift bug class (adding a select item silently
    changing grouping)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "mad_outlier_events",
    oracle="""
    WITH c AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type, quantile_cont(cents, 0.5) AS med
        FROM c GROUP BY event_type
    ), mad AS (
        SELECT c.event_type,
               quantile_cont(abs(c.cents - m.med), 0.5) AS mad
        FROM c JOIN med m USING (event_type) GROUP BY c.event_type
    )
    SELECT c.event_type,
           CAST(COUNT(*) FILTER (
               WHERE abs(c.cents - m.med) > 3 * 1.4826 * d.mad
           ) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM c JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY c.event_type
    """,
)
def mad_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts via Median Absolute Deviation — the
    heavy-tail-safe companion to `zscore_outlier_events`: one extreme
    value inflates σ and hides its peers from a 3σ test, while the
    median/MAD pair is 50%-breakdown robust. Threshold is the standard
    3·1.4826·MAD (σ-consistent scaling).

    Two grouped exact-percentile aggregations over integer cents (the
    second over |x − median|), each broadcast back to the scan; both
    engines interpolate quantiles identically from exact integers, so
    the robust threshold is bit-identical. Three scans total — the price
    of exact medians; at 100 TB swap `percentile` for
    `approx_percentile` and keep the identical shape.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    med = c.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("med")
    )
    dev = c.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("cents") - F.col("med")), F.lit(0.5)).alias(
            "mad"
        )
    )
    return (
        c.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("cents") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    True,
                )
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "bloom_semi_join_prune",
    oracle="""
    WITH keys AS (
        SELECT s_suppkey
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ),
    bloom AS (
        SELECT DISTINCT
            CAST(concat('0x', substr(md5(CAST(s_suppkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 4096 AS pos
        FROM keys
    ),
    fact AS (
        SELECT l_suppkey,
            CAST(concat('0x', substr(md5(CAST(l_suppkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 4096 AS pos
        FROM lineitem
        WHERE l_suppkey IS NOT NULL
    ),
    passed AS (
        SELECT l_suppkey FROM fact WHERE pos IN (SELECT pos FROM bloom)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN k.s_suppkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_match,
           round(AVG(CASE WHEN k.s_suppkey IS NULL THEN 1.0 ELSE 0.0 END), 6)
               AS false_positive_rate
    FROM passed p LEFT JOIN keys k ON p.l_suppkey = k.s_suppkey
    """,
)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, made oracle-checkable: build a
    4096-slot single-hash Bloom set over the EUROPE supplier keys, prune
    the lineitem fact scan with it BEFORE the exact semi join, and report
    pass/true-match counts plus the realized false-positive rate. This is
    the runtime-filter technique Spark's own `spark.sql.optimizer.
    runtimeFilter.bloomFilter` applies to shuffle joins — expressed
    explicitly so the FP behavior is measurable (and bit-reproducible:
    the position hash is the portable md5-prefix both engines compute
    identically, see operators/dedup.py portable_hash32). A NULL fact
    key hashes to a NULL position and can never pass the semi join —
    the oracle's fact CTE filters NULL keys to replay that (DuckDB's
    concat would otherwise turn md5(NULL) into a bare '0x' and throw).

    Scale: the Bloom relation is ≤4096 rows regardless of dimension
    cardinality — broadcast stays O(bits) while the dimension itself may
    be too big to broadcast; the fact side is filtered map-side before
    any shuffle, which is the entire point at 100 TB (ship only rows
    whose key MIGHT match). The residual exact join then sees only the
    pruned stream. With k=1 hash and |keys|≈m the realized FP rate is
    high by design at test SF — the report makes the m/k tradeoff
    visible rather than hiding it."""
    from pinterest_data_pipeline_spark.operators.dedup import portable_hash32

    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(
        F.col("r_name") == "EUROPE"
    )
    li = load_table(spark, sf_dir, "lineitem")

    keys = (
        supplier.join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    bloom = keys.select(
        (portable_hash32(F.col("s_suppkey").cast("string")) % 4096).alias(
            "pos"
        )
    ).distinct()
    fact = li.select(
        "l_suppkey",
        (portable_hash32(F.col("l_suppkey").cast("string")) % 4096).alias(
            "pos"
        ),
    )
    passed = fact.join(F.broadcast(bloom), "pos", "left_semi")
    marked = passed.join(
        F.broadcast(keys.withColumn("hit", F.lit(1))),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left",
    )
    return marked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bloom_pass"),
        F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_match"),
        F.round(
            F.avg(F.when(F.col("hit").isNull(), 1.0).otherwise(0.0)), 6
        ).alias("false_positive_rate"),
    )
