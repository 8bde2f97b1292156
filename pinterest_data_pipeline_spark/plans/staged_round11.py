"""Exact-similarity-join and pipeline-operations queries, registered in
rounds 10-12.

Each query registers through ``registry.register`` with a full DuckDB
oracle. The registry-wide strict mirror (tests/test_oracle_parity.py)
checks every one at sf0.001;
tests/test_staged_round11.py checks them at sf0.001 and sf0.01
and pins the operators' behavior.

Two families. First, the EXACT-SIMILARITY-JOIN family
(operators/similarity_join.py) — the deterministic companions to the
approximate MinHash/SimHash/hyperplane LSH family, for contracts where
"every qualifying pair, provably" is required:

- FastSS 1-deletion-neighborhood join: exact Levenshtein ≤ 1 pairs
  from ONE variant-key equi-join (Σ chars of variant rows, no n²
  matrix, no block-key assumption — contrast the blocked
  levenshtein_similar_names).
- Prefix-filter set-similarity join (SSJoin/PPJoin): exact
  3-word-shingle Jaccard ≥ 1/2 pairs (the MinHash family's threshold
  regime, certified instead of approximated); candidates only from
  rarest-first prefix shingles under integer length + positional
  filters; membership decided by the INTEGER predicate
  den·|A∩B| ≥ num·|A∪B|, never a float.

Second (added while round 8 executed its window), the PIPELINE
OPERATIONS family — the accounting a production ingest runs around
the analytics proper:

- watermark lateness audit (operators/lateness): the batch-replayable
  sizing table for Structured Streaming's withWatermark delay, via a
  two-level parallel prefix-scan instead of a global running max;
- Mann-Kendall trend gate (operators/mann_kendall): integer-exact
  nonparametric "is the KPI trending" over per-period aggregates;
- peak session concurrency (operators/sessionize): day-partitioned
  sweep line over clipped session intervals;
- delta-varint layout report (operators/encoding): what each physical
  layout costs in storage, the zorder pruning report's sibling;
- Merkle bucket-diff reconciliation (operators/reconcile): exact
  table-version diff priced by the CHANGE SET, not the table, with
  the naive full-diff as its oracle;
- rendezvous reshard stability (operators/sharding): the HRW
  only-moves-to-new-shards guarantee measured and gated against
  mod-N's full re-bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table


@register(
    "fastss_customer_name_pairs",
    oracle="""
    WITH v0 AS (
        SELECT DISTINCT c_custkey AS id, c_name AS name,
               CASE WHEN i = 0 THEN c_name
                    ELSE substr(c_name, 1, i - 1) || substr(c_name, i + 1)
               END AS var
        FROM customer, UNNEST(range(0, length(c_name) + 1)) AS r(i)
    ),
    v AS (
        SELECT id, name, var FROM (
            SELECT id, name, var,
                   ROW_NUMBER() OVER (PARTITION BY var ORDER BY id) AS rn
            FROM v0
        ) WHERE rn <= 64
    ),
    e AS (
        SELECT id, name FROM (
            SELECT c_custkey AS id, c_name AS name,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_name ORDER BY c_custkey
                   ) AS rn
            FROM customer
        ) WHERE rn <= 64
    ),
    eqp AS (
        SELECT a.id AS key_a, b.id AS key_b,
               a.name AS name_a, b.name AS name_b
        FROM e a JOIN e b ON a.name = b.name AND a.id < b.id
    ),
    nep AS (
        SELECT DISTINCT a.id AS key_a, b.id AS key_b,
               a.name AS name_a, b.name AS name_b
        FROM v a JOIN v b
          ON a.var = b.var AND a.id < b.id AND a.name <> b.name
    )
    SELECT key_a, key_b, name_a, name_b, CAST(0 AS INTEGER) AS ed
    FROM eqp
    UNION ALL
    SELECT key_a, key_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS ed
    FROM nep WHERE levenshtein(name_a, name_b) <= 1
    ORDER BY key_a, key_b
    """,
)
def fastss_customer_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance ≤ 1 customer-name pairs via FastSS
    1-deletion neighborhoods (operators/similarity_join) — the
    record-linkage join that needs no block key: Customer#000000417 vs
    Customer#000000418 collide on the variant that deletes the
    differing digit. Runs with the production skew guard
    (``max_bucket_size=64``): each variant bucket and each equal-name
    group keeps its 64 smallest-id members (no bucket in any test SF
    comes near 64, so the guard is active but non-trimming here — its
    trimming behavior is pinned by the planted-hot-key tests). The
    DuckDB oracle replays the identical variant construction, BOTH
    min-id retentions (``ROW_NUMBER() OVER (PARTITION BY key ORDER BY
    id) <= 64``), the split equal/unequal emission, and the
    levenshtein verification — note the oracle's unequal branch keeps
    a pair-level DISTINCT while the Spark plan has none, so a
    hash-match also certifies the exactly-once emission proof.

    Scale: Σ(len+1) variant rows through one equi-join shuffle, both
    joins bucket-capped; verify on candidates only."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        edit_distance_one_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    return edit_distance_one_pairs(
        cust, "c_custkey", "c_name", max_bucket_size=64
    )


@register(
    "jaccard_exact_doc_pairs",
    oracle="""
    WITH t AS (
        SELECT doc_id AS id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT id,
               toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS w
        FROM t, UNNEST(range(1, len(toks) - 1)) AS r(i)
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM sh GROUP BY w),
    sets AS (
        SELECT id, list(s.w ORDER BY f.f, s.w) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM sh s JOIN freq f USING (w) GROUP BY id
    ),
    pre AS (
        SELECT id, n, i AS p, s[CAST(i AS INTEGER)] AS w
        FROM sets,
             UNNEST(range(1, n - ((1 * n + 1) // 2) + 2)) AS r(i)
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pre a JOIN pre b ON a.w = b.w AND a.id < b.id
        WHERE 2 * a.n >= 1 * b.n AND 2 * b.n >= 1 * a.n
          AND LEAST(a.n - a.p, b.n - b.p) + 1
              >= (1 * (a.n + b.n) + 2) // 3
    ),
    ver AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter,
               CAST(sa.n + sb.n - len(list_intersect(sa.s, sb.s))
                    AS BIGINT) AS n_union
        FROM cand c JOIN sets sa ON sa.id = c.id_a
                    JOIN sets sb ON sb.id = c.id_b
    )
    SELECT id_a, id_b, n_inter, n_union,
           round(CAST(n_inter AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
               AS jaccard_r6
    FROM ver WHERE 2 * n_inter >= 1 * n_union
    ORDER BY id_a, id_b
    """,
)
def jaccard_exact_doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-word-shingle Jaccard ≥ 1/2 document pairs via PPJoin
    prefix filtering (operators/similarity_join) — the provably-
    complete companion to the banded MinHash near-dup family at the
    SAME threshold regime (minhash_dedup_clusters verifies at 0.5):
    MinHash trades a recall curve for cost; this certifies every
    qualifying pair. Shingles, not raw words — the corpus's 31-token
    word vocabulary makes word-set similarity degenerate (everything
    resembles everything; measured 1.6e9 candidates at ×30), while the
    16k+ shingle universe is discriminative. Rarest-first order,
    integer prefix lengths, integer length/positional PPJoin filters,
    integer verify predicate 2·|A∩B| ≥ |A∪B|.

    Scale: candidates from prefix-shingle collisions only; the exact
    intersection runs on candidates. Output against an all-duplicated
    corpus is inherently quadratic — time tracks output (the winnowing
    precedent)."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        jaccard_exact_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_exact_join(docs, "doc_id", "text", 1, 2, shingle_size=3)


@register(
    "containment_exact_doc_pairs",
    oracle="""
    WITH t AS (
        SELECT doc_id AS id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT id,
               toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS w
        FROM t, UNNEST(range(1, len(toks) - 1)) AS r(i)
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM sh GROUP BY w),
    sets AS (
        SELECT id, list(s.w ORDER BY f.f, s.w) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM sh s JOIN freq f USING (w) GROUP BY id
    ),
    pre_a AS (
        SELECT id, s[CAST(i AS INTEGER)] AS w
        FROM sets,
             UNNEST(range(1, n - ((4 * n + 4) // 5) + 2)) AS r(i)
    ),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pre_a a JOIN sh b ON a.w = b.w AND a.id <> b.id
    ),
    ver AS (
        SELECT c.id_a, c.id_b, sa.n AS n_a, sb.n AS n_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) AS n_inter
        FROM cand c JOIN sets sa ON sa.id = c.id_a
                    JOIN sets sb ON sb.id = c.id_b
    )
    SELECT id_a, id_b, n_a, n_b, n_inter,
           round(CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
               AS containment_r6
    FROM ver WHERE 5 * n_inter >= 4 * n_a
    ORDER BY id_a, id_b
    """,
)
def containment_exact_doc_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT 3-shingle containment ≥ 4/5 ordered pairs
    (operators/similarity_join.containment_exact_join) — the asymmetric
    quote/excerpt detector symmetric Jaccard misses (a short document
    fully inside a long one has tiny Jaccard but containment 1). The
    probe side's rare-shingle prefix generates candidates against full
    posting lists; the verify predicate is the integer
    5·|A∩B| ≥ 4·|A|.

    Scale: candidates bounded by the rare-prefix posting lists; exact
    intersection on candidates only."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        containment_exact_join,
    )

    docs = load_table(spark, sf_dir, "documents")
    return containment_exact_join(docs, "doc_id", "text", 4, 5, 3)


@register(
    "zorder_layout_pruning_report",
    oracle="""
    WITH base AS (
        SELECT l_orderkey * 10 + l_linenumber AS id,
               CAST(l_partkey AS BIGINT) AS a,
               CAST(l_suppkey AS BIGINT) AS b
        FROM lineitem
        WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
    ),
    mm AS (
        SELECT MIN(a) AS a_min, MAX(a) AS a_max,
               MIN(b) AS b_min, MAX(b) AS b_max
        FROM base
    ),
    q AS (
        SELECT id,
               ((a - mm.a_min) * 256) // (mm.a_max - mm.a_min + 1) AS da,
               ((b - mm.b_min) * 256) // (mm.b_max - mm.b_min + 1) AS db
        FROM base CROSS JOIN mm
    ),
    z AS (SELECT id, da, db, ((da // 1) % 2) * 2 + ((db // 1) % 2) * 1 + ((da // 2) % 2) * 8 + ((db // 2) % 2) * 4 + ((da // 4) % 2) * 32 + ((db // 4) % 2) * 16 + ((da // 8) % 2) * 128 + ((db // 8) % 2) * 64 + ((da // 16) % 2) * 512 + ((db // 16) % 2) * 256 + ((da // 32) % 2) * 2048 + ((db // 32) % 2) * 1024 + ((da // 64) % 2) * 8192 + ((db // 64) % 2) * 4096 + ((da // 128) % 2) * 32768 + ((db // 128) % 2) * 16384 AS zk FROM q),
    lay AS (
        SELECT 'insertion' AS layout,
               ntile(64) OVER (ORDER BY id) AS bucket, da, db FROM z
        UNION ALL
        SELECT 'sort_a', ntile(64) OVER (ORDER BY da, id), da, db FROM z
        UNION ALL
        SELECT 'zorder', ntile(64) OVER (ORDER BY zk, id), da, db FROM z
    ),
    boxes AS (
        SELECT layout, bucket, CAST(count(*) AS BIGINT) AS rows_n,
               MIN(da) AS a_lo, MAX(da) AS a_hi,
               MIN(db) AS b_lo, MAX(db) AS b_hi
        FROM lay GROUP BY layout, bucket
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN a_hi >= 96 AND a_lo <= 159
                          AND b_hi >= 96 AND b_lo <= 159
                    THEN 1 ELSE 0 END) AS BIGINT) AS buckets_read,
           CAST(SUM(CASE WHEN a_hi >= 96 AND a_lo <= 159
                          AND b_hi >= 96 AND b_lo <= 159
                    THEN rows_n ELSE 0 END) AS BIGINT) AS rows_read,
           CAST((1000000 * SUM(CASE WHEN a_hi >= 96 AND a_lo <= 159
                                     AND b_hi >= 96 AND b_lo <= 159
                               THEN rows_n ELSE 0 END))
                // SUM(rows_n) AS BIGINT) AS read_ppm
    FROM boxes GROUP BY layout ORDER BY layout
""",
)
def zorder_layout_pruning_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Z-order layout payoff, measured (operators/zorder): the same
    central-quarter 2-D predicate on (l_partkey, l_suppkey) scored
    against zone-map pruning under three layouts — insertion order,
    single-column sort, Morton interleave. The number a 100 TB layout
    rewrite is justified by: insertion reads ~every bucket, sort_a
    prunes only dimension A, z-order prunes both. Quantization, the
    Morton key, and every reported value are pure integer arithmetic
    replayed by the oracle; the curve uses (d div 2^b) mod 2 terms so
    no engine bit operator enters the comparison.

    Scale: min/max one broadcast aggregate; keys are per-row codegen
    expressions; the ntile layouts exist to make the REPORT
    deterministic — the production writer uses repartitionByRange on
    the same Morton key. Rows with a NULL coordinate are excluded on
    both sides: they have no quantized cell or zone-map range, and the
    layout sorts would otherwise place them at opposite ends (Spark
    NULLS FIRST vs DuckDB NULLS LAST), shifting every bucket box."""
    from pinterest_data_pipeline_spark.operators.zorder import (
        zorder_pruning_report,
    )

    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    ).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid"),
        "l_partkey",
        "l_suppkey",
    )
    return zorder_pruning_report(li, "rid", "l_partkey", "l_suppkey")


# ----------------------------------------------------- pipeline operations


@register(
    "watermark_lateness_audit",
    oracle="""
    WITH e AS (
        SELECT event_id, epoch_us(ts) AS us,
               epoch_us(ts)
               + ((CAST(concat('0x',
                        substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 600000000) - 300000000) AS arr
        FROM events WHERE ts IS NOT NULL
    ),
    w AS (
        SELECT us,
               max(us) OVER (ORDER BY arr, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) - 120000000 AS wm
        FROM e
    )
    SELECT make_timestamp((us // 3600000000) * 3600000000) AS hour_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN wm IS NOT NULL AND us < wm
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           max(CASE WHEN wm IS NOT NULL AND us < wm
               THEN wm - us END) AS max_late_us
    FROM w GROUP BY 1
    """,
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing table (operators/lateness): per EVENT-TIME
    hour, how many events a 120-second watermark would have dropped
    and the worst lateness, under a deterministic md5-jittered arrival
    order (±300 s — the stored events table is perfectly time-sorted,
    so disorder is synthesized as a pure function of the row; a real
    deployment feeds its collector arrival stamp instead).

    The engine side runs the two-level parallel prefix-scan (per-shard
    max → exclusive shard prefix-max → in-shard exclusive running
    max); the oracle replays the NAIVE global-window definition, so
    the green row certifies the scan decomposition itself, not just
    the aggregate."""
    from pinterest_data_pipeline_spark.operators.lateness import (
        jittered_arrival_us,
        lateness_audit_by_hour,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "__arr", jittered_arrival_us("ts", "event_id", 300)
    )
    return lateness_audit_by_hour(ev, "__arr", "event_id", "ts", delay_s=120)


@register(
    "mann_kendall_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority AS priority,
               date_trunc('day', o_orderdate) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2
    ),
    s AS (
        SELECT a.priority,
               CAST(sum(sign(b.cents - a.cents)) AS BIGINT) AS s_stat
        FROM daily a JOIN daily b
          ON a.priority = b.priority AND a.day < b.day
        GROUP BY 1
    ),
    ties AS (
        SELECT priority, cents, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2
    ),
    tt AS (
        SELECT priority,
               CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
               CAST(sum(t) AS BIGINT) AS n_periods
        FROM ties GROUP BY 1
    )
    SELECT tt.priority, n_periods, COALESCE(s_stat, 0) AS s_stat,
           CAST(n_periods * (n_periods - 1) * (2 * n_periods + 5)
                - tie_sum AS BIGINT) AS var_num,
           CASE WHEN n_periods * (n_periods - 1) * (2 * n_periods + 5)
                     - tie_sum <= 0 THEN NULL
                ELSE round((s_stat - sign(s_stat))
                           / sqrt((n_periods * (n_periods - 1)
                                   * (2 * n_periods + 5) - tie_sum)
                                  / 18.0), 6)
           END AS z_r6
    FROM tt LEFT JOIN s USING (priority)
    """,
)
def mann_kendall_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend gate (operators/mann_kendall) on daily
    revenue cents per order priority: S, the tie-corrected variance
    numerator (both bigint, hash-exact) and the continuity-corrected z
    (the one rounded double). The pairwise statistic runs on the
    |days|-per-priority aggregate — a broadcastable relation whose
    size is CONSTANT in the fact-table size, so the |periods|² work
    never grows with data volume. NULL priorities are excluded up
    front: a trend series needs an identifiable key, and the pairwise
    self-join cannot pair a NULL group anyway — without the filter
    both sides would emit a fabricated s=0 row whose z fill differed
    (the NULL-fuzz split this retires)."""
    from pinterest_data_pipeline_spark.operators.mann_kendall import (
        mann_kendall,
    )

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isNotNull()
    )
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("day", F.col("o_orderdate")).alias("day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "cents"
        )
    )
    return mann_kendall(daily, ["priority"], "day", "cents")


@register(
    "peak_concurrency_daily",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    numbered AS (
        SELECT user_id, us,
               SUM(CASE WHEN prev_us IS NULL
                             OR us - prev_us > 1800000000
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS sid
        FROM ordered
    ),
    sess AS (
        SELECT user_id, sid, min(us) AS s, max(us) AS e
        FROM numbered GROUP BY 1, 2
    ),
    clipped AS (
        SELECT r.d AS day,
               greatest(s, r.d * 86400000000) AS cs,
               least(e, (r.d + 1) * 86400000000 - 1) AS ce
        FROM sess,
             UNNEST(range(s // 86400000000, e // 86400000000 + 1)) AS r(d)
    ),
    deltas AS (
        SELECT day, cs AS t, 1 AS delta FROM clipped
        UNION ALL
        SELECT day, ce AS t, -1 AS delta FROM clipped
    ),
    run AS (
        SELECT day, t,
               SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS c
        FROM deltas
    ),
    runp AS (
        SELECT day, t, c, max(c) OVER (PARTITION BY day) AS peak FROM run
    )
    SELECT CAST(DATE '1970-01-01' + CAST(day AS INTEGER) AS TIMESTAMP)
               AS day,
           CAST(count(*) // 2 AS BIGINT) AS n_intervals,
           CAST(max(c) AS BIGINT) AS peak_concurrent,
           min(CASE WHEN c = peak THEN t END) AS peak_at_us
    FROM runp GROUP BY 1
    """,
)
def peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day
    (operators/sessionize.peak_concurrency_by_day): 30-minute-gap
    sessions, midnight-clipped, swept with a day-partitioned +1/−1
    line — the capacity-planning number, with the earliest instant it
    was reached. Deterministic without a global sort: the sweep's
    running sum partitions by day, and within-instant tie order can
    only permute which equal-delta row carries each running value,
    never the (t, concurrency) multiset."""
    from pinterest_data_pipeline_spark.operators.sessionize import (
        peak_concurrency_by_day,
        session_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    sess = session_stats(ev)
    return peak_concurrency_by_day(sess)


_LAYOUT_HASH_SQL = (
    "CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) "
    "AS BIGINT)"
)

_VARINT_CASE = """CASE
    WHEN z < 128 THEN 1 WHEN z < 16384 THEN 2
    WHEN z < 2097152 THEN 3 WHEN z < 268435456 THEN 4
    WHEN z < 34359738368 THEN 5 WHEN z < 4398046511104 THEN 6
    WHEN z < 562949953421312 THEN 7 WHEN z < 72057594037927936 THEN 8
    ELSE 9 END"""


@register(
    "varint_layout_size_report",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey AS k, o_orderdate AS d,
               {_LAYOUT_HASH_SQL} AS h
        FROM orders
    ),
    lay AS (
        SELECT 'key_sorted' AS layout, k,
               ntile(64) OVER (ORDER BY k) AS page,
               CAST(NULL AS TIMESTAMP) AS o0, CAST(NULL AS BIGINT) AS h0
        FROM base
        UNION ALL
        SELECT 'time_clustered', k, ntile(64) OVER (ORDER BY d NULLS FIRST, k),
               d, CAST(NULL AS BIGINT)
        FROM base
        UNION ALL
        SELECT 'hash_scattered', k, ntile(64) OVER (ORDER BY h, k),
               CAST(NULL AS TIMESTAMP), h
        FROM base
    ),
    gaps AS (
        SELECT layout, page,
               k - lag(k) OVER (PARTITION BY layout, page
                                ORDER BY o0 NULLS FIRST, h0 NULLS FIRST,
                                         k) AS g
        FROM lay
    ),
    zz AS (
        SELECT layout,
               CASE WHEN g IS NULL THEN NULL
                    WHEN g >= 0 THEN 2 * g ELSE -2 * g - 1 END AS z
        FROM gaps
    ),
    costs AS (
        SELECT layout,
               CASE WHEN z IS NULL THEN 8 ELSE {_VARINT_CASE} END AS b
        FROM zz
    )
    SELECT layout, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(b) AS BIGINT) AS total_bytes,
           CAST(count(*) * 8 AS BIGINT) AS fixed_bytes,
           CAST((count(*) * 8 - sum(b)) * 1000000
                // (count(*) * 8) AS BIGINT) AS saved_ppm
    FROM costs GROUP BY layout
    """,
)
def varint_layout_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-varint storage cost of the order-key column under three
    physical layouts (operators/encoding.delta_varint_report): sorted
    by the key itself (the ~1 byte/row best case parquet
    DELTA_BINARY_PACKED exploits), clustered by time (the common
    ingest layout — locally dense, still cheap), and scattered by an
    md5 hash (the worst case a hash-partitioned write produces,
    ~5 bytes/row). The zorder pruning report's storage-side sibling:
    together they price a 100 TB layout rewrite from both ends (scan
    I/O and bytes at rest). Pages are ntile(64) slices — the
    deterministic stand-in for row groups, replayed exactly by the
    oracle (the zorder report precedent); a production writer gets the
    same layout from repartitionByRange + sortWithinPartitions.

    Every reported value is integer arithmetic (zigzag, power-of-128
    thresholds, floor-division ppm) on exact keys."""
    from pinterest_data_pipeline_spark.operators.encoding import (
        delta_varint_report,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("__h"),
    )
    return delta_varint_report(
        o,
        "o_orderkey",
        {
            "key_sorted": [],
            "time_clustered": ["o_orderdate"],
            "hash_scattered": ["__h"],
        },
        n_pages=64,
    )


@register(
    "merkle_diff_orders",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    v2 AS (
        SELECT k, CASE WHEN k % 991 = 3 THEN cents + 100 ELSE cents END
               AS cents
        FROM v1 WHERE k % 997 <> 0
        UNION ALL
        SELECT k + 100000000, cents FROM v1 WHERE k % 1009 = 5
    )
    SELECT COALESCE(v1.k, v2.k) AS key,
           CAST(COALESCE(v1.k, v2.k) % 256 AS BIGINT) AS bucket,
           CASE WHEN v1.k IS NULL THEN 'added'
                WHEN v2.k IS NULL THEN 'removed'
                ELSE 'modified' END AS change_type
    FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
    WHERE v1.k IS NULL OR v2.k IS NULL OR v1.cents <> v2.cents
    """,
)
def merkle_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy table diff (operators/reconcile.merkle_diff)
    between the orders table and a deterministically mutated second
    version (drop every 997th key, add $1 to every 991st-residue-3
    price, clone every 1009th-residue-5 row under a shifted key — pure
    functions of the row, so any engine rebuilds v2 identically).

    The STRONG part of this oracle: DuckDB computes the diff the naive
    way — a full outer join of the two versions — while the engine
    runs the bucket-checksum protocol (two metadata-sized summaries,
    then the exact join over differing buckets only). A green row
    therefore certifies the reconciliation PROTOCOL finds exactly the
    true change set, at a cost priced by the change set instead of the
    table."""
    from pinterest_data_pipeline_spark.operators.reconcile import merkle_diff

    v1 = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v2 = (
        v1.where(F.col("k") % 997 != 0)
        .select(
            "k",
            F.when(F.col("k") % 991 == 3, F.col("cents") + 100)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionAll(
            v1.where(F.col("k") % 1009 == 5).select(
                (F.col("k") + 100000000).alias("k"), "cents"
            )
        )
    )
    return merkle_diff(v1, v2, "k", ["cents"], n_buckets=256)


@register(
    "rendezvous_reshard_stability",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    w AS (
        SELECT k, r.s AS s,
               CAST(concat('0x', substr(md5(
                   concat(CAST(k AS VARCHAR), ':', CAST(r.s AS VARCHAR))
               ), 1, 8)) AS BIGINT) AS wt
        FROM keys, UNNEST(range(0, 10)) AS r(s)
    ),
    m8 AS (SELECT k, max(wt) AS mw FROM w WHERE s < 8 GROUP BY k),
    a8 AS (
        SELECT w.k, CAST(min(w.s) AS BIGINT) AS s8
        FROM w JOIN m8 ON w.k = m8.k AND w.wt = m8.mw
        WHERE w.s < 8 GROUP BY w.k
    ),
    m10 AS (SELECT k, max(wt) AS mw FROM w GROUP BY k),
    a10 AS (
        SELECT w.k, CAST(min(w.s) AS BIGINT) AS s10
        FROM w JOIN m10 ON w.k = m10.k AND w.wt = m10.mw
        GROUP BY w.k
    ),
    hrw AS (
        SELECT 'hrw' AS strategy, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN s8 <> s10 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_moved,
               CAST(sum(CASE WHEN s8 <> s10 AND s10 < 8
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_illegal
        FROM a8 JOIN a10 USING (k)
    ),
    md AS (
        SELECT 'mod' AS strategy, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN k % 8 <> k % 10 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_moved,
               CAST(sum(CASE WHEN k % 8 <> k % 10 AND k % 10 < 8
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_illegal
        FROM keys
    )
    SELECT strategy, n_keys, n_moved,
           CAST(n_moved * 1000000 // n_keys AS BIGINT) AS moved_ppm,
           n_illegal AS n_illegal_moves
    FROM hrw
    UNION ALL
    SELECT strategy, n_keys, n_moved,
           CAST(n_moved * 1000000 // n_keys AS BIGINT) AS moved_ppm,
           n_illegal AS n_illegal_moves
    FROM md
    """,
)
def rendezvous_reshard_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reshard movement audit, 8 → 10 shards, over the order keys
    (operators/sharding.reshard_stability): rendezvous/HRW hashing
    versus naive mod-N. The HRW row's ``n_illegal_moves`` — keys that
    moved between two OLD shards, which the HRW argmax property
    forbids — is a hash-checked ZERO, so the consistent-hashing
    guarantee itself is driver-certified; its ``moved_ppm`` sits near
    the theoretical 200 000 (2 new shards / 10), while the mod row
    documents the ~90% re-bucketing a naive reshard pays.

    Scale: keys × 10 exploded weights through two map-side-combinable
    aggregates keyed by the key; no data-sized joins, no sort."""
    from pinterest_data_pipeline_spark.operators.sharding import (
        reshard_stability,
    )

    o = load_table(spark, sf_dir, "orders")
    return reshard_stability(o, "o_orderkey", 8, 10)


@register(
    "jaccard_trim_report_capped",
    oracle="""
    WITH t AS (
        SELECT doc_id AS id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT id,
               toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS w
        FROM t, UNNEST(range(1, len(toks) - 1)) AS r(i)
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM sh GROUP BY w),
    sets AS (
        SELECT id, list(s.w ORDER BY f.f, s.w) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM sh s JOIN freq f USING (w) GROUP BY id
    ),
    pre AS (
        SELECT id, s[CAST(i AS INTEGER)] AS w
        FROM sets,
             UNNEST(range(1, n - ((1 * n + 1) // 2) + 2)) AS r(i)
    ),
    g AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM pre GROUP BY w)
    SELECT 'prefix' AS join_side,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN n > 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_buckets_capped,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN n > 2 THEN n - 2 ELSE 0 END) AS BIGINT)
               AS n_rows_trimmed,
           CAST((sum(CASE WHEN n > 2 THEN n - 2 ELSE 0 END) * 1000000)
                // greatest(sum(n), 1) AS BIGINT) AS trimmed_rows_ppm
    FROM g
    """,
)
def jaccard_trim_report_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The queryable price of capping jaccard_exact_join at
    ``max_posting_size=2`` (operators/similarity_join.
    jaccard_trim_report): bucket counts, over-cap buckets, and the
    rows min-id retention would remove from the prefix-shingle posting
    lists, with the trimmed share in integer ppm. This is the "no
    silent caps" contract made a driver row — the production cap (64)
    never trims on the test corpus (max posting group is 4), so the
    demonstration cap of 2 is what makes the trim arithmetic itself
    hash-verifiable: the oracle replays shingling, rarest-first prefix
    construction, and the exact over-cap bucket/row/ppm folds.

    Scale: the join's own shingle pipeline up to the prefix relation,
    then one partial-combinable posting-size aggregate collapsing to a
    single row — strictly cheaper than the join it audits."""
    from pinterest_data_pipeline_spark.operators.similarity_join import (
        jaccard_trim_report,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jaccard_trim_report(
        docs, "doc_id", "text", 1, 2, shingle_size=3, max_posting_size=2
    )
