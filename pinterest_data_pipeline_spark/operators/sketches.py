"""Count-min sketch (Cormode & Muthukrishnan '05) built from first
principles on DataFrames — the mergeable fixed-size frequency summary
that answers "how often does item x occur?" over a stream/corpus far
too large to hold exact counts for, with one-sided error: estimates
never undercount, and overcount by at most εN with high probability
(ε ≈ e/width).

This complements the built-in sketch surface (HLL distinct, KLL
percentiles, freqItems heavy hitters) with an explicitly-constructed
sketch whose every counter is SQL-replayable: the row hashes are the
repo's portable md5-prefix hash, so a DuckDB oracle rebuilds the
identical depth×width counter matrix and the identical estimates —
the same discipline that made the MinHash/LSH family value-verifiable.

Scale: building the sketch is ONE partial-combinable aggregate to
depth×width rows (each input row contributes `depth` increments —
map-side combine collapses them long before the shuffle); the sketch
is constant-size regardless of corpus, which is the entire point.
Estimation joins probes to the broadcast counter matrix. Sketches from
disjoint shards merge by adding counters (groupBy sum) — associative
by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.dedup import portable_hash32


def _bucket(item, j: int, width: int, salt: str):
    return (
        portable_hash32(F.concat(F.lit(f"{salt}{j}:"), item.cast("string")))
        % width
    )


def count_min_build(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """The sketch: (j, bucket, cnt) counters, one row per non-empty
    cell (absent cells are implicitly 0). Each input row increments
    ``depth`` cells; the explode happens inside one aggregate, so the
    shuffle carries at most depth×width combined rows per partition."""
    item = F.col(item_col)
    cells = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        _bucket(item, j, width, "cms")
                        .cast("bigint")
                        .alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__c")
    )
    return (
        cells.groupBy(
            F.col("__c.j").alias("j"), F.col("__c.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def count_min_estimate(
    counters: DataFrame,
    probes: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-frequency estimates for the probe items: est = min over
    the item's ``depth`` counters (missing cell ⇒ 0). Carries every
    probe column through; adds ``est_n``. The counter matrix is
    broadcast — it is ≤ depth×width rows by construction."""
    item = F.col(item_col)
    pb = probes.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("j"),
                        _bucket(item, j, width, "cms")
                        .cast("bigint")
                        .alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__c"),
    )
    carry = [c for c in probes.columns]
    return (
        pb.join(
            F.broadcast(counters),
            (F.col("__c.j") == F.col("j"))
            & (F.col("__c.bucket") == F.col("bucket")),
            "left",
        )
        .groupBy(*[F.col(c) for c in carry])
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("est_n")
        )
    )


def kmv_distinct(
    df: DataFrame,
    item_col: str,
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. '02;
    the theta-sketch family's simplest member) built from first
    principles beside the built-in HLL surface, with its exact-join
    error gate (the count-min discipline): hash every value with the
    portable md5-prefix hash to (0, 2^32], keep the k smallest, and
    estimate |D| = (k−1) / u_(k) where u_(k) is the k-th smallest as a
    fraction of the hash space. Unlike HLL the sketch IS a value set —
    mergeable by union-and-trim — and every number here is
    SQL-replayable because the hash is md5 on both engines.

    Output: ONE row — n_exact (true distinct, the gate's yardstick),
    n_kept (min(k, distinct hashes)), kth_hash, kmv_est_r6, err_ppm
    (|est − exact| as ppm of exact), within_bound (err_ppm <
    400000; k=64 has relative σ ≈ 1/√(k−2) ≈ 12.7%, so the bound is
    ≈ 3σ). When fewer than k distinct hashes exist
    the sketch saw everything and the estimate IS the kept count.

    Scale: distinct (bounded by the value domain) → hash → ONE
    TakeOrdered-k cut (per-partition top-k, driver merges k·|parts|)
    plus one count over the same localCheckpointed relation — two
    driver-sized aggregates, no full sort."""
    hashed = (
        df.select(F.col(item_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .distinct()
        .select(
            portable_hash32(
                F.concat(F.lit("kmv:"), F.col("__v").cast("string"))
            ).alias("__h")
        )
        .localCheckpoint(eager=False)
    )
    kmin = (
        hashed.orderBy("__h")
        .limit(k)
        .agg(
            F.max("__h").cast("bigint").alias("kth_hash"),
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        )
    )
    tot = hashed.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    est = F.when(
        F.col("n_kept") < F.lit(k), F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1))
        * F.lit(4294967296.0)
        / (F.col("kth_hash").cast("double") + F.lit(1.0))
    )
    out = tot.crossJoin(F.broadcast(kmin)).select(
        "n_exact",
        "n_kept",
        "kth_hash",
        F.round(est, 6).alias("kmv_est_r6"),
        F.floor(
            F.abs(est - F.col("n_exact").cast("double"))
            * F.lit(1e6)
            / F.col("n_exact").cast("double")
        )
        .cast("bigint")
        .alias("err_ppm"),
    )
    return out.select(
        "*", (F.col("err_ppm") < F.lit(400_000)).alias("within_bound")
    )
