"""Watermark lateness accounting — the BATCH twin of Structured
Streaming's event-time watermark (`withWatermark`), as an auditable
relation instead of an opaque runtime drop counter.

Streaming semantics being mirrored: after the engine has PROCESSED a
prefix of the stream (arrival order), the watermark is
``max(event_time seen so far) − delay``; an arriving event whose event
time is below the watermark is dropped from stateful aggregations.
Operations teams need the batch-replayable version of that accounting
("how many events WOULD the 2-minute watermark have dropped last
month, per hour, and how late were they?") to size the delay before
shipping it — this module computes exactly that from an
arrival-stamped log.

Scale design: the naive formulation is a running max over the GLOBAL
arrival order — one total sort through a single partition, the classic
scan anti-pattern. The implementation here is the standard two-level
parallel prefix-scan instead:

1. shard the arrival axis into fixed time ranges
   (``arrival_us div shard_us``),
2. per-shard ``max(event ts)`` (map-side combinable, one tiny
   aggregate),
3. EXCLUSIVE prefix-max across the shard table (metadata-sized window
   over |shards| rows),
4. broadcast-join that back and combine with the within-shard
   exclusive running max (window partitioned BY SHARD, so every
   partition sorts only its own arrival slice).

Equivalent to the global window row-for-row — a shard boundary never
loses information because the cross-shard prefix max covers everything
before the shard and the in-shard window covers the rest — but the
only full-data sort is partitioned by shard. The DuckDB oracle replays
the naive global-window formulation, cross-validating the
decomposition value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MICROS = 1_000_000


def watermark_lateness(
    df: DataFrame,
    arrival_us_col: str,
    tiebreak_col: str,
    ts_col: str,
    delay_s: int,
    shard_us: int = 3600 * MICROS,
) -> DataFrame:
    """Per-event watermark accounting over arrival order
    ``(arrival_us_col, tiebreak_col)``.

    Adds to every input row:

    - ``wm_us``: the watermark (micros) in force when the row arrived —
      ``max(event time of all strictly-earlier arrivals) − delay`` —
      NULL for the first arrival (no watermark exists yet);
    - ``is_late``: event time strictly below the watermark (the row a
      streaming aggregation would drop);
    - ``late_us``: how far below (micros), NULL when not late.

    ``arrival_us_col`` is a BIGINT micros arrival stamp;
    ``tiebreak_col`` must make the pair unique so "strictly earlier"
    is a total order. Event time is read from ``ts_col`` via
    ``unix_micros``. ``shard_us`` sets the arrival-range shard width
    for the two-level scan (default: hourly shards).

    Rows with a NULL event time or NULL arrival stamp are DROPPED
    explicitly: an event with no timestamp has no watermark position
    (streaming would never admit it), and without the filter the
    NULL-shard rows would only vanish as an accident of the inner
    shard join's NULL-key semantics."""
    df = df.where(
        F.col(ts_col).isNotNull() & F.col(arrival_us_col).isNotNull()
    )
    us = F.unix_micros(F.col(ts_col))
    shard = (F.col(arrival_us_col) / F.lit(int(shard_us))).cast("long")
    base = df.withColumn("__us", us).withColumn("__shard", shard)

    shard_max = base.groupBy("__shard").agg(F.max("__us").alias("__smax"))
    prev_shards = shard_max.select(
        "__shard",
        F.max("__smax")
        .over(
            Window.orderBy("__shard").rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("__prev_shards_max"),
    )

    in_shard = (
        Window.partitionBy("__shard")
        .orderBy(arrival_us_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    delay_us = F.lit(int(delay_s) * MICROS)
    # greatest() ignores NULLs (NULL only when every operand is NULL),
    # so `seen` is NULL exactly for the first arrival overall.
    seen = F.greatest(
        F.max("__us").over(in_shard), F.col("__prev_shards_max")
    )
    out = (
        base.join(F.broadcast(prev_shards), "__shard")
        .withColumn("wm_us", seen - delay_us)
        .withColumn(
            "is_late",
            F.when(F.col("wm_us").isNull(), F.lit(False)).otherwise(
                F.col("__us") < F.col("wm_us")
            ),
        )
        .withColumn(
            "late_us",
            F.when(F.col("is_late"), F.col("wm_us") - F.col("__us")),
        )
    )
    return out.drop("__shard", "__prev_shards_max")


def lateness_audit_by_hour(
    df: DataFrame,
    arrival_us_col: str,
    tiebreak_col: str,
    ts_col: str,
    delay_s: int,
) -> DataFrame:
    """Hourly lateness report: for each EVENT-TIME hour, how many
    events arrived, how many the ``delay_s`` watermark would have
    dropped, and the worst lateness (micros). The sizing table for
    picking a production watermark delay.

    Scale: watermark_lateness's two-level scan, then one map-side
    combinable aggregate keyed by hour."""
    lat = watermark_lateness(
        df, arrival_us_col, tiebreak_col, ts_col, delay_s
    )
    hour = ((F.col("__us") / F.lit(3600 * MICROS)).cast("long")).alias(
        "__hour"
    )
    return (
        lat.groupBy(hour)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("is_late").cast("long")).alias("n_late"),
            F.max("late_us").alias("max_late_us"),
        )
        .select(
            F.timestamp_micros(F.col("__hour") * 3600 * MICROS).alias(
                "hour_start"
            ),
            "n_events",
            "n_late",
            "max_late_us",
        )
    )


def jittered_arrival_us(
    ts_col: str, id_col: str, max_jitter_s: int
) -> Column:
    """A deterministic synthetic ARRIVAL stamp for logs whose stored
    order is already perfectly event-time sorted (this corpus's events
    table): event time plus an md5-derived jitter in
    ``[−max_jitter_s, +max_jitter_s)`` seconds, in micros. Models
    network/collector disorder; a pure function of the row, so any
    engine replays it bit-identically."""
    jitter = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % F.lit(2 * max_jitter_s * MICROS)
    ) - F.lit(max_jitter_s * MICROS)
    return F.unix_micros(F.col(ts_col)) + jitter
