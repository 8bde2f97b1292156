"""File-level data skipping over plain parquet: min/max manifests.

Parquet footers already carry per-column min/max, and engines with a
table format (Delta/Iceberg) prune files from transaction-log stats. On
plain parquet directories Spark only prunes *row groups* after opening
each file — at 100 TB with millions of files, just opening footers is a
planning-time bottleneck. This operator maintains the stats table
explicitly: one tiny manifest DataFrame (file → min/max per indexed
column), built once per ingest with a single distributed scan, then any
range predicate prunes to the matching file list and the query reads
ONLY those paths.

This is the poor-man's table format: manifest build is O(data) once,
every later query is O(manifest) planning + O(selected files) reading.
Works best when the layout correlates with the indexed column (e.g.
files written sorted/range-partitioned on it — `repartitionByRange` +
`sortWithinPartitions` at write time, as `sources/sinks.py` does for
date partitions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def build_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """One distributed scan → per-file min/max for each indexed column.

    Output schema: (file, n_rows, <c>_min, <c>_max ...). The manifest is
    tiny (one row per file) — collect it, broadcast it, or store it next
    to the data and maintain it incrementally per ingest batch (union new
    files' rows; `input_file_name` keys make that idempotent)."""
    df = spark.read.parquet(path)
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        df.withColumn("file", F.input_file_name())
        .groupBy("file")
        .agg(*aggs)
    )


def prune_files(
    manifest: DataFrame, col: str, lo, hi
) -> list[str]:
    """Files whose [min, max] range can contain a value in [lo, hi] —
    everything else is provably irrelevant and never opened."""
    hit = manifest.filter(
        (F.col(f"{col}_max") >= F.lit(lo)) & (F.col(f"{col}_min") <= F.lit(hi))
    )
    return [r["file"] for r in hit.select("file").collect()]


def read_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Range query through the manifest: read only surviving files, then
    apply the exact predicate (file granularity is a superset)."""
    files = prune_files(manifest, col, lo, hi)
    if not files:
        # fully pruned: empty result with the data's schema (read any one
        # known file, keep no rows — touches a single footer)
        any_file = [r["file"] for r in manifest.select("file").limit(1).collect()]
        if not any_file:
            raise ValueError("empty manifest — no schema source")
        return spark.read.parquet(any_file[0]).filter(F.lit(False))
    return (
        spark.read.parquet(*files)
        .filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    )


# --- Multi-dimensional clustering (Z-order / Morton curve) ---------------
#
# A single-column sorted layout makes the manifest razor-sharp on that
# column and USELESS on every other: each file spans the full range of the
# unsorted columns, so no file is ever provably irrelevant. Z-ordering
# interleaves the bits of several rank-bucketized columns into one sort
# key, so files cover small HYPER-RECTANGLES of the combined space and a
# predicate on ANY indexed column (or any conjunction) prunes files. This
# is the same layout trick Delta's OPTIMIZE ZORDER BY applies; here it is
# a plain repartitionByRange+sort over an engine-computed key, so it works
# on bare parquet at any scale (the z key is pure codegen arithmetic).


def bucketize_long(col_name: str, lo: int, hi: int, n_buckets: int) -> Column:
    """Map a BIGINT-castable column in [lo, hi] to an integer bucket id in
    [0, n_buckets): ``((v - lo) * n) div (hi - lo + 1)``. Pure integer
    arithmetic — exact and engine-portable (no float-boundary drift, no
    2^53 double-precision cliff), and for v in range the result needs no
    clamping. SQL ``div`` because the Column API has no integer division."""
    span = int(hi) - int(lo) + 1
    return F.expr(
        f"((CAST(`{col_name}` AS BIGINT) - {int(lo)}L) * {int(n_buckets)}L)"
        f" div {span}L"
    )


def zorder_value(bucket_cols: list[Column], bits: int) -> Column:
    """Morton-interleave ``bits`` bits of each bucket id: bit ``b`` of
    column ``i`` lands at position ``b * k + i`` (k = number of columns).
    k * bits <= 63 keeps the key in one BIGINT; the whole expression is
    JVM-side bit arithmetic inside whole-stage codegen."""
    k = len(bucket_cols)
    if k * bits > 63:
        raise ValueError(f"z key needs {k * bits} bits; max 63")
    z = F.lit(0).cast("bigint")
    for i, c in enumerate(bucket_cols):
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1)), b * k + i
            ).cast("bigint")
    return z


def zorder_layout(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cluster ``df`` into 16 files on the Z-curve of ``cols``
    (BIGINT-castable, 8 bits each): one stats scan collects per-column
    min/max (2*k scalars of driver-side metadata, like the IVF
    codebook), then the z key is computed row-wise and the frame is
    range-partitioned + sorted on it. Writing the result
    yields files whose per-column [min, max] spans are hyper-rectangle
    sized, so ``build_manifest`` prunes on every indexed column.

    Partitioning detail that decides pruning quality: files must align
    with Morton BLOCK boundaries. Range-partitioning on raw z samples
    quantiles, so file boundaries land mid-block and every file straddles
    two hyper-rectangles (measured: a 5%-wide 1-D band kept 9/16 files).
    Partitioning on the top log2(16) bits of z — the
    aligned block id — makes each file one rectangle (same band: ≤4/16
    files). Cost at scale is unchanged: the stats scan + one range
    shuffle, identical shape to the single-column sorted layout it
    replaces; only the sort KEY is smarter."""
    bits, n_partitions = 8, 16
    aggs: list[Column] = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("bigint")).alias(f"{c}_lo"),
            F.max(F.col(c).cast("bigint")).alias(f"{c}_hi"),
        ]
    stats = df.agg(*aggs).collect()[0]
    n_buckets = 1 << bits
    buckets = [
        bucketize_long(c, int(stats[f"{c}_lo"]), int(stats[f"{c}_hi"]), n_buckets)
        for c in cols
    ]
    z = zorder_value(buckets, bits)
    block_bits = max(0, len(cols) * bits - (n_partitions - 1).bit_length())
    block = F.shiftright(z, block_bits).alias("_zblock")
    return (
        df.withColumn("_z", z)
        .withColumn("_zblock", block)
        .repartitionByRange(n_partitions, "_zblock")
        .sortWithinPartitions("_z")
        .drop("_z", "_zblock")
    )
