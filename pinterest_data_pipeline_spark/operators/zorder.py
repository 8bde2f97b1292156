"""Z-order (Morton curve) data layout and its pruning payoff —
measured, not asserted. At 100 TB the cheapest query is the one that
never reads a file: zone maps (per-file min/max) prune scans, but they
only prune on columns correlated with the LAYOUT. Sorting by column A
makes A-predicates cheap and B-predicates useless; interleaving the
BITS of A and B (the Morton/Z curve — the layout behind Delta's
OPTIMIZE ZORDER and equivalents) makes every file's min/max box tight
in BOTH dimensions at once.

This module builds the curve and REPORTS the payoff as a number: the
fraction of layout buckets ("files") a 2-D range predicate must read
under (a) insertion order, (b) single-column sort, (c) z-order.

Exactness discipline: dimensions quantize to 8-bit integers via pure
integer arithmetic from broadcast min/max (no percentile windows), the
Morton key assembles from (d div 2^b) % 2 terms — multiplication and
integer division only, so both engines compute identical keys without
touching engine-specific bit operators; bucket assignment is an ntile
over the respective order; every reported number is an integer count
or one ppm floor-division.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BITS = 8  # per dimension; 2 dims -> 16-bit Morton keys


def morton_key(d1: Column, d2: Column) -> Column:
    """Interleave the low ``BITS`` of two quantized dimensions into one
    Morton key: bit b of d1 lands at position 2b+1, bit b of d2 at 2b.
    Built from (d div 2^b) % 2 and multiplication — no engine bit
    operators, so a SQL oracle replays the identical integers."""
    terms = None
    for b in range(BITS):
        t1 = ((d1 / F.lit(2**b)).cast("bigint") % 2) * F.lit(
            2 ** (2 * b + 1)
        )
        t2 = ((d2 / F.lit(2**b)).cast("bigint") % 2) * F.lit(2 ** (2 * b))
        part = t1 + t2
        terms = part if terms is None else terms + part
    return terms.cast("bigint")


def zorder_pruning_report(
    df: DataFrame,
    id_col: str,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """One row per layout strategy — ``insertion`` (order by id),
    ``sort_a`` (order by col_a), ``zorder`` (Morton of both) — scoring
    the same 2-D range predicate (the middle quarter of each
    dimension's quantized range):

        (layout, n_buckets, buckets_read, rows_read, read_ppm)

    ``buckets_read`` counts buckets whose per-bucket min/max box
    intersects the predicate box — exactly the files a zone-map scan
    cannot skip; ``read_ppm`` is the floor-divided fraction of rows
    those buckets hold. Expected shape: insertion reads ~everything,
    sort_a prunes dimension A only, zorder prunes both (the report the
    judge of a layout change wants BEFORE rewriting 100 TB).

    Scale: min/max are one broadcast aggregate; the quantized dims and
    Morton key are per-row integer expressions in codegen; each layout
    is one ntile window (at production scale the writer uses
    repartitionByRange on the same key — the ntile here makes the
    REPORT deterministic and engine-replayable); the boxes are one
    grouped min/max per layout over 64 groups."""
    # the middle quarter of the 256-step quantized grid
    lo, hi = 96, 159
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(col_a).cast("bigint").alias("__a"),
        F.col(col_b).cast("bigint").alias("__b"),
    )
    mm = base.agg(
        F.min("__a").alias("__a_min"),
        F.max("__a").alias("__a_max"),
        F.min("__b").alias("__b_min"),
        F.max("__b").alias("__b_max"),
    )
    q = base.crossJoin(F.broadcast(mm)).select(
        "__id",
        F.expr("((__a - __a_min) * 256) div (__a_max - __a_min + 1)")
        .cast("bigint")
        .alias("__da"),
        F.expr("((__b - __b_min) * 256) div (__b_max - __b_min + 1)")
        .cast("bigint")
        .alias("__db"),
    )
    q = q.withColumn(
        "__z", morton_key(F.col("__da"), F.col("__db"))
    ).localCheckpoint(eager=False)
    layouts = {
        "insertion": [F.col("__id").asc()],
        "sort_a": [F.col("__da").asc(), F.col("__id").asc()],
        "zorder": [F.col("__z").asc(), F.col("__id").asc()],
    }
    out = None
    for name, order in layouts.items():
        bucketed = q.withColumn(
            "__bucket", F.ntile(64).over(Window.orderBy(*order))
        )
        boxes = bucketed.groupBy("__bucket").agg(
            F.count(F.lit(1)).cast("bigint").alias("__rows"),
            F.min("__da").alias("__a_lo"),
            F.max("__da").alias("__a_hi"),
            F.min("__db").alias("__b_lo"),
            F.max("__db").alias("__b_hi"),
        )
        hit = (
            (F.col("__a_hi") >= lo)
            & (F.col("__a_lo") <= hi)
            & (F.col("__b_hi") >= lo)
            & (F.col("__b_lo") <= hi)
        )
        row = boxes.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("bigint")
            .alias("buckets_read"),
            F.sum(F.when(hit, F.col("__rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_read"),
            F.sum("__rows").cast("bigint").alias("__total"),
        ).select(
            F.lit(name).alias("layout"),
            "n_buckets",
            "buckets_read",
            "rows_read",
            F.expr("(1000000 * rows_read) div __total")
            .cast("bigint")
            .alias("read_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("layout")
