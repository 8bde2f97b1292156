"""Non-equi (range) join via bin-keyed equi-join expansion.

Joining a fact value into ``[lo, hi)`` interval bands is a non-equi join:
Spark's only native plans for an arbitrary ``v >= lo AND v < hi``
predicate are BroadcastNestedLoopJoin (every fact row tested against
every band) or, without a broadcastable side, a cartesian product —
both unusable when the fact side is 100 TB and the band list is large.

The standard fix (used by range-join optimizations in Databricks SQL and
Flink's interval joins — public docs): pick a bin width, explode each
band into the integer bins it overlaps, key facts by ``floor(v/width)``,
equi-join on the bin, and re-check the exact predicate as a residual
filter. The non-equi join becomes a hash join whose expansion factor is
``≈ band_width / bin_width + 1`` rows per band — bounded, chosen, and on
the SMALL side only. Fact rows are never replicated and the fact-side
bin key is a map-side expression (no extra shuffle beyond the join's
own; none at all when the exploded bands broadcast).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BIN_COL = "__range_bin"


def explode_bands_to_bins(
    bands: DataFrame, lo_col: str, hi_col: str, bin_width: float
) -> DataFrame:
    """Replicate each ``[lo, hi)`` band row onto every integer bin of
    ``bin_width`` it overlaps. Upper bin is ``ceil(hi/w) - 1``: exact when
    ``hi`` is bin-aligned (interval is half-open) and equal to
    ``floor(hi/w)`` otherwise."""
    lo_bin = F.floor(F.col(lo_col) / F.lit(bin_width))
    hi_bin = F.ceil(F.col(hi_col) / F.lit(bin_width)) - F.lit(1)
    return bands.withColumn(BIN_COL, F.explode(F.sequence(lo_bin, hi_bin)))


def bin_value(value: Column, bin_width: float) -> Column:
    return F.floor(value / F.lit(bin_width))


def range_join_bands(
    facts: DataFrame,
    value_col: str,
    bands: DataFrame,
) -> DataFrame:
    """Join each fact row to the band(s) whose ``[lo, hi)`` interval
    contains ``value_col``, as a bin-keyed equi-join (bins 1000 wide) +
    residual filter.

    ``bands`` is expected to be small (it is exploded ×overlap and
    broadcast); ``facts`` can be arbitrarily large. With non-overlapping
    bands each fact row matches at most one band."""
    bin_width = 1000.0
    binned_bands = explode_bands_to_bins(bands, "lo", "hi", bin_width)
    keyed = facts.withColumn(BIN_COL, bin_value(F.col(value_col), bin_width))
    residual = (F.col(value_col) >= F.col("lo")) & (
        F.col(value_col) < F.col("hi")
    )
    return (
        keyed.join(F.broadcast(binned_bands), on=BIN_COL, how="inner")
        .filter(residual)
        .drop(BIN_COL)
    )
