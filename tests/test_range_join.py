"""Edge semantics of the bin-keyed range join (operators/range_join.py):
half-open boundaries, negative values, bands narrower/wider than a bin,
and overlapping bands — against a naive non-equi join on the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.range_join import (
    explode_bands_to_bins,
    range_join_bands,
)

BANDS = [
    ("neg", -2500.0, -300.0),      # spans negative bins
    ("tiny", -300.0, -299.5),      # far narrower than a bin
    ("lowwide", 0.0, 3500.0),      # spans 4 bins, unaligned end
    ("overlap", 3000.0, 5000.0),   # overlaps lowwide on [3000, 3500)
    ("edge", 5000.0, 6000.0),      # exactly bin-aligned
]
VALUES = [-2500.0, -300.0, -299.7, -299.5, 0.0, 2999.99, 3000.0, 3499.9,
          3500.0, 4999.99, 5000.0, 5999.99, 6000.0, 7000.0]


def _naive(spark):
    facts = spark.createDataFrame([(v,) for v in VALUES], "v double")
    bands = spark.createDataFrame(BANDS, "band string, lo double, hi double")
    return {
        (r["v"], r["band"])
        for r in facts.join(
            bands, (F.col("v") >= F.col("lo")) & (F.col("v") < F.col("hi"))
        ).collect()
    }


def test_range_join_matches_naive_nonequi_join(spark):
    facts = spark.createDataFrame([(v,) for v in VALUES], "v double")
    bands = spark.createDataFrame(BANDS, "band string, lo double, hi double")
    got = {
        (r["v"], r["band"])
        for r in range_join_bands(facts, "v", bands).collect()
    }
    assert got == _naive(spark)


def test_range_join_half_open_boundaries(spark):
    facts = spark.createDataFrame([(v,) for v in VALUES], "v double")
    bands = spark.createDataFrame(BANDS, "band string, lo double, hi double")
    got = {
        (r["v"], r["band"])
        for r in range_join_bands(facts, "v", bands).collect()
    }
    assert (5000.0, "edge") in got       # lo inclusive
    assert (5000.0, "overlap") not in got  # hi exclusive
    assert (6000.0, "edge") not in got
    assert (-300.0, "tiny") in got
    assert (-300.0, "neg") not in got
    # overlapping bands both match
    assert (3000.0, "lowwide") in got and (3000.0, "overlap") in got
    # outside every band
    assert all(v != 7000.0 for v, _ in got)


def test_band_bin_expansion_is_bounded(spark):
    bands = spark.createDataFrame(BANDS, "band string, lo double, hi double")
    exploded = explode_bands_to_bins(bands, "lo", "hi", 1000.0).collect()
    per_band: dict[str, int] = {}
    for r in exploded:
        per_band[r["band"]] = per_band.get(r["band"], 0) + 1
    # width/bin_width + 1 bound holds for every band
    for band, lo, hi in BANDS:
        assert per_band[band] <= int((hi - lo) / 1000.0) + 1
