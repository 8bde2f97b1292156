"""Non-equi join queries (interval/band membership at scale).

The oracle states the naive non-equi join; the engine side runs the
bin-keyed expansion (`operators/range_join.py`) that turns it into a
broadcast hash join — `tests/test_plan_quality.py` asserts no
BroadcastNestedLoopJoin survives in the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.range_join import range_join_bands
from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table

# Irregular, bin-unaligned balance bands: the point of the generic
# operator is that band edges need NOT align with the bin width (1000).
ACCTBAL_BANDS: list[tuple[str, float, float]] = [
    ("negative", -1000.0, 0.0),
    ("low", 0.0, 1500.0),
    ("mid", 1500.0, 4200.0),
    ("high", 4200.0, 7700.0),
    ("top", 7700.0, 10000.0),
]


@register(
    "range_join_acctbal_bands",
    oracle="""
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_acctbal
    FROM customer
    JOIN (VALUES ('negative', -1000.0, 0.0),
                 ('low', 0.0, 1500.0),
                 ('mid', 1500.0, 4200.0),
                 ('high', 4200.0, 7700.0),
                 ('top', 7700.0, 10000.0)) AS bands(band, lo, hi)
      ON c_acctbal >= lo AND c_acctbal < hi
    GROUP BY band ORDER BY band
    """,
)
def range_join_acctbal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band customers by account balance through the generic range join:
    the oracle's `BETWEEN`-style theta join is executed as a bin-keyed
    broadcast hash join with a residual filter — the plan a 100 TB fact
    side needs (a nested-loop over 5 bands is survivable; over 10k
    pricing tiers it is not; the expansion is identical either way)."""
    cust = load_table(spark, sf_dir, "customer")
    bands = spark.createDataFrame(ACCTBAL_BANDS, "band string, lo double, hi double")
    return (
        range_join_bands(cust, "c_acctbal", bands)
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
        .orderBy("band")
    )
