"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship query (Q3 shape — 3-way star join + two-level
  aggregation + argmax, the reference's only benchmarked query) at sf0.001.
- ``queries()``: every implemented operator from SURVEY.md §2 + extensions,
  as ``(spark, sf_dir) -> DataFrame`` builders.
- ``oracle_sql()``: matching DuckDB SQL for each oracle-expressible query.

The real inventory lives in ``pinterest_data_pipeline_spark.plans.registry``;
importing the plan modules below populates it.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing these modules registers their queries into the shared registry,
# in this order. The imports are unconditional: a module that fails to import
# must fail the driver, not silently drop its queries.
import pinterest_data_pipeline_spark.plans.analog_queries  # noqa: F401
import pinterest_data_pipeline_spark.plans.relational_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.training_data  # noqa: F401
import pinterest_data_pipeline_spark.plans.streaming_queries  # noqa: F401
import pinterest_data_pipeline_spark.plans.advanced_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.maintenance_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.subquery_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.nonequi_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.recursive_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.timeseries_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.graph_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.profiling_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.semistructured_ops  # noqa: F401
import pinterest_data_pipeline_spark.plans.round5_promotions  # noqa: F401
import pinterest_data_pipeline_spark.plans.pinterest_driver  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round6  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round7  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round8  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round9  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round10  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round11  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round12  # noqa: F401
import pinterest_data_pipeline_spark.plans.staged_round13  # noqa: F401
from pinterest_data_pipeline_spark.plans.registry import (
    ORACLE,
    ordered_queries,
)


SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pinterest_data_pipeline_spark.plans.analog_queries import (
        q3a_top_customer_per_nation,
    )

    return q3a_top_customer_per_nation(spark, SMOKE_SF_DIR)


@functools.cache
def _ordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # the driver's CORRECTNESS_r<N>.json files sit beside this file
    return ordered_queries(os.path.dirname(os.path.abspath(__file__)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver-check
    order: the driver verifies only a prefix of 50, so the order is
    computed from its committed CORRECTNESS rows (registry.ordered_queries)
    — queries with no row or a red one lead, then those changed since
    their last green row (registry.RECHECK), then the oldest evidence."""
    return dict(_ordered())


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys → rows-only check."""
    return dict(ORACLE)
