"""k-core peeling (Seidman 1983) — the graph-density profile that
complements this engine's other graph fixed-points: connected
components give reachability, LPA gives label communities, PageRank /
HITS give importance; the k-core says WHICH PART of the graph is
structurally dense enough to trust (a node in the k-core has ≥ k
neighbors who each have ≥ k neighbors, recursively — the standard
"spam-resistant engagement tier" cut).

Peeling is the textbook fixed-point: repeatedly delete every node of
degree < k (with its edges) until stable. As with the engine's other
iterative operators the round count is FIXED, not convergence-tested,
so the DuckDB oracle replays the trajectory as unrolled CTEs
(the pagerank / power-iteration / LPA precedent), and the profile of
(nodes, edges) after every round is itself the useful observable —
how fast the graph collapses under the k threshold.

Scale: per round ONE degree aggregate (map-side combinable) and two
broadcast-or-shuffled semi joins keyed by node; the edge relation
localCheckpoints per round so round r+1's lineage does not replay
rounds 1..r. Everything is exact integer counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def k_core_peel_profile(edges: DataFrame, k: int) -> DataFrame:
    """(peel_round, n_nodes, n_edges) after 0..3 peels of nodes with
    degree < ``k``.

    ``edges`` holds DIRECTED rows (src, dst), both directions for an
    undirected graph — so a node's degree is its count as ``src`` and
    ``n_edges`` reports undirected pairs (directed rows ÷ 2)."""
    if k < 1:
        raise ValueError(f"peel rounds need k >= 1, got {k}")
    rounds = 3
    profiles = []
    cur = edges.select("src", "dst")
    for r in range(rounds + 1):
        profiles.append(
            cur.agg(
                F.lit(r).alias("peel_round"),
                F.count_distinct(F.col("src")).cast("bigint").alias(
                    "n_nodes"
                ),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            )
        )
        if r < rounds:
            keep = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("__d"))
                .where(F.col("__d") >= k)
                .select(F.col("src").alias("node"))
            )
            cur = (
                cur.join(
                    keep.withColumnRenamed("node", "src"),
                    "src",
                    "left_semi",
                )
                .join(
                    keep.withColumnRenamed("node", "dst"),
                    "dst",
                    "left_semi",
                )
                .select("src", "dst")
                # eager=False: lineage still truncates per round; the
                # materializing job folds into the next round's action
                .localCheckpoint(eager=False)
            )
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionAll(p)
    return out
