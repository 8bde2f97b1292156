"""Synchronous label propagation (LPA, Raghavan et al. 2007) — the
linear-time community detector that complements this engine's other
graph fixed-points: PageRank ranks nodes, HITS scores bipartite roles,
connected components find REACHABILITY islands; LPA finds DENSITY
communities inside a connected component (a single giant component —
this corpus's supplier↔part graph — is one CC but many purchasing
communities).

Determinism discipline (vanilla LPA is notoriously run-dependent):

- SYNCHRONOUS rounds — every node updates from the previous round's
  labels, so no intra-round ordering exists to be nondeterministic;
- the vote includes the node's OWN current label (self-vote), the
  standard damping that prevents the 2-cycle oscillation synchronous
  LPA exhibits on bipartite graphs;
- ties break by the SMALLEST label — argmax(count DESC, label ASC)
  via one partial-combinable deterministic ``mode(label)`` per node;
- labels are the node ids, a total order any engine shares.

A FIXED iteration count (not convergence detection) keeps the oracle
an unrolled SQL replay — the pagerank/power-iteration precedent.

Scale: one setup barrier — the edges plus one self-loop per node (the
self-vote), localCheckpointed — then per round one (edge ⋈ label) join
on the destination key + one map-side-combinable vote aggregation keyed
by source. Round 1 needs no join (every initial label is the node id,
so its votes are the edges themselves), and each later round reads the
previous labels once, so the plan grows linearly in rounds with no
per-round barrier: under AQE even a lazy barrier runs its upstream
shuffle stages while the plan is built, one driver round each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Final (node, label) after ``iterations`` synchronous LPA rounds.

    ``edges`` holds DIRECTED rows (src, dst) with node ids of any
    orderable type — pass both directions for an undirected graph.
    Initial label = node id; every round each node adopts the most
    frequent label among its neighbors plus itself, smallest label on
    ties. A NULL id is one node, as in SQL GROUP BY; an edge into NULL
    casts no vote."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # The self-vote is a self-loop edge per node, UNION ALL so an input
    # self-loop still votes twice. Materialize the voting edges ONCE
    # (the duplicate_clusters recipe, guide §2.4/§3.3): without the
    # barrier the caller's upstream edge pipeline re-executes in every
    # round's lineage (measured: 5 executions of an |lineitem|
    # aggregation per lpa_purchasing_communities run). No repartition
    # before it: under AQE the checkpointed relation reports
    # UnknownPartitioning whatever layout it was written in, so a
    # repartition would only add a shuffle job at construction time. Each
    # round's join exchanges the edges, but the rounds' edge exchanges are
    # identical, and the action runs that |E| shuffle once and reuses it
    # in later rounds (pinned by test). Vote counts and the mode are exact
    # ops, so partitioning cannot move a bit.
    #
    # A NULL id is a node too (SQL GROUP BY semantics, as in the
    # oracle), so the join is null-safe; that re-exchanges the |V|
    # labels on the null-safe keys each round, which a plain join on a
    # node-partitioned aggregate would not. An input edge INTO NULL
    # never votes; the ``self`` flag tells it from NULL's self-loop after
    # the barrier (filtering before it would split the upstream plan in
    # two).
    dst = F.col("dst")
    voting = edges.select("src", "dst", F.lit(False).alias("self")).unionAll(
        nodes.select(
            F.col("node").alias("src"), F.col("node").alias("dst"), F.lit(True)
        )
    )
    edges = voting.localCheckpoint(eager=False).where(
        dst.isNotNull() | F.col("self")
    )
    # round 1: every label is still the node id, so a vote is its edge
    labels = _adopt_top_vote(
        edges.select(F.col("src").alias("node"), dst.alias("label"))
    )
    for _ in range(iterations - 1):
        labels = _adopt_top_vote(
            edges.join(labels, edges["dst"].eqNullSafe(labels["node"])).select(
                F.col("src").alias("node"), "label"
            )
        )
    return labels


def _adopt_top_vote(votes: DataFrame) -> DataFrame:
    """(node, label) votes → each node's most frequent label, smallest
    label on ties: one aggregation, since the deterministic ``mode``
    breaks ties to the lowest value.

    ``mode`` skips NULL labels, where a NULLS-LAST tie rule would count
    them and let them lose ties; both agree because a NULL label only
    ever gets one vote. Only the NULL node starts with it, and a node
    with a non-NULL label keeps one: its self-vote is non-NULL and its
    edges lead to non-NULL nodes (edges into NULL cast no vote), whose
    labels are non-NULL by the same argument. So the one NULL vote is
    the NULL node's self-loop, and it wins only when it is the node's
    only vote, where ``mode`` returns NULL too."""
    return votes.groupBy("node").agg(F.mode("label", True).alias("label"))


def community_sizes(edges: DataFrame) -> DataFrame:
    """LPA community histogram: (community, n_nodes), community = the
    label after 3 rounds."""
    return (
        label_propagation(edges)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
