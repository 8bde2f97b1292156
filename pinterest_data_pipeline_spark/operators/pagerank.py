"""Fixed-point PageRank over an edge DataFrame.

Why integer fixed-point: the driver (and any cross-engine check) value-
hashes results, and floating-point PageRank is order-of-summation
dependent — a shuffle-order change flips low bits. Ranks here are BIGINT
micro-units (1.0 == 1_000_000): every contribution is ``rank div outdeg``
and every damping step is ``150_000 + (85 * inflow) div 100``, both exact
integer ops whose sums are order-independent. The result is a legitimate
quantized PageRank (error vs. exact ≤ outdeg micro-units per node per
iteration) that is reproducible across engines, retries, and partition
counts — the property a 100 TB run actually needs.

Scale design (the Pregel-on-DataFrames shape):
- The edge list is the big relation; it is shuffled ONCE by ``src`` when
  joined to ranks each iteration, and the per-node inflow aggregation
  shuffles by ``dst``. Ranks are |V| rows — orders of magnitude smaller
  than |E| — so each iteration is one |E|-sized hash join + one |E|-sized
  partial-aggregated shuffle, the minimum for message passing.
- Lineage is truncated per iteration with ``localCheckpoint`` (the same
  discipline as operators/clustering.py): without it the plan doubles per
  iteration and Catalyst optimization time grows exponentially.
- Dangling nodes (outdeg 0) cannot occur when the caller symmetrizes the
  edge list (every node then has outdeg ≥ 1); the builder below does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def symmetric_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of an undirected edge list. Callers must pass
    DISTINCT pairs; no dedup happens here — when the two endpoint key
    spaces are disjoint (e.g. 's#…' vs 'p#…' ids), the forward and
    reverse sets cannot overlap, so a post-union distinct would only
    re-shuffle 2|E| rows to remove nothing."""
    fwd = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = pairs.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev)


def pagerank_fixed_point(edges: DataFrame) -> DataFrame:
    """Run 3 iterations of integer fixed-point PageRank (damping 0.85)
    over a directed edge DataFrame with columns (src, dst).

    Returns (node, rank_micro): rank in micro-units, starting mass
    ``MICRO`` per node. Deterministic: all arithmetic is BIGINT.
    """
    # Materialize edges+outdegree once: every iteration reads this twice
    # (join side and node universe) and the upstream distinct/union must
    # not re-run per iteration. The node universe is likewise computed
    # and checkpointed ONCE — recomputing the distinct per iteration
    # would add a full |E| shuffle to every round's lineage.
    # eager=False everywhere below: the checkpoint still truncates
    # lineage and caches on first compute, but the materializing count
    # job per call disappears — each round's shuffle work flows into the
    # next round's (or the caller's) action instead of paying a driver-
    # synchronized job per checkpoint (guide §2.4: the round floor, not
    # data volume, dominated these queries at 8-vs-32 cores).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = edges.join(deg, "src").localCheckpoint(eager=False)
    # node universe = src ∪ dst: on a general directed edge list a pure
    # SINK node appears only as dst — building the universe from sources
    # alone would silently drop it (and its inflow mass). On symmetrized
    # input the union dedups to the same set, so this is strictly safer.
    nodes = (
        ew.select(F.col("src").alias("node"))
        .unionByName(ew.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    ranks = nodes.withColumn("rank_micro", F.lit(MICRO).cast("bigint"))
    iterations = 3
    for i in range(iterations):
        contrib = ew.join(
            ranks, ew["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank_micro div outdeg").alias("c"),
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            F.expr(
                "cast(150000 + (85 * coalesce(inflow, 0)) div 100 as bigint)"
            ).alias("rank_micro"),
        )
        # truncate lineage between rounds, but not after the last one —
        # the caller's action materializes the final round itself
        if i < iterations - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def hits_bipartite(
    edges: DataFrame,
    iterations: int = 2,
) -> DataFrame:
    """HITS (Kleinberg'99) hub/authority scores on a bipartite edge
    relation, in the integer fixed-point discipline of
    ``pagerank_fixed_point`` and the spectral power iteration: hubs
    start at 1000; each iteration sums hub scores into authority
    scores and back, renormalizing each side by its max with
    truncating integer division (``(raw·1000) // max``) — every value
    every round is an exact integer, so an unrolled SQL oracle replays
    the whole trajectory. Mutual reinforcement in one pass: the best
    parts are those sourced by the best suppliers, and vice versa —
    PageRank's endorsement flow specialized to two-sided markets.

    Returns (kind, node, score_int): kind ∈ {'hub', 'authority'} with
    each side's final integer scores.

    Scale: per iteration, two hash joins keyed by the edge endpoints
    and two partial-combinable aggregates; the score relations are
    |hubs| / |auths| rows — no forced broadcast: AQE decides per run,
    so a 1e8-node side degrades to a shuffle join instead of OOMing
    the driver. The max is a 1-row broadcast, never a collect. Lineage
    truncates between rounds."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    ed = edges.select(
        F.col("hub").alias("__h"), F.col("auth").alias("__a")
    ).distinct()
    ed = ed.localCheckpoint(eager=False)
    h = ed.select("__h").distinct().withColumn(
        "__score", F.lit(1000).cast("bigint")
    )

    def renorm(df: DataFrame, key: str) -> DataFrame:
        m = df.agg(F.max("__raw").alias("__m"))
        return df.crossJoin(F.broadcast(m)).select(
            key,
            F.expr("cast((__raw * 1000) div __m as bigint)").alias(
                "__score"
            ),
        )

    a = None
    for i in range(iterations):
        a_raw = (
            ed.join(h, ed["__h"] == h["__h"])
            .groupBy(ed["__a"])
            .agg(F.sum("__score").alias("__raw"))
        )
        a = renorm(a_raw, "__a").localCheckpoint(eager=False)
        h_raw = (
            ed.join(a, ed["__a"] == a["__a"])
            .groupBy(ed["__h"])
            .agg(F.sum("__score").alias("__raw"))
        )
        h = renorm(h_raw, "__h")
        if i < iterations - 1:
            h = h.localCheckpoint(eager=False)
    return h.select(
        F.lit("hub").alias("kind"),
        F.col("__h").alias("node"),
        F.col("__score").alias("score_int"),
    ).unionByName(
        a.select(
            F.lit("authority").alias("kind"),
            F.col("__a").alias("node"),
            F.col("__score").alias("score_int"),
        )
    )


def degree_assortativity(pairs: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the undirected
    graph given as one row per edge — the mixing diagnostic the graph
    family lacks: k-core finds the dense tier, PageRank/HITS rank
    importance, LPA finds communities; assortativity asks "do
    high-degree nodes attach to other hubs (r > 0, social-network
    shape) or to leaves (r < 0, hub-and-spoke / bipartite shape)?" —
    one number that predicts how the graph shatters under node loss.

    r is the Pearson correlation of (deg(u), deg(v)) over directed
    edge stubs (both orientations, the standard symmetrization), with
    every moment an exact bigint — degrees are integer counts — and
    one fixed rational-over-sqrt expression at the end, rounded to 6.

    Scale: one distinct on the pair list, one degree aggregate, two
    hash joins of edges⋈degrees, one global moment fold to a single
    row. No windows, no n² anywhere."""
    edges = symmetric_edges(pairs, a_col, b_col)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    stubs = (
        edges.join(deg.withColumnRenamed("src", "__u"),
                   F.col("src") == F.col("__u"))
        .select(F.col("dst"), F.col("deg").alias("du"))
        .join(
            deg.select(
                F.col("src").alias("__v"), F.col("deg").alias("dv")
            ),
            F.col("dst") == F.col("__v"),
        )
        .select("du", "dv")
    )
    m = F.count(F.lit(1)).cast("bigint")
    agg = stubs.agg(
        m.alias("m_stubs"),
        F.sum("du").cast("bigint").alias("__sx"),
        F.sum("dv").cast("bigint").alias("__sy"),
        F.sum(F.col("du") * F.col("dv")).cast("bigint").alias("__sxy"),
        F.sum(F.col("du") * F.col("du")).cast("bigint").alias("__sxx"),
        F.sum(F.col("dv") * F.col("dv")).cast("bigint").alias("__syy"),
    )
    md = F.col("m_stubs").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx, syy = F.col("__sxx").cast("double"), F.col("__syy").cast("double")
    return agg.select(
        "m_stubs",
        F.round(
            (md * sxy - sx * sy)
            / (
                F.sqrt(md * sxx - sx * sx)
                * F.sqrt(md * syy - sy * sy)
            ),
            6,
        ).alias("assortativity_r6"),
    )
