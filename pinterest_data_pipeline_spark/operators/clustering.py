"""Iterative DataFrame algorithms: k-means codebooks and duplicate
clusters (connected components).

These are the engine's "genuinely iterative" operators (SURVEY.md §5 /
driver contract: non-SQL-expressible, checked rows-only + unit tests).
Both are expressed as a small, FIXED number of DataFrame iterations —
each iteration is one shuffle — with deterministic initialization, so
repeated runs produce identical results.

Scale notes:
- k-means: `train_codebooks` is the one Lloyd trainer. It trains one
  codebook per vector column in the same pass (IVF's coarse codebook is
  one column, product quantization's subspaces are m), so the corpus is
  scanned once per iteration whatever the column count. Centroids live
  driver-side (k × dim doubles — tiny) and are inlined into the
  assignment expression each iteration; the centroid update is one
  map-side partial aggregation. No per-row Python.
- duplicate clusters: min-label propagation over the pair graph. Each
  iteration is a join + groupBy-min on the edge list (|pairs|, not
  |corpus|). Near-dup graphs are overwhelmingly tiny cliques, so a few
  iterations reach a fixpoint; ``iterations`` bounds worst-case chains.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _cents_sql(centroids: list[list[float]]) -> str:
    """The codebook as ONE SQL literal array of {c2, cv, i} structs.
    Float literals ride through CAST('repr' AS DOUBLE), which binds
    bit-identical doubles to what ``F.lit(float(x))`` binds."""
    return ", ".join(
        "named_struct('c2', CAST('{0!r}' AS DOUBLE), 'cv', array({1}),"
        " 'i', {2})".format(
            sum(float(x) * float(x) for x in cent),
            ", ".join(f"CAST('{float(x)!r}' AS DOUBLE)" for x in cent),
            c,
        )
        for c, cent in enumerate(centroids)
    )


def _affinity_structs_sql(vec_col: str, centroids: list[list[float]]) -> str:
    """SQL text of the per-centroid (affinity, cluster) struct array:
    ``transform`` over the literal codebook, affinity = c2 − 2·(fold of
    centroid·component products, seeded at 0.0, left-to-right). One
    string parsed by a single F.expr: the per-centroid
    Column form built k zip_with folds whose unrolled whole-stage
    codegen dominated every assignment-bearing query (measured
    kmeans_codebook 4.6 s → 2.7 s at sf0.1, k=8 × dim=64; the same
    compact form took pq_train_gate 30 s → 4 s). ``vec_col`` is
    backtick-quoted so dotted/spaced identifiers parse as one column
    (ADVICE r12)."""
    vec_col = "`" + vec_col.replace("`", "``") + "`"
    return (
        f"transform(array({_cents_sql(centroids)}), s -> named_struct("
        f"'d', s.c2 - CAST('2.0' AS DOUBLE) * aggregate("
        f"zip_with(s.cv, {vec_col}, (x, y) -> x * CAST(y AS DOUBLE)), "
        f"CAST('0.0' AS DOUBLE), (a, x) -> a + x), "
        f"'c', s.i))"
    )


def kmeans_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iterations: int = 3,
) -> list[list[float]]:
    """Train a small k-means codebook (for IVF partitioning).

    Deterministic: initial centroids are the k lowest-``id_col`` vectors;
    iteration count is fixed. Returns the centroids (driver-side list) —
    the codebook is metadata, not data, so driver-side is the right home.
    Raises ``ValueError`` on fewer than k rows (see `train_codebooks`).
    """
    from pinterest_data_pipeline_spark.operators.parallel import (
        _physical_plan,
        fan_out,
    )

    # every iteration re-runs the k×dim assignment expression over df;
    # fan out once so that work is parallel even off a single-row-group
    # scan (no-op on well-split inputs). Training touches only
    # (id, vector): project those two columns AFTER the fan-out exchange
    # (projecting first would change the round-robin sort-before-
    # repartition row order and with it the double-summation grouping of
    # the centroid update — the fold order must stay bit-identical) and
    # materialize them ONCE (lazy localCheckpoint — the init collect
    # runs the job) so the init pass and every Lloyd iteration read the
    # cached columns instead of re-running the scan + fan-out shuffle
    # per collect (actions do not share exchanges across jobs). Callers
    # that pass an already-checkpointed relation skip the second copy.
    work = fan_out(df).select(id_col, vec_col)
    if "ExistingRDD" not in _physical_plan(df):
        work = work.localCheckpoint(eager=False)
    return train_codebooks(work, [vec_col], id_col, k, iterations)[1][0]


def train_codebooks(
    work: DataFrame,
    vec_cols: list[str],
    id_col: str,
    k: int,
    iterations: int,
) -> tuple[list[list[list[float]]], list[list[list[float]]]]:
    """Lloyd's algorithm on every column of ``vec_cols`` at once: one
    k-centroid codebook per column, all columns of one dimension.
    Returns ``(init, trained)``, each a list of codebooks in
    ``vec_cols`` order.

    Deterministic: the init codebooks are the k lowest-``id_col`` rows'
    vectors, the iteration count is fixed, and an empty cluster keeps
    its centroid. Fewer than k rows raises ``ValueError``.

    Each iteration is ONE scan of ``work``: one select carrying every
    column's `codebook_argmin` (chained per-column selects re-analyze
    the growing plan each time — measured ~10 s of Spark-driver time
    at eight columns), exploded to (column i, cluster c, vector v)
    rows and reduced by one stacked ``groupBy(i, c)`` sum. Columns
    never mix, so a column trained with others gets the codebook, bit
    for bit, that it gets alone."""
    first = work.orderBy(id_col).limit(k).select(*vec_cols).collect()
    if len(first) < k:
        raise ValueError(
            f"codebook training needs at least k={k} vectors, got {len(first)}"
        )
    init = [[list(map(float, r[v])) for r in first] for v in vec_cols]
    dim = len(init[0][0])
    books = init
    for _ in range(iterations):
        assigned = [
            F.struct(
                F.lit(i).alias("i"),
                codebook_argmin(v, books[i]).getField("c").alias("c"),
                F.col(v).alias("v"),
            )
            for i, v in enumerate(vec_cols)
        ]
        stacked = work.select(
            F.explode(F.array(*assigned)).alias("s")
        ).select("s.i", "s.c", "s.v")
        sums = stacked.groupBy("i", "c").agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.get(F.col("v"), j).cast("double")).alias(f"s{j}")
                for j in range(dim)
            ],
        )
        rows = {(r["i"], r["c"]): r for r in sums.collect()}
        books = [
            [
                [rows[(i, c)][f"s{j}"] / rows[(i, c)]["n"] for j in range(dim)]
                if (i, c) in rows
                else book[c]  # empty cluster keeps its centroid
                for c in range(k)
            ]
            for i, book in enumerate(books)
        ]
    return init, books


def codebook_gate(
    work: DataFrame,
    vec_cols: list[str],
    id_col: str,
    k: int,
    iterations: int,
) -> DataFrame:
    """Train once (`train_codebooks`) and emit the one-row gate
    ``(n_vectors, objective_violations, range_violations)``.

    ``objective_violations`` counts columns whose trained-codebook
    assignment objective exceeds the init codebook's (Lloyd
    monotonicity). The objective is the summed winning affinity
    ``‖c‖² − 2v·c``: squared distance minus the codebook-independent
    Σ‖v‖², so the comparison is offset-exact; a 1e-6 relative
    tolerance absorbs shuffle-order float noise in the two sums (Lloyd
    improvements are orders of magnitude larger when any occur).
    ``range_violations`` counts assigned codes outside [0, k) over all
    columns. The audit is ONE aggregate over ``work``."""
    init, trained = train_codebooks(work, vec_cols, id_col, k, iterations)
    audit = []
    for i, v in enumerate(vec_cols):
        best = codebook_argmin(v, trained[i])
        code = best.getField("c")
        audit += [
            codebook_argmin(v, init[i]).getField("d").alias(f"__j0_{i}"),
            best.getField("d").alias(f"__j_{i}"),
            F.when(code.isNull() | (code < 0) | (code >= k), 1)
            .otherwise(0)
            .alias(f"__rv_{i}"),
        ]
    audited = work.select(*audit)
    row = audited.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        *[F.sum(c).alias(c) for c in audited.columns],
    )
    j0 = [F.col(f"__j0_{i}") for i in range(len(vec_cols))]
    j = [F.col(f"__j_{i}") for i in range(len(vec_cols))]
    rv = [F.col(f"__rv_{i}") for i in range(len(vec_cols))]
    return row.select(
        "n_vectors",
        sum(
            F.when(b > a + F.lit(1e-6) * (F.abs(a) + 1), 1).otherwise(0)
            for a, b in zip(j0, j)
        )
        .cast("bigint")
        .alias("objective_violations"),
        sum(rv).cast("bigint").alias("range_violations"),
    )


def assign_to_codebook(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``cluster`` = argmin distance to the codebook.

    Distance is ranked via the ``‖c‖² − 2v·c`` affinity (same argmin as
    squared distance, cheaper expression); the argmin is ``array_min``
    over (score, cluster) structs — struct ordering gives min-score with
    lowest-cluster-id tie-break, and the expression stays LINEAR in
    k×dim. (A chained ``when(d < best_d, ...)`` formulation embeds the
    running best twice per step — O(2^k) tree nodes; at k=8 that took
    minutes of driver-side planning for 500 rows.)"""
    return df.withColumn(
        "cluster", codebook_argmin(vec_col, centroids).getField("c")
    )


def codebook_argmin(vec_col: str, centroids: list[list[float]]) -> Column:
    """The bare argmin struct expression behind `assign_to_codebook`
    (fields: d = winning affinity, c = winning cluster id), for callers
    that attach several assignments in one select (`train_codebooks`,
    `codebook_gate`). Built as one compact F.expr over a literal
    codebook array — see `_affinity_structs_sql`."""
    return F.expr(f"array_min({_affinity_structs_sql(vec_col, centroids)})")


def duplicate_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-duplicate pairs via min-label
    propagation TO FIXPOINT: every document ends up labeled with the
    smallest id reachable in its component — the cluster's canonical
    (keep) document. Returns (doc_id, cluster_id).

    Each iteration: labels flow across edges (join) and each node keeps
    the minimum seen (groupBy-min). The loop runs until the fixpoint:
    sum(label) is monotonically non-increasing under min-propagation,
    integer, bounded below, and constant exactly at convergence, so one
    tiny aggregate over the checkpointed labels per step detects it —
    termination is guaranteed in ≤ diameter(G) propagation steps
    without any tuning knob, so a chain-shaped component of ANY
    diameter converges exactly like a recursive-CTE oracle does.
    Near-dup clusters are almost always ≤2 hops, so the typical run
    does 2-3 iterations."""
    from pyspark.sql import Observation

    # Materialize the pair relation FIRST: the symmetrizing union below
    # reads it twice, and without this barrier the whole upstream pair
    # pipeline (MinHash/LSH — seconds of work) evaluates once per branch
    # inside the edge job (measured: corpus_curation_full 45 s → 16 s at
    # sf0.1 from this one line). eager=False keeps the barrier (lineage
    # truncates, blocks cache on first compute; the block-manager lock
    # still guarantees each partition is computed once even with both
    # union branches racing) but folds the materialization job into the
    # seed round's job below — one driver round-trip instead of three.
    base = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=False)
    edges = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round 1 is a pure aggregate, not a propagation join: starting from
    # identity labels, one min-propagation step computes exactly
    # min(self, min over neighbors), i.e. groupBy(src).min(dst) floored
    # by src — the same relation the old identity-init loop produced
    # after its first (join + union + groupBy) round, at one shuffle
    # instead of three plan nodes reading an unmaterialized distinct
    # twice. Later rounds are unchanged, so the fixpoint is identical.
    # The fixpoint statistic rides on the SAME job that materializes each
    # round's labels (DataFrame.observe fires its aggregate during the
    # eager checkpoint's count action): one driver round-trip per
    # propagation round instead of two (checkpoint + separate sum
    # collect) — the CC family's dominant cost at sf0.1 was this
    # iteration-structure latency, not data volume (8-core/32-core bench
    # ratio ≤ 0.62 on every consumer).
    seed_obs = Observation()
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__nmin"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__nmin")).alias("label"),
        )
        .observe(seed_obs, F.sum("label").alias("s"))
        .localCheckpoint(eager=True)
    )
    prev_sum = seed_obs.get["s"]
    while True:
        # Each round is PATH DOUBLING. Every label value is itself a
        # node id of the same component (it is some reachable node's
        # id), so label(label(v)) is both reachable from v and ≤
        # label(v) — the label-of-label branch strictly dominates the
        # plain keep-own-label branch and REPLACES it: reach per
        # round goes from +1 hop to 2·h+1 hops, so a diameter-d chain
        # converges in O(log d) rounds instead of d (measured: the
        # simhash near-dup graph at sf0.1 has diameter ~13 → 14
        # propagation rounds ≈ 0.6 s each; doubling needs 5). The
        # fixpoint is unchanged: labels still only decrease, sum
        # detection still certifies a neighbor-min fixpoint, and at
        # that fixpoint labels are constant per component and equal
        # to the component minimum.
        # Both branches probe the SAME build relation (labels keyed
        # by node) — nbr is (src ← label of dst), hop2 is
        # (node ← label of label(node)) — and join distributes over
        # union, so ONE join over the unioned probe side replaces
        # the two joins the round previously ran: one probe exchange
        # of |E|+|V| narrow rows instead of two, one join stage
        # instead of two, same output multiset into the min.
        probe = edges.select(
            F.col("dst").alias("__k"), F.col("src").alias("node")
        ).unionByName(
            labels.select(
                F.col("label").alias("__k"), F.col("node").alias("node")
            )
        )
        build = labels.select(
            F.col("node").alias("__bk"), F.col("label").alias("label")
        )
        propagated = probe.join(
            build, probe["__k"] == build["__bk"]
        ).select("node", "label")
        # truncate lineage each step — without this the plan doubles per
        # iteration (labels appears twice per step) and optimization time
        # explodes exponentially with the round count
        round_obs = Observation()
        labels = (
            propagated.groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(round_obs, F.sum("label").alias("s"))
            .localCheckpoint(eager=True)
        )
        cur_sum = round_obs.get["s"]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def assign_probes(
    df: DataFrame,
    centroids: list[list[float]],
    nprobe: int = 2,
) -> DataFrame:
    """Attach the ``nprobe`` nearest codebook entries per row, exploded to
    one row per (row, probe partition) — the IVF multiprobe side.

    ``array_sort`` over (affinity, cluster) structs ranks all k centroids
    in one linear expression; only queries are exploded (nprobe ≤ k
    copies of the SMALL side), the corpus keeps its single top-1
    partition assignment. Candidates come from the same compact
    `_affinity_structs_sql` expression `codebook_argmin` uses (one
    F.expr parse, bit-identical affinities to the Column-fold form)."""
    candidates = F.expr(_affinity_structs_sql("embedding", centroids))
    probes = F.transform(
        F.slice(F.array_sort(candidates), 1, nprobe), lambda s: s.getField("c")
    )
    return df.withColumn("probe", F.explode(probes))


def lsh_cell_quality_db(df: DataFrame) -> DataFrame:
    """Davies-Bouldin cluster-quality report over hyperplane-LSH cells
    (Davies & Bouldin 1979): for each of the 2^3 sign-bit cells,
    the within-cell scatter S_i (mean member→centroid distance) and the
    DB score max_{j≠i}(S_i+S_j)/M_ij, M the centroid distance. The QA
    readout for every LSH-bucketed operator in this engine: a cell
    whose DB score ≫ 1 overlaps its neighbors, so banding there buys
    little — the measured version of the s-curve assumption.

    Cells, not k-means: assignment is the SIGN of fixed seed-7
    hyperplane projections (the exact planes `_PLANES_SQL` bakes for
    the oracle), an integer key with no float argmin boundary to drift
    across engines.

    Float discipline: per-dim centroid means round to 6dp FIRST (the
    engine-portability grain); member→centroid and centroid→centroid
    distances are then sequential folds over (vector, rounded centroid)
    — deterministic per row — and each member distance QUANTIZES to
    integer micros before the only cross-row sum, so S_i is exact
    integer arithmetic. The DB ratio is the one final double, rounded.

    Scale: one scan for cell keys, one posexplode bounded by dim for
    centroids (map-side combinable), one broadcast join of the
    8-row centroid table back onto members; the pairwise M
    matrix is 8² rows of driver-free column math."""
    from pinterest_data_pipeline_spark.operators.similarity import (
        _hyperplanes,
        dot,
    )

    planes = _hyperplanes(64, 32, 7)[:3]
    vec = F.col("embedding")
    cell = F.lit(0)
    for i, plane in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(p) for p in plane]))
        cell = cell + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    members = df.select(
        F.col("vec_id").alias("__id"),
        vec.alias("__v"),
        cell.cast("long").alias("cell"),
    )

    cent = (
        members.select("cell", F.posexplode("__v").alias("__p", "__x"))
        .groupBy("cell", "__p")
        .agg(F.round(F.avg("__x"), 6).alias("__c"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__p", "__c"))
                ),
                lambda s: s["__c"],
            ).alias("__cent")
        )
    )

    def dist(a: Column, b: Column) -> Column:
        return F.sqrt(
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )

    scatter = (
        members.join(F.broadcast(cent), "cell")
        .select(
            "cell",
            F.round(dist(F.col("__v"), F.col("__cent")) * 1e6)
            .cast("long")
            .alias("__du"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("__du").alias("s_sum_micro"),
        )
    )
    si = scatter.join(cent, "cell").select(
        "cell",
        "n_members",
        "s_sum_micro",
        (
            F.col("s_sum_micro").cast("double")
            / F.col("n_members").cast("double")
            / F.lit(1e6)
        ).alias("__s"),
        "__cent",
    )
    a = si.select(
        F.col("cell").alias("__ci"),
        F.col("__s").alias("__si"),
        F.col("__cent").alias("__centi"),
    )
    b = si.select(
        F.col("cell").alias("__cj"),
        F.col("__s").alias("__sj"),
        F.col("__cent").alias("__centj"),
    )
    ratios = (
        a.join(b, F.col("__ci") != F.col("__cj"))
        .select(
            "__ci",
            (
                (F.col("__si") + F.col("__sj"))
                / dist(F.col("__centi"), F.col("__centj"))
            ).alias("__r"),
        )
        .groupBy("__ci")
        .agg(F.round(F.max("__r"), 6).alias("db_r6"))
    )
    return (
        si.join(ratios, si["cell"] == ratios["__ci"])
        .select("cell", "n_members", "s_sum_micro", "db_r6")
    )
