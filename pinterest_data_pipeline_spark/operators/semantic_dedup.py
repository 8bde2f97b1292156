"""Semantic deduplication over an embedding column (SemDeDup-style).

Pipeline: k-means codebook partitions the corpus into semantic clusters,
then near-duplicate pairs are searched ONLY within each cluster (cosine ≥
threshold), and of every duplicate pair the higher-id row is dropped
(keep-lowest-id survivor, the same deterministic rule the exact/MinHash
dedup operators use).

Scale design (100 TB): the pair search is confined to k-means cells, so
the candidate join shuffles on ``cluster`` and its cost is Σ|cell|²
rather than n². The codebook itself is driver-side metadata (k×dim
floats, broadcast into the plan as literals) and is BOUNDED by ``max_k``
— k ∝ n would make the broadcast grow with the corpus. Once the bound
makes cells outgrow ``target_cell_size``, the within-cell search
switches from (block-decomposed) all-pairs to hyperplane LSH scoped per
cell, keeping cost on the bucket histogram instead of Σ|cell|². Reference parity: the reference engine
has no embedding-space dedup; this extends its dedup family
(README.md:339-592 exact/fuzzy dedup) to the embedding modality, per the
SemDeDup recipe (Abbas et al., 2023, arXiv:2303.09540 — public paper).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pinterest_data_pipeline_spark.operators.clustering import (
    assign_to_codebook,
    kmeans_codebook,
)
from pinterest_data_pipeline_spark.operators.similarity import (
    embedding_near_duplicates,
)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = 16,
    threshold: float = 0.97,
    iterations: int = 2,
    target_cell_size: int = 600,
    max_k: int = 4096,
    within_cell: str = "auto",
    all_pairs_cell_cap: int = 1200,
    n_blocks: int = 8,
) -> DataFrame:
    """Drop rows whose embedding has a cosine-``threshold`` duplicate with
    a lower id in the same semantic cluster. Returns the surviving rows
    (original schema plus ``cluster``).

    ``k=None`` auto-scales the codebook toward expected cell size
    ``target_cell_size`` — but **bounded by ``max_k``**: an unbounded
    k ∝ n means the broadcast centroid table and the n×k assignment both
    grow linearly with the corpus (at 100 TB, n/600 centroids is
    billions — infeasible as driver metadata). With the bound, the
    codebook is at most ``max_k × dim`` doubles (4096×64 ≈ 2 MB
    broadcast; even 65536 is ~33 MB) and assignment stays O(n · max_k).

    Past the bound, cells necessarily outgrow ``target_cell_size``, so
    the within-cell pair search switches strategy (``within_cell``):

    - ``"all_pairs"`` — exact, block-decomposed over ``n_blocks`` so a
      cell's triangle spreads across tasks (embedding_near_duplicates);
      cost Σ|cell|², only sane while cells stay ≤ ``all_pairs_cell_cap``.
    - ``"lsh"`` — banded hyperplane LSH scoped to (cluster, band, key)
      buckets + exact cosine verification: cost follows the bucket
      histogram, not |cell|². At SemDeDup-grade thresholds (≥ 0.95) the
      s-curve recall is ≈ 0.99 with 6 bands × 8 planes; this is the
      100 TB path.
    - ``"auto"`` (default) — all_pairs while n/k ≤ ``all_pairs_cell_cap``,
      else lsh. Deterministic: the switch depends only on row count.

    Deterministic end to end: codebook init/iterations are fixed
    (`kmeans_codebook`), hyperplanes are seeded constants, survivor
    choice is min-id.
    """
    assigned, pairs, _k = _cells_and_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        threshold=threshold,
        iterations=iterations,
        target_cell_size=target_cell_size,
        max_k=max_k,
        within_cell=within_cell,
        all_pairs_cell_cap=all_pairs_cell_cap,
        n_blocks=n_blocks,
    )
    removed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return assigned.join(removed, on=id_col, how="left_anti")


def _cells_and_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int | None,
    threshold: float,
    iterations: int,
    target_cell_size: int,
    max_k: int,
    within_cell: str,
    all_pairs_cell_cap: int,
    n_blocks: int,
) -> tuple[DataFrame, DataFrame, int]:
    """Shared core of :func:`semantic_dedup` and
    :func:`semantic_dedup_gate`: codebook → cell assignment →
    within-cell duplicate pairs. Returns (assigned, pairs, k)."""
    from pinterest_data_pipeline_spark.operators.parallel import fan_out
    from pinterest_data_pipeline_spark.operators.similarity import (
        lsh_near_duplicates,
    )

    # fan out BEFORE the assignment projection: the k×dim argmin must not
    # run inside a single-task scan stage (operators/parallel)
    df = fan_out(df)
    n = df.count()
    if k is None:
        k = max(8, min(max_k, n // target_cell_size))
    centroids = kmeans_codebook(
        df, vec_col=vec_col, id_col=id_col, k=k, iterations=iterations
    )
    assigned = assign_to_codebook(df, centroids, vec_col=vec_col)
    method = within_cell
    if method == "auto":
        method = "all_pairs" if n / k <= all_pairs_cell_cap else "lsh"
    if method == "all_pairs":
        pairs = embedding_near_duplicates(
            assigned,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            partition_col="cluster",
            n_blocks=n_blocks,
        )
    elif method == "lsh":
        pairs = lsh_near_duplicates(
            assigned,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            bands=6,
            partition_col="cluster",
        )
    else:
        raise ValueError(f"unknown within_cell method: {within_cell!r}")
    return assigned, pairs, k


def semantic_dedup_summary(
    df: DataFrame,
    k: int | None = 16,
    threshold: float = 0.97,
    **kwargs,
) -> DataFrame:
    """One-row summary of a semantic-dedup pass: total / removed /
    surviving row counts plus an id checksum of the survivors (stable
    across runs — pins determinism for the rows-only driver check).
    Extra kwargs (max_k, within_cell, …) pass through to
    :func:`semantic_dedup`."""
    survivors = semantic_dedup(df, k=k, threshold=threshold, **kwargs)
    total = df.count()
    return survivors.agg(
        F.lit(total).cast("bigint").alias("n_total"),
        (F.lit(total) - F.count("*")).cast("bigint").alias("n_removed"),
        F.count("*").cast("bigint").alias("n_survivors"),
        F.sum("vec_id").cast("bigint").alias("survivor_id_sum"),
    )


def semantic_dedup_gate(
    df: DataFrame,
    k: int | None = None,
    threshold: float = 0.97,
    max_k: int = 4096,
) -> DataFrame:
    """Gate-style one-row readout of a semantic-dedup pass (the
    `ivf_kmeans_codebook_assign` / `hll_sketch_union_gate` discipline):
    the iterative k-means + LSH internals stay engine-side, but every
    EXACT invariant of the result is emitted as a column a SQL oracle
    either replays from the input or pins to zero violations:

    - ``n_total`` / ``id_sum_total`` — input row count and id checksum,
      replayed exactly by the oracle (``COUNT(*)`` / ``SUM(id)``).
    - ``k_cells`` — the auto-scaled codebook size; a pure integer
      function of ``n_total`` (``max(8, min(max_k, n // target))``),
      replayed by the oracle.
    - ``conservation_violations`` — 1 if survivors and removed fail to
      partition the corpus exactly (counts AND id-checksums must both
      add up: ``n_s + n_r = n_total`` and ``Σid_s + Σid_r = Σid``);
      pinned 0. This is what makes the survivor checksum meaningful —
      any nondeterminism or row loss between runs breaks conservation.
    - ``range_violations`` — assigned cluster ids outside [0, k);
      pinned 0.
    - ``witness_violations`` — duplicate pairs violating the
      ``id_a < id_b`` orientation min-id retention relies on; pinned 0.
    - ``min_id_removed_violations`` — 1 if the corpus's global minimum
      id was removed (impossible under min-id survival); pinned 0.

    Scale: all seven outputs are single-row aggregates over relations
    the dedup pass already builds. The assigned and pair relations are
    MATERIALIZED once (localCheckpoint) before the gate's four
    consuming branches — without the barrier each branch re-runs the
    whole k-means + LSH pipeline (the duplicate_clusters lesson,
    operators/dedup.py; measured 4x wall on the registered query)."""
    assigned, pairs, k_cells = _cells_and_pairs(
        df,
        id_col="vec_id",
        vec_col="embedding",
        k=k,
        threshold=threshold,
        iterations=2,
        target_cell_size=600,
        max_k=max_k,
        within_cell="auto",
        all_pairs_cell_cap=1200,
        n_blocks=8,
    )
    assigned = assigned.localCheckpoint(eager=False)
    pairs = pairs.localCheckpoint(eager=False)
    removed = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    survivors = assigned.join(removed, on="vec_id", how="left_anti")
    zero = F.lit(0).cast("bigint")
    # totals ride on the checkpointed assignment (same rows as df) so
    # the gate adds no extra corpus scan
    totals = assigned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("vec_id").cast("bigint").alias("id_sum_total"),
        F.min("vec_id").cast("bigint").alias("__min_id"),
    )
    surv = survivors.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_s"),
        F.coalesce(F.sum("vec_id").cast("bigint"), zero).alias("__s_sum"),
    )
    rem = removed.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_r"),
        F.coalesce(F.sum("vec_id").cast("bigint"), zero).alias("__r_sum"),
        F.min("vec_id").cast("bigint").alias("__min_removed"),
    )
    rng = assigned.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("cluster").isNull()
                    | (F.col("cluster") < 0)
                    | (F.col("cluster") >= k_cells),
                    1,
                ).otherwise(0)
            ).cast("bigint"),
            zero,
        ).alias("__range_v")
    )
    wit = pairs.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("id_a") >= F.col("id_b"), 1).otherwise(0)
            ).cast("bigint"),
            zero,
        ).alias("__wit_v")
    )
    return (
        totals.crossJoin(surv)
        .crossJoin(rem)
        .crossJoin(rng)
        .crossJoin(wit)
        .select(
            "n_total",
            "id_sum_total",
            F.lit(k_cells).cast("bigint").alias("k_cells"),
            F.when(
                (F.col("__n_s") + F.col("__n_r") != F.col("n_total"))
                | (
                    F.col("__s_sum") + F.col("__r_sum")
                    != F.col("id_sum_total")
                ),
                1,
            )
            .otherwise(0)
            .cast("bigint")
            .alias("conservation_violations"),
            F.col("__range_v").alias("range_violations"),
            F.col("__wit_v").alias("witness_violations"),
            F.when(F.col("__min_removed").eqNullSafe(F.col("__min_id")), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("min_id_removed_violations"),
        )
    )
